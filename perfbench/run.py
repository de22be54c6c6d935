#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the
benchmark's JVM harness from source (once per checkout, into
.bench_build/), writes the workload's seeded inputs under .bench_work/,
runs the workload for about S seconds, checks the program's outputs, and
prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones (and
the span file lands in .bench_out/). The line before it is a detail
object naming each workload-specific figure with its sample count.
"""
import argparse
import hashlib
import http.server
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_geo", "corpus_index")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp(root):
    """Fingerprint of everything the build compiles."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src/main", "perfbench/build.sbt",
                "perfbench/project/build.properties", "build.sbt"):
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(("%s %d %d\n" % (os.path.relpath(f, root), st.st_size,
                                      st.st_mtime_ns)).encode())
    return h.hexdigest()


def build(root):
    """Compile the program and the JVM harness; returns the runtime classpath."""
    out = os.path.join(root, ".bench_build")
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "target", "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env,
                       stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(cp_file):
        log("build failed")
        sys.exit(1)
    log("built in %.1f s" % (time.time() - t))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


class QuietHandler(http.server.SimpleHTTPRequestHandler):
    def log_message(self, *args):
        pass


def serve(directory):
    """A loopback HTTP server for the http:// sources, on its own thread."""
    handler = lambda *a, **k: QuietHandler(*a, directory=directory, **k)  # noqa: E731
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    return srv, th


def run_jvm(cp, workload, inputs, work, seconds, trace, spans):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed young generation keeps heap growth, hence peak RSS, from
    # following GC pause-time heuristics
    cmd = (["java", "-Xmx3g", "-Xmn384m", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", cp, "graft.bench.Main", "--workload", workload, "--inputs", inputs,
            "--work", work, "--seconds", str(seconds), "--trace", str(trace),
            "--out", out, "--spans", spans])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, cwd=work)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("workload timed out")
        sys.exit(1)
    finally:
        # also on a timeout or a signal: the JVM never outlives the launcher
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        log("workload failed (exit %d)" % rc)
        sys.exit(1)
    with open(out) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    # a terminated launcher unwinds, so the JVM, the loopback server and
    # the work directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("no program sources here: run from the root of a checkout")
        sys.exit(2)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build(root)

    work = os.path.join(root, ".bench_work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    inputs = os.path.join(work, "inputs")
    spans = os.path.join(root, ".bench_out", "spans-%s-%d.jsonl" % (a.workload, a.seed))
    os.makedirs(inputs)
    srv = None
    try:
        if a.workload == "etl_geo":
            os.makedirs(os.path.join(inputs, "http"))
            srv, th = serve(os.path.join(inputs, "http"))
            facts = gen.gen_etl(a.seed, inputs, "http://127.0.0.1:%d" % srv.server_address[1])
        else:
            facts = {**gen.gen_corpus(a.seed, inputs), **gen.gen_index(a.seed, inputs)}
        t = time.time()
        res = run_jvm(cp, a.workload, inputs, work, a.seconds, a.trace, spans)
        log("workload JVM: %.1f s" % (time.time() - t))
        t = time.time()
        verdict = check.CHECKS[a.workload](facts, res, inputs)
        log("checks: %.1f s" % (time.time() - t))
    finally:
        if srv is not None:
            srv.shutdown()
            srv.server_close()
            th.join()
        shutil.rmtree(work, ignore_errors=True)

    samples = res["samples"]
    e2e = {
        "setup_s": median(samples["setup_s"]),
        "peak_rss_mb": res["peak_rss_mb"],
        "run_s": median(samples["run_s"]),
        "ingest_per_s": median(samples["ingest_per_s"]),
        "recall": verdict["recall"],
        "bytes_per_item": median(samples["bytes_per_item"]),
    }
    if a.trace:
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "session_s": res["session_s"],
              "samples": {k: len(v) for k, v in samples.items()},
              "named": verdict["named"], "ops": verdict["attempted"],
              "ops_failed": verdict["failed"], "problems": verdict["problems"][:10]}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": verdict["failed"] == 0 and not verdict["problems"],
                      "attempted": verdict["attempted"], "failed": verdict["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
