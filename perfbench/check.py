"""Output checks, run in the same command as the workload.

Each checker takes the generator's facts and the JVM's result and
returns a verdict: attempted and failed operations, the problems found,
the workload's recall, and its figures under their workload-specific
names (with sample counts). A failed check counts toward ``failed``.
"""
import os
import statistics

import numpy as np
import pyarrow.parquet as pq


def _named(res, names):
    """{"etl_run_s": {"value", "unit", "n"}} from the JVM's samples."""
    out = {}
    for name, (key, unit) in names.items():
        xs = res["samples"].get(key, [])
        out[name] = {"value": statistics.median(xs) if xs else None, "unit": unit, "n": len(xs)}
    out["setup_s"] = {"value": statistics.median(res["samples"]["setup_s"]), "unit": "s",
                      "n": len(res["samples"]["setup_s"])}
    out["peak_rss_mb"] = {"value": res["peak_rss_mb"], "unit": "MB", "n": 1}
    return out


def check_etl(facts, res, inputs=None):
    """Published rows per table equal the generator's expected counts and
    every published SRID is 3010, on every pass."""
    expected = facts["expected_rows"]
    problems, failed, attempted, got, want = [], 0, 0, 0, 0
    checks = res["checks"]
    attempted += 1
    if checks["ledger_errors"]:
        failed += 1
        problems.append("the run's ledger has %d errors" % checks["ledger_errors"])
    for k, published in enumerate(checks["published"]):
        for name, exp in sorted(expected.items()):
            attempted += 1
            out = published.get(name, {"rows": -1, "srids": []})
            rows = out["rows"]
            got += max(0, min(rows, exp))
            want += exp
            if rows != exp or out["srids"] != ["3010"]:
                failed += 1
                problems.append("pass %d %s: %d rows (want %d), srids %s"
                                % (k, name, rows, exp, out["srids"]))
    named = _named(res, {"etl_run_s": ("run_s", "s"),
                         "etl_staged_features_per_s": ("ingest_per_s", "1/s"),
                         "etl_bytes_per_row": ("bytes_per_item", "B")})
    recall = got / want if want else 0.0
    return {"attempted": attempted, "failed": failed, "problems": problems,
            "recall": recall, "named": named}


def must_keep(facts, ids):
    """Ids every correct pass keeps: all docs less all but the smallest id
    of each planted exact and near-dup cluster, and less the distant
    variant pairs (checked apart, with a slack)."""
    drop = {i for cl in facts["exact_clusters"] + facts["near_clusters"]
            for i in cl if i != min(cl)}
    drop |= {i for pair in facts["far_pairs"] for i in pair}
    return set(ids) - drop


def check_corpus(facts, res, inputs):
    """Per pass: the split holds exactly the survivors; each planted exact
    cluster keeps exactly one member, its smallest id; no two kept docs
    share a text; no doc that is not a planted duplicate is dropped, and
    at most FAR_SLACK of the distant variant pairs lose a member.
    Near-dup recall = planted pairs found / planted."""
    texts = dict(zip(*[c.to_pylist() for c in pq.read_table(
        os.path.join(inputs, "corpus.parquet"), columns=["doc_id", "text"]).columns]))
    keep_all = must_keep(facts, texts)
    far_slack = int(FAR_SLACK * len(facts["far_pairs"]))
    planted = {tuple(p) for p in facts["near_pairs"]}
    problems, failed, recalls = [], 0, []
    passes = res["checks"]["passes"]
    for k, p in enumerate(passes):
        bad = []
        kept = pq.read_table(p["out"], columns=["doc_id"]).column(0).to_pylist()
        keep = set(kept)
        if len(kept) != len(keep):
            bad.append("duplicate doc_id rows in the split")
        if len(kept) != p["survivors"]:
            bad.append("split has %d rows, survivors %d" % (len(kept), p["survivors"]))
        if len({texts[i] for i in keep}) != len(keep):
            bad.append("two kept docs share an exact text")
        for cl in facts["exact_clusters"]:
            members = [i for i in cl if i in keep]
            if members != [min(cl)]:
                bad.append("exact cluster %s keeps %s" % (cl[:3], members[:3]))
                break
        lost = sorted(keep_all - keep)
        if lost:
            bad.append("%d docs that are not duplicates dropped, e.g. %s" % (len(lost), lost[:5]))
        far_lost = sum(1 for pair in facts["far_pairs"] if not set(pair) <= keep)
        if far_lost > far_slack:
            bad.append("%d distant variant pairs lost a member (slack %d)" % (far_lost, far_slack))
        found = {tuple(x) for x in p["pairs"]}
        recalls.append(len(planted & found) / len(planted) if planted else 1.0)
        if recalls[-1] < check_corpus.recall_floor:
            bad.append("near-dup recall %.3f below %.2f" % (recalls[-1], check_corpus.recall_floor))
        if bad:
            failed += 1
            problems += ["pass %d: %s" % (k, b) for b in bad]
    named = _named(res, {"corpus_run_s": ("corpus_run_s", "s"),
                         "corpus_bytes_per_row": ("corpus_bytes_per_row", "B")})
    recall = statistics.median(recalls) if recalls else 0.0
    named["corpus_neardup_recall"] = {"value": recall, "unit": "ratio", "n": len(recalls)}
    return {"attempted": len(passes), "failed": failed, "problems": problems,
            "recall": recall, "named": named}


check_corpus.recall_floor = 0.9
# The distant variants sit at a true 3-shingle Jaccard of about 0.3-0.45,
# below the program's 0.5 cut on the MinHash estimate (16 bands x 4 rows);
# estimate noise lifts about one pair per corpus over it. A probe or a
# threshold that over-matches loses far more.
FAR_SLACK = 0.1


def quantize(v):
    """The program's portable vector form: x1000, rounded half away from 0."""
    return np.sign(v) * np.floor(np.abs(v.astype(np.float64)) * 1000 + 0.5)


def exact_top(vectors, live, qid, k=10):
    """Exact top-k over the live set, excluding the query, by the cosine of
    quantized vectors the rerank uses."""
    ids = np.fromiter(live, dtype=np.int64)
    ids = ids[ids != qid]
    q = quantize(vectors[ids])
    qq = quantize(vectors[qid])
    sims = (q @ qq) / np.sqrt((q * q).sum(axis=1) * (qq @ qq))
    return set(ids[np.argsort(-sims, kind="stable")[:k]].tolist())


def check_index(facts, res, inputs):
    """Per round: the band probe flags no document outside the planted
    near-dups and misses at most a fifth of them; live counts equal base +
    folded - deleted for both indexes, where the documents folded are the
    batch less the planted near-dups the probe found; no deleted id is
    ever served; recall@10 of each serve against exact brute force over
    the live set."""
    vectors = np.load(os.path.join(inputs, "all_vectors.npy"))
    problems, failed, attempted, recalls = [], 0, 0, []
    rounds = facts["rounds"]
    for it, iteration in enumerate(res["checks"]["iterations"]):
        live = set(range(facts["vec_base"]))
        deleted = set()
        band_live = facts["doc_base"]
        for r, got in enumerate(iteration):
            spec = rounds[r]
            live |= set(spec["vec_ingest"])
            live -= set(spec["vec_delete"])
            deleted |= set(spec["vec_delete"])
            planted_docs = {d for d, _ in spec["doc_planted"]}
            dups = set(got["dup_docs"])
            band_live += spec["doc_batch"] - len(planted_docs & dups) - len(spec["doc_delete"])
            attempted += 1
            missed, extra = planted_docs - dups, sorted(dups - planted_docs)
            if extra or len(missed) > len(planted_docs) // 5:
                failed += 1
                problems.append("iter %d round %d: probe missed %d of %d planted near-dups, "
                                "flagged %d others %s" % (it, r, len(missed), len(planted_docs),
                                                          len(extra), extra[:5]))
            if got["ann_live"] >= 0:  # counted at the end of each pass
                attempted += 2
                if got["ann_live"] != len(live) or got["ann_live"] != spec["live_vecs"]:
                    failed += 1
                    problems.append("iter %d round %d: ann live %d, want %d"
                                    % (it, r, got["ann_live"], len(live)))
                if got["band_live"] != band_live:
                    failed += 1
                    problems.append("iter %d round %d: band live %d, want %d"
                                    % (it, r, got["band_live"], band_live))
            for qid, served in zip(spec["queries"], got["served"]):
                attempted += 1
                hit = deleted & set(served)
                if hit or qid in served:
                    failed += 1
                    problems.append("iter %d round %d: query %d served %s"
                                    % (it, r, qid, sorted(hit) or [qid]))
                recalls.append(len(exact_top(vectors, live, qid) & set(served)) / 10.0)
    named = _named(res, {"ann_serve_p50_ms": ("serve_ms", "ms"),
                         "ann_ingest_vecs_per_s": ("ann_vecs_per_s", "1/s"),
                         "band_ingest_docs_per_s": ("band_docs_per_s", "1/s"),
                         "index_bytes_per_item": ("bytes_per_item", "B")})
    serve = sorted(res["samples"].get("serve_ms", []))
    # p90 is reported only with at least ten samples beyond it
    p90 = serve[int(0.9 * len(serve))] if len(serve) >= 100 else None
    named["ann_serve_p90_ms"] = {"value": p90, "unit": "ms", "n": len(serve)}
    recall = float(np.mean(recalls)) if recalls else 0.0
    named["ann_recall_at_10"] = {"value": recall, "unit": "ratio", "n": len(recalls)}
    return {"attempted": attempted, "failed": failed, "problems": problems,
            "recall": recall, "named": named}


def check_corpus_index(facts, res, inputs):
    """Both halves of each pass; the workload's recall is the lower of
    the near-dup recall and the ANN recall@10."""
    a, b = check_corpus(facts, res, inputs), check_index(facts, res, inputs)
    named = {**a["named"], **b["named"]}
    named["pass_s"] = _named(res, {"pass_s": ("run_s", "s")})["pass_s"]
    return {"attempted": a["attempted"] + b["attempted"], "failed": a["failed"] + b["failed"],
            "problems": a["problems"] + b["problems"], "recall": min(a["recall"], b["recall"]),
            "named": named}


CHECKS = {"etl_geo": check_etl, "corpus_index": check_corpus_index}
