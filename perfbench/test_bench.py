"""The benchmark's own tests: the generators are deterministic for a
seed, and each output checker rejects a corrupted result.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402


def tree_digest(root):
    """{relative path: sha256} of every file under root, with root itself
    (which source configs name) factored out."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                data = fh.read().replace(root.encode(), b"ROOT")
            out[os.path.relpath(p, root)] = hashlib.sha256(data).hexdigest()
    return out


GENERATORS = {
    "etl_geo": lambda seed, d: gen.gen_etl(seed, d, "http://127.0.0.1:8000"),
    "corpus": gen.gen_corpus,
    "index": gen.gen_index,
}


class Base(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def dir(self, name):
        d = os.path.join(self.tmp, name)
        os.makedirs(d)
        return d


class GeneratorsAreDeterministic(Base):
    def test_same_seed_same_files_other_seed_other_files(self):
        for name, g in GENERATORS.items():
            with self.subTest(name):
                a, b, c = self.dir(name + "a"), self.dir(name + "b"), self.dir(name + "c")
                self.assertEqual(g(7, a), g(7, b))
                self.assertEqual(tree_digest(a), tree_digest(b))
                g(8, c)
                self.assertNotEqual(tree_digest(a), tree_digest(c))


def samples(**extra):
    s = {"setup_s": [1.0], "run_s": [1.0]}
    s.update(extra)
    return s


class EtlCheckerRejectsCorruption(Base):
    def setUp(self):
        super().setUp()
        self.facts = gen.gen_etl(3, self.dir("in"), "http://127.0.0.1:8000")
        published = {n: {"rows": r, "srids": ["3010"]}
                     for n, r in self.facts["expected_rows"].items()}
        self.res = {"samples": samples(), "peak_rss_mb": 1.0,
                    "checks": {"published": [published], "ledger_errors": 0}}

    def test_correct_result_passes(self):
        v = check.check_etl(self.facts, self.res)
        self.assertEqual((v["failed"], v["problems"], v["recall"]), (0, [], 1.0))

    def test_wrong_table_count_fails(self):
        res = copy.deepcopy(self.res)
        name = sorted(self.facts["expected_rows"])[0]
        res["checks"]["published"][0][name]["rows"] += 1
        self.assertEqual(check.check_etl(self.facts, res)["failed"], 1)

    def test_wrong_srid_fails(self):
        res = copy.deepcopy(self.res)
        name = sorted(self.facts["expected_rows"])[0]
        res["checks"]["published"][0][name]["srids"] = ["3006"]
        self.assertEqual(check.check_etl(self.facts, res)["failed"], 1)

    def test_missing_table_fails(self):
        res = copy.deepcopy(self.res)
        del res["checks"]["published"][0][sorted(self.facts["expected_rows"])[0]]
        self.assertEqual(check.check_etl(self.facts, res)["failed"], 1)

    def test_ledger_errors_fail(self):
        res = copy.deepcopy(self.res)
        res["checks"]["ledger_errors"] = 2
        self.assertEqual(check.check_etl(self.facts, res)["failed"], 1)


class CorpusCheckerRejectsCorruption(Base):
    """A correct pass keeps the smallest id of every exact cluster and of
    every near-dup cluster and every other doc, and finds every planted
    near-dup pair."""

    def setUp(self):
        super().setUp()
        self.inputs = self.dir("in")
        self.facts = gen.gen_corpus(4, self.inputs)
        ids = pq.read_table(os.path.join(self.inputs, "corpus.parquet"),
                            columns=["doc_id"]).column(0).to_pylist()
        drop = {i for cl in self.facts["exact_clusters"] + self.facts["near_clusters"]
                for i in cl if i != min(cl)}
        self.kept = sorted(set(ids) - drop)

    def without(self, ids):
        return sorted(set(self.kept) - set(ids))

    def result(self, kept, pairs):
        out = os.path.join(self.tmp, "split-%d" % len(os.listdir(self.tmp)))
        os.makedirs(out)
        pq.write_table(pa.table({"doc_id": pa.array(kept, pa.int64())}),
                       os.path.join(out, "part-0.parquet"))
        return {"samples": samples(), "peak_rss_mb": 1.0,
                "checks": {"passes": [{"survivors": len(kept), "pairs": pairs, "out": out}]}}

    def test_correct_result_passes(self):
        v = check.check_corpus(self.facts, self.result(self.kept, self.facts["near_pairs"]),
                               self.inputs)
        self.assertEqual((v["failed"], v["problems"], v["recall"]), (0, [], 1.0))

    def test_dropped_exact_pair_fails(self):
        cl = self.facts["exact_clusters"][0]
        kept = sorted(set(self.kept) | {max(cl)})
        v = check.check_corpus(self.facts, self.result(kept, self.facts["near_pairs"]),
                               self.inputs)
        self.assertEqual(v["failed"], 1)

    def test_dropped_near_pairs_fail(self):
        v = check.check_corpus(self.facts, self.result(self.kept, self.facts["near_pairs"][:10]),
                               self.inputs)
        self.assertEqual(v["failed"], 1)
        self.assertLess(v["recall"], check.check_corpus.recall_floor)

    def test_output_rows_must_equal_survivors(self):
        res = self.result(self.kept, self.facts["near_pairs"])
        res["checks"]["passes"][0]["survivors"] += 1
        self.assertEqual(check.check_corpus(self.facts, res, self.inputs)["failed"], 1)

    def test_dropped_non_duplicate_fails(self):
        lone = min(check.must_keep(self.facts, self.kept))
        v = check.check_corpus(self.facts, self.result(self.without([lone]),
                                                       self.facts["near_pairs"]), self.inputs)
        self.assertEqual(v["failed"], 1)

    def test_dropped_near_cluster_representative_fails(self):
        cl = self.facts["near_clusters"][0]
        v = check.check_corpus(self.facts, self.result(self.without([min(cl)]),
                                                       self.facts["near_pairs"]), self.inputs)
        self.assertEqual(v["failed"], 1)

    def test_distant_variants_within_slack_pass(self):
        far = [max(p) for p in self.facts["far_pairs"]]
        slack = int(check.FAR_SLACK * len(far))
        self.assertGreater(slack, 0)
        v = check.check_corpus(self.facts, self.result(self.without(far[:slack]),
                                                       self.facts["near_pairs"]), self.inputs)
        self.assertEqual((v["failed"], v["problems"]), (0, []))

    def test_over_deduplicated_distant_variants_fail(self):
        far = [max(p) for p in self.facts["far_pairs"]]
        slack = int(check.FAR_SLACK * len(far))
        v = check.check_corpus(self.facts, self.result(self.without(far[:slack + 1]),
                                                       self.facts["near_pairs"]), self.inputs)
        self.assertEqual(v["failed"], 1)


class IndexCheckerRejectsCorruption(Base):
    """A correct round serves the exact top-10 of the live set and counts
    base + folded - deleted live items in both indexes."""

    def setUp(self):
        super().setUp()
        import numpy as np
        self.inputs = self.dir("in")
        self.facts = gen.gen_index(5, self.inputs)
        vectors = np.load(os.path.join(self.inputs, "all_vectors.npy"))
        live = set(range(self.facts["vec_base"]))
        band = self.facts["doc_base"]
        rounds = []
        for spec in self.facts["rounds"]:
            live = (live | set(spec["vec_ingest"])) - set(spec["vec_delete"])
            dups = [d for d, _ in spec["doc_planted"]]
            band += spec["doc_batch"] - len(dups) - len(spec["doc_delete"])
            served = [sorted(check.exact_top(vectors, live, q)) for q in spec["queries"]]
            rounds.append({"served": served, "dup_docs": dups,
                           "ann_live": len(live), "band_live": band})
        self.res = {"samples": samples(serve_ms=[1.0]), "peak_rss_mb": 1.0,
                    "checks": {"iterations": [rounds]}}

    def test_correct_result_passes(self):
        v = check.check_index(self.facts, self.res, self.inputs)
        self.assertEqual((v["failed"], v["problems"], v["recall"]), (0, [], 1.0))

    def test_deleted_id_served_fails(self):
        res = copy.deepcopy(self.res)
        gone = self.facts["rounds"][0]["vec_delete"][0]
        res["checks"]["iterations"][0][0]["served"][0][-1] = gone
        self.assertEqual(check.check_index(self.facts, res, self.inputs)["failed"], 1)

    def test_dropped_planted_probe_hits_fail(self):
        res = copy.deepcopy(self.res)
        got = res["checks"]["iterations"][0][0]
        got["dup_docs"] = got["dup_docs"][: len(got["dup_docs"]) // 2]
        # the missed near-dups are folded in, so the live count is still right
        for later in res["checks"]["iterations"][0]:
            later["band_live"] += len(self.facts["rounds"][0]["doc_planted"]) - len(got["dup_docs"])
        v = check.check_index(self.facts, res, self.inputs)
        self.assertEqual(v["failed"], 1)
        self.assertIn("probe missed", v["problems"][0])

    def test_over_matching_probe_fails(self):
        """A probe that flags documents that are not near-dups keeps them
        out of the index: the probe check and the live count both fail."""
        res = copy.deepcopy(self.res)
        spec = self.facts["rounds"][0]
        planted = {d for d, _ in spec["doc_planted"]}
        batch = range(self.facts["doc_base"], self.facts["doc_base"] + spec["doc_batch"])
        extra = [d for d in batch if d not in planted][:3]
        got = res["checks"]["iterations"][0][0]
        got["dup_docs"] = got["dup_docs"] + extra
        for later in res["checks"]["iterations"][0]:
            later["band_live"] -= len(extra)
        self.assertEqual(check.check_index(self.facts, res, self.inputs)["failed"],
                         1 + len(self.facts["rounds"]))

    def test_wrong_live_count_fails(self):
        res = copy.deepcopy(self.res)
        res["checks"]["iterations"][0][0]["ann_live"] += 1
        res["checks"]["iterations"][0][1]["band_live"] -= 1
        self.assertEqual(check.check_index(self.facts, res, self.inputs)["failed"], 2)


if __name__ == "__main__":
    unittest.main()
