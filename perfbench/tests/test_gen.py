"""Generator determinism, planted input properties, and the metric tables
against BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
sys.dont_write_bytecode = True

import gen  # noqa: E402
import metrics  # noqa: E402


def digest(root):
    """Hash of every file's relative path and bytes under root."""
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        base = os.path.join(HERE, "..", "..", ".bench_build", "perfbench")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="test-gen-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        expect = gen.generate(workload, seed, 2, out)
        return digest(out), expect

    def test_same_seed_same_bytes(self):
        for w in sorted(gen.GENERATORS):
            a, _ = self.gen(w, 7, w + "-a")
            b, _ = self.gen(w, 7, w + "-b")
            c, _ = self.gen(w, 8, w + "-c")
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)

    def test_ingest_plants_drops(self):
        _, e = self.gen("s4_ingest", 3, "ingest")
        parts = e["drain"] + [e["paced"]]
        for p in parts:
            self.assertEqual(p["lines"], p["valid"] + p["malformed"] + p["oversize"])
            self.assertGreater(p["malformed"], 0)
        for p in e["drain"]:
            self.assertEqual(p["oversize"], p["files"] * gen.INGEST["oversize_per_file"])
        paced = e["paced"]
        self.assertEqual(paced["files"], gen.INGEST["paced_warm_files"]
                         + round(2 / gen.INGEST["paced_interval_s"]))
        every = gen.INGEST["paced_oversize_every"]
        self.assertEqual(paced["oversize"], -(-paced["files"] // every))
        # every over-cap line really is over the cap, every other line under it
        with open(os.path.join(self.tmp, "ingest", "drain0", "part-00000.json"), "rb") as f:
            sizes = [len(line.rstrip(b"\n")) for line in f]
        cap = gen.INGEST["max_record_bytes"]
        self.assertEqual(sum(s > cap for s in sizes), gen.INGEST["oversize_per_file"])

    def test_dedup_plants_pairs_and_over_cap_cluster(self):
        _, e = self.gen("corpus_dedup", 3, "dedup")
        toks = {}
        with open(os.path.join(self.tmp, "dedup", "corpus.json")) as f:
            for line in f:
                d = json.loads(line)
                toks[d["doc_id"]] = d["text"].split(" ")
        self.assertEqual(len(toks), e["docs"])
        for a, b in e["planted_pairs"] + e["cap_pairs"]:
            self.assertGreaterEqual(gen.jaccard(toks[a], toks[b]), gen.DEDUP["threshold"])
        self.assertEqual(len(e["cap_pairs"]) + 1, gen.DEDUP["cap_cluster_size"])
        self.assertGreater(gen.DEDUP["cap_cluster_size"], gen.DEDUP["max_bucket"])
        self.assertGreater(e["exact_removed"], 0)

    def test_index_victims_are_queried_and_disjoint(self):
        _, e = self.gen("index_serve_takedown", 3, "index")
        flat = [v for batch in e["victims"] for v in batch]
        self.assertEqual(len(flat), len(set(flat)))
        self.assertTrue(set(flat) <= set(e["queries"]))


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_tables_match(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(gen.GENERATORS))


if __name__ == "__main__":
    unittest.main()
