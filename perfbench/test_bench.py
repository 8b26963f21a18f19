"""Tests of the benchmark itself (not of the program).

    python3 -m unittest perfbench/test_bench.py
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import metrics  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for w in gen.WORKLOADS:
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                d = os.path.join(cls.tmp.name, w, name)
                gen.make_corpus(w, seed, d)
                cls.dirs[w, name] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_inputs(self):
        for w in gen.WORKLOADS:
            self.assertEqual(tree_digest(self.dirs[w, "a"]),
                             tree_digest(self.dirs[w, "b"]), w)

    def test_other_seed_other_inputs(self):
        for w in gen.WORKLOADS:
            self.assertNotEqual(tree_digest(self.dirs[w, "a"]),
                                tree_digest(self.dirs[w, "c"]), w)

    def test_same_seed_same_op_stream(self):
        for w in gen.WORKLOADS:
            a = gen.make_plan(w, 7, self.dirs[w, "a"])
            b = gen.make_plan(w, 7, self.dirs[w, "b"])
            self.assertEqual(json.dumps(a), json.dumps(b), w)

    def test_other_seed_other_op_stream(self):
        for w in gen.WORKLOADS:
            a = gen.make_plan(w, 7, self.dirs[w, "a"])
            c = gen.make_plan(w, 8, self.dirs[w, "c"])
            self.assertNotEqual(json.dumps(a), json.dumps(c), w)

    def test_sf01_row_counts(self):
        for w, t in (("isolate_search", "orders"),
                     ("isolate_search", "lineitem"),
                     ("corpus_ingest", "documents")):
            f = pq.ParquetFile(os.path.join(self.dirs[w, "a"],
                                            f"{t}.parquet"))
            self.assertEqual(f.metadata.num_rows, gen.SIZES[t], t)

    def test_isolate_blocks_keep_the_mix(self):
        ops = gen.make_plan("isolate_search", 7, self.dirs["isolate_search",
                                                           "a"])
        for i in range(0, 50, len(gen.ISOLATE_BLOCK)):
            block = [o["mix_kind"] for o in ops[i:i + len(gen.ISOLATE_BLOCK)]]
            self.assertEqual(sorted(block), sorted(gen.ISOLATE_BLOCK))


class Percentile(unittest.TestCase):
    def test_refuses_with_fewer_than_ten_beyond(self):
        with self.assertRaises(metrics.TooFewSamples):
            metrics.percentile(list(range(99)), 90)   # 9 beyond
        with self.assertRaises(metrics.TooFewSamples):
            metrics.percentile([], 50)

    def test_nearest_rank(self):
        xs = list(range(1, 101))                       # 1..100
        self.assertEqual(metrics.percentile(xs, 90), 90)   # 10 beyond
        self.assertEqual(metrics.percentile(xs[::-1], 50), 50)


class SelfTime(unittest.TestCase):
    def test_hand_built_tree(self):
        # op [0,100]; children a [10,40], b [30,60] overlap; b has child
        # c [35,45]; d [70,80]; e reaches outside the parent [95,120]
        spans = [
            ["op.search", 1, -1, 0, 100],
            ["api.compile", 1, 0, 10, 40],
            ["spark.exec", 1, 0, 30, 60],
            ["spark.plan", 1, 2, 35, 45],
            ["api.count", 1, 0, 70, 80],
            ["sources.x", 1, 0, 95, 120],
        ]
        # op covered: [10,60] + [70,80] + [95,100] = 65 -> self 35
        self.assertEqual(metrics.self_times(spans), [35, 30, 20, 10, 10, 25])

    def test_layers(self):
        self.assertEqual(metrics.layer_of("api.compile"), "api")
        self.assertEqual(metrics.layer_of("op.search"), "bench")
        self.assertEqual(metrics.layer_of("warmup"), "bench")


class Names(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

    def test_every_emitted_name_is_well_formed(self):
        names = list(metrics.END_TO_END) + list(metrics.PER_LAYER) + [
            "read_p90_ms", "write_p50_ms", "error_frac",
            "index_bytes_per_input_byte"] + list(gen.WORKLOADS)
        for n in names:
            self.assertRegex(n, self.NAME)

    def test_benchmark_json_matches_the_emitted_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]],
                         list(gen.WORKLOADS))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"],
                         max(m["bound"] for m in b["end_to_end"]))


class Metrics(unittest.TestCase):
    def test_slowdown_ratio_normalises_by_type(self):
        ops = [{"type": "a" if i % 2 else "b",
                "ms": (100 if i % 2 else 10) * (2 if i >= 6 else 1)}
               for i in range(8)]
        self.assertEqual(metrics.slowdown_ratio(ops), 2.0)

    def test_throughput_ignores_where_the_deadline_fell(self):
        # one ingest block is a 3 s write and three 1 s reads: 4 ops / 6 s
        cycle = [("write", 3000), ("hybrid_search", 1000),
                 ("probe", 1000), ("hybrid_search", 1000)]
        for extra in (0, 1, 2):   # the run stopped after 0-2 more ops
            ops = [{"id": i, "mix_kind": t, "ms": ms}
                   for i, (t, ms) in enumerate((cycle * 2)[:4 + extra])]
            ok = {r["id"]: True for r in ops}
            value, note = metrics.throughput("corpus_ingest", ops, ok)
            self.assertAlmostEqual(value, 4 / 6.0)
            self.assertIsNone(note)
        ok[0] = False
        self.assertAlmostEqual(
            metrics.throughput("corpus_ingest", ops, ok)[0], 5 / 6 * 4 / 6)


if __name__ == "__main__":
    unittest.main()
