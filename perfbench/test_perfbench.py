"""The benchmark's own tests: input determinism, metric names, span
self-time arithmetic, job attribution, the tail-percentile rule and its
Harrell-Davis estimate.

    python3 -m unittest perfbench/test_perfbench.py
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class InputsTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        os.makedirs(WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=WORK) as tmp:
            for wl in sorted(gen.GENERATORS):
                a, b, c = (os.path.join(tmp, f"{wl}-{k}") for k in "abc")
                gen.generate(wl, 5, a)
                gen.generate(wl, 5, b)
                gen.generate(wl, 6, c)
                self.assertEqual(tree_digest(a), tree_digest(b), wl)
                self.assertNotEqual(tree_digest(a), tree_digest(c), wl)

    def test_lake_model_applies_the_log(self):
        os.makedirs(WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=WORK) as tmp:
            inp = os.path.join(tmp, "in")
            gen.generate("lakehouse_mixed", 3, inp)
            ops = gen.read_ops(inp)
            k = 1 + next(i for i, op in enumerate(ops) if op["kind"] == "delete")
            table, answers = gen.lake_model(inp, k)
            self.assertEqual(len(answers), k)
            gone = ops[k - 1]["user_id"]
            self.assertFalse(any(r["user_id"] == gone for r in table.values()))
            for op, ans in zip(ops[:k], answers):
                if op["kind"] == "point_read" and ans:
                    self.assertEqual(ans[0][0], op["event_id"])


class NamesTest(unittest.TestCase):
    def test_names_match_pattern_and_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = [m["name"] for m in bench["end_to_end"]]
        layer = [m["name"] for m in bench["per_layer"]]
        for name in e2e + layer + [w["name"] for w in bench["workloads"]]:
            self.assertTrue(metrics.NAME_RE.fullmatch(name), name)
        self.assertEqual(e2e, list(metrics.END_TO_END))
        self.assertEqual(layer, list(metrics.PER_LAYER))
        for m in bench["end_to_end"]:
            self.assertEqual((m["unit"], m["better"]), metrics.END_TO_END[m["name"]])
        for m in bench["per_layer"]:
            self.assertEqual((m["unit"], m["better"]), metrics.PER_LAYER[m["name"]])
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(gen.GENERATORS))


def span(i, parent, t0, t1, op=1, name="x"):
    return {"id": i, "parent": parent, "op": op, "name": name, "t0": t0, "t1": t1}


class SelfTimeTest(unittest.TestCase):
    def test_hand_built_tree(self):
        spans = [
            span(1, 0, 0.0, 10.0),   # root: children cover [1,4] ∪ [3,6] ∪ [8,9] = 6
            span(2, 1, 1.0, 4.0),    # child 4 covers [2,3] = 1
            span(3, 1, 3.0, 6.0),    # overlaps span 2
            span(4, 2, 2.0, 3.0),
            span(5, 1, 8.0, 9.0),
            span(6, 0, 20.0, 21.5, op=6),
        ]
        self_t = metrics.self_times(spans)
        self.assertAlmostEqual(self_t[1], 4.0)
        self.assertAlmostEqual(self_t[2], 2.0)
        self.assertAlmostEqual(self_t[3], 3.0)
        self.assertAlmostEqual(self_t[4], 1.0)
        self.assertAlmostEqual(self_t[5], 1.0)
        self.assertAlmostEqual(self_t[6], 1.5)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertAlmostEqual(metrics.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4.0)

    def test_jobs_go_to_the_innermost_open_span(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 2.0, 5.0), span(3, 0, 11.0, 12.0, op=3)]
        jobs = [{"id": 0, "t0": 1.0}, {"id": 1, "t0": 3.0}, {"id": 2, "t0": 11.5},
                {"id": 3, "t0": 10.5}]
        self.assertEqual(metrics.attribute_jobs(spans, jobs), {0: 1, 1: 2, 2: 3})


def sample(kind, cls, t0, t1, inp="", rnd=0, ok=True, written=0):
    return {"round": rnd, "kind": kind, "cls": cls, "input": inp, "t0": t0, "t1": t1,
            "ok": ok, "fsRead": 0, "fsWritten": written, "error": ""}


class EndToEndTest(unittest.TestCase):
    def test_hand_built_record(self):
        sizes = {"a.csv": (1000, 400), "b.parquet": (30, 100)}
        record = {"setup_s": [0.3, 0.1, 0.2], "samples": [
            sample("load", "commit", -5.0, -1.0, "a.csv", rnd=-1, written=999),  # warm-up
            sample("load", "commit", 0.0, 2.0, "a.csv", written=100),
            sample("insert", "commit", 2.0, 3.0, "b.parquet", written=50),
            sample("query", "read", 3.0, 3.5),
            sample("query", "read", 3.5, 4.5),
            sample("query", "read", 4.5, 4.6, ok=False),  # failed: never timed
            sample("unload", "commit", 5.0, 9.0, written=250),
        ]}
        m, notes = metrics.end_to_end(record, sizes)
        self.assertEqual(m["setup_s"], 0.2)
        self.assertAlmostEqual(m["commit_mean_s"], 7.0 / 3)
        # Harrell-Davis p50 of [1, 2, 4]: Beta(2, 2) weights 7/27, 13/27, 7/27
        self.assertAlmostEqual(m["commit_tail_s"], 61 / 27, places=4)
        self.assertAlmostEqual(m["read_mean_s"], 0.75)
        self.assertEqual(notes["read_tail_s"], {"n": 2, "percentile": 50.0})
        # unload exports rows but ingests none: only load and insert count
        self.assertAlmostEqual(m["ingest_rows_per_s"], 1030 / 3.0)
        self.assertEqual(notes["ingest_rows_per_s"], {"n": 2, "rows": 1030})
        self.assertAlmostEqual(m["bytes_written_per_input_byte"], 400 / 500)

    def test_input_of_each_arrival(self):
        sizes = {"arrivals/a0": (70, 7000), "arrivals/a1": (80, 8100)}
        record = {"setup_s": [0.1], "samples": [
            sample("batch", "commit", 0.0, 1.0, "arrivals/a0"),
            sample("batch", "commit", 1.0, 3.0, "arrivals/a1"),
            sample("corpus_read", "read", 3.0, 3.1)]}
        m, _ = metrics.end_to_end(record, sizes)
        self.assertAlmostEqual(m["ingest_rows_per_s"], 150 / 3.0)
        self.assertEqual(metrics.kind_input(record, sizes, "batch"), (75, 7550))
        self.assertEqual(metrics.kind_input(record, sizes, "load"), (0, 0))


class TailTest(unittest.TestCase):
    def test_tail_percentile_rule(self):
        # at least 10 samples strictly above the nearest-rank position
        for n, p in ((5, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0),
                     (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
                     (1000, 99.0), (10000, 99.9)):
            self.assertEqual(metrics.tail_percentile(n), p, n)

    def test_harrell_davis_percentile(self):
        self.assertAlmostEqual(metrics.percentile([3.0], 50.0), 3.0)
        self.assertAlmostEqual(metrics.percentile([5.0] * 7, 50.0), 5.0)
        # symmetric weights at p50 put the estimate on the middle of evenly spaced values
        self.assertAlmostEqual(metrics.percentile([5, 1, 4, 2, 3], 50.0), 3.0)
        values = list(range(1, 101))
        self.assertAlmostEqual(metrics.percentile(values, 90.0), 90.5, places=4)
        self.assertLess(metrics.percentile(values, 75.0), metrics.percentile(values, 90.0))
        # one slow sample moves it a little, not to the next sample
        self.assertLess(metrics.percentile([1, 1, 1, 1, 9], 50.0), 2.0)


if __name__ == "__main__":
    unittest.main()
