"""Self-tests of the benchmark itself.

    python3 perfbench/test_bench.py

The generator test builds the program (perfbench/build.py) if needed.
"""
import copy
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


class QuartileTest(unittest.TestCase):
    def test_hand_computed(self):
        # sorted 1 1 2 3 4 5 6 9; positions (n+1)p = 2.25, 4.5, 6.75
        self.assertEqual(run.quartiles([3, 1, 4, 1, 5, 9, 2, 6]), (1.25, 3.5, 5.75))
        # 1..10: positions 2.75, 5.5, 8.25
        self.assertEqual(run.quartiles(list(range(1, 11))), (2.75, 5.5, 8.25))

    def test_single_value(self):
        self.assertEqual(run.quartiles([7.5]), (7.5, 7.5, 7.5))

    def test_empty(self):
        with self.assertRaises(ValueError):
            run.quartiles([])


def _span(name, wall):
    return {"name": name, "parent": "pipeline", "run_id": "r", "start_s": 0.0,
            "end_s": wall, "wall_s": wall, "jobs": 3, "task_s": 2 * wall, "gc_s": 0.01,
            "shuffle_write_mb": 1.5, "spill_mb": 0.0, "input_mb": 0.5,
            "task_skew": 1.2, "rows_out": 10}


def fake_raw(workload, trace):
    """A JVM result of the shape Main writes, with made-up numbers."""
    raw = {"workload": workload, "trace": trace, "setup_s": 12.0, "peak_rss_mb": 1900.0,
           "heap_retained_mb": 190.0,
           "input_build_s": [1.0, 0.2, 0.2], "env": {}, "spans": []}
    kinds = ["timed", "traced"] if trace else ["timed"]
    if workload == "index_serve":
        raw["samples"] = [
            {"kind": "%s-%s" % (k, op), "ok": True, "wall_s": 1.0 + i / 10, "docs": 500, "round": 1,
             "recall": 1.0, "files_written": 250,
             "bytes_written": 10 ** 6, "files_total": 800}
            for k in kinds for op in ("put", "search") for i in range(2)]
        if trace:
            raw["spans"] = [[_span("ops.put", 1.0), _span("ops.search", 1.1)]]
    else:
        raw["samples"] = [
            {"kind": k, "ok": True, "wall_s": 5.0 + i / 10, "docs": 20000, "recall": 1.0,
             "components": 900,
             "decisions": {"candidates": 1000, "verified": 600, "simhash_edges": 50,
                           "substr_edges": 70, "hot_shingles": 5}}
            for k in kinds for i in range(3)]
        if trace:
            raw["spans"] = [[_span(n, 0.4) for n in run.BATCH_SPANS]] * 3
    return raw


class MetricNameTest(unittest.TestCase):
    """Every metric printed is declared in BENCHMARK.json and every
    declared metric is printed, on every workload and trace mode."""

    def test_names_match(self):
        spec = run.load_spec()
        for w in run.WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                result, _ = run.summarise(fake_raw(w, trace), spec)
                self.assertEqual(sorted(result["metrics"]),
                                 sorted(m["name"] for m in spec[key]), (w, trace))
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)

    def test_undeclared_name_is_refused(self):
        spec = copy.deepcopy(run.load_spec())
        spec["end_to_end"].pop()
        with self.assertRaises(SystemExit):
            run.summarise(fake_raw("web_mix", 0), spec)

    def test_failed_sample_is_counted_and_not_timed(self):
        raw = fake_raw("web_mix", 0)
        raw["samples"][0].update(ok=False, wall_s=0.001)
        result, full = run.summarise(raw, run.load_spec())
        self.assertEqual((result["failed"], result["correct"]), (1, False))
        self.assertEqual(full["docs_per_s"]["n"], 2)


class GeneratorTest(unittest.TestCase):
    """The generator gives identical inputs for one seed and different
    inputs for another."""

    def digest(self, classes, jars, workload, seed):
        cp = classes + os.pathsep + os.path.join(jars, "*")
        out = subprocess.run(["java", "-cp", cp, "graft.perfbench.Main", "--gen-digest",
                              workload, str(seed)], stdout=subprocess.PIPE, text=True,
                             check=True, timeout=300)
        return out.stdout.strip()

    def test_seeded(self):
        classes, jars, _ = build.build()
        for w in run.WORKLOADS:
            a = self.digest(classes, jars, w, 1)
            self.assertEqual(len(a), 64)
            self.assertEqual(a, self.digest(classes, jars, w, 1), w)
            self.assertNotEqual(a, self.digest(classes, jars, w, 2), w)


if __name__ == "__main__":
    unittest.main()
