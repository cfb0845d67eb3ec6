"""Unit tests for the benchmark's statistics rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


class MedianAndPercentile(unittest.TestCase):
    def test_median_odd_even_empty(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(metrics.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(metrics.median([]), 0.0)

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.tail_percentile(list(range(39))))
        # 40 samples: p75 leaves exactly 10 beyond it
        p, v = metrics.tail_percentile([float(x) for x in range(1, 41)])
        self.assertEqual((p, v), (75.0, 30.0))
        # 100 samples: p90 is the highest with 10 beyond it
        p, v = metrics.tail_percentile([float(x) for x in range(1, 101)])
        self.assertEqual((p, v), (90.0, 90.0))
        # 1000 samples: p99
        p, v = metrics.tail_percentile([float(x) for x in range(1, 1001)])
        self.assertEqual((p, v), (99.0, 990.0))


class SelfTime(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (3, 4)]), 10)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_is_wall_minus_union_of_children(self):
        # two overlapping jobs and one disjoint job inside a 100 ms op
        kids = [(10, 40), (30, 50), (70, 80)]
        self.assertEqual(metrics.self_time(0, 100, kids), 100 - 50)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time(10, 20, [(0, 15), (18, 30)]), 3)

    def test_children_plus_self_cover_wall(self):
        kids = [(1, 4), (2, 9), (12, 13)]
        covered = metrics.union_length(kids)
        self.assertEqual(covered + metrics.self_time(0, 20, kids), 20)


class FailureCount(unittest.TestCase):
    def test_counts_failed_against_attempted(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": False}]
        self.assertEqual(metrics.failure_count(ops), (4, 2))
        self.assertEqual(metrics.failure_count([]), (0, 0))


def op(kind, start, end, ok=True, phases=(), **attrs):
    return {"kind": kind, "i": 0, "group": "", "timed": True, "traced": True,
            "start": start, "end": end, "ok": ok, "error": "",
            "phases": [{"name": n, "start": s, "end": e} for n, s, e in phases],
            "attrs": attrs}


LOOP = {"traced": True, "timed_start": 0.0, "timed_end": 10000.0,
        "heap_live_mb": 100.0, "steal_frac": 0.0}


def record(workload, ops, **extra):
    rec = {"workload": workload, "seed": 1, "trace": True, "cpus": 4,
           "setup_s": [1.0, 3.0, 2.0], "loops": [LOOP], "ops": ops,
           "jobs": [], "stages": [], "tasks": [], "batches": [], "table": {}}
    rec.update(extra)
    return rec


class EndToEnd(unittest.TestCase):
    def test_ingest_metrics(self):
        ops = [op("append", 0, 200, files_added=1, bytes_written=10,
                  commit_bytes=5, checkpoint=False, checkpoint_bytes=0,
                  cpu_s=0.3),
               op("append", 300, 700, files_added=2, bytes_written=20,
                  commit_bytes=5, checkpoint=True, checkpoint_bytes=50,
                  cpu_s=0.5),
               op("read", 800, 900, cpu_s=0.1),
               op("optimize", 1000, 2000, files_removed=3, bytes_written=30,
                  commit_bytes=5, checkpoint=False, checkpoint_bytes=0,
                  cpu_s=2.0),
               op("append", 2100, 2400, ok=False, cpu_s=9.0)]
        e2e, counts, _detail, named = metrics.end_to_end(record("ingest", ops), LOOP)
        self.assertEqual(e2e["setup_s"], 2.0)
        # roles: write = append, read = read, rewrite = optimize; the
        # failed append is left out
        self.assertAlmostEqual(e2e["write_p50_s"], 0.3)
        self.assertEqual(counts["write_p50_s"], 2)
        self.assertAlmostEqual(e2e["read_p50_s"], 0.1)
        self.assertAlmostEqual(e2e["rewrite_p50_s"], 1.0)
        # two appends and one OPTIMIZE committed in 0.2 + 0.4 + 1.0 s;
        # the read and the failed append did not commit
        self.assertAlmostEqual(named["commits_per_s"][0], 3 / 1.6)
        self.assertEqual(named["failed_frac"][0], 0.2)
        self.assertAlmostEqual(_detail["append"]["cpu_mean_s"], 0.4)

    def test_stream_batches_are_upsert_write_samples(self):
        ops = [op("upsert", 0, 1000, cpu_s=3.0, commits=[])]
        batches = [{"run": "r", "batch": i, "start": 100.0 + 400 * i, "rows": 5,
                    "trigger_ms": 300 + 100 * i, "addbatch_ms": 250} for i in range(2)]
        e2e, counts, detail, _n = metrics.end_to_end(
            record("upsert", ops, batches=batches), LOOP)
        self.assertAlmostEqual(e2e["write_p50_s"], 0.35)
        self.assertEqual(counts["write_p50_s"], 2)
        # each batch's CPU share is its drain op's CPU over its batches
        self.assertAlmostEqual(detail["upsert_batch"]["cpu_mean_s"], 1.5)

    def test_per_layer_attributes_jobs_by_time(self):
        ops = [op("append", 0, 100, files_added=2, bytes_written=10,
                  commit_bytes=5, checkpoint=False, checkpoint_bytes=0)]
        jobs = [{"id": 1, "start": 10.0, "end": 40.0, "group": "", "stages": [1]},
                {"id": 2, "start": 30.0, "end": 60.0, "group": "", "stages": [2]},
                {"id": 3, "start": 500.0, "end": 600.0, "group": "", "stages": [3]}]
        tasks = [[1, 1, 10.0, 30.0], [2, 2, 30.0, 50.0], [3, 3, 500.0, 600.0]]
        m = metrics.per_layer(record("ingest", ops, jobs=jobs, tasks=tasks))
        self.assertEqual(m["dlv.write.jobs"], 2)
        self.assertAlmostEqual(m["dlv.write.job_s"], 0.05)
        self.assertAlmostEqual(m["dlv.write.driver_self_s"], 0.05)
        self.assertEqual(m["dlv.write.tasks_per_file"], 1.0)
        self.assertEqual(set(m), {name for name, _ in metrics.PER_LAYER})


class Steal(unittest.TestCase):
    def test_stolen_ops_are_left_out(self):
        ops = [op("append", 0, 100, steal=0.0, commit_bytes=1),
               op("append", 200, 900, steal=0.30, commit_bytes=1),
               op("append", 1000, 1300, steal=0.01, commit_bytes=1)]
        e2e, counts, _d, _n = metrics.end_to_end(record("ingest", ops), LOOP)
        self.assertAlmostEqual(e2e["write_p50_s"], 0.2)
        self.assertEqual(counts["write_p50_s"], 2)

    def test_all_stolen_keeps_every_op(self):
        ops = [op("read", 0, 100, steal=0.2), op("read", 200, 500, steal=0.3)]
        e2e, counts, _d, _n = metrics.end_to_end(record("ingest", ops), LOOP)
        self.assertEqual(counts["read_p50_s"], 2)


class BenchmarkJson(unittest.TestCase):
    """The metrics the runner prints are exactly the ones BENCHMARK.json
    declares, with the same units."""

    def setUp(self):
        import json
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        path = os.path.join(root, "BENCHMARK.json")
        if not os.path.isfile(path):
            self.skipTest("BENCHMARK.json not present")
        with open(path) as f:
            self.bench = json.load(f)

    def test_per_layer(self):
        declared = [(m["name"], m["unit"]) for m in self.bench["per_layer"]]
        self.assertEqual(declared, list(metrics.PER_LAYER))

    def test_end_to_end(self):
        import run
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(declared, run.E2E_UNITS)


if __name__ == "__main__":
    unittest.main()
