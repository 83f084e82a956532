"""Tests for the benchmark itself: the percentile rule, self-time
arithmetic, open-loop due-time accounting, and that every name and unit
the benchmark prints matches BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402
import stats  # noqa: E402


def load(path):
    with open(path) as f:
        return json.load(f)


BENCH = load(os.path.join(ROOT, "BENCHMARK.json"))
WORKLOADS = load(os.path.join(BENCH_DIR, "workloads.json"))
LAYERS = load(os.path.join(BENCH_DIR, "layers.json"))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.quantile(v, 50), 50)
        self.assertEqual(stats.quantile(v, 90), 90)
        self.assertEqual(stats.quantile(v, 99), 99)
        self.assertEqual(stats.quantile([7], 99), 7)
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertEqual(stats.samples_beyond(1000, 99), 10)
        self.assertEqual(stats.samples_beyond(12, 50), 6)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10_000), 99.9)
        self.assertEqual(stats.tail_percentile(27), 60.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_timing_reports_the_tail_the_rule_allows(self):
        t = stats.timing(list(range(1, 41)))
        self.assertEqual((t["n"], t["p50"], t["tail_pct"], t["tail"]), (40, 20.5, 75.0, 30))
        self.assertIsNone(stats.timing(list(range(12)))["tail"])


class SelfTime(unittest.TestCase):
    SPANS = [
        {"id": 1, "parent": 0, "name": "query", "start_ms": 0.0, "end_ms": 10.0, "unit": 0},
        {"id": 2, "parent": 1, "name": "SparkEntry.construct", "start_ms": 1.0, "end_ms": 3.0, "unit": 0},
        {"id": 3, "parent": 1, "name": "exec.write", "start_ms": 2.0, "end_ms": 5.0, "unit": 0},
        {"id": 4, "parent": 3, "name": "plan.analysis", "start_ms": 2.5, "end_ms": 3.5, "unit": 0},
        # a child running past its parent counts only inside the parent
        {"id": 5, "parent": 1, "name": "exec.write", "start_ms": 8.0, "end_ms": 12.0, "unit": 0},
    ]

    def test_union_of_children(self):
        self.assertEqual(stats.covered([(1, 3), (2, 5), (8, 12)], 0, 10), 6)
        self.assertEqual(stats.covered([], 0, 10), 0)
        self.assertEqual(stats.covered([(20, 30)], 0, 10), 0)

    def test_self_time_is_duration_minus_covered_children(self):
        st = stats.self_times(self.SPANS)
        self.assertEqual(st[1], 10 - 6)
        self.assertEqual(st[3], 3 - 1)
        self.assertEqual(st[4], 1)
        self.assertEqual(st[5], 4)

    def test_layers(self):
        by = stats.self_time_by_layer(self.SPANS)
        self.assertEqual(by, {"harness": 4, "SparkEntry": 2, "exec": 6, "plan": 1})
        self.assertEqual(stats.layer_of("llm.Dedup.x"), "llm")


class OpenLoop(unittest.TestCase):
    FILES = [
        {"name": "f0", "due_ms": 100.0, "written_ms": 105.0, "events": 2},
        {"name": "f1", "due_ms": 200.0, "written_ms": 260.0, "events": 1},  # generator late
        {"name": "f2", "due_ms": 300.0, "written_ms": 305.0, "events": 3},
        {"name": "f3", "due_ms": 400.0, "written_ms": 402.0, "events": 1},  # never read
    ]
    BATCHES = [
        {"start_ms": 150.0, "end_ms": 180.0, "files": ["f0"]},
        {"start_ms": 310.0, "end_ms": 400.0, "files": ["f1", "f2"]},
    ]

    def test_latency_counts_from_due_time(self):
        acc = stats.open_loop(self.FILES, self.BATCHES)
        # f1 was written 60 ms late: its events still count from when they were due
        self.assertEqual(acc["latencies"], [80.0, 200.0, 100.0])
        self.assertEqual(acc["pickup_lag"], [45.0, 50.0, 5.0])
        self.assertEqual(acc["missing"], ["f3"])

    def test_backlog_at_each_batch_start(self):
        acc = stats.open_loop(self.FILES, self.BATCHES)
        self.assertEqual(acc["backlog"], [1, 2])


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def fake_batch_raw():
    samples = [{"pass": p, "query": q, "ok": True, "total_ms": 100.0 + i,
                "construct_ms": 10.0, "autosize_ms": 1.0, "exec_ms": 89.0,
                "decisions": 1, "plan.analysis_ms": 2.0,
                "plan_metrics": {"join_rows_out": 40.0, "scan_rows": 5.0}}
               for p in range(2) for i, q in enumerate(["q_a", "q_winnow_b"])]
    return {"setup_s": 2.0, "peak_rss_mb": 900.0,
            "measured": {"passes": [{"wall_s": 0.2, "cpu_s": 0.5, "queries": 2, "jit_ms": 30},
                                    {"wall_s": 0.3, "cpu_s": 0.6, "queries": 2, "jit_ms": 10}],
                         "samples": samples},
            "exec": {"jobs": 8.0}, "spans": SelfTime.SPANS}


def fake_stream_raw():
    batch = {"start_ms": 1000.0, "end_ms": 1500.0, "files": ["f0", "f1"],
             "durations": {"addBatch": 300}, "sink_rows": 4,
             "state_rows_total": 10, "state_rows_updated": 4,
             "state_rows_removed": 1, "state_memory_bytes": 100,
             "state_update_ms": 1, "state_removal_ms": 1, "state_commit_ms": 1,
             "dropped_by_watermark": 0}
    measured = {"start_ms": 800.0, "cpu_s": 1.0, "jit_ms": 40, "batches": [batch]}
    genlog = {"files": [{"name": "f0", "due_ms": 900.0, "written_ms": 901.0, "events": 5},
                        {"name": "f1", "due_ms": 950.0, "written_ms": 951.0, "events": 5}]}
    return {"setup_s": 2.0, "peak_rss_mb": 900.0, "measured": measured,
            "trace_extras": {"predict_ns_per_row": 500.0}, "spans": []}, genlog


class NamesMatchBenchmark(unittest.TestCase):
    def test_benchmark_json_shape(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
                 for m in BENCH[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in BENCH["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in BENCH["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in BENCH["end_to_end"] + BENCH["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in BENCH["end_to_end"]))

    def test_workloads_defined_once(self):
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(WORKLOADS))

    def test_end_to_end_names(self):
        want = {m["name"] for m in BENCH["end_to_end"]}
        for name, wl in WORKLOADS.items():
            if wl["kind"] == "batch":
                raw, genlog = fake_batch_raw(), None
            else:
                raw, genlog = fake_stream_raw()
            e2e = run.end_to_end(raw, wl, genlog)[0]
            self.assertEqual(set(e2e), want, name)
            self.assertTrue(all(v > 0 for v in e2e.values()), name)

    def test_live_wall_and_busy_time(self):
        # wall: first file due → last commit; busy: the micro-batch itself
        raw, genlog = fake_stream_raw()
        e2e, t, _ = run.end_to_end(raw, WORKLOADS["flagship_live"], genlog)
        self.assertEqual(e2e["wall_s"], 0.6)
        self.assertEqual((t["n"], t["p50"]), (2, 575.0))
        busy = run.per_layer(raw, WORKLOADS["flagship_live"], genlog,
                             ["streaming.trigger_ms"], {})
        self.assertEqual(busy["streaming.trigger_ms"], 500.0)

    def test_per_layer_names(self):
        names = [m["name"] for m in BENCH["per_layer"]]
        for name, wl in WORKLOADS.items():
            if wl["kind"] == "batch":
                raw, genlog = fake_batch_raw(), None
            else:
                raw, genlog = fake_stream_raw()
            values = run.per_layer(raw, wl, genlog, names, {"q_winnow_b": 20})
            self.assertEqual(list(values), names, name)
        batch = run.per_layer(fake_batch_raw(), WORKLOADS["batch"], None, names,
                              {"q_winnow_b": 20})
        self.assertEqual(batch["llm.Dedup.pair_emit_ratio"], 2.0)
        self.assertEqual(batch["exec.jobs"], 4.0)
        self.assertEqual(batch["jvm.jit_ms"], 20.0)

    def test_layer_map_covers_every_per_layer_metric(self):
        names = {m["name"] for m in BENCH["per_layer"]}
        self.assertEqual(set(LAYERS), names)
        e2e = {m["name"] for m in BENCH["end_to_end"]}
        for n, spec in LAYERS.items():
            self.assertTrue(n.startswith(spec["layer"] + "."), n)
            for mv in spec["moves"]:
                self.assertIn(mv["workload"], WORKLOADS)
                self.assertIn(mv["metric"], e2e | names)


if __name__ == "__main__":
    unittest.main()
