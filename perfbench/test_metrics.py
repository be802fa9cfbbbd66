"""Tests for the benchmark's own arithmetic (perfbench/metrics.py).

Run from the repo root: python3 -m unittest discover -s perfbench -p "test_*.py"
"""
import unittest

import metrics


def op(group, start, end, ok=True, name="chain"):
    return {"kind": "op", "group": group, "name": name, "start": start,
            "end": end, "ok": ok, "error": None, "cache_bytes": 0}


def task(group, launch, finish, **m):
    return dict({"kind": "task", "group": group, "launch": launch,
                 "finish": finish, "ok": True}, **m)


class PercentileRule(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 0.9), 4.6)
        self.assertEqual(metrics.percentile([7], 0.9), 7)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)

    def test_tail_needs_ten_samples_beyond(self):
        # 100 samples: exactly 10 lie beyond p90, none qualify above it
        self.assertEqual(metrics.supported_tail(list(range(100)))[0], 0.9)
        # 90 samples: p90 has 9 beyond, so the rule falls back to p75
        self.assertEqual(metrics.supported_tail(list(range(90)))[0], 0.75)
        # 1000 samples support p99
        self.assertEqual(metrics.supported_tail(list(range(1000)))[0], 0.99)

    def test_tail_unsupported_with_few_samples(self):
        # 36 samples: p75 has 9 beyond
        self.assertIsNone(metrics.supported_tail(list(range(36))))
        self.assertIsNone(metrics.supported_tail([1.0]))

    def test_ties_do_not_count_as_beyond(self):
        self.assertIsNone(metrics.supported_tail([1.0] * 200))


class Ratios(unittest.TestCase):
    def test_ratio_and_empty_base(self):
        self.assertEqual(metrics.ratio(3, 4), 0.75)
        self.assertEqual(metrics.ratio(5, 0), 0.0)

    def test_per_layer_totals_are_per_unit_of_work(self):
        rec = {"workload": "curation_batch", "measure_start": 0,
               "measure_end": 100, "events": [
                   op("m-0", 0, 40), op("m-1", 50, 90),
                   task("m-0", 0, 10, run_ms=10, deser_ms=2, in_bytes=100),
                   task("m-1", 50, 60, run_ms=30, deser_ms=4, in_bytes=300),
                   task("other", 0, 10, run_ms=1000),  # not a measured op
                   {"kind": "job", "group": "m-0", "t": 1},
                   {"kind": "job", "group": "m-1", "t": 51},
                   {"kind": "job", "group": "m-1", "t": 52},
                   {"kind": "qe", "t": 5, "optimize_ms": 8, "physical_ms": 2,
                    "nodes": 30, "broadcast_bytes": 10},
                   {"kind": "qe", "t": 200, "optimize_ms": 999, "physical_ms": 0,
                    "nodes": 0, "broadcast_bytes": 0}]}
        m = metrics.per_layer(rec, [0.04, 0.04])
        self.assertEqual(m["runtime.task_run_ms"][0], 20)
        self.assertEqual(m["runtime.task_deserialize_ms"][0], 3)
        self.assertEqual(m["engine.scan_bytes_read"][0], 200)
        self.assertEqual(m["runtime.jobs"][0], 1.5)
        self.assertEqual(m["runtime.tasks"][0], 1)
        # execution events outside the measured window are excluded
        self.assertEqual(m["plans.optimize_ms"][0], 4)
        self.assertEqual(m["plans.executed_nodes"][0], 15)
        self.assertEqual(m["ops_failed_ratio"][0], 0)

    def test_daily_ingest_bases(self):
        rec = {"workload": "daily_ingest", "measure_start": 0, "measure_end": 100,
               "setup_s": [3.0, 1.0, 2.0], "retained_heap_mb": 80.0,
               "items_probed": 500, "loop_ms": 2000,
               "absorbed_docs": 45, "held_out_docs": 50,
               "index_bytes": 300, "sink_bytes": 100, "input_bytes": 200,
               "events": [
                   {"kind": "progress", "t": 10, "batch": 0, "rows": 5,
                    "durations": {"triggerExecution": 1000, "addBatch": 900}},
                   {"kind": "progress", "t": 20, "batch": 1, "rows": 5,
                    "durations": {"triggerExecution": 3000, "addBatch": 2500}},
                   {"kind": "progress", "t": 30, "batch": 2, "rows": 5,
                    "durations": {"triggerExecution": 2000, "addBatch": 1600}},
                   {"kind": "progress", "t": 300, "batch": 0, "rows": 5,
                    "durations": {"triggerExecution": 99000}}]}
        e2e, lat = metrics.end_to_end(rec, n_docs=0)
        self.assertEqual(lat, [1.0, 3.0, 2.0])
        self.assertEqual(e2e["latency_s"], (2.0, "s"))
        self.assertEqual(e2e["throughput_per_s"], (250.0, "1/s"))
        self.assertEqual(e2e["setup_s"], (2.0, "s"))
        m = metrics.per_layer(rec, lat)
        self.assertEqual(m["streaming.batches"][0], 3)
        self.assertEqual(m["streaming.add_batch_ms"][0], 5000 / 3)
        self.assertEqual(m["streaming.absorbed_ratio"][0], 0.9)
        self.assertEqual(m["engine.stored_bytes_per_input_byte"][0], 2.0)

    def test_daily_ingest_latency_is_the_mean_batch(self):
        rec = {"workload": "daily_ingest", "measure_start": 0, "measure_end": 100,
               "setup_s": [1.0, 2.0], "retained_heap_mb": 1.0,
               "items_probed": 1, "loop_ms": 1000,
               "events": [{"kind": "progress", "t": t, "batch": t, "rows": 1,
                           "durations": {"triggerExecution": ms}}
                          for t, ms in [(1, 1000), (2, 1000), (3, 4000)]]}
        e2e, _ = metrics.end_to_end(rec, n_docs=0)
        self.assertEqual(e2e["latency_s"], (2.0, "s"))
        self.assertEqual(e2e["setup_s"], (1.5, "s"))

    def test_curation_throughput_is_documents_per_chain_second(self):
        rec = {"workload": "curation_batch", "measure_start": 0, "measure_end": 100,
               "setup_s": [1.0], "retained_heap_mb": 1.0,
               "events": [op("m-0", 0, 20000), op("warm-0", 0, 5)]}
        e2e, lat = metrics.end_to_end(rec, n_docs=500)
        self.assertEqual(lat, [20.0])
        self.assertEqual(e2e["throughput_per_s"], (25.0, "1/s"))

    def test_failed_ops_count_against_attempted(self):
        rec = {"workload": "curation_batch", "measure_start": 0, "measure_end": 100,
               "events": [op("m-0", 0, 10), op("m-1", 10, 20, ok=False),
                          op("m-2", 20, 30), op("m-3", 30, 40)]}
        self.assertEqual(metrics.per_layer(rec, [])["ops_failed_ratio"][0], 0.25)


class IdleAccounting(unittest.TestCase):
    def test_union_merges_overlaps_and_clips_to_the_window(self):
        self.assertEqual(metrics.covered_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.covered_ms([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(metrics.covered_ms([(10, 20), (12, 14)], 0, 100), 10)
        self.assertEqual(metrics.covered_ms([(200, 300)], 0, 100), 0)
        self.assertEqual(metrics.covered_ms([], 0, 100), 0)

    def test_parallel_tasks_count_once(self):
        o = op("m-0", 0, 100)
        ts = [task("m-0", 10, 50), task("m-0", 10, 50), task("m-0", 20, 60)]
        self.assertEqual(metrics.idle_ms(o, ts), 50)

    def test_idle_is_per_op_by_job_group(self):
        rec = {"workload": "curation_batch", "measure_start": 0, "measure_end": 200,
               "events": [op("m-0", 0, 100), op("m-1", 100, 200),
                          task("m-0", 0, 100), task("m-1", 150, 160)]}
        # m-0 never idles; m-1 idles 90 of 100 ms; mean over the two ops
        self.assertEqual(metrics.per_layer(rec, [])["runtime.driver_idle_ms"][0], 45)

    def test_self_times_partition_the_op_wall(self):
        rec = {"workload": "curation_batch", "measure_start": 0, "measure_end": 200,
               "events": [op("m-0", 0, 100), task("m-0", 40, 90),
                          {"kind": "span", "layer": "operators.build", "group": "m-0",
                           "start": 0, "end": 20},
                          {"kind": "qe", "t": 95, "optimize_ms": 10, "physical_ms": 5}]}
        st = metrics.self_times(rec)
        self.assertEqual(st["runtime"], 50)
        self.assertEqual(st["operators"], 20)
        self.assertEqual(st["plans"], 15)
        self.assertEqual(st["driver"], 15)
        self.assertEqual(sum(st.values()), 100)


if __name__ == "__main__":
    unittest.main()
