"""Self-tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import random
import unittest

import metrics
from workloads import ORDERS, WORKLOADS, ingest_sequence


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(metrics.percentile(v, 50), 50)
        self.assertEqual(metrics.percentile(v, 90), 90)
        self.assertEqual(metrics.percentile([7], 99.9), 7)

    def test_highest_supported_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.highest_supported(list(range(19)))[0], None)
        self.assertEqual(metrics.highest_supported(list(range(20))), (50.0, 9, 20))
        self.assertEqual(metrics.highest_supported(list(range(99)))[0], 50.0)
        self.assertEqual(metrics.highest_supported(list(range(100)))[:2], (90.0, 89))
        self.assertEqual(metrics.highest_supported(list(range(1000)))[0], 99.0)
        self.assertEqual(metrics.highest_supported(list(range(10000)))[0], 99.9)


def rec(op, p, ok=True):
    r = {"op": op, "pass": p, "ok": ok}
    if not ok:
        r["error"] = "java.lang.IllegalStateException: boom"
    return r


class FailuresTest(unittest.TestCase):
    def test_thrown_and_wrong_each_count_once(self):
        records = [rec("a", 0), rec("a", 1), rec("b", 0), rec("b", 1, ok=False), rec("c", 0)]
        attempted, failed, causes = metrics.failures(records, {"a": "oracle mismatch"})
        self.assertEqual((attempted, failed), (5, 2))
        self.assertEqual(causes["a"], "oracle mismatch")
        self.assertIn("IllegalStateException", causes["b"])

    def test_wrong_result_of_a_thrown_check_is_not_counted_twice(self):
        records = [rec("a", 0, ok=False), rec("a", 1)]
        attempted, failed, _ = metrics.failures(records, {"a": "no dump"})
        self.assertEqual((attempted, failed), (2, 1))

    def test_clean_run(self):
        self.assertEqual(metrics.failures([rec("a", 0), rec("a", 1)], {})[:2], (2, 0))


class EndToEndTest(unittest.TestCase):
    def test_pass_s_and_heap_over_a_fixed_number_of_passes(self):
        n = metrics.PASS_SAMPLES
        walls = {0: 20.0, 1: 9.0, **{i: 4.0 + i for i in range(2, n + 2)}, n + 2: 0.5, n + 3: 0.6}
        report = {
            "setup_s": 30.0,
            "passes": [{"index": i, "cold": i == 0, "warmup": i == 1, "traced": False,
                        "seconds": w, "heap_peak_mb": 200.0 + i, "heap_live_mb": 100.0 + i}
                       for i, w in walls.items()],
            "ops": [{"op": "a", "pass": i, "ok": True, "seconds": w} for i, w in walls.items()]
            + [{"op": "b", "pass": 2, "ok": False, "error": "x"}],
        }
        e2e, samples = metrics.end_to_end(report)
        # neither set-up passes nor passes beyond the sample count
        self.assertEqual(e2e["pass_s"], metrics._median(4.0 + i for i in range(2, n + 2)))
        self.assertEqual(e2e["heap_live_mb"], metrics._median(100.0 + i for i in range(2, n + 2)))
        self.assertEqual(samples["heap_peak_mb"], 200.0 + n + 1)
        self.assertEqual(e2e["setup_s"], 30.0)
        self.assertEqual((samples["pass_s_passes"], samples["ops"]), (n, n + 2))


def span(i, parent, kind, s, e):
    return {"id": i, "parent": parent, "kind": kind, "name": kind, "start_us": s, "end_us": e}


class SelfTimeTest(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time(span(1, 0, "op", 0, 100),
                                           [span(2, 1, "plan", 10, 20),
                                            span(3, 1, "exec", 30, 60)]), 60)

    def test_overlapping_children_count_once(self):
        tasks = [span(2, 1, "task", 10, 50), span(3, 1, "task", 20, 40),
                 span(4, 1, "task", 45, 70)]
        self.assertEqual(metrics.self_time(span(1, 0, "stage", 0, 100), tasks), 40)

    def test_children_clipped_to_parent(self):
        self.assertEqual(metrics.self_time(span(1, 0, "op", 0, 100),
                                           [span(2, 1, "job", -10, 30),
                                            span(3, 1, "job", 90, 200)]), 60)

    def test_attach_by_containment(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "registry.call", 0, 60),
                 span(3, -1, "batch", 10, 20), span(4, -1, "job", 70, 80)]
        metrics.attach(spans)
        self.assertEqual(spans[2]["parent"], 2)
        self.assertEqual(spans[3]["parent"], 1)


class PerLayerTest(unittest.TestCase):
    """A hand-built traced run: one untraced and one traced steady pass of
    a drive op whose call ran a micro-batch and whose exec ran one job."""

    def run_report(self):
        spans = [
            span(1, 0, "run", 0, 10_000_000),
            span(2, 1, "pass", 0, 1_000_000), span(3, 1, "pass", 2_000_000, 5_000_000),
            span(10, 3, "op", 2_000_000, 5_000_000),
            span(11, 10, "registry.call", 2_000_000, 3_000_000),
            span(12, 10, "plan", 3_000_000, 3_500_000),
            span(13, 10, "exec", 3_500_000, 5_000_000),
            span(14, 10, "job", 3_600_000, 4_600_000),
            span(15, 14, "stage", 3_600_000, 4_600_000),
            span(16, 15, "task", 3_600_000, 4_400_000),
            span(17, -1, "batch", 2_100_000, 2_900_000),
        ]
        spans[9]["attrs"] = {"run_ms": 800, "cpu_ns": 5e8, "gc_ms": 10,
                             "shuffle_write_bytes": 100, "records_read": 0}
        spans[10]["attrs"] = {"ms.triggerExecution": 800, "ms.addBatch": 500,
                             "input_rows": 0, "state_rows_updated": 3, "state_bytes": 64}
        op = {"op": "state_x", "pass": 2, "span": 10, "ok": True, "seconds": 3.0,
              "call_s": 1.0, "plan_s": 0.5, "exec_s": 1.5,
              "phases_ms": {"optimization": 20}, "census": {"exchanges": 2}}
        report = {
            "passes": [{"index": 0, "cold": True, "warmup": False, "traced": False, "seconds": 9.0, "span": 0},
                       {"index": 1, "cold": False, "warmup": False, "traced": False, "seconds": 2.5, "span": 2},
                       {"index": 2, "cold": False, "warmup": False, "traced": True, "seconds": 3.0, "span": 3}],
            "ops": [{**op, "pass": 0, "span": 0, "call_s": 4.0},
                    {**op, "pass": 1, "span": 0}, op],
            "ingest": {}, "tables_cache_s": 1.0, "session_build_s": 2.0,
            "setup_jit_s": 3.0, "setup_codegen_s": 0.5, "gc_s": 1.0, "setup_gc_s": 0.4,
        }
        return metrics.per_layer(report, spans, cores=2)

    def test_layers(self):
        m = self.run_report()
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertEqual((m["jobs"], m["stages"], m["tasks"]), (1, 1, 1))
        self.assertAlmostEqual(m["task.run_s"], 0.8)
        self.assertAlmostEqual(m["task.busy_frac"], 0.8 / (1.5 * 2))
        self.assertAlmostEqual(m["self.exec_s"], 0.5)  # exec minus its job
        self.assertAlmostEqual(m["self.registry_call_s"], 0.2)  # call minus its batch
        self.assertEqual(m["stream.batches"], 1)
        self.assertEqual(m["stream.empty_batches"], 1)
        self.assertAlmostEqual(m["stream.lifecycle_s"], 0.2)  # call minus trigger
        self.assertEqual(m["stream.state_rows_updated"], 3)
        self.assertEqual(m["batch_p50_ms"], 800)
        self.assertAlmostEqual(m["registry.cold_s"], 3.0)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.5)
        self.assertAlmostEqual(m["jvm.gc_s"], 0.3)


class IngestSequenceTest(unittest.TestCase):
    def test_seeded_and_within_the_key_space(self):
        a, b = ingest_sequence(random.Random(5)), ingest_sequence(random.Random(5))
        self.assertEqual(a, b)
        stored = {k for lo, hi in a["appends"] + [a["insert"]] for k in range(lo, hi)}
        self.assertTrue(set(a["delete_keys"]) <= stored)
        self.assertEqual(len(set(a["merge_keys"]) - stored), 10)
        self.assertTrue(all(0 <= lo < hi < ORDERS for lo, hi in a["ranges"]))


class BenchmarkJsonTest(unittest.TestCase):
    def test_declares_exactly_what_a_run_prints(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
