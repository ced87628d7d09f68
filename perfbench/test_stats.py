"""Self-checks of the benchmark's statistics and accounting:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The records are built in the harness's own format (Harness.scala),
so an injected throw and an injected digest mismatch go through the
same code as a real run."""

import unittest

import stats


def execution(query, latency=0.2, construct=0.05, catalyst=(0.004, 0.003, 0.002),
              outside=0.0, error=None, failed_in=None):
    """A traced execution as the harness records it. The sink call runs
    the analysis phase, then one SQL execution holding optimization,
    planning and one job, and spends its last `outside` seconds in
    neither."""
    sink = latency - construct
    t0 = 1_000_000.0
    t1 = t0 + construct * 1e3
    end = t0 + latency * 1e3
    a, o, p = (x * 1e3 for x in catalyst)
    sql_end = end - outside * 1e3
    counters = {"jobs": 1, "stages": 2, "tasks": 4, "empty_tasks": 1, "task_run_s": 0.3,
                "task_cpu_s": 0.2, "gc_s": 0.01, "input_bytes": 2_000_000,
                "shuffle_write_bytes": 1_000_000, "shuffle_read_bytes": 1_000_000,
                "spill_bytes": 0, "peak_exec_mem_bytes": 8_000_000}
    return {
        "query": query, "construct_s": construct, "sink_s": sink, "latency_s": latency,
        "failed_in": failed_in, "error": error, "rows": None,
        "start_ms": t0, "construct_end_ms": t1, "end_ms": end,
        "construct": dict(counters, jobs=0, tasks=0), "exec": counters,
        "construct_spans": [],
        "exec_spans": [{"name": "sql 7", "parent": None, "start_ms": t1 + a,
                        "end_ms": sql_end},
                       {"name": "job 1", "parent": "sql 7", "start_ms": t1 + a + o + p,
                        "end_ms": sql_end},
                       {"name": "stage 3", "parent": "job 1", "start_ms": t1 + a + o + p,
                        "end_ms": sql_end}],
        "catalyst": {"ok": error is None, "analysis": [t1, t1 + a],
                     "optimization": [t1 + a, t1 + a + o],
                     "planning": [t1 + a + o, t1 + a + o + p]},
    }


def record(passes, checks):
    return {"cores": 4, "retained_heap_bytes": [90e6, 120e6, 100e6], "checks": checks,
            "setup": {"jvm_s": 0.4, "session_s": 3.0, "warm_s": 4.0, "layout_s": 5.0},
            "passes": [{"traced": traced, "execs": ex} for traced, ex in passes]}


QUERIES = [f"q{i}" for i in range(25)]
EXPECTED = {q: f"d{q}" for q in QUERIES}
CHECKS = {q: {"digest": f"d{q}", "rows": 10} for q in QUERIES}


class PercentileTest(unittest.TestCase):
    def test_harrell_davis(self):
        # n = 3: the median's rank weights are 7/27, 13/27, 7/27
        self.assertAlmostEqual(stats.percentile([0, 0, 27], 50), 7, places=6)
        self.assertAlmostEqual(stats.percentile(list(range(1, 11)), 50), 5.5, places=6)
        self.assertAlmostEqual(stats.percentile([7.0], 50), 7.0)
        # two clusters: one sample crossing the gap moves the nearest-rank
        # median from one cluster to the other, the estimate only a little
        self.assertAlmostEqual(stats.percentile([1] * 10 + [2] * 10, 50), 1.5, places=6)
        moved = stats.percentile([1] * 11 + [2] * 9, 50)
        self.assertTrue(1.3 < moved < 1.5, moved)

    def test_percentile_needs_ten_samples_beyond_it(self):
        self.assertEqual(stats.samples_beyond(20, 50), 10)
        self.assertEqual(stats.samples_beyond(40, 75), 10)
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertTrue(29 < stats.supported_percentile(list(range(40)), 75) < 30)
        with self.assertRaisesRegex(ValueError, "9 beyond"):
            stats.supported_percentile(list(range(39)), 75)
        with self.assertRaisesRegex(ValueError, "beyond"):
            stats.supported_percentile(list(range(99)), 90)

    def test_end_to_end_refuses_an_unsupported_median(self):
        short = record([(False, [execution(q) for q in QUERIES[:19]])], CHECKS)
        with self.assertRaises(ValueError):
            stats.end_to_end(short)
        full = record([(False, [execution(q) for q in QUERIES]),
                       (False, [execution(q, latency=0.4) for q in QUERIES])], CHECKS)
        m = stats.end_to_end(full)
        self.assertAlmostEqual(m["wall_s"][0], (25 * 0.2 + 25 * 0.4) / 2)
        self.assertAlmostEqual(m["setup_s"][0], 12.4)
        self.assertAlmostEqual(m["query_p50_s"][0], 0.3)
        self.assertAlmostEqual(m["retained_heap_mb"][0], 100.0)


class AccountingTest(unittest.TestCase):
    def test_clean_run(self):
        r = record([(False, [execution(q) for q in QUERIES]) for _ in range(2)], CHECKS)
        self.assertEqual(stats.accounting(r, EXPECTED), (75, 0, {}))

    def test_injected_throw_counts_as_failed(self):
        execs = [execution(q) for q in QUERIES]
        execs[3] = execution("q3", error="IllegalStateException: boom", failed_in="construct")
        execs[4] = execution("q4", error="SparkException: task failed", failed_in="exec")
        execs[5] = execution("q5", error="table q5 not saved", failed_in="sink")
        r = record([(True, execs), (False, [execution(q) for q in QUERIES])], CHECKS)
        attempted, failed, wrong = stats.accounting(r, EXPECTED)
        self.assertEqual((attempted, failed, wrong), (75, 3, {}))
        m = stats.per_layer(r, EXPECTED)
        self.assertEqual(m["construct.failed"][0], 1)
        self.assertEqual(m["exec.failed"][0], 1)
        self.assertEqual(m["sink.failed_tables"][0], 1)

    def test_injected_digest_mismatch_counts_as_failed(self):
        checks = dict(CHECKS)
        checks["q7"] = {"digest": "not-the-committed-one", "rows": 10}
        checks["q8"] = {"error": "AnalysisException: no such column"}
        expected = dict(EXPECTED)
        del expected["q9"]
        r = record([(True, [execution(q) for q in QUERIES]),
                    (False, [execution(q) for q in QUERIES])], checks)
        attempted, failed, wrong = stats.accounting(r, expected)
        self.assertEqual((attempted, failed), (75, 3))
        self.assertEqual(sorted(wrong), ["q7", "q8", "q9"])
        self.assertIn("committed", wrong["q7"])
        self.assertEqual(stats.per_layer(r, expected)["check.wrong"][0], 3)


class LayerTest(unittest.TestCase):
    def test_layers_reconcile_with_wall_time(self):
        e = execution("q0", latency=0.5, construct=0.1, catalyst=(0.01, 0.02, 0.03))
        lay = stats.layers(e)
        self.assertAlmostEqual(lay["catalyst.planning_s"], 0.03)
        self.assertAlmostEqual(lay["exec_s"], 0.5 - 0.1 - 0.06)
        self.assertAlmostEqual(lay["residual_s"], 0.0)
        self.assertTrue(stats.reconciles(e))

    def test_time_outside_spark_is_reported_as_residual(self):
        # The last 50 ms of the sink call lie in no Catalyst phase and
        # no SQL execution: exec does not absorb them.
        e = execution("q0", latency=0.5, construct=0.1, catalyst=(0.01, 0.02, 0.03),
                      outside=0.05)
        lay = stats.layers(e)
        self.assertAlmostEqual(lay["exec_s"], 0.5 - 0.1 - 0.06 - 0.05)
        self.assertAlmostEqual(lay["residual_s"], 0.05)
        self.assertFalse(stats.reconciles(e))
        self.assertTrue(stats.reconciles(execution("q0", latency=0.5, outside=0.02)))
        r = record([(False, [e]), (True, [e]), (False, [e])], {"q0": CHECKS["q0"]})
        self.assertAlmostEqual(stats.per_layer(r, EXPECTED)["residual_s"][0], 0.05)
        self.assertEqual(stats.per_query(r)["q0"]["reconciles"], 0.0)

    def test_spark_time_outside_the_call_is_negative_residual(self):
        # A SQL execution attributed to the call but starting before it
        # (a wrong attribution) makes the layers add up to more than
        # the wall time.
        e = execution("q0", latency=0.5, construct=0.1)
        e["exec_spans"][0]["start_ms"] = e["start_ms"] - 100
        lay = stats.layers(e)
        self.assertAlmostEqual(lay["residual_s"], -0.1 - 0.1)
        self.assertFalse(stats.reconciles(e))

    def test_overhead_compares_with_the_untraced_pass_after(self):
        def run(*latencies):
            return record([(i % 2 == 1, [execution(q, latency=lat) for q in QUERIES])
                           for i, lat in enumerate(latencies)], CHECKS)
        self.assertAlmostEqual(stats.trace_overhead(run(0.1, 0.2, 0.1)), 1.0)
        # a slower (still warming) first pass does not enter it
        self.assertAlmostEqual(stats.trace_overhead(run(0.4, 0.2, 0.1)), 1.0)
        self.assertAlmostEqual(stats.trace_overhead(run(0.4, 0.2, 0.1, 0.3, 0.2)), 0.75)
        with self.assertRaises(ValueError):
            stats.trace_overhead(run(0.1, 0.2))

    def test_per_layer_sums_one_traced_pass(self):
        traced = [execution(q) for q in QUERIES]
        r = record([(False, [execution(q, latency=0.1) for q in QUERIES]), (True, traced),
                    (False, [execution(q, latency=0.1) for q in QUERIES])], CHECKS)
        m = stats.per_layer(r, EXPECTED)
        self.assertAlmostEqual(m["construct.s"][0], 25 * 0.05)
        self.assertAlmostEqual(m["catalyst.planning_s"][0], 25 * 0.002)
        self.assertAlmostEqual(m["exec.s"][0], 25 * (0.2 - 0.05 - 0.009))
        self.assertEqual(m["exec.tasks"][0], 100)
        self.assertAlmostEqual(m["exec.empty_task_frac"][0], 0.25)
        self.assertAlmostEqual(m["exec.core_busy_frac"][0], 25 * 0.3 / (m["exec.s"][0] * 4))
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 1.0)
        self.assertEqual(m["sink.rows"][0], 250)

    def test_spans_nest_query_sink_sql_job_stage(self):
        r = record([(False, []), (True, [execution("q0")])], CHECKS)
        by_id = {s["id"]: s for s in stats.spans(r)}
        stage = next(s for s in by_id.values() if s["name"] == "stage 3")
        chain = []
        while stage:
            chain.append(stage["name"])
            stage = by_id.get(stage["parent"])
        self.assertEqual(chain, ["stage 3", "job 1", "sql 7", "sink", "query"])
        self.assertIn("catalyst.planning", {s["name"] for s in by_id.values()})


class BenchmarkSpecTest(unittest.TestCase):
    def test_reported_metrics_match_benchmark_json(self):
        import json
        from pathlib import Path
        spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        r = record([(i == 1, [execution(q) for q in QUERIES]) for i in range(3)], CHECKS)
        for kind, got in (("end_to_end", stats.end_to_end(r)),
                          ("per_layer", stats.per_layer(r, EXPECTED))):
            self.assertEqual({m["name"]: m["unit"] for m in spec[kind]},
                             {k: unit for k, (_, unit) in got.items()}, kind)


if __name__ == "__main__":
    unittest.main()
