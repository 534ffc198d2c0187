"""Self-test of the benchmark on the tiny tree (sf0.001), a few queries per
workload. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

It builds the engine if needed (as a benchmark run does), then asserts that
every metric is printed with its unit, that a corrupted expected answer is
counted as a failure, and that the timed plan of q_agg_q1 still computes its
sum and avg aggregates (a count() in place of the sink write would prune
them).
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench", "selftest")
TINY = os.path.join(BENCH, "data", "sf0.001")

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
              "query_tail_s": "s", "fail_frac": "frac", "peak_rss_mb": "MB"}
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    GATED = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
PER_LAYER = {
    "SparkEntry.build_ms": "ms",
    "operators.analysis_ms": "ms", "operators.optimization_ms": "ms",
    "operators.planning_ms": "ms", "operators.codegen_compiles": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_cover_frac": "frac", "exec.task_ms": "ms", "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.busy_frac": "frac",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "Tables.input_mb": "MB", "Tables.input_rows": "count",
    "streaming.batches": "count", "streaming.data_batch_frac": "frac",
    "streaming.batch_p50_ms": "ms", "streaming.batch_tail_ms": "ms",
    "streaming.latestOffset_ms": "ms", "streaming.queryPlanning_ms": "ms",
    "streaming.addBatch_ms": "ms", "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms", "streaming.startstop_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.late_rows_dropped": "count",
    "Materialized.setup_cached_mb": "MB", "Materialized.cached_mb": "MB",
    "trace.overhead_frac": "frac",
}
QUERIES = {
    "sql_cold": ["q_agg_q1", "q_tpch_q6", "q_tpcds_q3_shape"],
    "stream_replay": ["q_stream_tumble", "q_tws_dedup"],
    "scale_x10": ["q_dedup_exact", "q_stream_over"],
}


def bench(workload, trace, queries, extra=()):
    """One benchmark run on the tiny tree; returns (stdout lines, result)."""
    env = dict(os.environ, PERFBENCH_TREE=TINY, PERFBENCH_WORK=WORK)
    cmd = [sys.executable, os.path.join(BENCH, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "5",
           "--trace", str(trace), "--queries", ",".join(queries), "--setups", "1",
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                       text=True, timeout=900)
    assert p.returncode == 0, f"run failed ({p.returncode}):\n{p.stdout[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def printed(lines, name, unit):
    return any(line.split()[:1] == [name] and len(line.split()) >= 3
               and line.split()[2] == unit for line in lines)


class PerfbenchSelfTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)

    def test_every_metric_is_printed_with_its_unit(self):
        for wl, queries in QUERIES.items():
            lines, result = bench(wl, 0, queries)
            self.assertTrue(result["correct"], lines)
            self.assertEqual(result["attempted"], len(queries))
            for name, unit in END_TO_END.items():
                self.assertTrue(printed(lines, name, unit), f"{wl}: {name} [{unit}]")
            self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()},
                             GATED)
            lines, result = bench(wl, 1, queries)
            for name, unit in PER_LAYER.items():
                self.assertTrue(printed(lines, name, unit), f"{wl}: {name} [{unit}]")
                self.assertEqual(result["metrics"][name]["unit"], unit)
            self.assertEqual(set(result["metrics"]), set(PER_LAYER))

    def test_corrupted_expected_answer_counts_as_failure(self):
        queries = ["q_tpch_q6", "q_agg_q1"]
        _, result = bench("sql_cold", 0, queries)
        self.assertEqual(result["failed"], 0)
        digests = glob.glob(os.path.join(WORK, "oracle", "sf0.001", "q_tpch_q6-*.json"))
        self.assertEqual(len(digests), 1)
        with open(digests[0]) as f:
            d = json.load(f)
        d["hash"] = "0" * len(d["hash"])
        with open(digests[0], "w") as f:
            json.dump(d, f)
        try:
            lines, result = bench("sql_cold", 0, queries)
        finally:
            os.remove(digests[0])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertTrue(any(line.startswith("FAIL q_tpch_q6:") for line in lines), lines)
        self.assertTrue(printed(lines, "fail_frac", "frac"))

    def test_timed_plan_keeps_the_q1_aggregates(self):
        bench("sql_cold", 1, ["q_agg_q1"])
        with open(os.path.join(WORK, "traces", "sql_cold-s7.json")) as f:
            spans = json.load(f)
        plans = [p["plan"] for p in spans["plans"]["q_agg_q1"]]
        self.assertTrue(plans, "no plan recorded for the timed sink write")
        timed = plans[-1]
        self.assertIn("sum(", timed)
        self.assertIn("avg(", timed)
        # every query span nests build and action, jobs under them
        kinds = {s["id"]: s["kind"] for s in spans["spans"]}
        for s in spans["spans"]:
            if s["kind"] in ("build", "action", "micro-batch"):
                self.assertEqual(kinds[s["parent"]], "query")
            if s["kind"] == "job":
                self.assertIn(kinds[s["parent"]], ("build", "action"))
            if s["kind"] == "stage":
                self.assertEqual(kinds[s["parent"]], "job")


if __name__ == "__main__":
    unittest.main()
