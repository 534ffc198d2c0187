"""Reduce a traced pass's spans to the per-layer metrics.

Span kinds (each span names its parent; all spans of one query share its
`query` index):

    query -> build       the SparkEntry.queries(name)(spark, dir) call
          -> action      the full-result sink write
             build|action -> phase   Catalyst analysis/optimization/planning
             build|action -> job -> stage   (stage attrs: task metrics)
          -> micro-batch (attrs: StreamingQueryProgress.durationMs, state)
"""
import statistics

MB = 1048576.0


def tail(values):
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. With fewer than 11 samples there is none; the
    maximum is returned, labelled p100 (0 for no samples)."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return (xs[-1] if xs else 0.0), 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def _covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def layer_metrics(traced, result):
    spans = traced["spans"]
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)
    queries = by_kind.get("query", [])
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["end_ms"] - s["start_ms"]

    stage_sum = {}
    for st in by_kind.get("stage", []):
        for k, v in st["attrs"].items():
            stage_sum[k] = stage_sum.get(k, 0.0) + v
    phases = {}
    for ph in by_kind.get("phase", []):
        phases[ph["name"]] = phases.get(ph["name"], 0.0) + dur(ph)

    wall_ms = sum(dur(q) for q in queries)
    cover_ms = 0.0
    startstop_ms = 0.0
    state_rows = state_bytes = 0.0
    for q in queries:
        jobs = [s for s in by_kind.get("job", []) if s["query"] == q["query"]]
        cover_ms += _covered([(j["start_ms"], j["end_ms"]) for j in jobs],
                             q["start_ms"], q["end_ms"])
        batches = [b for b in children.get(q["id"], [])
                   if b["kind"] == "micro-batch"]
        if batches:
            build = next(c for c in children[q["id"]] if c["kind"] == "build")
            startstop_ms += dur(build) - sum(dur(b) for b in batches)
            state_rows += max(b["attrs"]["state_rows"] for b in batches)
            state_bytes += max(b["attrs"]["state_bytes"] for b in batches)

    batches = by_kind.get("micro-batch", [])
    triggers = [dur(b) for b in batches]

    def batch_sum(key):
        return sum(b["attrs"].get(key, 0.0) for b in batches)

    cores = result["env"]["cores"]
    pass_ms = result["wall_s"] * 1000.0
    m = {
        "SparkEntry.build_ms": (sum(dur(s) for s in by_kind.get("build", [])), "ms"),
        "operators.analysis_ms": (phases.get("analysis", 0.0), "ms"),
        "operators.optimization_ms": (phases.get("optimization", 0.0), "ms"),
        "operators.planning_ms": (phases.get("planning", 0.0), "ms"),
        "operators.codegen_compiles": (
            sum(q["attrs"]["codegen_compiles"] for q in queries), "count"),
        "exec.jobs": (float(len(by_kind.get("job", []))), "count"),
        "exec.stages": (float(len(by_kind.get("stage", []))), "count"),
        "exec.tasks": (stage_sum.get("tasks", 0.0), "count"),
        "exec.job_cover_frac": (cover_ms / wall_ms if wall_ms else 0.0, "frac"),
        "exec.task_ms": (stage_sum.get("task_ms", 0.0), "ms"),
        "exec.cpu_ms": (stage_sum.get("cpu_ms", 0.0), "ms"),
        "exec.gc_ms": (stage_sum.get("gc_ms", 0.0), "ms"),
        "exec.busy_frac": (stage_sum.get("task_ms", 0.0) / (pass_ms * cores), "frac"),
        "exec.shuffle_write_mb": (stage_sum.get("shuffle_write_bytes", 0.0) / MB, "MB"),
        "exec.shuffle_read_mb": (stage_sum.get("shuffle_read_bytes", 0.0) / MB, "MB"),
        "exec.spill_mb": (stage_sum.get("spill_bytes", 0.0) / MB, "MB"),
        "Tables.input_mb": (stage_sum.get("input_bytes", 0.0) / MB, "MB"),
        "Tables.input_rows": (stage_sum.get("input_rows", 0.0), "count"),
        "streaming.batches": (float(len(batches)), "count"),
        "streaming.data_batch_frac": (
            sum(1 for b in batches if b["attrs"]["input_rows"] > 0) / len(batches)
            if batches else 0.0, "frac"),
        "streaming.batch_p50_ms": (statistics.median(triggers) if triggers else 0.0, "ms"),
        "streaming.batch_tail_ms": (tail(triggers)[0], "ms"),
        "streaming.latestOffset_ms": (batch_sum("latestOffset.ms"), "ms"),
        "streaming.queryPlanning_ms": (batch_sum("queryPlanning.ms"), "ms"),
        "streaming.addBatch_ms": (batch_sum("addBatch.ms"), "ms"),
        "streaming.walCommit_ms": (batch_sum("walCommit.ms"), "ms"),
        "streaming.commitOffsets_ms": (batch_sum("commitOffsets.ms"), "ms"),
        "streaming.startstop_ms": (startstop_ms, "ms"),
        "streaming.state_commit_ms": (batch_sum("state_commit_ms"), "ms"),
        "streaming.state_rows": (state_rows, "count"),
        "streaming.state_mb": (state_bytes / MB, "MB"),
        "streaming.late_rows_dropped": (batch_sum("late_rows_dropped"), "count"),
        "Materialized.setup_cached_mb": (result["setup_cached_mb"], "MB"),
        "Materialized.cached_mb": (result["end_cached_mb"], "MB"),
    }
    return m
