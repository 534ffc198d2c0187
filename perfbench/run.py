#!/usr/bin/env python3
"""The repo benchmark: time graft queries to their full result, check every
result against its DuckDB oracle, and print the metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload sql_cold --seed 1 --seconds 22 --trace 0

One run builds the engine from source if needed (sbt, once per checkout),
draws the workload's queries from the seed, runs them in one JVM with
`local[nproc]`, one query at a time, and checks every output. With
`--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` it carries the per-layer metrics of a traced pass and the
tracing overhead. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

import oracle
import spans
import workloads

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.environ.get("PERFBENCH_WORK", os.path.join(ROOT, ".perfbench"))
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
JAR = os.path.join(WORK, "engine.jar")
# The installed Spark: SPARK_HOME, else the home of the spark-submit on PATH.
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(
    os.path.dirname(shutil.which("spark-submit") or "."))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
HEAP = "4g"

# The JVM posture build.sbt forks with (Spark 4 on JDK 17 outside
# spark-submit needs these opens).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

BUILD_LIMIT_S = 800


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """A hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(root):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the runner with sbt, once per source state, and
    jar the classes."""
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    if not os.path.isdir(SPARK_JARS):
        sys.exit(f"perfbench: no Spark jars at {SPARK_JARS}; set SPARK_HOME")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(JAR):
        return
    log("building the engine and runner with sbt")
    env = dict(os.environ, SPARK_HOME=SPARK_HOME)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_LIMIT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"perfbench: build failed (exit {p.returncode})")
    os.makedirs(WORK, exist_ok=True)
    with zipfile.ZipFile(JAR + ".tmp", "w") as jar:
        for d, _, fs in os.walk(CLASSES):
            for f in sorted(fs):
                path = os.path.join(d, f)
                jar.write(path, os.path.relpath(path, CLASSES))
    os.replace(JAR + ".tmp", JAR)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def run_jvm(run_dir, tree, queries, trace, setups, warm, scale_from, plans,
            deadline):
    """One pass in a fresh JVM; returns the runner's result document and,
    when traced, its spans document."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "scratch"):
        os.makedirs(os.path.join(run_dir, sub))
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed-size, pre-touched heap: no resizing, so GC work depends on the
    # queries, and the resident set is the whole heap plus native memory,
    # not how far the collector's adaptive sizing reached into the heap
    # (which varies with host speed)
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
            "-cp", f"{JAR}:{SPARK_JARS}/*", "perfbench.Runner",
            "--data", tree, "--tiny", workloads.TINY,
            "--out", f"{run_dir}/out", "--result", f"{run_dir}/result.json",
            "--queries", ",".join(queries), "--setups", str(setups),
            "--warm", ",".join(warm),
            "--cores", str(cores), "--trace", "1" if trace else "0",
            "--spans", f"{run_dir}/spans.json"]
    if plans:
        cmd += ["--plans", ",".join(plans)]
    if scale_from:
        cmd += ["--scale-from", scale_from]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=f"{run_dir}/scratch")
    with open(f"{run_dir}/jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("perfbench: the pass overran the run limit")
    if rc != 0:
        sys.stderr.write(open(f"{run_dir}/jvm.log").read()[-4000:])
        sys.exit(f"perfbench: runner failed (exit {rc})")
    result = json.load(open(f"{run_dir}/result.json"))
    traced = json.load(open(f"{run_dir}/spans.json")) if trace else None
    return result, traced


def check(result, run_dir, tree):
    """Compare every query's output with its oracle; returns {name: reason}
    for each failure."""
    failures = {}
    for q in result["queries"]:
        name = q["name"]
        if not q["ok"]:
            failures[name] = "threw " + q["error"][:300]
            continue
        sql = result["oracle"].get(name)
        if sql is None:
            failures[name] = "no oracle"
            continue
        why = oracle.compare(f"{run_dir}/out/{name}", tree, sql,
                             os.path.join(WORK, "oracle", os.path.basename(tree)),
                             name)
        if why:
            failures[name] = why
    return failures


def one_pass(wl, queries, trace, setups, tag, deadline):
    tree, scale_from = workloads.tree(wl, WORK)
    run_dir = os.path.join(WORK, "runs", f"{wl.name}-{tag}")
    result, traced = run_jvm(run_dir, tree, queries, trace, setups, wl.warm,
                             scale_from, wl.plans, deadline)
    return run_dir, result, traced, check(result, run_dir, tree)


def stamp_line(result):
    e = result["env"]
    return (f"host: nproc={e['nproc']} local[{int(e['cores'])}] "
            f"heap={e['heap_mb']:.0f}MB java={e['java']} spark={e['spark']} "
            f"scala={e['scala']}")


def end_to_end(wl, args, result, failures):
    times = [(q["end_ms"] - q["start_ms"]) / 1000.0 for q in result["queries"]]
    n = len(times)
    tail_s, tail_pct = spans.tail(times)
    metrics = {
        "setup_s": (statistics.median(result["setup_s"]), "s"),
        "wall_s": (result["wall_s"], "s"),
        "query_p50_s": (statistics.median(times), "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    print(stamp_line(result))
    print(f"workload: {wl.name} seed={args.seed} queries={n} "
          f"set-ups={[round(x, 3) for x in result['setup_s']]}")
    for q, t in zip(result["queries"], times):
        print(f"query {q['name']} {t:.3f} s")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    # Printed, not in the result line: at the ~12 queries a run holds, the
    # tail percentile is the fastest or second-fastest query, so it neither
    # tracks tail latency nor holds steady across seeds (perfbench/README.md).
    print(f"query_tail_s {tail_s:.6g} s (p{tail_pct:.1f} of n={n} queries)")
    print(f"fail_frac {len(failures) / n:.6g} frac ({len(failures)} of {n})")
    return metrics


def untraced_wall(wl, seed, queries, setups):
    """(wall_s, description) of this checkout's untraced passes with the same
    build and set-ups: the pass of the same seed if there is one, else the
    median over the other seeds (whose samples cost about the same)."""
    stamp = source_stamp()
    runs = []
    for path in glob.glob(os.path.join(WORK, "untraced", f"{wl.name}-s*.json")):
        with open(path) as f:
            r = json.load(f)
        if (r["build"], r["setups"], len(r["queries"])) == \
                (stamp, setups, len(queries)):
            runs.append(r)
    same = [r["wall_s"] for r in runs if r["queries"] == queries]
    if same:
        return same[0], f"the untraced pass of seed {seed}"
    if runs:
        return (statistics.median(r["wall_s"] for r in runs),
                f"the median of {len(runs)} untraced passes of other seeds")
    return None, None


def per_layer(wl, args, queries, setups, deadline):
    """Traced pass, plus an untraced pass for the overhead when this checkout
    has none to compare with."""
    base_wall, base_from = untraced_wall(wl, args.seed, queries, setups)
    failures, passes = {}, 1
    if base_wall is None:
        _, base, _, f0 = one_pass(wl, queries, False, setups, "base", deadline)
        failures.update({f"{k} (untraced pass)": v for k, v in f0.items()})
        base_wall, base_from, passes = base["wall_s"], "a fresh untraced pass", 2
    run_dir, result, traced, f1 = one_pass(wl, queries, True, setups, "trace", deadline)
    failures.update({f"{k} (traced pass)": v for k, v in f1.items()})
    trace_file = os.path.join(WORK, "traces", f"{wl.name}-s{args.seed}.json")
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    shutil.copyfile(f"{run_dir}/spans.json", trace_file)
    metrics = spans.layer_metrics(traced, result)
    metrics["trace.overhead_frac"] = (result["wall_s"] / base_wall - 1.0, "frac")
    print(stamp_line(result))
    print(f"workload: {wl.name} seed={args.seed} queries={len(queries)} "
          f"spans={len(traced['spans'])} file={trace_file}")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    print(f"trace.overhead_frac is against {base_from}")
    return metrics, failures, passes


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="run these queries instead of a sample "
                    "(comma-separated; for the self-test and for debugging)")
    ap.add_argument("--setups", type=int, help="set-ups per pass "
                    "(default: the workload's)")
    args = ap.parse_args(argv)
    start = time.time()
    build()
    wl = workloads.ALL[args.workload]
    deadline = time.time() + wl.limit_s
    queries = (args.queries.split(",") if args.queries
               else wl.sample(args.seed, args.seconds))
    setups = args.setups or wl.setups
    log(f"{wl.name} seed={args.seed}: {len(queries)} queries")

    if not args.trace:
        _, result, _, failures = one_pass(wl, queries, False, setups, "run", deadline)
        metrics = end_to_end(wl, args, result, failures)
        base_file = os.path.join(WORK, "untraced", f"{wl.name}-s{args.seed}.json")
        os.makedirs(os.path.dirname(base_file), exist_ok=True)
        with open(base_file, "w") as f:
            json.dump({"build": source_stamp(), "queries": queries,
                       "setups": setups, "wall_s": result["wall_s"]}, f)
        attempted = len(queries)
    else:
        metrics, failures, passes = per_layer(wl, args, queries, setups, deadline)
        attempted = len(queries) * passes
    for name in sorted(failures):
        print(f"FAIL {name}: {failures[name]}")

    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    log(f"run took {time.time() - start:.1f} s")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
