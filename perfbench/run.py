#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

  python3 perfbench/run.py --workload mart_queries --seed 1 --seconds 16 --trace 0

Run from the repo root. The first run builds the engine plus the
benchmark's JVM code with sbt into perfbench/target (about a minute) and
records the runtime classpath in .bench_build/; later runs start the JVM
directly. Each run then

  1. generates the workload's inputs from --seed three times over and
     checks that the copies are byte-identical (set-up, timed);
  2. starts one JVM that builds the session, runs the workload's untimed
     set-up, then runs ops in a closed loop with one client in whole
     rounds for at least --seconds;
  3. checks the first execution's outputs against the repo's DuckDB oracle
     SQL; every later op must have returned the same result;
  4. prints a report line, then the result as one JSON line.

--trace 0 reports the end-to-end metrics (see BENCHMARK.json). --trace 1
alternates untraced and traced rounds, attributes each traced op's jobs,
stages, tasks and SQL executions to the repo's layers, writes the spans to
.bench_build/traces/, and reports the per-layer metrics plus the tracing
overhead. The exit code is 1 when any correctness check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("mart_queries", "ida_etl_load")
GENERATIONS = 3
RUN_BUDGET_S = 175

# end-to-end metrics (tracing off), with units
END_TO_END = {"setup_s": "s", "op_p50_s": "s",
              "ops_per_s": "1/s", "rows_per_s": "1/s", "retained_heap_mb": "MB"}
# per-layer metrics (traced run): mean per traced op unless noted
PER_LAYER = {
    "session.build_s": "s", "plans.construct_s": "s", "plans.eager_jobs": "count",
    "plans.sql_execs": "count", "spark.plan.analysis_s": "s",
    "spark.plan.optimization_s": "s", "spark.plan.planning_s": "s",
    "spark.scheduler.jobs": "count", "spark.scheduler.stages": "count",
    "spark.scheduler.tasks": "count", "spark.scheduler.delay_s": "s",
    "spark.scheduler.no_job_s": "s", "spark.scheduler.empty_task_ratio": "ratio",
    "sources.jobs": "count", "sources.job_s": "s", "sources.input_mb": "MB",
    "sources.input_records": "count", "sinks.written_mb": "MB",
    "sinks.records_written": "count", "sinks.files_written": "count",
    "spark.executor.task_run_s": "s", "spark.executor.task_cpu_s": "s",
    "spark.executor.gc_s": "s", "spark.executor.deser_s": "s",
    "operators.jobs": "count", "spark.shuffle.write_mb": "MB",
    "spark.shuffle.read_mb": "MB", "spark.shuffle.spill_mb": "MB",
    "trace.overhead_pct": "%"}
# layer times that are zero by construction on a workload (no writes in
# mart_queries, no operator jobs in ida_etl_load, local shuffle fetches
# never wait): reported on the report line and in the trace file only
LAYER_REPORT_ONLY = ("sinks.write_s", "operators.task_s", "spark.shuffle.fetch_wait_s")

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build -------------------------------------------------------------------

def source_stamp(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, cache):
    stamp = source_stamp(root)
    cp_file = os.path.join(cache, "classpath.txt")
    stamp_file = os.path.join(cache, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building the engine and the benchmark's JVM code with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    with open(os.path.join(cache, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile", "printClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=840)
    cp = [l[len("CLASSPATH="):] for l in r.stdout.splitlines()
          if l.startswith("CLASSPATH=")]
    if r.returncode != 0 or not cp:
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt build failed (see .bench_build/build.log)", 1)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


# ---- inputs ------------------------------------------------------------------

def generate(workload, out, seed):
    if workload == "mart_queries":
        return gen.star_schema(out, seed)
    return gen.ida_exports(out, seed)


def identical_inputs(a, b):
    """Byte equality of two generated input trees. The ida resource list
    names its own directory, so that prefix is dropped before comparing."""
    def files(root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, names in os.walk(root) for f in names)
    if files(a) != files(b):
        return False
    for rel in files(a):
        with open(os.path.join(a, rel), "rb") as fa, open(os.path.join(b, rel), "rb") as fb:
            if fa.read().replace(a.encode(), b"") != fb.read().replace(b.encode(), b""):
                return False
    return True


# ---- metrics -----------------------------------------------------------------

def judge(workload, ops, check):
    """(failed check names, op names they make wrong, failed op count).
    A failed check makes every op of that name wrong: each op's result
    equals the checked one. The ida store is checked once for the load and
    its replay."""
    failed_checks = {k for k, v in check.items() if v}
    names = failed_checks
    if workload == "ida_etl_load" and failed_checks:
        names = {"lifecycle", "replay"}
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in names)
    return failed_checks, names, failed


def end_to_end(result, gen_s, launch_ms, failed_names):
    ops = [o for o in result["ops"] if not o["traced"]]
    good = [o for o in ops if o["ok"] and o["name"] not in failed_names]
    main = [o for o in good if o["kind"] == "op"]
    lat = [o["latency_s"] for o in main]
    t = stats.tail(lat)
    op_time = sum(o["latency_s"] for o in good)

    report = {
        "op_samples": len(lat),
        # the tail needs more than ten samples; reported here, where a run
        # has them, not as a gated metric
        "op_tail_s": t[0] if t else None,
        "op_tail_percentile": round(t[1], 1) if t else None,
        "error_rate": 1 - len(good) / len(ops) if ops else 1.0,
    }
    names = sorted({o["name"] for o in good})
    report["p50_by_name"] = {n: round(statistics.median(
        [o["latency_s"] for o in good if o["name"] == n]), 4) for n in names}
    replays = [o["latency_s"] for o in good if o["kind"] == "replay"]
    if replays:
        report["replay_p50_s"] = statistics.median(replays)
        report["replay_samples"] = len(replays)
    metrics = {
        "setup_s": gen_s + (result["first_op_ms"] - launch_ms) / 1000.0,
        "op_p50_s": statistics.median(lat) if lat else None,
        # every completed op, the replay too, over the timed loop's wall
        # time, which holds the per-op result checks as well
        "ops_per_s": len(good) / result["loop_s"] if lat else None,
        "rows_per_s": (sum(o["input_rows"] for o in good) /
                       op_time) if lat else None,
        "retained_heap_mb": result["retained_heap_mb"],
    }
    return metrics, report


def per_layer(result):
    """Per-layer means over the first traced round, which is the population
    the untraced run reports. The overhead compares traced and untraced
    rounds of the same op names, leaving out a cold first round."""
    ops = result["ops"]
    traced = [o for o in ops if o["traced"] and o["ok"]]
    first = min((o["round"] for o in traced), default=0)
    main = [o for o in traced if o["round"] == first and o["kind"] == "op"]
    metrics = {"session.build_s": result["session_build_s"]}
    if main:
        for name in list(PER_LAYER) + list(LAYER_REPORT_ONLY):
            if name in metrics or name in ("spark.scheduler.empty_task_ratio",
                                           "trace.overhead_pct"):
                continue
            metrics[name] = sum(o["layers"].get(name, 0.0) for o in main) / len(main)
        tasks = sum(o["layers"].get("spark.scheduler.tasks", 0) for o in main)
        empty = sum(o["layers"].get("spark.scheduler.empty_tasks", 0) for o in main)
        metrics["spark.scheduler.empty_task_ratio"] = empty / tasks if tasks else 0.0
    cold = 0 if result["cold_start"] else -1
    warm_t = [o for o in traced if o["round"] != cold]
    warm_u = [o for o in ops if not o["traced"] and o["ok"] and o["round"] != cold]
    ratios = []
    for name in sorted({o["name"] for o in warm_t}):
        a = [o["latency_s"] for o in warm_t if o["name"] == name]
        b = [o["latency_s"] for o in warm_u if o["name"] == name]
        if a and b:
            ratios.append(statistics.median(a) / statistics.median(b))
    if ratios:
        metrics["trace.overhead_pct"] = 100.0 * (statistics.geometric_mean(ratios) - 1)
    return metrics


# ---- main --------------------------------------------------------------------

def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    t_start = time.time()
    # a terminated run still stops its JVM (the finally block below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repo root: src/main/scala/graft not found")
    import oracle  # needs the repo's tools/check.py
    cache = os.path.join(root, ".bench_build")
    os.makedirs(cache, exist_ok=True)
    classpath = build(root, cache)
    t_built = time.time()

    work = os.path.join(cache, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        # set-up 1: generate the inputs three times; median time, and the
        # copies must be byte-identical
        gen_times, props = [], None
        for k in range(GENERATIONS):
            g0 = time.time()
            props = generate(args.workload, os.path.join(work, f"inputs-{k}"), args.seed)
            gen_times.append(time.time() - g0)
        inputs = os.path.join(work, "inputs-0")
        deterministic = all(identical_inputs(inputs, os.path.join(work, f"inputs-{k}"))
                            for k in range(1, GENERATIONS))
        for k in range(1, GENERATIONS):
            shutil.rmtree(os.path.join(work, f"inputs-{k}"))
        gen_s = statistics.median(gen_times)

        # set-up 2 and the timed loop: one JVM
        rows = props.get("rows", {})
        cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
                f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
               + [x for o in JDK_OPENS for x in ("--add-opens", f"java.base/{o}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.BenchMain",
                  "--workload", args.workload, "--inputs", inputs, "--work", work,
                  "--seconds", str(args.seconds), "--seed", str(args.seed),
                  "--trace", str(args.trace),
                  "--rows", ",".join(f"{k}={v}" for k, v in rows.items()),
                  "--raw-rows", str(props.get("raw_rows", 0))])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        launch_ms = time.time() * 1000.0
        budget = RUN_BUDGET_S - (time.time() - t_built) - 20
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=jlog,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                code = proc.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                fail(f"JVM did not finish within {budget:.0f} s", 1)
            proc = None
        if code != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"JVM exited with {code}", 1)
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)

        # correctness: oracle checks on the staged outputs
        check = oracle.run_checks(inputs, result["checks"])
        ops = result["ops"]
        failed_checks, failed_names, failed = judge(args.workload, ops, check)
        op_errors = sorted({o["error"] for o in ops if not o["ok"]})

        if args.trace:
            metrics = per_layer(result)
            units = PER_LAYER
            trace_dir = os.path.join(cache, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_out = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
            shutil.copy(os.path.join(work, "trace.json"), trace_out)
            report = {"trace_file": os.path.relpath(trace_out, root),
                      "traced_ops": sum(1 for o in ops if o["traced"]),
                      "layers_report_only": {k: metrics.pop(k, None)
                                             for k in LAYER_REPORT_ONLY}}
        else:
            metrics, report = end_to_end(result, gen_s, launch_ms, failed_names)
            units = END_TO_END
        missing = [k for k in units if metrics.get(k) is None]
        correct = (not failed and not failed_checks and deterministic and not missing)
        report.update({
            "workload": args.workload, "seed": args.seed, "cpus": result["cpus"],
            "inputs": props, "inputs_deterministic": deterministic,
            "generate_s": gen_times, "session_build_s": result["session_build_s"],
            "stage_s": result["stage_s"], "stage_by_name": result["stage_by_name"],
            "loop_s": result["loop_s"],
            "ops": len(ops), "failed_ops": failed,
            "checks": {k: v or "ok" for k, v in check.items()},
            "op_errors": op_errors, "missing_metrics": missing,
            "wall_s": time.time() - t_start})
        print("report " + json.dumps(report, sort_keys=True))
        for k in units:
            if metrics.get(k) is not None:
                print(f"  {k:36s} {metrics[k]:14.6f} {units[k]}")
        print(json.dumps({
            "correct": correct, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units if metrics.get(k) is not None}}))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
