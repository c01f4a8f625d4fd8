"""Repository benchmark: one workload per call, end-to-end metrics with
tracing off, per-layer metrics with tracing on.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 16 --trace 0

Workloads, metrics and why each exists: perfbench/README.md. The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it name every metric of the
run (including the per-workload names in README.md) with its unit.
``--workload all`` runs every workload, each in a fresh process.

Everything the run writes stays under ``perfbench/.work/<pid>``, which is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nexmark_vanilla_flink_spark"
SETUPS = 3  # set-ups per run, each launching a JVM; setup_s is their median
WATCHDOG_S = 150.0

# the metrics BENCHMARK.json bounds; latency_p50_ms prints with the rest
# but is not bounded: its run-to-run spread on a shared 4-core VM came
# within reach of the largest bound allowed (see README.md)
END_TO_END = {
    "setup_s": "s",
    "engine_s": "s",
}


def log(msg: str) -> None:
    """Progress line on standard error, with seconds since start."""
    print(f"[perfbench {time.perf_counter() - START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and the program at
    ``work``, so that a run writes only inside its checkout. The program
    puts artifact, checkpoint and sink scratch on /dev/shm whenever that
    directory exists, and has no setting to move it; here /dev/shm is
    reported absent, so those roots fall back to the temp dir inside
    ``work``. Every such choice is made in the driver process, which is
    this one. This is a departure from how the program runs elsewhere:
    the scratch is on disk, not on tmpfs (README.md gives the difference)."""
    for sub in ("tmp", "spark-local", "layout"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM's temp dir, and no hsperfdata file, which HotSpot keeps in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}", "-XX:-UsePerfData")))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LAYOUT_ROOT"] = os.path.join(work, "layout")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    tempfile.tempdir = None
    real_isdir = os.path.isdir
    os.path.isdir = lambda p: False if p == "/dev/shm" else real_isdir(p)
    os.chdir(work)


def environment() -> dict:
    import duckdb
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS')}]"),
        "pyspark": pyspark.__version__,
        "java": next((line for line in java.splitlines() if " version " in line), ""),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def start_session(extra_confs: dict):
    from nexmark_vanilla_flink_spark.session import get_session

    return get_session(extra_confs=extra_confs)


def setup(extra_confs: dict, warm, times: int):
    """Session start plus warm-up, ``times`` times, each in a JVM of its
    own: every set-up launches the JVM, builds the session with
    ``get_session`` and runs the warm-up query, as a fresh process would.
    The last session is kept. Returns (spark, setup seconds, session-start
    seconds, retired sessions)."""
    totals, starts, retired = [], [], []
    spark = None
    for _ in range(times):
        if spark is not None:
            stop_session(spark)
            retired.append(spark)  # keeps id(session) unique for table caches
        t0 = time.perf_counter()
        spark = start_session(extra_confs)
        t1 = time.perf_counter()
        warm(spark)
        totals.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
    return spark, totals, starts, retired


def stop_session(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM. The
    next session then launches a JVM of its own."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def child_run(args, extra_env: dict | None = None) -> dict:
    """Run this workload untraced in a fresh process; return its result
    object (the last line it prints)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    env = dict(os.environ, **(extra_env or {}))
    budget = max(10.0, 175.0 - (time.perf_counter() - START))  # a run must end within 180 s
    out = subprocess.run(cmd, capture_output=True, text=True, env=env, cwd=ROOT, timeout=budget)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"child run failed ({out.returncode}): {out.stderr[-800:]}")
    return json.loads(lines[-1])


def run_workload(args, work: str) -> dict:
    """One run of one workload in this process: inputs, set-up, one
    measured window, the oracle checks. Traced runs turn the event log on
    from the first session and register the progress listener."""
    import threading

    import tracing as tr
    import workloads as wl
    from nexmark_vanilla_flink_spark.plans import REGISTRY

    w = wl.WORKLOADS[args.workload]
    traced = bool(args.trace)
    data_dir = os.path.join(work, "data")
    t_gen = time.perf_counter()
    digest = wl.make_inputs(w, data_dir, args.seed)
    if w.name == "open_loop":
        stage = os.path.join(work, "staging")
        schedule, files_digest = wl.make_open_loop_files(stage, args.seed, args.seconds)
        digest = f"{digest}+{files_digest}"
    report = {"workload": w.name, "seed": args.seed, "input_digest": digest,
              "gen_s": time.perf_counter() - t_gen, "traced": traced}
    log(f"inputs generated in {report['gen_s']:.2f} s, digest {digest}")

    extra, log_dir = {}, os.path.join(work, "eventlog")
    if traced:
        os.makedirs(log_dir)
        extra = dict(tr.EVENT_LOG_CONFS, **{"spark.eventLog.dir": log_dir})

    def warm(spark):
        REGISTRY[w.warmup].spark(spark, data_dir).write.format("noop").mode("overwrite").save()

    # a traced run reports no setup_s, and its untraced child run keeps it
    # within the time a run may take
    spark, setup_totals, session_starts, _retired = setup(extra, warm, 1 if traced else SETUPS)
    log(f"set-up done: {[round(t, 2) for t in setup_totals]}, session starts "
        f"{[round(t, 2) for t in session_starts]}")
    listener = None
    if traced:
        listener = tr.ProgressLog()
        spark.streams.addListener(listener)
    timed_out = []

    def _watchdog():
        timed_out.append(True)
        for q in spark.streams.active:
            q.stop()
        spark.sparkContext.cancelAllJobs()

    dog = threading.Timer(max(1.0, WATCHDOG_S - (time.perf_counter() - START)), _watchdog)
    dog.daemon = True
    dog.start()
    ol = None
    try:
        if w.name == "open_loop":
            st = wl.RunState(attempted=1)
            ol = wl.open_loop(spark, os.path.join(work, "window"), schedule, stage, args.seconds)
            st.spans.append(ol["span"])
            st.passes.append(statistics.median(
                (end - start) / 1000.0 for _b, start, end, _n in ol["measured"]))
            log(f"open-loop window done: {len(ol['batches'])} batches, measured (ms): "
                f"{[end - start for _b, start, end, _n in ol['measured']]}")
            wl.check_open_loop(ol, st)
        else:
            st, results = wl.closed_loop(spark, w, data_dir, args.seconds, traced)
            log(f"window done: passes {[round(p, 2) for p in st.passes]}")
            wl.check_results(results, data_dir, st)
        log("oracle checks done")
        scan_ms = scan_inputs(spark, w, data_dir, ol) if traced else 0.0
        app_id = spark.sparkContext.applicationId
    finally:
        dog.cancel()
        stop_session(spark)
        log("session stopped")
    if timed_out:
        st.failures.append(wl.Failure("watchdog", f"run exceeded {WATCHDOG_S:.0f} s; jobs cancelled"))
    report.update(summarize(st, setup_totals, ol))
    if traced:
        elog = tr.read_event_log(tr.event_log_file(log_dir, app_id))
        report["layers"], report["op_layers"] = layer_metrics(
            st, elog, listener.progress, session_starts, scan_ms, ol)
    return report


def scan_inputs(spark, w, data_dir: str, ol) -> float:
    """``sources.scan_ms``: the workload's input tables, each read alone to
    a noop sink (after the timed window)."""
    from nexmark_vanilla_flink_spark.sources.tables import TABLE_NAMES, load_table

    t0 = time.perf_counter()
    if ol is not None:
        spark.read.parquet(ol["watched"]).write.format("noop").mode("overwrite").save()
    else:
        names = TABLE_NAMES if w.name == "catalog" else ("events",)
        for t in names:
            load_table(spark, data_dir, t).write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t0) * 1000.0


def summarize(st, setup_totals, ol) -> dict:
    """The run's end-to-end numbers. Closed loops: the median measured pass
    and the median operation over the measured passes (the cold first pass
    is reported on the side). Open loop: the median measured micro-batch
    and the latency of the events the measured batches read."""
    import workloads as wl

    measured = st.passes[wl.WARMUP_PASSES:] if ol is None else st.passes
    out = {
        "setup_s": statistics.median(setup_totals),
        "setup_samples_s": setup_totals,
        "engine_s": statistics.median(measured),
        "engine_cold_s": st.passes[0],
        "passes": len(measured),
        "attempted": st.attempted,
        "failed": len(st.failures),
        "failures": [f.__dict__ for f in st.failures],
    }
    if ol is None:
        by_op: dict = {}
        for sp in st.spans:
            by_op.setdefault(sp.name, []).append(sp.wall_ms)
        entry_ms = [sp.wall_ms for sp in st.spans if sp.kind == "entry"]
        out["op_ms"] = {k: statistics.median(v) for k, v in by_op.items()}
        out["latency_p50_ms"] = wl.percentile(entry_ms, 50)
        out["latency_p90_ms"] = wl.percentile(entry_ms, 90)
        out["latency_samples"] = len(entry_ms)
        out["build_s"] = sum(sp.wall_ms for sp in st.spans if sp.kind == "build") / 1000.0 / len(measured)
    else:
        out["passes"] = len(ol["measured"])
        for q in (50, 90, 95):
            out[f"latency_p{q}_ms"] = wl.weighted_percentile(ol["latencies"], q)
        out["latency_samples"] = sum(n for _, n in ol["latencies"])
    return out


def layer_metrics(st, elog, progress, session_starts, scan_ms, ol) -> dict:
    """Per-layer numbers of the measured passes, by module, 0 where a layer
    is not on the workload's path, and the per-operation breakdown.
    Counts, bytes and summed times are per pass; per-entry times are
    medians over entries."""
    import tracing as tr
    import workloads as wl
    from nexmark_vanilla_flink_spark.plans import REGISTRY

    spans = st.spans
    npass = max(1, len(st.passes) - wl.WARMUP_PASSES) if ol is None else 1
    jobs = tr.attribute_jobs(spans, elog)
    rolls = [tr.span_rollup(sp, jobs[i]) for i, sp in enumerate(spans)]
    entries = [r for sp, r in zip(spans, rolls) if sp.kind == "entry"]

    def total(key):
        return float(sum(r[key] for r in rolls)) / npass

    def med(key):
        return tr.median_or_zero(r.get(key, 0.0) for r in entries)

    stages = [sr for js in jobs.values() for j in js for sr in j.get("stage_rollups", [])]
    worst = max(stages, key=lambda sr: sr["run_ms"], default=None)
    skew = 0.0
    if worst and worst["task_ms"]:
        mid = statistics.median(worst["task_ms"])
        skew = max(worst["task_ms"]) / mid if mid > 0 else 1.0

    # streaming progress of the measured spans; outside = span wall not
    # covered by any of its micro-batches (start-up and teardown)
    prog, outside = [], 0.0
    for sp in spans:
        if sp.kind == "stream" or (sp.kind == "entry" and "streaming" in REGISTRY[sp.name].tags):
            mine = [p for p in progress if sp.start_ms <= p["start_ms"] <= sp.end_ms]
            prog += mine
            outside += sp.wall_ms - sum(p["dur"].get("triggerExecution", 0) for p in mine)

    def dur(key):
        return float(sum(p["dur"].get(key, 0) for p in prog)) / npass

    builds = [sp for sp in spans if sp.kind == "build"]
    m = {
        "session.start_s": statistics.median(session_starts),
        "sources.scan_ms": scan_ms,
        "sources.input_rows": total("input_rows"),
        "sources.input_bytes": total("input_bytes"),
        "plans.construct_ms": med("construct_ms"),
        "plans.analysis_ms": med("analysis_ms"),
        "plans.optimization_ms": med("optimization_ms"),
        "plans.planning_ms": med("planning_ms"),
        "plans.job_ms": med("job_ms"),
        "plans.driver_gap_ms": med("driver_gap_ms"),
        "plans.entry_wall_ms": med("wall_ms"),
        "plans.jobs": total("jobs"),
        "plans.stages": total("stages"),
        "plans.tasks": total("tasks"),
        "plans.exec_run_ms": total("run_ms"),
        "plans.exec_cpu_ms": total("cpu_ms"),
        "plans.exec_gc_ms": total("gc_ms"),
        "plans.shuffle_write_bytes": total("shuffle_write"),
        "plans.shuffle_read_bytes": total("shuffle_read"),
        "plans.spill_bytes": total("spill"),
        "plans.task_skew": skew,
        "operators.artifact_build_s": sum(sp.wall_ms for sp in builds) / 1000.0 / npass,
        "operators.stray_builds": float(sum(sp.stray_builds for sp in spans)),
        "operators.python_rows": total("py_rows"),
        "operators.python_bytes": total("py_bytes"),
        "operators.python_time_ms": total("py_ms"),
        "streaming.batches": len(prog) / npass,
        "streaming.trigger_ms_p50": tr.median_or_zero(p["dur"].get("triggerExecution", 0) for p in prog),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.get_batch_ms": dur("getBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.trigger_total_ms": dur("triggerExecution"),
        "streaming.outside_batches_ms": outside / npass,
        "streaming.state_rows": float(max((p["state_rows"] for p in prog), default=0)),
        "streaming.state_memory_bytes": float(max((p["state_bytes"] for p in prog), default=0)),
        "streaming.state_commit_ms": float(sum(p["state_commit_ms"] for p in prog)) / npass,
        "streaming.rows_dropped_by_watermark": float(sum(p["dropped"] for p in prog)) / npass,
        "streaming.backlog_rows": 0.0,
        "loadgen.late_ms_p99": 0.0,
    }
    for name in wl.WORKLOADS["catalog"].builds:
        m[f"operators.artifact_build_s.{name}"] = sum(
            sp.wall_ms for sp in builds if sp.name == name) / 1000.0 / npass
    if ol is not None:
        m["streaming.backlog_rows"] = wl.backlog_rows(ol)
        m["loadgen.late_ms_p99"] = wl.percentile([r["at_ms"] - r["due_ms"] for r in ol["released"]], 99)
    by_op: dict = {}
    for sp, r in zip(spans, rolls):
        by_op.setdefault(sp.name, []).append(r)
    ops = {name: {key: statistics.median(r[key] for r in rs) for key in rs[0]}
           for name, rs in by_op.items()}
    return m, ops


def print_report(report: dict) -> None:
    """Human-readable lines: every metric of the run by name, with unit."""
    w = report["workload"]
    share = report["failed"] / max(1, report["attempted"])
    lines = [
        ("setup_s", report["setup_s"], "s", len(report["setup_samples_s"])),
        ("engine_s", report["engine_s"], "s", report["passes"]),
        ("latency_p50_ms", report["latency_p50_ms"], "ms", report["latency_samples"]),
        ("latency_p90_ms", report["latency_p90_ms"], "ms", report["latency_samples"]),
        ("failed_share", share, "fraction", report["attempted"]),
    ]
    # the per-workload names of README.md's table
    if w == "catalog":
        lines += [("catalog_wall_s", report["engine_s"], "s", report["passes"]),
                  ("catalog_cold_wall_s", report["engine_cold_s"], "s", 1),
                  ("catalog_query_p50_ms", report["latency_p50_ms"], "ms", report["latency_samples"]),
                  ("catalog_query_p90_ms", report["latency_p90_ms"], "ms", report["latency_samples"]),
                  ("catalog_build_s", report["build_s"], "s", report["passes"])]
    elif w == "large":
        lines += [("large_wall_s", report["engine_s"], "s", report["passes"]),
                  ("large_query_p50_ms", report["latency_p50_ms"], "ms", report["latency_samples"])]
    else:
        lines += [("open_loop_batch_s", report["engine_s"], "s", report["passes"]),
                  ("open_loop_latency_p50_ms", report["latency_p50_ms"], "ms", report["latency_samples"]),
                  ("open_loop_latency_p95_ms", report["latency_p95_ms"], "ms", report["latency_samples"])]
    print(f"# workload={w} seed={report['seed']} input_digest={report['input_digest']} "
          f"env={json.dumps(report['env'], sort_keys=True)}")
    for name, value, unit, n in lines:
        print(f"{w}.{name} = {value:.6g} {unit} (n={n})")
    for name, value in report.get("op_ms", {}).items():
        print(f"{w}.op {name} = {value:.1f} ms (median over measured passes)")
    for f in report["failures"]:
        print(f"{w}.failure {f['op']}: {f['error']}")
    for name, value in sorted(report.get("layers", {}).items()):
        print(f"{w}.layer {name} = {value:.6g} {layer_unit(name)}")
    keys = ("wall_ms", "construct_ms", "analysis_ms", "optimization_ms", "planning_ms",
            "job_ms", "driver_gap_ms", "jobs", "run_ms", "cpu_ms", "py_ms")
    for name, r in report.get("op_layers", {}).items():
        print(f"{w}.op_layers {name}: " + " ".join(f"{k}={r.get(k, 0):.0f}" for k in keys))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"error: unknown workload {args.workload}; one of {sorted(wl.WORKLOADS)} or all", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        isolate(work)
        report = run_workload(args, work)
        report["env"] = environment()
        if args.trace:
            layers = report["layers"]
            base = child_run(args)["metrics"]["engine_s"]["value"]
            log(f"untraced child run: engine_s {base:.3f}")
            layers["trace_overhead_s"] = report["engine_s"] - base
            layers["plans.wall_1core_s"] = layers["plans.parallel_efficiency"] = 0.0
            if args.workload == "large":
                one = child_run(args, {"SPARK_MASTER": "local[1]"})["metrics"]["engine_s"]["value"]
                log(f"single-core child run: engine_s {one:.3f}")
                layers["plans.wall_1core_s"] = one
                layers["plans.parallel_efficiency"] = one / (base * int(os.environ["SPARK_GRAFT_CPUS"]))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    print_report(report)
    if args.trace:
        metrics = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in report["layers"].items()}
    else:
        metrics = {k: {"value": float(report[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


def layer_unit(name: str) -> str:
    for part, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes")):
        if name.endswith(part) or part + "_" in name or part + "." in name:
            return unit
    if name in ("plans.task_skew", "plans.parallel_efficiency"):
        return "ratio"
    return "count"


def run_all(args) -> int:
    """Every workload, each in a fresh process; their lines pass through."""
    import workloads as wl

    rc = 0
    for name in wl.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        rc |= subprocess.run(cmd, cwd=ROOT).returncode
    return rc


if __name__ == "__main__":
    sys.exit(main())
