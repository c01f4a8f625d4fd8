"""The workloads: what each one runs, and the loops that run them.

``catalog`` and ``large`` are closed loops: one client runs one fixed list
of operations, one at a time, in whole passes until the window is used up.
An operation is a call into ``operators.artifacts.ARTIFACT_BUILDERS`` (from
a purged root) or into a ``plans.registry`` entry whose rows are collected
back to the client. ``open_loop`` runs ``streaming.queries.q5_hot_items_stream``
over ``streaming.sources``' file stream while a separate process releases
event files on a fixed schedule, whether or not the engine keeps up.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen
import tracing as tr

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Workload:
    name: str
    events: int  # rows of the events table
    item_keys: int = 100
    builds: tuple[str, ...] = ()
    entries: tuple[str, ...] = ()
    warmup: str = "q5_hot_items"  # the registry entry set-up runs once
    # closed loops: a warm pass's nominal length on a 4-core VM; a run
    # measures ``seconds / pass_s`` passes
    pass_s: float = 4.0


WORKLOADS = {
    # Small registry entries whose time goes to planning, job scheduling,
    # the Arrow boundary, micro-batch machinery and an artifact build: a
    # Nexmark plan, a grouped pandas UDF, the bigram artifact build and its
    # consumer, and a bounded AvailableNow replay through Python-stateful
    # buckets.
    "catalog": Workload(
        "catalog", events=10_000,
        builds=("bigram_tables",),
        entries=("q5_hot_items", "grouped_median_pandas", "bigram_lm_doc_scores",
                 "q8_union_join_lowlevel"),
        warmup="tpch_q6_forecast_revenue",
    ),
    # Live q5 over the file stream at one fixed offered rate.
    "open_loop": Workload("open_loop", events=2_000),
    # Not in BENCHMARK.json, which must finish a full round of runs in a
    # fixed time: Nexmark entries over 30x the catalog's events with item
    # keys scaled to match, where executor work dominates. Run by hand; its
    # traced run adds the single-core baseline.
    "large": Workload(
        "large", events=300_000, item_keys=300,
        entries=("nexmark_q4_category_avg", "nexmark_q16_channel_stats",
                 "nexmark_q15_bidding_stats", "event_type_stats"),
        warmup="event_type_stats", pass_s=5.5,
    ),
}

# open loop: one offered rate (events/s), one file released per tick. A
# micro-batch keeps getting cheaper for 25 batches or more while the JIT
# compiles (850 ms falling to 450 ms on a 4-core VM), so, as with the
# closed loops' passes, the measured batches are fixed by index, not by
# time: WARMUP_BATCHES, then ``--seconds / TRIGGER_S`` measured ones. The
# release process then stops and the query drains. The schedule holds files
# for SCHEDULE_S_PER_BATCH seconds per batch, enough while a batch takes
# less than that. A rate that saturates the engine is not reachable: a
# micro-batch costs about the same at 2,500 and at 500,000 rows, and
# generating the input for a higher rate would not fit a run's time.
RATE_EPS = 100_000
TICK_S = 0.25
TRIGGER_S = 0.5
WARMUP_BATCHES = 6
SCHEDULE_S_PER_BATCH = 1.25


# closed loops: passes before the measured ones. Pass times keep falling
# for many passes while the JIT compiles (catalog on a 4-core VM: cold
# ~10 s, then ~4.0, 3.6, 3.4, 3.2 ... 2.6 s by the tenth), so the first warm
# pass is not measured either, and a run measures a fixed number of passes
# rather than as many as fit in a time: otherwise a faster host would run
# more passes, further down that curve.
WARMUP_PASSES = 2


@dataclass
class Failure:
    op: str
    error: str


@dataclass
class RunState:
    spans: list = field(default_factory=list)  # spans of the measured passes
    failures: list = field(default_factory=list)
    attempted: int = 0
    passes: list = field(default_factory=list)  # pass wall seconds, warm-up first


def make_inputs(w: Workload, data_dir: str, seed: int) -> str:
    """Seeded tables for ``w``; returns their digest."""
    if w.events > 100_000:
        # a large events table next to small everything else
        gen.write_tables(data_dir, seed, 10_000)
        return gen.write_tables(data_dir, seed, w.events, w.item_keys, tables=("events",))
    return gen.write_tables(data_dir, seed, w.events, w.item_keys)


def _error_text(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()[:500]


def _entry_op(spark, data_dir: str, name: str, traced: bool, keep: dict) -> tr.Span:
    """Construct a registry entry and collect its rows to the client; the
    rows go to ``keep[name]``, one result per pass."""
    from nexmark_vanilla_flink_spark.operators.artifacts import pop_build_log
    from nexmark_vanilla_flink_spark.plans import REGISTRY

    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    span = tr.Span(name, "entry", tr.now_ms())
    t0 = time.perf_counter()
    df = REGISTRY[name].spark(spark, data_dir)
    span.construct_ms = (time.perf_counter() - t0) * 1000.0
    rows = [tuple(r) for r in df.collect()]
    span.end_ms = span.start_ms + (time.perf_counter() - t0) * 1000.0
    sc.setJobGroup("", "")
    span.stray_builds = len(pop_build_log())
    if traced and "streaming" not in REGISTRY[name].tags:
        span.phases = tr.plan_phases(df)
    keep.setdefault(name, []).append((df.columns, dict(df.dtypes), rows))
    return span


def _build_op(spark, data_dir: str, name: str) -> tr.Span:
    """Build one artifact from a purged root."""
    from nexmark_vanilla_flink_spark.operators.artifacts import (
        ARTIFACT_BUILDERS, artifact_root, pop_build_log,
    )

    shutil.rmtree(artifact_root(name), ignore_errors=True)
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    span = tr.Span(name, "build", tr.now_ms())
    t0 = time.perf_counter()
    path = ARTIFACT_BUILDERS[name](spark, data_dir)
    span.end_ms = span.start_ms + (time.perf_counter() - t0) * 1000.0
    sc.setJobGroup("", "")
    pop_build_log()
    if not os.path.exists(os.path.join(path, "_DONE")):
        raise RuntimeError(f"artifact {name} has no _DONE marker at {path}")
    return span


def closed_loop(spark, w: Workload, data_dir: str, seconds: float, traced: bool) -> tuple[RunState, dict]:
    """Whole passes over ``w``'s operations: ``WARMUP_PASSES`` unmeasured
    passes (the first runs cold), then ``seconds / w.pass_s`` measured
    passes. Returns the run state and, per entry, the rows of every pass."""
    from nexmark_vanilla_flink_spark.operators.artifacts import purge_artifact_roots
    from nexmark_vanilla_flink_spark.streaming.runner import reclaim_replay_sinks

    st = RunState()
    results: dict = {}
    purge_artifact_roots()
    ops = [("build", b) for b in w.builds] + [("entry", e) for e in w.entries]
    total = WARMUP_PASSES + max(1, round(seconds / w.pass_s))
    while len(st.passes) < total:
        warmup = len(st.passes) < WARMUP_PASSES
        spans = []
        t0 = time.perf_counter()
        for kind, name in ops:
            st.attempted += 1
            try:
                if kind == "build":
                    spans.append(_build_op(spark, data_dir, name))
                else:
                    spans.append(_entry_op(spark, data_dir, name, traced, results))
            except Exception as exc:  # a failing op is a result, not a crash
                st.failures.append(Failure(name, _error_text(exc)))
                spark.sparkContext.setJobGroup("", "")
            spark.catalog.clearCache()
            reclaim_replay_sinks()
        st.passes.append(time.perf_counter() - t0)
        if not warmup:
            st.spans += spans
    return st, results


def compare_rows(cols, dtypes, rows, oracle_result) -> tuple[bool, str]:
    """The checks of ``tests/oracle_utils.compare`` on rows already
    collected, against ``oracle_result`` as ``duckdb_run`` returns it
    (columns, rows, dtypes): same column names, compatible dtypes, same row
    count, equal canonicalized rows."""
    from tests.oracle_utils import canonicalize, dtype_compatible

    d_cols, d_rows, d_types = oracle_result
    if sorted(cols) != sorted(d_cols):
        return False, f"schema mismatch: spark={sorted(cols)} duckdb={sorted(d_cols)}"
    bad = [(c, dtypes[c], d_types[c]) for c in cols if not dtype_compatible(dtypes[c], d_types[c])]
    if bad:
        return False, f"dtype mismatch (spark vs duckdb-arrow): {bad}"
    if len(rows) != len(d_rows):
        return False, f"row count mismatch: spark={len(rows)} duckdb={len(d_rows)}"
    if canonicalize(cols, rows) != canonicalize(d_cols, d_rows):
        return False, "value mismatch"
    return True, f"ok ({len(rows)} rows)"


def check_results(results: dict, data_dir: str, st: RunState) -> None:
    """Compare the result of every pass, warm-up and measured, with the
    entry's DuckDB oracle, outside every timer, so that a cache that goes
    wrong across calls shows too. A mismatch or a raise counts as a
    failure."""
    from tests.oracle_utils import duckdb_run

    from nexmark_vanilla_flink_spark.plans import REGISTRY

    for name, passes in results.items():
        try:
            oracle = duckdb_run(data_dir, REGISTRY[name].oracle)
        except Exception as exc:
            st.failures.append(Failure(name, f"oracle raised: {_error_text(exc)}"))
            continue
        for i, (cols, dtypes, rows) in enumerate(passes):
            try:
                ok, msg = compare_rows(cols, dtypes, rows, oracle)
            except Exception as exc:
                ok, msg = False, _error_text(exc)
            if not ok:
                st.failures.append(Failure(name, f"oracle mismatch in pass {i}: {msg}"))


# --- open loop ---------------------------------------------------------------


def measured_batch_count(seconds: float) -> int:
    return max(2, round(seconds / TRIGGER_S))


def make_open_loop_files(stage_dir: str, seed: int, seconds: float) -> tuple[list, str]:
    """One parquet file per tick at ``RATE_EPS``, enough for the warm-up
    and the measured batches. Event timestamps follow
    the schedule, so event time and release order agree and the watermark
    drops nothing. Returns the schedule ``[file, offset_s, rows]`` and a
    digest of the files."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(stage_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    schedule, digest = [], hashlib.sha256()
    n = round(RATE_EPS * TICK_S)
    batches = WARMUP_BATCHES + measured_batch_count(seconds)
    for i in range(round(batches * SCHEDULE_S_PER_BATCH / TICK_S)):
        cols = gen.events_table(
            rng, n, 100,
            t0_us=gen.EPOCH_2024_US + int(i * TICK_S * 1e6),
            span_us=int(TICK_S * 1e6),
        )
        cols["event_id"] = cols["event_id"] + i * n
        name = f"part-{i:05d}.parquet"
        path = os.path.join(stage_dir, name)
        pq.write_table(pa.table(cols), path)
        with open(path, "rb") as f:
            digest.update(f.read())
        schedule.append([name, (i + 1) * TICK_S, n])
    return schedule, digest.hexdigest()[:16]


def _bids(events):
    """The bids derivation of ``streaming.sources.stream_nexmark``."""
    from pyspark.sql import functions as F

    return events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("bid_id"),
        F.col("k").alias("item_id"),
        F.col("user_id").alias("bidder_id"),
        F.col("value").alias("bid"),
        F.col("ts").alias("b_ts"),
        F.col("ts_ns").alias("b_ts_ns"),
    )


def _source_batches(ckpt: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's metadata log."""
    out = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    for fname in os.listdir(log_dir):
        if fname.startswith("."):
            continue
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def open_loop(spark, work: str, schedule: list, stage_dir: str, seconds: float) -> dict:
    """Run q5 hot items live (update mode, processing-time trigger) while
    the release process feeds it the files of ``stage_dir``. Once the
    measured batches have run, the release process stops and the query
    drains what was released. An event's latency is the end of the
    micro-batch that read its file minus the file's scheduled release."""
    from nexmark_vanilla_flink_spark.streaming.queries import q5_hot_items_stream
    from nexmark_vanilla_flink_spark.streaming.sources import stream_events_dir

    watched = os.path.join(work, "watched")
    ckpt = os.path.join(work, "checkpoint")
    os.makedirs(watched)
    schema = spark.read.parquet(os.path.join(stage_dir, schedule[0][0])).schema
    sdf = q5_hot_items_stream(_bids(stream_events_dir(spark, watched, schema)))
    final: dict = {}
    measured_ids = range(WARMUP_BATCHES, WARMUP_BATCHES + measured_batch_count(seconds))

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[(r["w_start_s"], r["auction_id"])] = tuple(r)

    sched_path = os.path.join(work, "schedule.json")
    log_path = os.path.join(work, "release_log.json")
    with open(sched_path, "w") as f:
        json.dump(schedule, f)
    q = (
        sdf.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{int(TRIGGER_S * 1000)} milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while "Waiting for" not in q.status["message"] and time.time() < deadline:
            time.sleep(0.05)
        t0 = time.time() + 0.5
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "loadgen.py"),
                                 stage_dir, watched, sched_path, repr(t0), log_path])
        try:
            # every batch reads input while files keep arriving
            while proc.poll() is None and (q.lastProgress or {}).get("batchId", -1) < measured_ids[-1]:
                if q.exception() is not None:
                    break
                time.sleep(0.1)
        finally:
            if proc.poll() is None:
                proc.terminate()
            proc.wait(timeout=10)
        if q.exception() is None:
            q.processAllAvailable()
        if q.exception() is not None:
            raise q.exception()
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    with open(log_path) as f:
        released = json.load(f)
    batch_of = _source_batches(ckpt)
    batches = []
    for p in progress:
        start = tr.iso_ms(p["timestamp"])
        batches.append((p["batchId"], start, start + p["durationMs"].get("triggerExecution", 0),
                        p["numInputRows"]))
    measured = [b for b in batches if b[0] in measured_ids and b[3] > 0]
    if not measured:
        raise RuntimeError(f"no measured micro-batch: {len(batches)} batches ran")
    span = tr.Span("open_loop_q5", "stream", measured[0][1], measured[-1][2])
    end_of = {b: end for b, _s, end, _n in measured}
    latencies = [(end_of[batch_of[r["file"]]] - r["due_ms"], r["rows"])
                 for r in released if batch_of.get(r["file"]) in end_of]
    return {
        "latencies": latencies,
        "batches": batches,
        "measured": measured,
        "progress": progress,
        "released": released,
        "final": final,
        "columns": sdf.columns,
        "dtypes": dict(sdf.dtypes),
        "span": span,
        "watched": watched,
    }


def check_open_loop(run: dict, st: RunState) -> None:
    """Final per-(window, item) results must equal DuckDB's q5 over exactly
    the released files, and the summed input rows the released rows."""
    import duckdb
    from tests.oracle_utils import duckdb_run

    from nexmark_vanilla_flink_spark.plans import REGISTRY

    released_rows = sum(r["rows"] for r in run["released"])
    input_rows = sum(n for *_rest, n in run["batches"])
    if input_rows != released_rows:
        st.failures.append(Failure(
            "open_loop_q5", f"input rows {input_rows} != released rows {released_rows}"))
    files = [os.path.join(run["watched"], r["file"]) for r in run["released"]]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({files!r})")
        ok, msg = compare_rows(run["columns"], run["dtypes"], list(run["final"].values()),
                               duckdb_run("", REGISTRY["q5_hot_items"].oracle, con=con))
    except Exception as exc:
        ok, msg = False, _error_text(exc)
    finally:
        con.close()
    if not ok:
        st.failures.append(Failure("open_loop_q5", f"oracle mismatch: {msg}"))


def backlog_rows(run: dict) -> float:
    """Mean backlog (released minus committed rows), sampled at the start
    of each measured batch."""
    rel = [(r["at_ms"], r["rows"]) for r in run["released"]]
    pts = [sum(n for at, n in rel if at <= start)
           - sum(n for _b, _s, end, n in run["batches"] if end <= start)
           for _b, start, _end, _n in run["measured"]]
    return statistics.fmean(pts) if pts else 0.0


def percentile(xs, q: float) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1])


def weighted_percentile(samples: list[tuple[float, int]], q: float) -> float:
    """Percentile of per-event latencies given (latency, event count) pairs."""
    samples = sorted(samples)
    total = sum(n for _, n in samples)
    target, acc = total * q / 100.0, 0
    for lat, n in samples:
        acc += n
        if acc >= target:
            return lat
    return 0.0
