"""Bucketed keyed-state replays beyond what the registry's oracle gate
sees: several users sharing one bucket (sf0.001 puts its 15 users in 15
distinct buckets of the default 16), and the sentinel-less multi-batch
timer path. The replay entries themselves (ewma, scd2, funnel, skipgram,
q8 union join) sit under their DuckDB oracles in
tests/test_oracle_parity.py.
"""

from nexmark_vanilla_flink_spark.plans import REGISTRY
from nexmark_vanilla_flink_spark.plans.linkage import _sentinel_event_stream
from nexmark_vanilla_flink_spark.streaming.runner import run_available_now
from nexmark_vanilla_flink_spark.streaming.stateful import ewma_stateful_bucketed

from .oracle_utils import compare


def test_bucketed_small_bucket_count(spark, sf_dir):
    """n_buckets smaller than the key count still yields the identical
    set — bucket hashing only affects placement, never the fold."""
    stream, flush_ms = _sentinel_event_stream(spark, sf_dir, with_value=True)
    ref = run_available_now(
        ewma_stateful_bucketed(stream, flush_ms), output_mode="append"
    )
    from nexmark_vanilla_flink_spark.streaming.stateful import (
        EWMA_OUTPUT,
        bucketed_stateful,
    )

    stream2, flush_ms2 = _sentinel_event_stream(
        spark, sf_dir, with_value=True
    )

    def fold(uid, ustate, rows):
        acc, n, last_v = ustate or (0, 0, 0)
        for r in rows:
            x = int(r[3])
            acc = (acc + x) // 2
            last_v = x
            n += 1
        return (acc, n, last_v), []

    def final(uid, ustate):
        acc, n, last_v = ustate
        return [(uid, int(n), int(acc), int(last_v))] if n > 0 else []

    got = run_available_now(
        bucketed_stateful(
            stream2, flush_ms2, ["v_fp"], fold, final, EWMA_OUTPUT,
            n_buckets=3,
        ),
        output_mode="append",
    )
    a = sorted([tuple(r) for r in got.collect()], key=repr)
    b = sorted([tuple(r) for r in ref.collect()], key=repr)
    assert a == b


def test_multibatch_timer_path(spark, sf_dir, tmp_path):
    """The sentinel-less CONTINUOUS path still works multi-batch: events
    arrive across 3 time-ordered files (maxFilesPerTrigger=1), each batch
    folds only the watermark-finalized prefix, and the end-of-horizon
    TIMER (not the end-of-input sentinel) flushes the finals in the
    trailing no-data batch. Output set must equal the sentinel-driven
    single-batch replay — the r11 fast path and the timer path are two
    emission schedules over one fold."""
    import os

    from pyspark.sql import functions as F

    from nexmark_vanilla_flink_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("ts_ns DIV 1000").alias("us"),
        "event_id",
        "ts",
        F.expr("CAST(round(value * 1000) AS BIGINT)").alias("v_fp"),
    )
    lo, hi = ev.agg(F.min("us"), F.max("us")).collect()[0]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    d = str(tmp_path / "multibatch")
    os.makedirs(d)
    for i, cond in enumerate(
        [
            F.col("us") < cut1,
            (F.col("us") >= cut1) & (F.col("us") < cut2),
            F.col("us") >= cut2,
        ]
    ):
        stage = str(tmp_path / f"stage{i}")
        ev.filter(cond).coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        os.rename(f"{stage}/{part}", f"{d}/f{i}.parquet")
        os.utime(f"{d}/f{i}.parquet", (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    # horizon 1 h before the last event: past every batch's data but below
    # the final watermark, so the flush comes from hasTimedOut, never from
    # a sentinel (there is none in this stream)
    flush_ms = hi // 1000 - 3600 * 1000
    got = run_available_now(
        ewma_stateful_bucketed(stream, flush_ms), output_mode="append"
    )
    ref_stream, ref_flush = _sentinel_event_stream(
        spark, sf_dir, with_value=True
    )
    ref = run_available_now(
        ewma_stateful_bucketed(ref_stream, ref_flush),
        output_mode="append",
        no_data_batch=False,
    )
    a = sorted([tuple(r) for r in got.collect()], key=repr)
    b = sorted([tuple(r) for r in ref.collect()], key=repr)
    assert len(a) > 0 and a == b


def test_union_join_bucketed_parity(spark, sf_dir):
    """The bucketed Q8 union join with n_buckets=3 < key count (several
    users per bucket, exercising the per-user buffer isolation) must
    equal the batch join oracle of ``q8_union_join_lowlevel``."""
    from pyspark.sql import functions as F

    from nexmark_vanilla_flink_spark.streaming.sources import stream_events
    from nexmark_vanilla_flink_spark.streaming.stateful import (
        union_join_stateful_bucketed,
    )

    ev = stream_events(spark, sf_dir)
    tagged = ev.filter(F.col("event_type").isin("signup", "view")).select(
        F.when(F.col("event_type") == "signup", 1)
        .otherwise(2)
        .cast("int")
        .alias("side"),
        F.col("user_id"),
        F.col("event_id").alias("row_id"),
        F.col("ts"),
    )
    got = run_available_now(
        union_join_stateful_bucketed(tagged, n_buckets=3),
        output_mode="append",
        no_data_batch=False,
    )
    assert got.count() > 0
    ok, msg = compare(got, sf_dir, REGISTRY["q8_union_join_lowlevel"].oracle)
    assert ok, msg
