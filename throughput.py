#!/usr/bin/env python
"""Single-node throughput soak — the apples-to-apples comparison against the
reference's configured offered loads (BASELINE.md: Q5 1 Mi bids/s, Q8
1 Mi persons/s + 10 Mi auctions/s, QX 10 Mi bids/s offered).

Generates SOAK_EVENTS interleaved events (default 10M) with the reference's
1:4:4 mix and hot-key skew entirely in codegen (no I/O), runs each core
operator shape to a noop sink, and reports input events/s per operator.

    python throughput.py            # one JSON line
    SOAK_EVENTS=50000000 python throughput.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from nexmark_vanilla_flink_spark.session import get_session  # noqa: E402
from nexmark_vanilla_flink_spark.sources.generator import (  # noqa: E402
    generate_events_batch,
    split_streams,
)

HOUR_NS = 3600 * 1_000_000_000
DAY_NS = 86400 * 1_000_000_000


def main() -> None:
    n = int(os.environ.get("SOAK_EVENTS", 10_000_000))
    spark = get_session("nexmark-throughput")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}

    def run(name: str, df) -> None:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        results[name] = {
            "sec": round(dt, 2),
            "events_per_sec": int(n / dt),
        }

    def fresh():
        # fast (murmur3) draw: the soak measures OPERATOR throughput, and
        # the md5 oracle draw caps generation at ~6 M events/s — the fast
        # mode matches the reference's cheap per-event PRNG. The md5 mode's
        # generate-only rate is reported separately below for honesty.
        ev = generate_events_batch(
            spark, n, events_per_sec=1_000_000, draw="fast"
        )
        return ev, split_streams(ev, draw="fast")

    # warm up codegen on a small run
    generate_events_batch(spark, 100_000).write.format("noop").mode(
        "overwrite"
    ).save()

    ev, s = fresh()
    run("generate_only", ev)

    run(
        "generate_only_md5_oracle_draw",  # the cross-engine-reproducible mode
        generate_events_batch(spark, n, events_per_sec=1_000_000, draw="md5"),
    )

    ev, s = fresh()
    run(
        "q5_hot_items_shape",  # A1: windowed max/count per auction
        s["bids"]
        .groupBy(
            F.expr(f"CAST(b_ts_ns DIV {HOUR_NS} AS BIGINT)").alias("w"),
            "auction_id",
        )
        .agg(F.max("bid"), F.count(F.lit(1)), F.max("b_ts_ns")),
    )

    ev, s = fresh()
    run(
        "cm_windowed_sum_shape",  # A4
        ev.groupBy(
            F.expr(f"CAST(ts_ns DIV {HOUR_NS} AS BIGINT)").alias("w"),
            "ref_person_id",
        ).agg(F.sum("price"), F.count(F.lit(1))),
    )

    ev, s = fresh()
    p = s["persons"].withColumn("w", F.expr(f"p_ts_ns DIV {DAY_NS}"))
    a = (
        s["auctions"]
        .withColumn("w", F.expr(f"start_ts_ns DIV {DAY_NS}"))
        .withColumnRenamed("seller_id", "person_id")
    )
    run(
        "q8_join_shape",  # J1/J2: persons ⋈ auctions on (person, window)
        p.join(a, ["person_id", "w"]).groupBy("person_id", "w").count(),
    )

    ev, s = fresh()
    run(
        "qx_winning_bid_shape",  # J4: per-auction last bid (bids carry the
        # auction key directly in the generated stream)
        s["bids"]
        .groupBy("auction_id")
        .agg(F.max_by(F.struct("bid_id", "bid"), F.struct("b_ts_ns", "bid_id"))),
    )

    ev, s = fresh()
    run(
        "sessions_shape",  # A5: per-bidder session windows
        s["bids"]
        .groupBy(F.session_window(F.col("b_ts"), "1 hour"), F.col("bidder_id"))
        .agg(F.count(F.lit(1)), F.max("bid")),
    )

    # ---- STREAMING sustained-rate soak (the reference's offered loads are
    # STREAMING rates — 1-10 M events/s, BASELINE.md): offer events on the
    # rate source at STREAM_OFFERED_PER_SEC and report the engine's
    # processedRowsPerSecond over STREAM_SOAK_SECONDS of micro-batches.
    # processed ≈ offered → the pipeline sustains the load; processed <
    # offered → that IS the sustained capacity.
    soak_s = int(os.environ.get("STREAM_SOAK_SECONDS", 8))
    offered = int(os.environ.get("STREAM_OFFERED_PER_SEC", 10_000_000))
    stream_results: dict[str, dict] = {}
    if soak_s > 0:
        import statistics
        import tempfile

        from nexmark_vanilla_flink_spark.sources.generator import (
            generate_events_stream,
        )

        def soak(name: str, build, mode: str = "update", rate: int = 0) -> None:
            ev = generate_events_stream(
                spark, rows_per_second=rate or offered, draw="fast"
            )
            q = (
                build(ev)
                .writeStream.format("noop")
                .option(
                    "checkpointLocation",
                    tempfile.mkdtemp(prefix=f"soak_{name}_", dir="/dev/shm"),
                )
                .outputMode(mode)
                .start()
            )
            time.sleep(soak_s)
            rates = [
                p["processedRowsPerSecond"]
                for p in q.recentProgress
                if p["numInputRows"] > 0
            ][1:]  # drop the cold first batch
            q.stop()
            stream_results[name] = {
                "offered_per_sec": rate or offered,
                "processed_per_sec": int(statistics.mean(rates)) if rates else 0,
                "n_batches": len(rates),
            }

        soak("stream_passthrough", lambda ev: ev.select("event_id", "event_type"))
        soak(
            "stream_q5_shape",
            lambda ev: split_streams(ev, draw="fast")["bids"]
            .withWatermark("b_ts", "2 seconds")
            .groupBy(F.window("b_ts", "1 hour"), "auction_id")
            .agg(F.max("bid"), F.count(F.lit(1))),
        )

        def cep_shape(ev):
            # the CEP data path (funnel_stateful): keyed Python state
            # machine with watermark buffering and per-key timers — the
            # flush horizon is set far future and the 7-day match window
            # outlasts the soak, so it measures the ARRIVAL path (buffer +
            # finalized-prefix fold + timer re-arm), the steady-state
            # cost in production
            from nexmark_vanilla_flink_spark.streaming.stateful import (
                funnel_stateful,
            )

            # bounded active-user population (10k keys): the CEP cost is
            # per-KEY Python invocation, so an unbounded key draw measures
            # group-call overhead, not the data path a funnel runs at
            mapped = ev.select(
                (F.col("ref_person_id") % 10_000).alias("user_id"),
                F.element_at(
                    F.array(F.lit("purchase"), F.lit("click"), F.lit("view")),
                    F.col("event_type") + 1,
                ).alias("event_type"),
                F.expr("ts_ns DIV 1000").alias("us"),
                "event_id",
                "ts",
            )
            return funnel_stateful(
                mapped, flush_ms=1 << 60, window_us=7 * 86400 * 1_000_000
            )

        # the CEP soak offers the reference's BASELINE load (1 M events/s)
        # — the Python-stateful path backpressures far below the 10 M
        # stateless ceiling, and that sustained number is the honest one
        soak(
            "stream_cep_funnel_shape",
            cep_shape,
            mode="append",
            rate=int(os.environ.get("STREAM_CEP_OFFERED_PER_SEC", 1_000_000)),
        )

    print(
        json.dumps(
            {
                "metric": "events_per_sec_by_operator",
                "n_events": n,
                "mix": "1:4:4 person:auction:bid, 15% hot keys",
                "operators": results,
                "streaming_sustained": stream_results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
