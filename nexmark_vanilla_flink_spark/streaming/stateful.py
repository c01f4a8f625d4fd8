"""Low-level stateful operators (SURVEY.md §7 step 8) — the places where the
reference's semantics are *timer-driven* rather than declarative, implemented
on ``applyInPandasWithState`` (Arrow-batched keyed state, the Spark analog of
Flink's KeyedProcessFunction + ValueState/ListState/MapState surface,
§2.6). One implementation per operator:

  * union_join_stateful_bucketed — Q8/Q11's JoinUDF
    (NexmarkQuery8.java:602-662): a tagged-union stream keyed by user
    whose person and auction buffers are never evicted (reference
    behavior, :634), emitting matches incrementally from both sides (a
    symmetric hash join by hand); registry entry
    ``q8_union_join_lowlevel``.
  * allowed_lateness_stateful — Flink allowedLateness re-firing
    (NexmarkQueryX.java:279-281); registry entry
    ``qx_allowed_lateness_replay``.
  * q5b_proc_time_flush — Q5b's processing-time timer flush
    (NexmarkQuery5b.java:204, now + 10 s): ProcessingTimeTimeout variant.
  * funnel_stateful — the continuous CEP matcher with per-key event-time
    timers (the timer-per-auction pattern, NexmarkQueryX.java:465): each
    key emits once its row provably cannot change and leaves a tombstone.
  * bucketed_stateful and its ewma/scd2/funnel/skipgram folds — keyed
    replays with state coarsened into hash buckets of user_id; the
    registry's replay entries run these under the DuckDB oracles.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

HOT_ITEMS_OUTPUT = StructType(
    [
        StructField("auction_id", LongType()),
        StructField("w_start_s", LongType()),
        StructField("max_bid", DoubleType()),
        StructField("bid_count", LongType()),
        StructField("last_bid_ts_s", LongType()),
    ]
)

_HOT_ITEMS_STATE = StructType(
    [
        StructField("max_bid", DoubleType()),
        StructField("bid_count", LongType()),
        StructField("last_ts_ns", LongType()),
        StructField("w_end_ms", LongType()),
    ]
)


UNION_JOIN_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("person_id", LongType()),
        StructField("auction_id", LongType()),
    ]
)


def union_join_stateful_bucketed(
    tagged: DataFrame, n_buckets: int = 16
) -> DataFrame:
    """Q8/Q11 JoinUDF: a symmetric hash join by hand on the tagged union
    (Input1Tagger/Input2Tagger, JoinHelper.java:24-40 — columns ``side``
    (1 = person, 2 = auction), ``user_id``, ``row_id``, ``ts``). Per
    user, each (person, auction) pair is emitted exactly once, when its
    later side arrives; buffers are never evicted, mirroring the
    reference's never-cleared ListState (NexmarkQuery8.java:634). State
    is coarsened into hash buckets of user_id — the same per-key-machinery
    amortization as ``bucketed_stateful`` (r11: one group per key paid
    ~0.7 ms of Arrow group-call protocol per key per batch — a measured
    ~1.2 s of pure machinery for 1500 keys at sf0.1 with a trivial fn).
    The registry entry ``q8_union_join_lowlevel`` runs it under its DuckDB
    oracle; tests/test_bucketed_stateful.py::test_union_join_bucketed_parity
    checks the same oracle with several users per bucket."""
    import pickle

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        bufs: dict = {}
        if state.exists:
            bufs = pickle.loads(state.get[0])
        chunks = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            uid_arr = pdf["user_id"].to_numpy()
            side = pdf["side"].to_numpy()
            rid = pdf["row_id"].to_numpy()
            order = np.argsort(uid_arr, kind="stable")
            uids_sorted = uid_arr[order]
            starts = np.flatnonzero(
                np.r_[True, uids_sorted[1:] != uids_sorted[:-1]]
            )
            bounds = np.r_[starts, len(uids_sorted)]
            for gi in range(len(starts)):
                sel = order[bounds[gi] : bounds[gi + 1]]
                uid = int(uids_sorted[bounds[gi]])
                p_buf, a_buf = bufs.get(uid, ([], []))
                s_g, r_g = side[sel], rid[sel]
                new_p, new_a = r_g[s_g == 1], r_g[s_g == 2]
                old_p = np.asarray(p_buf, dtype=np.int64)
                old_a = np.asarray(a_buf, dtype=np.int64)
                all_a = np.concatenate([old_a, new_a])
                if len(new_p) and len(all_a):
                    chunks.append(
                        (
                            uid,
                            np.repeat(new_p, len(all_a)),
                            np.tile(all_a, len(new_p)),
                        )
                    )
                if len(old_p) and len(new_a):
                    chunks.append(
                        (
                            uid,
                            np.repeat(old_p, len(new_a)),
                            np.tile(new_a, len(old_p)),
                        )
                    )
                p_buf = p_buf + [int(x) for x in new_p]
                a_buf = a_buf + [int(x) for x in new_a]
                bufs[uid] = (p_buf, a_buf)
        state.update((pickle.dumps(bufs),))
        if chunks:
            out_u = np.concatenate(
                [np.full(len(c[1]), c[0], dtype=np.int64) for c in chunks]
            )
            out_p = np.concatenate([c[1] for c in chunks])
            out_a = np.concatenate([c[2] for c in chunks])
            yield pd.DataFrame(
                {"user_id": out_u, "person_id": out_p, "auction_id": out_a}
            )

    return (
        tagged.select(
            "*", F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int").alias("bkt")
        )
        .groupBy("bkt")
        .applyInPandasWithState(
            fn,
            outputStructType=UNION_JOIN_OUTPUT,
            stateStructType=_BUCKETED_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


LATE_WINDOW_OUTPUT = StructType(
    [
        StructField("auction_id", LongType()),
        StructField("w_start_s", LongType()),
        StructField("bid_count", LongType()),
        StructField("max_bid", DoubleType()),
        StructField("emit_version", IntegerType()),
    ]
)


def allowed_lateness_stateful(
    bids: DataFrame,
    window_s: int,
    allowed_late_s: int,
    n_buckets: int = 16,
) -> DataFrame:
    """Flink ``allowedLateness`` re-fire replica (the last semantic delta
    vs the reference — NexmarkQueryX.java:279-281 admits rows up to 15 s
    past the watermark into already-fired windows and RE-EMITS the
    updated pane; Spark's native windowed aggregation drops every
    late-past-watermark row). Per (auction, window) pane over
    ``applyInPandasWithState`` (bucketed, same coarsening as the other
    replicas):

      * a pane whose end the watermark passes fires once with its
        on-time aggregate (``emit_version`` 1 — EventTimeTrigger's
        watermark fire);
      * a late row arriving while ``watermark < end + allowed_late_s``
        folds into the fired pane and RE-FIRES it (version 2 — one
        re-fire per micro-batch, the micro-batch analog of Flink's
        per-element late firing). A late row into a pane that never
        fired on time CREATES the pane and fires it late (version 1 with
        only the late rows — EventTimeTrigger.onElement's immediate fire
        for end <= watermark);
      * a late row past the bound is DROPPED, as the reference drops it;
      * panes the watermark never reached emit their full aggregate at
        the end-of-input sentinel (auction_id < 0, broadcast to every
        bucket — the bounded-replay flush the other replicas use).

    Emissions are append-mode rows, so the full v1 THEN v2 history of
    every re-fired pane is visible to the oracle — the batch SQL models
    the first-batch watermark (max on-time event ms − delay) and
    enumerates exactly these rows."""
    import pickle

    from itertools import groupby

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        st: dict = pickle.loads(state.get[0]) if state.exists else {}
        wm_us = state.getCurrentWatermarkMs() * 1000
        horizon_us = allowed_late_s * 1_000_000
        out = []
        eoi = False
        rows: list = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            ids = pdf["auction_id"].astype("int64")
            keep = ids >= 0
            if not keep.all():
                eoi = True
            if not keep.any():
                continue
            rows.extend(
                zip(
                    ids[keep].tolist(),
                    pdf["w_start_s"][keep].astype("int64").tolist(),
                    pdf["us"][keep].astype("int64").tolist(),
                    pdf["bid"][keep].tolist(),
                )
            )
        rows.sort()
        for (a, w), grp in groupby(rows, key=lambda r: (r[0], r[1])):
            grp = list(grp)
            cnt, mx, fired, ver = st.get((a, w), (0, None, 0, 0))
            w_end_us = (w + window_s) * 1_000_000
            if not fired and w_end_us <= wm_us:
                # the watermark passed this pane's end in an earlier
                # batch: it fired then — emit the frozen on-time pane
                # BEFORE this batch's late rows touch it
                if cnt > 0:
                    ver += 1
                    out.append((a, w, cnt, mx, ver))
                fired = 1
            if fired:
                if wm_us < w_end_us + horizon_us:
                    for r in grp:
                        cnt += 1
                        mx = r[3] if mx is None or r[3] > mx else mx
                    ver += 1
                    out.append((a, w, cnt, mx, ver))
                # else: past end + allowedLateness — dropped, like the
                # reference's WindowOperator
            else:
                for r in grp:
                    cnt += 1
                    mx = r[3] if mx is None or r[3] > mx else mx
            st[(a, w)] = (cnt, mx, fired, ver)
        if eoi:
            for (a, w) in sorted(st):
                cnt, mx, fired, ver = st[(a, w)]
                if not fired and cnt > 0:
                    out.append((a, w, cnt, mx, ver + 1))
            if state.exists:
                state.remove()
        else:
            state.update((pickle.dumps(st),))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "auction_id",
                    "w_start_s",
                    "bid_count",
                    "max_bid",
                    "emit_version",
                ],
            )

    bkt = F.explode(
        F.when(
            F.col("auction_id") >= 0,
            F.array(F.pmod(F.col("auction_id"), F.lit(n_buckets)).cast("int")),
        ).otherwise(F.sequence(F.lit(0), F.lit(n_buckets - 1)))
    ).alias("bkt")
    return (
        bids.withWatermark("ts", "2 seconds")
        .select("auction_id", "w_start_s", "us", "bid", "ts", bkt)
        .groupBy("bkt")
        .applyInPandasWithState(
            fn,
            outputStructType=LATE_WINDOW_OUTPUT,
            stateStructType=_BUCKETED_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def q5b_proc_time_flush(bids: DataFrame, flush_interval_ms: int = 10_000) -> DataFrame:
    """Q5b replica: accumulate per item key, flush on a *processing-time*
    timer (reference: now + 10 s, NexmarkQuery5b.java:204). Inherently
    nondeterministic — soak-tested, never oracle-gated (SURVEY.md §7)."""

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        auction_id = int(key[0])
        if state.hasTimedOut:
            max_bid, bid_count, last_ts_ns, _ = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "auction_id": [auction_id],
                    "w_start_s": [0],
                    "max_bid": [max_bid],
                    "bid_count": [bid_count],
                    "last_bid_ts_s": [last_ts_ns // 1_000_000_000],
                }
            )
            return
        max_bid, bid_count, last_ts_ns = float("-inf"), 0, 0
        if state.exists:
            max_bid, bid_count, last_ts_ns, _ = state.get
        for pdf in pdfs:
            if len(pdf):
                max_bid = max(max_bid, float(pdf["bid"].max()))
                bid_count += int(len(pdf))
                last_ts_ns = max(last_ts_ns, int(pdf["b_ts_ns"].max()))
        state.update((max_bid, bid_count, last_ts_ns, 0))
        state.setTimeoutDuration(flush_interval_ms)

    return (
        bids.withColumn("auction_id", F.col("item_id"))
        .groupBy("auction_id")
        .applyInPandasWithState(
            fn,
            outputStructType=HOT_ITEMS_OUTPUT,
            stateStructType=_HOT_ITEMS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


FUNNEL_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("view_us", LongType()),
        StructField("click_us", LongType()),
        StructField("purchase_us", LongType()),
        StructField("funnel_stage", IntegerType()),
    ]
)

_FUNNEL_STATE = StructType(
    [
        StructField("v_us", LongType()),
        StructField("c_us", LongType()),
        StructField("p_us", LongType()),
        StructField("buf_us", ArrayType(LongType())),
        StructField("buf_et", ArrayType(IntegerType())),
    ]
)

_FUNNEL_ET = {"view": 0, "click": 1, "purchase": 2}


def funnel_fold(v, c, p, us, et, window_us):
    """Stage-wise masked-min fold of a FINALIZED event set into the funnel
    state (v, c, p; -1 = unmatched). Equivalent to the batch chained-min
    because each stage's bound is fixed before the next stage filters on
    it — and chunking-invariant over time-partitioned prefixes (each
    later chunk's times all exceed the earlier ones, so no earlier match
    can hide in a later chunk); that invariance is the property
    hypothesis pins in tests/test_properties.py."""
    if v < 0:
        s = us[et == 0]
        if len(s):
            v = int(s.min())
    if v >= 0 and c < 0:
        s = us[(et == 1) & (us >= v)]
        if len(s):
            c = int(s.min())
    if c >= 0 and p < 0:
        s = us[(et == 2) & (us >= c) & (us <= v + window_us)]
        if len(s):
            p = int(s.min())
    return v, c, p


def funnel_stateful(
    events: DataFrame,
    flush_ms: int,
    window_us: int,
) -> DataFrame:
    """Streaming sequential pattern matcher — the CEP class (Flink's
    `CEP.pattern(A.followedBy(B).followedBy(C).within(T))`, which the
    reference's DataStream engine would express with a keyed
    ProcessFunction exactly like its Q8/QX state machines,
    `NexmarkQuery8.java:433-504`): per user, match the earliest `view`,
    the earliest `click` at-or-after it, and the earliest `purchase`
    at-or-after that click within `window_us` of the view.

    Watermark-correct under micro-batch disorder, the Flink-CEP
    discipline: arriving events are BUFFERED in state; each batch folds
    only the buffered prefix whose event time is at-or-below the current
    watermark (a finalized, complete prefix — so the stage-wise masked-min
    fold is exact regardless of arrival order within it), and keeps the
    rest pending. Matched state is the three timestamps (-1 = unmatched);
    the pending buffer is bounded by the watermark lag times the per-key
    rate, exactly Flink CEP's sort buffer.

    Emission is timer-driven, in the CONTINUOUS deployment shape — the
    reference's timer-per-auction pattern (NexmarkQueryX.java:465): a key
    with a matched view arms its event-time timer at ``view + window``;
    a key without one arms it at ``flush_ms`` (a horizon past the bounded
    input, the analog of Flink's end-of-input watermark flush, where the
    key folds its remaining buffer, emits once, and drops its state).
    When a ``view + window`` timer fires, the key's row is emitted and its
    state dropped iff the row is provably immutable under the batch
    semantics: view and click are watermark-finalized minima, and no
    future purchase can land inside ``[click, view + window]`` once the
    watermark passed ``view + window``. Because the batch semantics put
    NO upper bound on the click, a clickless key can still upgrade
    (stage 1 → 2) at any future time — those keys re-arm at ``flush_ms``
    and only settle at end-of-input (Flink CEP would bound them with the
    pattern's within(T); the batch oracle does not, so neither do we).
    Because Spark only delivers hasTimedOut to keys with NO data in the
    batch, the immutability check also runs on the data path — a
    steady-traffic key emits the moment the watermark proves its row,
    timer or not. After emission the state shrinks to a three-int
    tombstone (v = -2) that swallows later traffic — the batch oracle
    says one row per user, so a later view must NOT start a fresh match
    (Flink CEP's SKIP_PAST_LAST_EVENT would; a production deployment
    choosing that semantics just drops the tombstone). Tombstones are
    removed at the end-of-input horizon. Incremental emission before
    end-of-input is pinned by tests/test_continuous_cep.py; bounded
    replays whose emission timing is unobservable use
    ``funnel_stateful_bucketed`` (the same ``funnel_fold``)."""

    def _fold(v, c, p, us, et):
        return funnel_fold(v, c, p, us, et, window_us)

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        uid = int(key[0])

        def _emit_row(v, c, p):
            stage = 1 + int(c >= 0) + int(p >= 0)
            return pd.DataFrame(
                {
                    "user_id": [uid],
                    "view_us": [v],
                    "click_us": [c if c >= 0 else None],
                    "purchase_us": [p if p >= 0 else None],
                    "funnel_stage": [stage],
                }
            )

        if state.hasTimedOut:
            v, c, p, buf_us, buf_et = state.get
            if v == -2:  # emitted tombstone: nothing left to say
                state.remove()
                return
            wm_us = state.getCurrentWatermarkMs() * 1000
            if wm_us < flush_ms * 1000:
                # per-key horizon fired (watermark passed view + window,
                # but NOT end-of-input): fold the newly-finalized prefix,
                # then emit-and-drop iff the row can no longer change
                pend_us, pend_et = [], []
                if len(buf_us):
                    us = np.asarray(buf_us, dtype=np.int64)
                    et = np.asarray(buf_et, dtype=np.int64)
                    ready = us <= wm_us
                    v, c, p = _fold(v, c, p, us[ready], et[ready])
                    pend_us = us[~ready].tolist()
                    pend_et = et[~ready].tolist()
                if v >= 0 and c >= 0:
                    # view/click are finalized minima; wm > view + window
                    # rules out any future purchase match — immutable.
                    # Leave a tombstone so later events can't restart the
                    # match (keeps output ≡ the batch oracle's one row
                    # per user); it shrinks state to three ints and is
                    # removed at the end-of-input horizon
                    state.update((-2, -1, -1, [], []))
                    state.setTimeoutTimestamp(
                        max(flush_ms, state.getCurrentWatermarkMs() + 1)
                    )
                    yield _emit_row(v, c, p)
                else:
                    # clickless: stage may still upgrade (the batch
                    # semantics leave the click unbounded) — hold to the
                    # end-of-input horizon
                    state.update((v, c, p, pend_us, pend_et))
                    state.setTimeoutTimestamp(
                        max(flush_ms, state.getCurrentWatermarkMs() + 1)
                    )
                return
            state.remove()
            if len(buf_us):  # end-of-input: every pending event is final
                v, c, p = _fold(
                    v,
                    c,
                    p,
                    np.asarray(buf_us, dtype=np.int64),
                    np.asarray(buf_et, dtype=np.int64),
                )
            if v >= 0:
                yield _emit_row(v, c, p)
            return
        if uid < 0:  # flush sentinel: advances the watermark, carries no state
            return
        if state.exists:
            v, c, p, buf_us, buf_et = state.get
            if v == -2:  # emitted tombstone: swallow the traffic
                state.setTimeoutTimestamp(
                    max(flush_ms, state.getCurrentWatermarkMs() + 1)
                )
                return
            buf_us, buf_et = list(buf_us), list(buf_et)
        else:
            v, c, p, buf_us, buf_et = -1, -1, -1, [], []
        for pdf in pdfs:
            if not len(pdf):
                continue
            m = pdf["event_type"].map(_FUNNEL_ET)
            keep = m.notna()
            buf_us.extend(pdf["us"][keep].astype("int64").tolist())
            buf_et.extend(m[keep].astype("int64").tolist())
        wm_us = state.getCurrentWatermarkMs() * 1000
        if buf_us:
            us = np.asarray(buf_us, dtype=np.int64)
            et = np.asarray(buf_et, dtype=np.int64)
            ready = us <= wm_us
            if ready.any():
                v, c, p = _fold(v, c, p, us[ready], et[ready])
                pend = ~ready
                buf_us = us[pend].tolist()
                buf_et = et[pend].tolist()
        if v >= 0 and c >= 0 and wm_us > v + window_us:
            # the key's row is already immutable (view/click finalized
            # minima, watermark past view + window rules out any future
            # purchase): emit NOW, shrink state to the tombstone.
            # Necessary in the data path, not just the timeout branch —
            # Spark only delivers hasTimedOut to keys with no data in
            # the batch, so a steady-traffic key would otherwise never
            # fire its timer
            state.update((-2, -1, -1, [], []))
            state.setTimeoutTimestamp(
                max(flush_ms, state.getCurrentWatermarkMs() + 1)
            )
            yield _emit_row(v, c, p)
            return
        state.update((v, c, p, buf_us, buf_et))
        if v >= 0:
            # arm at the key's own immutability horizon
            # (view + window); clickless keys that outlive it re-arm at
            # the global horizon in the timeout branch above
            horizon_ms = (v + window_us) // 1000 + 1
            state.setTimeoutTimestamp(
                max(horizon_ms, state.getCurrentWatermarkMs() + 1)
            )
        else:
            state.setTimeoutTimestamp(
                max(flush_ms, state.getCurrentWatermarkMs() + 1)
            )
        return
        yield  # pragma: no cover — generator form

    return (
        events.withWatermark("ts", "2 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=FUNNEL_OUTPUT,
            stateStructType=_FUNNEL_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


SCD2_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("valid_from_us", LongType()),
        StructField("valid_to_us", LongType()),
        StructField("state_value", StringType()),
        StructField("version", IntegerType()),
        StructField("is_current", BooleanType()),
    ]
)


EWMA_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", IntegerType()),
        StructField("ewma_fp", LongType()),
        StructField("last_v_fp", LongType()),
    ]
)


# ---------------------------------------------------------------------------
# Bucketed keyed replays — one Python group call per bucket, not per key
# ---------------------------------------------------------------------------

_BUCKETED_STATE = StructType([StructField("blob", BinaryType())])


def bucketed_stateful(
    events: DataFrame,
    flush_ms: int,
    value_cols: list,
    fold_fn,
    final_fn,
    out_schema: StructType,
    n_buckets: int = 16,
    watermark: str = "30 seconds",
    batch_reduce=None,
) -> DataFrame:
    """Keyed-state replay with state coarsened to ``n_buckets`` hash
    buckets of user_id — the generic harness behind the ewma/scd2/
    funnel/skipgram replays (VERDICT r8 task 3: keying
    ``applyInPandasWithState`` by user pays one Python call + one Arrow
    group + one state (de)serialization PER KEY PER BATCH — ~2 s of pure
    machinery for 1500 keys at sf0.1, measured with a trivial counter fn
    — while the semantics only need per-USER ordering, which the bucket
    fn preserves internally). This is exactly the state-coarsening that
    ``transformWithState``'s operator-scoped state would give (that API
    needs google.protobuf in the Python workers); at real scale
    ``n_buckets`` rides the shuffle-partition count so state per bucket
    stays users/buckets-bounded. Local default 16 (r11 A/B at sf0.1, 8 state
    partitions: 64 buckets pay 64 group-call Arrow flushes for no extra
    parallelism — 8/16-bucket runs sit 0.2-0.3 s lower inside a ±0.25 s
    noise band).

    Watermark discipline is the Flink-CEP one ``funnel_stateful``
    documents: arriving rows buffer in bucket state; each batch folds, in
    (user, event-time, event_id) order, only the watermark-finalized
    prefix, via
    ``fold_fn(uid, ustate_or_None, rows) -> (ustate', out_rows)`` called
    once per (user, batch); the end-of-input flush timer folds the
    pending tail and emits ``final_fn(uid, ustate) -> out_rows``. The
    replay entries built on it (``user_value_ewma_stream_replay``,
    ``scd2_stream_replay``, ``funnel_conversion_stream_replay``,
    ``skipgram_pairs_stream_replay``) sit under their DuckDB oracles in
    tests/test_oracle_parity.py; tests/test_bucketed_stateful.py checks
    several users per bucket and the multi-batch timer path.

    END-OF-INPUT FAST PATH (r11, VERDICT r10 task 1): the flush sentinel
    (user_id < 0 — the bounded-replay analog of Flink's end-of-input
    watermark) is broadcast to EVERY bucket (the one-row sentinel
    explodes to ``n_buckets`` rows JVM-side), and a bucket that sees it
    folds everything it holds IN THE DATA BATCH — all rows are final at
    end-of-input by definition — emits, and drops its state without
    registering a timer. The file source delivers files in order and the
    sentinel file sorts last, so a bucket's sentinel can never precede
    its data. This collapses the pre-r11 shape (batch 1 pickles the full
    event set into bucket state; the trailing no-data batch unpickles,
    folds, and emits) into ONE Python pass with no state round-trip —
    the two-batch cost was the whole remaining streaming-overhead gap.
    Sentinel-less streams (the continuous deployment) keep the
    buffer-at-watermark / timer-flush discipline unchanged
    (tests/test_bucketed_stateful.py::test_multibatch_timer_path).

    State is one pickled blob per bucket: (stats dict uid->ustate,
    pending row list). Pickle here is INTERNAL state representation —
    emitted rows, the oracle-gated surface, never pass through it.

    ``batch_reduce(out_rows) -> out_rows`` (optional) collapses a
    bucket's emission batch before it crosses Arrow — for folds whose
    consumers aggregate anyway (skipgram: 400 K raw pairs per replay
    collapse to <=25 distinct (center, context) counts per bucket), the
    map-side combine that a JVM partial aggregate would do, applied at
    the operator boundary. Totals are batch-additive, so the multi-batch
    timer path emits partial counts per batch and the consumer's SUM is
    unchanged."""
    import pickle

    from itertools import groupby

    out_cols = [f.name for f in out_schema.fields]

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def fold_ready(stats, rows):
            rows.sort(key=lambda r: (r[0], r[1], r[2]))
            out = []
            for uid, grp in groupby(rows, key=lambda r: r[0]):
                ustate, emitted = fold_fn(uid, stats.get(uid), list(grp))
                stats[uid] = ustate
                out.extend(emitted)
            return out

        if state.hasTimedOut:
            stats, pending = pickle.loads(state.get[0])
            state.remove()
            out = fold_ready(stats, pending) if pending else []
            for uid in sorted(stats):
                out.extend(final_fn(uid, stats[uid]))
            if out:
                if batch_reduce is not None:
                    out = batch_reduce(out)
                yield pd.DataFrame(out, columns=out_cols)
            return
        if state.exists:
            stats, pending = pickle.loads(state.get[0])
        else:
            stats, pending = {}, []
        eoi = False  # end-of-input sentinel delivered in THIS batch
        for pdf in pdfs:
            if not len(pdf):
                continue
            uids = pdf["user_id"].astype("int64")
            keep = uids >= 0  # flush sentinel carries no event data
            if not keep.all():
                eoi = True
            if not keep.any():
                continue
            cols = [
                uids[keep].tolist(),
                pdf["us"][keep].astype("int64").tolist(),
                pdf["event_id"][keep].astype("int64").tolist(),
            ] + [pdf[c][keep].tolist() for c in value_cols]
            pending.extend(zip(*cols))
        if eoi:
            # end-of-input: every buffered row is final — fold in (user,
            # time, id) order, emit the finals, drop the bucket's state;
            # no timer, so the replay completes in this batch
            out = fold_ready(stats, pending) if pending else []
            for uid in sorted(stats):
                out.extend(final_fn(uid, stats[uid]))
            if state.exists:
                state.remove()
            if out:
                if batch_reduce is not None:
                    out = batch_reduce(out)
                yield pd.DataFrame(out, columns=out_cols)
            return
        wm_us = state.getCurrentWatermarkMs() * 1000
        out = []
        if pending:
            ready = [r for r in pending if r[1] <= wm_us]
            if ready:
                pending = [r for r in pending if r[1] > wm_us]
                out = fold_ready(stats, ready)
        state.update((pickle.dumps((stats, pending)),))
        state.setTimeoutTimestamp(
            max(flush_ms, state.getCurrentWatermarkMs() + 1)
        )
        if out:
            if batch_reduce is not None:
                out = batch_reduce(out)
            yield pd.DataFrame(out, columns=out_cols)

    sel = ["user_id", "us", "event_id", *value_cols, "ts"]
    # normal rows take their hash bucket; the one-row end-of-input sentinel
    # (user_id < 0) explodes to EVERY bucket so each group can flush in the
    # data batch (one extra row per bucket, JVM-side)
    bkt = F.explode(
        F.when(
            F.col("user_id") >= 0,
            F.array(F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int")),
        ).otherwise(F.sequence(F.lit(0), F.lit(n_buckets - 1)))
    ).alias("bkt")
    return (
        events.withWatermark("ts", watermark)
        .select(*sel, bkt)
        .groupBy("bkt")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=_BUCKETED_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def ewma_stateful_bucketed(events: DataFrame, flush_ms: int) -> DataFrame:
    """Continuously-maintained quantized EWMA feature — the streaming
    form of the batch ``user_value_ewma`` fold: per user, the fixed-point
    recursion acc = (acc + v_fp) DIV 2 advances as each event is
    watermark-finalized, in (event-time, event_id) order (an EWMA folded
    out of order is a different number — the order gate IS the
    correctness condition). The feature row is emitted only at the
    end-of-input flush (append-mode-sound: the full-history EWMA is final
    only when input ends), which lets the replay share the batch oracle
    verbatim. Bucketed state: 2.3 s vs 3.8 s for one group per user at
    sf0.1 (min-of-3 alternating)."""

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

    return bucketed_stateful(
        events, flush_ms, ["v_fp"], fold, final, EWMA_OUTPUT
    )


def scd2_stateful_bucketed(events: DataFrame, flush_ms: int) -> DataFrame:
    """Streaming CDC merge — maintain an SCD type-2 dimension from the
    event changelog as it arrives (the continuous form of the batch
    ``scd2_user_state``): per user, compress no-op updates and emit each
    closed validity interval the moment its successor's event time is
    finalized by the watermark (immutable when emitted, so append-mode
    sound); the still-open interval emits at the flush horizon with
    is_current = true. Incremental emission before end-of-input is pinned
    by tests/test_continuous_cep.py."""

    def fold(uid, ustate, rows):
        cur_state, cur_from, ver = ustate or ("", -1, 0)
        closed = []
        for r in rows:
            e = r[3]
            if ver == 0 or e != cur_state:
                if ver > 0:
                    closed.append(
                        (uid, int(cur_from), int(r[1]), cur_state, int(ver), False)
                    )
                cur_state, cur_from, ver = e, int(r[1]), ver + 1
        return (cur_state, cur_from, ver), closed

    def final(uid, ustate):
        cur_state, cur_from, ver = ustate
        if ver > 0:
            return [(uid, int(cur_from), None, cur_state, int(ver), True)]
        return []

    return bucketed_stateful(
        events, flush_ms, ["event_type"], fold, final, SCD2_OUTPUT,
        watermark="2 seconds",
    )


def funnel_stateful_bucketed(
    events: DataFrame, flush_ms: int, window_us: int
) -> DataFrame:
    """Bucketed form of ``funnel_stateful`` — the identical stage-wise
    masked-min fold (``funnel_fold``, chunking-invariant over the
    watermark-finalized prefixes the harness delivers), one row per user
    with a matched view, emitted at the flush horizon. ``funnel_stateful``
    remains the CONTINUOUS deployment form (per-key timers,
    emit-when-provably-immutable, pinned live by
    tests/test_continuous_cep.py); this form carries the bounded-replay
    entry, where emission timing is unobservable and the per-key Python
    group-call machinery was the dominant cost (3.1-3.4 s -> ~2 s at
    sf0.1)."""
    import numpy as np

    def fold(uid, ustate, rows):
        v, c, p = ustate or (-1, -1, -1)
        us, et = [], []
        for r in rows:
            code = _FUNNEL_ET.get(r[3])
            if code is None:
                continue
            us.append(r[1])
            et.append(code)
        if us:
            v, c, p = funnel_fold(
                v,
                c,
                p,
                np.asarray(us, dtype=np.int64),
                np.asarray(et, dtype=np.int64),
                window_us,
            )
        return (v, c, p), []

    def final(uid, ustate):
        v, c, p = ustate
        if v < 0:
            return []
        stage = 1 + int(c >= 0) + int(p >= 0)
        return [
            (uid, int(v), int(c) if c >= 0 else None,
             int(p) if p >= 0 else None, stage)
        ]

    return bucketed_stateful(
        events, flush_ms, ["event_type"], fold, final, FUNNEL_OUTPUT
    )


SKIPGRAM_COUNT_OUTPUT = StructType(
    [
        StructField("center", StringType()),
        StructField("context", StringType()),
        StructField("cnt", LongType()),
    ]
)


def skipgram_stateful_counted(events: DataFrame, flush_ms: int) -> DataFrame:
    """Streaming training-example generation — word2vec-style (center,
    context) skip-gram pairs (window ±2, symmetric) from per-user event
    sequences as they arrive, the online counterpart of the batch
    ``skipgram_pairs`` window pass: each watermark-finalized event e, in
    (event-time, event_id) order, pairs with the two predecessors p1/p2
    held in state ((p1,e),(e,p1),(p2,e),(e,p2), exactly the batch
    lead(1)/lead(2) pairs), then shifts p2←p1, p1←e.

    The map-side combine is applied at the operator boundary: the
    event-type vocabulary is tiny, so a bucket's ~25 K raw pairs per
    replay collapse to <=25 distinct (center, context, cnt) rows before
    crossing Arrow — exactly the partial aggregation the consumer (a
    global pair-count) would force the engine to do anyway, done where
    the data is. Per-batch counts are additive, so the multi-batch timer
    path stays correct under the consumer's SUM. The registry entry
    ``skipgram_pairs_stream_replay`` sits under its DuckDB oracle."""
    from collections import Counter

    def fold(uid, ustate, rows):
        p1, p2 = ustate or (None, None)
        out = []
        for r in rows:
            e = r[3]
            if p1 is not None:
                out.append((p1, e))
                out.append((e, p1))
            if p2 is not None:
                out.append((p2, e))
                out.append((e, p2))
            p2, p1 = p1, e
        return (p1, p2), out

    def final(uid, ustate):
        return []

    def reduce_counts(out):
        return [(c, x, n) for (c, x), n in sorted(Counter(out).items())]

    return bucketed_stateful(
        events,
        flush_ms,
        ["event_type"],
        fold,
        final,
        SKIPGRAM_COUNT_OUTPUT,
        watermark="2 seconds",
        batch_reduce=reduce_counts,
    )
