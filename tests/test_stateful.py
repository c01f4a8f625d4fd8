"""Multi-micro-batch check of the bucketed funnel: keyed state must fold
across many time-sliced batches and the end-of-input flush must emit the
complete, batch-identical funnel."""

import tempfile

from nexmark_vanilla_flink_spark.plans.linkage import (
    _FUNNEL_WINDOW_US,
    funnel_conversion,
)
from nexmark_vanilla_flink_spark.streaming.runner import run_available_now
from nexmark_vanilla_flink_spark.streaming.stateful import funnel_stateful_bucketed

from .test_continuous_cep import _sliced_source


def test_funnel_stateful_multi_microbatch_equals_batch(spark, sf_dir):
    """CEP state machine across MANY micro-batches: events split into 6
    time-ranged files + the flush sentinel, one file per trigger — state
    must fold across batches (a user's view in batch 1, click in batch 3,
    purchase in batch 5) and the end-of-input flush must emit the
    complete, batch-identical funnel."""
    with tempfile.TemporaryDirectory(prefix="funnel_mb_") as d:
        sdf, flush_ms = _sliced_source(spark, sf_dir, d)
        out = run_available_now(
            funnel_stateful_bucketed(sdf, flush_ms, _FUNNEL_WINDOW_US),
            output_mode="append",
            name="funnel_mb",
        )
        got = {
            r.user_id: (r.view_us, r.click_us, r.purchase_us, r.funnel_stage)
            for r in out.collect()
        }
    want = {
        r.user_id: (r.view_us, r.click_us, r.purchase_us, r.funnel_stage)
        for r in funnel_conversion(spark, sf_dir).collect()
    }
    assert got == want
