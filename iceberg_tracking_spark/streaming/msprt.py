"""Incrementally-maintained mSPRT experiment monitor: streaming events
folded into a per-day moment table; the always-valid p-curve computed
on demand.

The 100 TB shape: an experimentation platform watches every running
A/B test continuously, and recomputing per-day moments from the full
event history on every peek is a full-stream scan. The sufficient
statistics are ADDITIVE exact integers (operators/msprt.py:
daily_moments — BIGINT counts, DECIMAL(38,0) cents sums and squares),
so each micro-batch contributes only its own per-day delta via
`VersionedTable.merge_aggregate` — O(delta) per batch — and
`msprt_from_daily` over the maintained table is BIT-IDENTICAL to the
batch q_msprt over all history (no approximation, no staleness
window). Seventh streaming-maintained structure, beside the ANN
index, dedup gate, drift monitor, materialized rollups, ALS factors
and the tracker state; it completes the experimentation family
(q_cuped → q_msprt → q_benjamini_hochberg) end-to-end streaming.

Exactly-once: merge_aggregate double-counts on redelivery, so each
merge commits the (app_id, batch_id) token inside the same atomic
manifest swap as the data; a replayed batch is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.msprt import MSPRT_MOMENT_COLS, daily_moments
from ..sources.catalog import VersionedTable

__all__ = ["make_msprt_merge_fn"]


def make_msprt_merge_fn(
    table: VersionedTable,
    app_id: str,
):
    """The foreachBatch callable: aggregate one micro-batch of raw
    (ts, user_id, value) events into its per-day moment delta and fold
    it into `table` (schema: day_num + MSPRT_MOMENT_COLS), gated on
    the manifest's (app_id, batch_id) token for replay idempotency.

    A batch spanning a day boundary simply contributes deltas to two
    day rows; late events fold into their own (possibly old) day row
    — the moments are additive, so arrival order never matters."""
    from .materialized import make_aggregate_merge_fn

    return make_aggregate_merge_fn(
        table,
        daily_moments,
        ["day_num"],
        MSPRT_MOMENT_COLS,
        app_id=app_id,
    )
