"""Incrementally-maintained ALS user factors: streaming interactions
folded into a per-user Gram-sum table; factors solved on demand.

The 100 TB shape: a recommender's interaction stream never stops, and
rebuilding per-user normal equations from history on every refresh is
a full-corpus scan. The sufficient statistics are ADDITIVE exact
integers (operators/als.py:gram_sums — DECIMAL(38,0) Gram sums +
counts), so each micro-batch contributes only its own delta via
`VersionedTable.merge_aggregate` — O(delta) per batch — and
`solve_factors` over the maintained table is BIT-IDENTICAL to a batch
rebuild over all history (no approximation, no staleness window).
This is the model-maintenance sibling of the streaming ANN index /
dedup gate / drift monitor: same foreachBatch + txn-gate pattern,
same shared-operator guarantee that streamed == batch.

Exactly-once: merge_aggregate double-counts on redelivery, so each
merge commits the (app_id, batch_id) token inside the same atomic
manifest swap as the data; a replayed batch is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.als import GRAM_SUM_COLS, gram_sums
from ..sources.catalog import VersionedTable

__all__ = ["make_als_merge_fn"]


def make_als_merge_fn(
    table: VersionedTable,
    factors: DataFrame,
    app_id: str,
    user_col: str = "o_custkey",
    item_col: str = "l_partkey",
):
    """The foreachBatch callable: join one micro-batch of raw
    (user_col, item_col, r) interactions against the static item-factor
    table (broadcast — the stream-static join every ALS serving layer
    runs), aggregate the batch's per-user Gram-sum delta, and fold it
    into `table` (schema: user_col + GRAM_SUM_COLS), gated on the
    manifest's (app_id, batch_id) token for replay idempotency.

    `factors` is captured as a DataFrame plan, not collected: unlike
    the drift monitor's ≤9-row edge list, the item-factor table is
    |items| rows — small enough to broadcast per batch, too big to
    inline as literals. It must be a cheap scan (a parquet read or an
    in-memory relation), because it re-executes once per micro-batch.
    """

    from .materialized import make_aggregate_merge_fn

    def _delta(batch_df: DataFrame) -> DataFrame:
        inter = batch_df.join(
            F.broadcast(factors),
            batch_df[item_col] == factors["p_partkey"],
        )
        return gram_sums(inter, user_col=user_col)

    return make_aggregate_merge_fn(
        table,
        _delta,
        [user_col],
        GRAM_SUM_COLS,
        app_id=app_id,
    )
