"""Incrementally-maintained drift monitor: streaming micro-batches
folded into a per-bin count table against FROZEN reference edges.

The 100 TB shape: the reference histogram is built once (exact
order-statistic decile edges, operators/binning.py — the same code
path as the batch q_psi query, so streamed and batch monitors agree
on boundary ties by construction). Each arriving micro-batch is then
bucketed by those frozen edges and its per-bin counts are ADDED into
a maintained `(bin, n_cur)` table — O(delta) per batch, never a
rescan of history. PSI against the reference is a ≤n_bins-row
computation over the maintained table whenever anyone asks.

Exactly-once: per-bin counts are additive, so a redelivered batch
would double-count; each merge commits the (app_id, batch_id) txn
token inside the same atomic manifest swap as the data
(streaming/materialized.py pattern) and redelivery is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.binning import bin_counts_by_edges, psi_from_counts
from ..sources.catalog import VersionedTable
from .materialized import make_aggregate_merge_fn

__all__ = ["make_drift_merge_fn", "psi_from_counts"]


def make_drift_merge_fn(
    table: VersionedTable,
    edges: DataFrame,
    app_id: str,
    value_col: str,
    key_col: str,
):
    """The foreachBatch callable: bucket one micro-batch by the frozen
    `edges` and fold its per-bin counts into `table` (schema:
    bin, n_cur), gated on the manifest's (app_id, batch_id) token for
    replay idempotency.

    The edges are MATERIALIZED here, once: `edges` is usually the lazy
    `reference_edges` plan (a distributed rank over the whole
    reference population), and capturing the plan would re-execute
    that rank on EVERY micro-batch — a full reference scan to bucket a
    1-row delta. The edge list is ≤ n_bins-1 values by construction,
    so collecting it and re-emitting a literal relation keeps each
    batch O(delta)."""

    edge_proj = edges.select("edge")
    # Re-emit with the SOURCE's edge type: a double/decimal feature
    # column must stay double/decimal, or bucketing at the first
    # micro-batch would mistype (or createDataFrame would raise).
    edge_schema = edge_proj.schema
    edge_vals = [r["edge"] for r in edge_proj.collect()]

    def _delta(batch_df: DataFrame) -> DataFrame:
        frozen = batch_df.sparkSession.createDataFrame(
            [(v,) for v in edge_vals], edge_schema
        )
        return bin_counts_by_edges(batch_df, frozen, value_col, key_col, out="n_cur")

    return make_aggregate_merge_fn(table, _delta, ["bin"], ["n_cur"], app_id=app_id)
