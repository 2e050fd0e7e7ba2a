"""Incrementally-maintained rollups: streaming deltas into a
materialized aggregate table.

The 100 TB shape this serves: a dashboard table like
`per (user, event_type): total value, event count` over an unbounded
stream. Recomputing it per batch is O(history); maintaining it is
O(delta). Each micro-batch aggregates ONLY its own rows (map-side
partial agg, tiny shuffle on the delta keys) and folds them into the
table with `VersionedTable.merge_aggregate` (old + delta per column).

Exactly-once: foreachBatch re-delivers a batch after a failure, and an
additive merge applied twice double-counts — so each merge commits a
(app_id, batch_id) transaction token INSIDE the same atomic manifest
swap as the data (`VersionedTable.write(txn=...)`, the Delta/Iceberg
txn pattern: there is no window where data landed but the token did
not). `app_id` is the checkpoint location, so distinct streams
maintaining one table gate independently, and resetting a checkpoint
(new app_id... same path means same id) keeps the documented
semantics: reprocessing the same checkpoint path into an existing
table is skipped; pointing a NEW checkpoint at the table deliberately
re-folds — callers reprocessing from scratch should start an empty
table.

Snapshot retention: every merge commits a full immutable snapshot, so
an unbounded stream would otherwise accumulate one table copy per
micro-batch; every merge then prunes to the newest `EXPIRE_KEEP`
versions (time travel across recent batches stays available).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from ..sources.catalog import VersionedTable

# Snapshots every streaming-maintained table keeps after each commit.
EXPIRE_KEEP = 10


def last_merged_batch(table: VersionedTable, app_id: str) -> int:
    """Latest batch id committed for this stream, -1 if none."""
    return table.last_txn(app_id)


def make_merge_fn(
    table: VersionedTable,
    key_cols: list[str],
    value_col: str,
    app_id: str,
):
    """The foreachBatch callable: (sum, count) delta of one micro-batch
    folded into `table`, gated on the manifest's (app_id, batch_id)
    token for replay idempotency. Exposed separately so redelivery
    behavior is directly testable."""

    def _delta(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(*key_cols).agg(
            F.sum(value_col).alias("sum_value"),
            F.count(F.lit(1)).alias("n_events"),
        )

    return make_aggregate_merge_fn(
        table,
        _delta,
        key_cols,
        ["sum_value", "n_events"],
        app_id=app_id,
    )


def incremental_rollup(
    stream: DataFrame,
    table: VersionedTable,
    key_cols: list[str],
    value_col: str,
    checkpoint: str,
):
    """Start a streaming query maintaining `table` as the running
    (sum, count) rollup of `value_col` per `key_cols`. Returns the
    StreamingQuery; callers own `stop()`."""
    return (
        stream.writeStream.foreachBatch(
            make_merge_fn(table, key_cols, value_col, app_id=checkpoint)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )


def make_aggregate_merge_fn(
    table: VersionedTable,
    delta_fn,
    key_cols: list[str],
    sum_cols: list[str],
    app_id: str,
):
    """Generic txn-gated additive fold — the shape every maintained
    structure in streaming/ shares (rollups, ALS Gram sums, mSPRT
    day moments, Mann-Whitney grid counts): `delta_fn(batch_df)` maps
    one micro-batch to its ADDITIVE delta relation (key_cols +
    sum_cols, all exact integer/decimal sums), which merge_aggregate
    folds as old + delta under the (app_id, batch_id) replay gate.

    Any batch query of the form `f(aggregate(stream))` whose aggregate
    is additive becomes streaming-maintained by passing its aggregate
    stage here and running `f` over `table.read(spark)` on demand —
    bit-identical to the batch rebuild because integer addition is
    associative-commutative (the shared-operator guarantee the ALS /
    mSPRT / drift parity tests pin)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= table.last_txn(app_id):
            return  # redelivered batch: already committed, skip
        table.merge_aggregate(
            delta_fn(batch_df), key_cols, sum_cols, txn=(app_id, batch_id)
        )
        table.expire(keep_last=EXPIRE_KEEP)

    return _merge
