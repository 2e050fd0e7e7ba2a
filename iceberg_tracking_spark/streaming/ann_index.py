"""Streaming maintenance of the LSH ANN index (r5 verdict task #7).

The batch index behind `operators/similarity.lsh_bucket_topk` is the
relation (vec_id, sig, e, nrm): signature + pre-computed norm per
corpus vector, bucketed by the signature equi-join at query time. On a
live corpus (documents/embeddings arriving continuously) rebuilding it
per batch is O(corpus); maintaining it is O(delta) — each micro-batch
signs ONLY its own vectors (pure Catalyst expressions, no shuffle) and
upserts them into a `VersionedTable` keyed by vec_id, so re-ingested
ids replace their old index rows (embedding refresh) and new ids
append.

This is the same merge-law pattern proven for the HLL / histogram
sketches (streaming/materialized.py): the index is a keyed relation
whose maintenance operation (upsert by vec_id) commutes with batching
— ANY split of the corpus into micro-batches folds to the identical
table, which the parity test asserts against the one-shot batch build
(streamed index ≡ batch index, then lsh_bucket_topk over the
maintained table ≡ over the fresh corpus).

Exactly-once: foreachBatch redelivery is gated on the manifest's
(app_id, batch_id) token (`VersionedTable.upsert(txn=...)` commits it
inside the same atomic manifest swap), mirroring make_merge_fn.

At 100 TB: the upsert's anti-join is keyed by vec_id — one shuffle of
index ∪ delta, where the delta side is micro-batch-sized and broadcast;
the table is hive-partitioned by `sig_pfx` (the low `PFX_BITS` of the
signature, declared at table creation and inherited by every later
merge), so a query-time bucket probe that filters on sig_pfx reads
only its own partition directories — partition pruning at the
listing level, before any parquet footer is touched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import _cosine_topk, norm, signature_lsh
from ..sources.catalog import VersionedTable
from .materialized import EXPIRE_KEEP


PFX_BITS = 4  # sig_pfx = sig mod 2^PFX_BITS → 16 partition directories


def index_rows(vectors: DataFrame, dim: int) -> DataFrame:
    """The index relation for a (batch or micro-batch of) vectors:
    (vec_id, e, sig, sig_pfx, nrm). Pure per-row Catalyst expressions —
    the signature and norm are the only things the query-time bucket
    join needs, precomputed at write time (the standard index trade:
    pay once on ingest, never per query). `sig_pfx` is the partition
    key: coarse enough (2^PFX_BITS dirs) to avoid small files, fine
    enough that a single-bucket probe reads 1/2^PFX_BITS of the
    table's files."""
    return signature_lsh(vectors, "e", dim).select(
        "vec_id",
        "e",
        "sig",
        F.pmod(F.col("sig"), F.lit(1 << PFX_BITS)).alias("sig_pfx"),
        norm(F.col("e")).alias("nrm"),
    )


def make_index_merge_fn(table: VersionedTable, dim: int, app_id: str):
    """The foreachBatch callable maintaining the LSH index table.
    Exposed separately (same contract as materialized.make_merge_fn)
    so batching splits and redelivery are directly testable without a
    live stream."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= table.last_txn(app_id):
            return  # redelivered batch: already committed, skip
        table.upsert(
            index_rows(batch_df, dim),
            ["vec_id"],
            txn=(app_id, int(batch_id)),
            # declared once at table birth, inherited by later merges
            partition_by_on_create=["sig_pfx"],
        )
        table.expire(keep_last=EXPIRE_KEEP)

    return _merge


def streaming_lsh_index(
    stream: DataFrame, table: VersionedTable, dim: int, checkpoint: str
):
    """Start a streaming query maintaining `table` as the live LSH
    index of the vector stream (vec_id, e). Returns the StreamingQuery;
    callers own `stop()`. app_id = checkpoint location, as in
    materialized.incremental_rollup."""
    return (
        stream.writeStream.foreachBatch(
            make_index_merge_fn(table, dim, app_id=checkpoint)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )


def bucket_topk_from_index(
    index: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """lsh_bucket_topk's search stage over a MAINTAINED index relation
    (`index_rows`: vec_id, e, sig, sig_pfx, nrm) instead of signing the
    corpus inline — the read path of the streamed index. `queries`
    carries (qid, qe, sig, qnrm): the query vector with its signature
    and norm. Identical semantics: bucket equi-join on sig, exact
    cosine re-rank, top-k per query.

    The `sig_pfx` partition column joins as a SECOND equi-key (derived
    from sig, so semantics-preserving): joining on the partition column
    lets Spark's dynamic partition pruning skip every partition
    directory no query signature maps to — the broadcast query side
    becomes the pruning subquery."""
    q = queries.withColumn("sig_pfx", F.pmod(F.col("sig"), F.lit(1 << PFX_BITS)))
    pairs = (
        F.broadcast(q)
        .join(index, ["sig_pfx", "sig"])
        .filter(F.col("vec_id") != F.col("qid"))
    )
    return _cosine_topk(pairs, k, "vec_id", "qe", "e", "qnrm", "nrm")
