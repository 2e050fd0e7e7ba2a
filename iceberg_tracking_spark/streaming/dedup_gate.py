"""Incremental near-dup gate: foreachBatch MinHash-LSH dedup of a
document stream against a maintained signature index.

The production ingestion shape at 100 TB: new documents arrive in
micro-batches; each batch is gated against every document EVER SEEN
(not just the accepted ones — "seen-similar-before": the earlier doc
wins even if it was itself dropped, which is what makes the result
independent of how the stream is chopped into batches), survivors are
appended to the accepted corpus, and ALL batch signatures are appended
to the index. Per batch the work is:

* signature build over the batch only (operators/textdedup.py —
  one shuffle, batch-sized);
* one left-semi probe of the batch bands against the index's DISTINCT
  (band, band_key) set — an EXISTS check, never a pair enumeration, so
  no hot-bucket cap is needed and a popular bucket costs one hash
  lookup, not k² pairs;
* one window min within the batch (first-arrival inside the batch,
  ordered by doc_id).

Exactly-once: both tables commit with the (app_id, batch_id) txn token
inside the atomic manifest swap (same pattern as streaming/
materialized.py and streaming/ann_index.py); a redelivered batch is a
no-op. The batch-mode contract is plans/queries_llm.py:q_neardup_gate —
tests/test_streaming.py proves streamed keepers == the batch keeper set
when batches arrive in doc_id order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.textdedup import minhash_bands, rejected_by_earlier
from ..sources.catalog import VersionedTable
from .materialized import EXPIRE_KEEP


def make_neardup_gate_fn(
    index: VersionedTable,
    accepted: VersionedTable,
    app_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The foreachBatch callable. `index` accumulates (doc_id, band,
    band_key) for EVERY seen doc; `accepted` accumulates the surviving
    document rows. Gating on `index.last_txn` makes a redelivered batch
    a no-op for both tables (accepted commits second with the same
    token; if a crash lands between the two commits, the redelivery
    skips the index append — already committed — and re-commits only
    the missing accepted rows, which the accepted-side token gate
    makes idempotent too)."""

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bands = minhash_bands(
            batch_df, text_col=text_col, id_col=id_col
        ).localCheckpoint()  # 2 consumers (reject probe, index append)
        prior = (
            index.read(spark) if index.current_version() is not None else None
        )
        if prior is not None:
            # Exclude this batch's own doc_ids from the prior view: on a
            # redelivery where the index append committed but the
            # accepted append did not, the naive prior would contain the
            # batch's own signatures and self-reject every document.
            # (Normal path: batch ids are absent from prior — no-op.)
            prior = prior.join(
                bands.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        if batch_id > index.last_txn(app_id):
            index.write(bands, mode="append", txn=(app_id, int(batch_id)))
            index.expire(keep_last=EXPIRE_KEEP)
        if batch_id > accepted.last_txn(app_id):
            rejected = rejected_by_earlier(bands, prior_bands=prior)
            keepers = batch_df.join(
                rejected.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
            )
            accepted.write(keepers, mode="append", txn=(app_id, int(batch_id)))
            accepted.expire(keep_last=EXPIRE_KEEP)

    return _gate
