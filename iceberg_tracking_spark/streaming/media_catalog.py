"""Ingest-time media-catalog maintenance: foreachBatch header-parse
of newly arrived blobs merged into a VersionedTable.

q_media_catalog's own docstring argues a production catalog belongs at
INGEST — re-cataloging a 100-TB corpus per query is the wrong shape
even with the bounded head-bytes scan. This module makes that real in
the house pattern (streaming/dedup_gate.py, streaming/drift.py): the
stream carries file-arrival NOTIFICATIONS (path, file_size) — the
shape a cloud file-notification feed or an object-store inventory
delta provides — and each micro-batch runs the SAME bounded scan the
batch query uses (operators/mediacatalog.py:catalog_from_listing —
head_bytes per file, full-read fallback only on _NeedMore), appending
one catalog row per blob.

Per batch the work is batch-sized: a metadata-only repartition of the
notification rows plus head reads — no corpus rescan ever. Exactly-
once: commits carry the (app_id, batch_id) txn token inside the
VersionedTable's atomic manifest swap, so a redelivered batch is a
no-op (same discipline as streaming/materialized.py).

The batch-mode contract is plans/queries_ml.py:q_media_catalog;
tests/test_streaming.py proves streamed ≡ batch row-for-row — the
13th streaming-maintained structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import VersionedTable
from .materialized import EXPIRE_KEEP


def make_media_catalog_fn(
    catalog: VersionedTable,
    app_id: str,
    head_bytes: int = 65536,
):
    """The foreachBatch callable. Each batch of (path, file_size)
    notifications is head-parsed (bounded IO) and appended to
    `catalog` as (media_id, n_bytes, format, codec, width, height,
    has_alpha, is_animated, decodable) — the exact q_media_catalog
    row shape, so the maintained table IS the query's result for the
    files seen so far."""
    from ..operators.mediacatalog import catalog_from_listing
    from ..operators.multimodal import path_media_id

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= catalog.last_txn(app_id):
            return  # redelivery: already committed
        cat = catalog_from_listing(
            batch_df.select("path", "file_size"), head_bytes=head_bytes
        )
        rows = cat.select(
            path_media_id().alias("media_id"),
            F.col("file_size").alias("n_bytes"),
            "format", "codec", "width", "height",
            "has_alpha", "is_animated", "decodable",
        )
        catalog.write(rows, mode="append", txn=(app_id, int(batch_id)))
        catalog.expire(keep_last=EXPIRE_KEEP)

    return _ingest
