"""Table writers + maintenance jobs (SURVEY §7.1 Iceberg-format note;
BASELINE.json north-star: "Spark DataFrame read/write + compaction jobs").

Local builds write plain partitioned Parquet. The same writer targets an
Apache Iceberg table (`format("iceberg")`) when an Iceberg catalog is
configured on the session; none is configured here. Compaction is the small-files
maintenance job: rewrite a partitioned table into ~target-sized files,
preserving partitioning — on Iceberg this maps to
`rewrite_data_files`; on Parquet it is a repartition-and-rewrite.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import iceberg_catalog


def write_table(
    df: DataFrame,
    path_or_table: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    use_iceberg: bool | None = None,
) -> None:
    """Write a table: Iceberg when requested or, by default, when an
    Iceberg catalog is configured on the session (`catalog.iceberg_catalog`,
    the same test `CatalogTable` uses), else Parquet.

    Partition columns should be low-cardinality (e.g. `sequence`,
    a date bucket) — at 100 TB, partitioning by a high-cardinality key
    creates the small-files problem compaction exists to fix.
    """
    if use_iceberg is None:
        use_iceberg = iceberg_catalog(df.sparkSession) is not None
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if use_iceberg:
        writer.format("iceberg").saveAsTable(path_or_table)
    else:
        writer.parquet(path_or_table)


def compact_parquet_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> dict:
    """Small-files compaction: rewrite `path` with ~target-sized files.

    Reads the table, estimates current on-disk size, repartitions to
    `ceil(size / target)` output files (per partition-dir when
    `partition_cols` given), and rewrites atomically via a temp dir +
    rename. Returns {files_before, files_after, bytes}.

    On an Iceberg catalog this whole job is
    `CALL catalog.system.rewrite_data_files(table => ...)`; this is the
    plain-Parquet equivalent for the local path.
    """

    def _list_parquet_files(p: str):
        out = []
        for root, _dirs, files in os.walk(p):
            out.extend(
                os.path.join(root, f) for f in files if f.endswith(".parquet")
            )
        return out

    before = _list_parquet_files(path)
    total_bytes = sum(os.path.getsize(f) for f in before)
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))

    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    if partition_cols:
        # Hash-repartitioning on the partition columns alone would put
        # ALL rows of each partition value in one task → exactly one
        # file per partition directory regardless of size. A salt
        # bounded by files-per-partition keeps each directory at
        # ~target-sized files. The partition count comes free from the
        # file walk WHEN the table is already laid out by these columns
        # (dirnames look like `<col>=`); for a flat→partitioned rewrite
        # that walk would report 1 and over-split, so fall back to a
        # distinct scan of the partition columns.
        dirs = {os.path.dirname(f) for f in before}
        if dirs and all(f"{partition_cols[0]}=" in d for d in dirs):
            n_parts = len(dirs)
        else:
            n_parts = df.select(*partition_cols).distinct().count()
        n_parts = max(1, n_parts)
        per_dir = max(1, math.ceil(n_files / max(1, n_parts)))
        salted = df.withColumn(
            "_salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(per_dir)),
        )
        (
            salted.repartition(
                max(n_files, n_parts), *[F.col(c) for c in partition_cols], F.col("_salt")
            )
            .drop("_salt")
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(tmp)
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)

    # Atomic-ish swap (local filesystem): remove old, rename tmp.
    import shutil

    shutil.rmtree(path)
    os.rename(tmp, path)
    after = _list_parquet_files(path)
    return {
        "files_before": len(before),
        "files_after": len(after),
        "bytes": total_bytes,
    }


def write_media_files(media: DataFrame, out_dir: str, ext: str) -> None:
    """Media sink (SURVEY S16-S18): write each blob row back out as a
    real file `{media_id:08d}.{ext}` — the inverse of the binaryFile
    scan. Runs as a foreachPartition job, so every executor writes its
    partition's files in parallel; on a cluster `out_dir` is shared
    storage (the same contract as any file sink). Combined with the
    real codecs (imagecodec/audiocodec) this closes the loop: scan →
    decode → transform → encode → write → re-scan."""

    def _write(rows) -> None:
        import os
        os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            with open(os.path.join(out_dir, f"{r['media_id']:08d}.{ext}"), "wb") as f:
                f.write(bytes(r["content"]))

    media.select("media_id", "content").foreachPartition(_write)
