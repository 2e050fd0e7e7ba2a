"""MOT-Challenge CSV source/sink (SURVEY §2.1 S1, S2, S11, S12, S14).

The reference parses `frame,id,l,t,w,h,conf,x,y,z` lines one at a time,
skipping malformed rows (reference helpers.py:339-395) and zero-padding
numeric frame ids to six digits (reference helpers.py:368-373). Here the
same semantics are a schema'd CSV scan in PERMISSIVE mode with a
`_corrupt_record` column, plus an `lpad` normalization — fully
distributed and pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import MOT_CSV_SCHEMA


def normalize_frame(col: F.Column) -> F.Column:
    """Zero-pad numeric frame ids to width 6; pass strings through.

    Mirrors reference helpers.py:368-373 (`f"{int(frame):06d}"` when the
    id parses as an int, else the raw image stem).
    """
    as_int = col.cast("int")
    return F.when(as_int.isNotNull(), F.format_string("%06d", as_int)).otherwise(col)


def read_mot_csv(
    spark: SparkSession,
    path: str,
    sequence: str | None = None,
) -> DataFrame:
    """Read a MOT det/gt/track CSV into the canonical detections shape.

    Malformed rows land in `_corrupt_record` (PERMISSIVE mode) and are
    dropped — the reference logs-and-skips them (helpers.py:387-394).
    """
    df = (
        spark.read.schema(MOT_CSV_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    df = df.filter(
        F.col("_corrupt_record").isNull()
        & F.col("obj_id").isNotNull()
        & F.col("bb_width").isNotNull()
    )
    df = df.drop("_corrupt_record").withColumn("frame", normalize_frame(F.col("frame")))
    if sequence is not None:
        df = df.withColumn("sequence", F.lit(sequence))
    return df


def write_mot_csv(df: DataFrame, path: str) -> None:
    """Write detections/tracks in MOT format `frame,id,l,t,w,h,conf,1,-1,-1`.

    The reference re-sorts the output file by (id, frame) — note: id
    first, despite its own docstring (helpers.py:330 vs :299-301); we
    replicate the code's behavior. Output is a directory of CSV parts
    (distributed sink); coalesce(1) only for small fixture files.
    """
    id_col = "obj_id" if "obj_id" in df.columns else (
        "track_id" if "track_id" in df.columns else None
    )
    if id_col is None:
        raise ValueError(
            "write_mot_csv needs an 'obj_id' (detections) or 'track_id' "
            f"(tracks) column; got {df.columns}"
        )
    out = df.select(
        "frame",
        F.col(id_col).alias("obj_id"),
        "bb_left",
        "bb_top",
        "bb_width",
        "bb_height",
        "conf",
        F.coalesce(F.col("mot_x"), F.lit(1)).alias("mot_x")
        if "mot_x" in df.columns
        else F.lit(1).alias("mot_x"),
        F.coalesce(F.col("mot_y"), F.lit(-1)).alias("mot_y")
        if "mot_y" in df.columns
        else F.lit(-1).alias("mot_y"),
        F.coalesce(F.col("mot_z"), F.lit(-1)).alias("mot_z")
        if "mot_z" in df.columns
        else F.lit(-1).alias("mot_z"),
    ).orderBy(F.col("obj_id"), F.col("frame"))
    out.write.mode("overwrite").csv(path)


def discover_sequences(root: str) -> dict[str, dict[str, str]]:
    """Per-sequence path map over single-/multi-sequence dataset layouts
    (SURVEY §2.1 S6; reference helpers.py:575-662 `get_sequences`).

    A dataset root either holds `images/` directly (single-sequence —
    the root itself is the one sequence, named after its directory) or
    one subdirectory per sequence. Each discovered sequence maps the
    reference's fixed file layout; directories without `images/` are
    skipped, like the reference's warning path. Paths are returned as
    strings so they feed straight into `spark.read` — on a cluster the
    same keys would be prefixed URIs (s3a://…), which is why this stays
    a driver-side listing: it enumerates SEQUENCES (small by
    construction), never data files (Spark's own partition discovery
    handles those).
    """
    import os

    def _entry(seq_dir: str) -> dict[str, str]:
        return {
            "images": os.path.join(seq_dir, "images"),
            "ground_truth": os.path.join(seq_dir, "ground_truth", "gt.txt"),
            "gt_embeddings": os.path.join(
                seq_dir, "ground_truth", "embeddings.pt"
            ),
            "detections": os.path.join(seq_dir, "detections", "det.txt"),
            "det_embeddings": os.path.join(
                seq_dir, "detections", "embeddings.pt"
            ),
            "tracking": os.path.join(seq_dir, "tracking", "track.txt"),
            "eval": os.path.join(seq_dir, "tracking", "eval.txt"),
            "track_embeddings": os.path.join(
                seq_dir, "tracking", "embeddings.pt"
            ),
        }

    root = os.path.abspath(root)
    if os.path.isdir(os.path.join(root, "images")):
        seq_dirs = [root]  # single-sequence: images/ at the root
    else:
        seq_dirs = sorted(
            os.path.join(root, d) for d in os.listdir(root)
        )
    out: dict[str, dict[str, str]] = {}
    for seq_dir in seq_dirs:
        if not os.path.isdir(seq_dir):
            continue
        if not os.path.isdir(os.path.join(seq_dir, "images")):
            continue  # reference warns + skips; we skip silently
        out[os.path.basename(seq_dir)] = _entry(seq_dir)
    return out
