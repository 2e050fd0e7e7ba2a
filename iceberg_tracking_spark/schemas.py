"""Canonical schemas for the engine's domain tables.

Mirrors the reference's MOT-Challenge data model (see SURVEY.md §1):
the detection fact table (reference helpers.py:339-443), the embedding
store (reference embedding.py:1290-1292), and the tracker output
(reference tracking.py:1164-1174) — re-expressed as fixed Spark
StructTypes read/written as columnar Parquet (schema-on-read, never
inferred).
"""

from __future__ import annotations

from pyspark.sql import types as T

# MOT detection fact table: one row per object instance per frame.
# Reference CSV columns: frame,id,bb_left,bb_top,bb_width,bb_height,conf,x,y,z
# (reference README.md:61-66, helpers.py:421).
DETECTIONS_SCHEMA = T.StructType(
    [
        T.StructField("sequence", T.StringType(), False),
        T.StructField("frame", T.StringType(), False),
        T.StructField("obj_id", T.IntegerType(), False),
        T.StructField("bb_left", T.DoubleType(), False),
        T.StructField("bb_top", T.DoubleType(), False),
        T.StructField("bb_width", T.DoubleType(), False),
        T.StructField("bb_height", T.DoubleType(), False),
        T.StructField("conf", T.DoubleType(), False),
        T.StructField("mot_x", T.IntegerType(), True),
        T.StructField("mot_y", T.IntegerType(), True),
        T.StructField("mot_z", T.IntegerType(), True),
    ]
)

# Raw MOT CSV (no sequence column — sequence comes from the directory
# layout, reference helpers.py:575-662).
MOT_CSV_SCHEMA = T.StructType(
    [
        T.StructField("frame", T.StringType(), True),
        T.StructField("obj_id", T.IntegerType(), True),
        T.StructField("bb_left", T.DoubleType(), True),
        T.StructField("bb_top", T.DoubleType(), True),
        T.StructField("bb_width", T.DoubleType(), True),
        T.StructField("bb_height", T.DoubleType(), True),
        T.StructField("conf", T.DoubleType(), True),
        T.StructField("mot_x", T.IntegerType(), True),
        T.StructField("mot_y", T.IntegerType(), True),
        T.StructField("mot_z", T.IntegerType(), True),
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
)

# Appearance-embedding store: the reference keeps a dict keyed
# "{frame}_{id}" → float32[256] (reference tracking.py:983-984); here a
# proper table keyed (sequence, frame, obj_id).
EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("sequence", T.StringType(), False),
        T.StructField("frame", T.StringType(), False),
        T.StructField("obj_id", T.IntegerType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    ]
)

# Multimodal blob column convention (LLM-pipeline surface): opaque bytes
# plus typed metadata; decode happens in mapInPandas UDFs.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime_type", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

EMB_DIM = 64  # synthetic embeddings table vector width (FIXTURES.md)

SYNTHETIC_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
