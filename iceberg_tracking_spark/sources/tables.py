"""Synthetic star-schema table loaders.

The driver generates deterministic parquet tables under
/root/testdata/sf*/ (TESTDATA.md). Everything is read as columnar
parquet with Catalyst predicate pushdown / column pruning intact —
queries should `.select()` early so `ReadSchema` stays narrow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import SYNTHETIC_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table as a DataFrame.

    `events.ts` has shipped under two parquet encodings across driver
    testdata generations; both are normalized to a UTC TIMESTAMP here:
    - INT64 TIMESTAMP(NANOS): read as long (nanosAsLong), converted with
      integer division (`div`, not `/`: double math loses precision at
      epoch-nanos magnitudes).
    - timestamp[us] isAdjustedToUTC=false: read as TIMESTAMP_NTZ, cast
      under a UTC session tz.
    """
    # Runtime SQL confs — set here so the engine works under ANY
    # caller-provided SparkSession (the driver builds its own).
    # NTZ→TIMESTAMP casting goes through the session tz; EVERY date
    # column in the testdata is parquet timestamp[us] with
    # isAdjustedToUTC=false (orders.o_orderdate, lineitem.l_shipdate,
    # events.ts), so epoch math through `_as_ts`'s cast would shift by
    # the caller's zone offset (and across DST) under a non-UTC
    # session while DuckDB reads naive-as-UTC. Pin UTC unconditionally
    # — not only for events — so q_rfm / q_kaplan_meier / any
    # order-date arithmetic is caller-tz-independent.
    #
    # PUBLIC SIDE EFFECT (documented in README "Session configuration"):
    # this mutates the caller's SparkSession for the session's lifetime.
    # A caller who deliberately runs non-UTC gets a one-time warning so
    # the override is never silent.
    prior_tz = spark.conf.get("spark.sql.session.timeZone", None)
    if prior_tz not in (None, "UTC") and not getattr(load_table, "_tz_warned", False):
        import warnings

        warnings.warn(
            f"load_table pins spark.sql.session.timeZone=UTC for NTZ-parquet "
            f"correctness, overriding the session's '{prior_tz}' for the rest "
            "of this SparkSession (see README: Session configuration)",
            stacklevel=2,
        )
        load_table._tz_warned = True
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Parquet timestamp[us] with isAdjustedToUTC=false lands as
            # TIMESTAMP_NTZ in Spark 4, which unix_millis() rejects. The
            # session tz is UTC in both the driver and tests, so a plain
            # cast preserves the stored wall-clock instants.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def scatter(df: DataFrame, spark: SparkSession | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy work.

    The local testdata parquet files are single-row-group, so Spark
    plans them as ONE input task; any expensive expression chain
    (per-token hashing, explode amplification) then runs on one core.
    On a real cluster the scan is already parallel (many files /
    row-groups) and this round-robin shuffle is a cheap no-op-sized
    exchange — the pattern mirrors what AQE does for small inputs.
    """
    sc = (spark or df.sparkSession).sparkContext
    return df.repartition(sc.defaultParallelism)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in SYNTHETIC_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every synthetic table as a temp view for spark.sql use."""
    for t in SYNTHETIC_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
