"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); the conf choices below are
the ones that matter at cluster scale too:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join promotion) — frames/keys in this workload are skewed
  (dense frames can hold thousands of detections, see reference
  tracking.py:456), so AQE skew handling is load-bearing at 100 TB.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the initial number far less critical.
* Arrow enabled — every pandas-interop path (applyInPandas tracker,
  mapInPandas NMS and inference scaffolds, toPandas in tests) is
  Arrow-batched.
* Generated-code cache keyed without stage ids and sized above the
  workloads' working sets (see `get_spark`), so a warm op reuses its
  compiled classes.
* Session timezone pinned to UTC so timestamp semantics agree with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "iceberg_tracking_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Two codegen settings keep a warm op from recompiling its generated
    code. Whole-stage codegen compiles one Janino class per distinct
    generated source and keeps the least recently used ones in a cache.

    * ``spark.sql.codegen.useIdInClassName=false``: the class name no
      longer carries the codegen stage id. AQE numbers stages in the
      order it re-plans them, so with the id the same stage code could
      miss the cache under a new number.
    * ``spark.sql.codegen.cache.maxEntries=1000`` (Spark's default is
      100), above every workload's working set.

    Working sets, as the classes compiled by a workload's first two
    passes on a 4-vCPU host, with / without the stage id in the name:
    MOT pipeline (read MOT CSV -> NMS -> track -> eval) 138 / 100;
    q_psi, q_rrf_fusion and q_bm25 125 / 101; q_sum_count, q_equijoin,
    q_grid_join and q_cosine_topk 60 with the id. At Spark's defaults
    each pipeline op recompiled 109-114 classes, about 0.7 s of a 3.5 s
    op; with both settings a warm op compiles none, and 1000 entries
    hold the three working sets together. JVM Metaspace in use after
    four to six passes at 1000 entries: 162 MB (pipeline), 157 MB and
    147 MB (the two query mixes); at Spark's defaults the pipeline used
    162-164 MB, so the larger cache costs no measurable Metaspace.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Driver testdata stores events.ts as INT64 TIMESTAMP(NANOS); Spark
        # has no nanos timestamp — read as long, converted in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
