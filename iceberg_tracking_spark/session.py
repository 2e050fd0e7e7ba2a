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
* Python workers fork from `worker_daemon`, which stops each task from
  re-reading the pyspark.zip/py4j archive directories (see `get_spark`);
  the package's parent directory goes on the workers' PYTHONPATH so the
  daemon can import it.
* DataFrame call-site capture off: no py4j round trips per Column or
  ``functions`` call while plans are built (see `get_spark`).
* Session timezone pinned to UTC so timestamp semantics agree with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH_KEY = "spark.executorEnv.PYTHONPATH"


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

    Two settings cut the fixed cost of the Python-JVM boundary.

    * ``spark.python.daemon.module``: workers fork from
      `iceberg_tracking_spark.worker_daemon`, which keeps each task's
      ``importlib.invalidate_caches()`` from re-reading the directories
      of the archives on the workers' path (pyspark.zip, py4j and the
      spark-core jar: 16 ``zipimporter`` objects, 26,672 entries per
      task on Python 3.11). A warm two-task job on ``local[2]`` fell
      from 0.41-0.50 s to 0.11-0.12 s on a 4-vCPU host. If the daemon
      cannot import this package every Python task fails, so its parent
      directory is merged into ``spark.executorEnv.PYTHONPATH``.
    * ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark
      wraps every ``Column`` method and ``functions`` call to record its
      Python call site, about four py4j round trips each (active
      session, conf read, origin set and clear). Building the MOT
      pipeline's CLEAR / Identity eval plan (read MOT CSVs -> metrics)
      made 3,487 round trips with capture on and 1,237 with it off.
      Errors keep their error class and message; they lose only the
      "DataFrame call site" ``file:line`` context.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    extra_conf = dict(extra_conf or {})
    # Python workers start in `worker_daemon`, so they must import this
    # package wherever the driver was launched from.
    worker_path = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, extra_conf.pop(_WORKER_PATH_KEY, None)) if p
    )

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
        .config("spark.python.daemon.module", "iceberg_tracking_spark.worker_daemon")
        .config(_WORKER_PATH_KEY, worker_path)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Driver testdata stores events.ts as INT64 TIMESTAMP(NANOS); Spark
        # has no nanos timestamp — read as long, converted in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
