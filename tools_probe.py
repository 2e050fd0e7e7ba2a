#!/usr/bin/env python
"""Optimization probe: capture `.explain("formatted")`, the work
counters of `tests/test_work_counters.py` and min-of-3 timings for
named queries (bench methodology: full `.count()` action per run, fresh
Catalyst plan each run; noop-sink timing to separate compute from the
count action, guide §1.4).

Usage:
    python tools_probe.py ROUND TAG q_name [q_name ...]

Writes plans/<ROUND>/<q>_<TAG>.txt (ROUND is the plan-dump directory,
e.g. `r13`) and prints one line per query: jobs, stages, input rows,
file scans and exchanges, then the timings. Unlike the timings, the
counters do not move with host load, so a before/after pair of probe
runs shows a plan change as a counter delta. TAG is `before` / `after`
or any scratch label. SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS are honored
as in bench.py.
"""

from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iceberg_tracking_spark.plans import QUERIES  # noqa: E402
from iceberg_tracking_spark.session import get_spark  # noqa: E402
from perfbench.probe import RETAIN_CONF, SparkProbe  # noqa: E402
from tests.test_work_counters import work_counters  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = 3


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    round_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", round_dir)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name=f"{round_dir}_probe", extra_conf=RETAIN_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    # same warm-up as bench.py
    spark.range(1000).count()
    from iceberg_tracking_spark.sources.tables import load_table

    load_table(spark, SF_DIR, "lineitem").limit(1000).count()
    load_table(spark, SF_DIR, "events").limit(1000).count()
    probe = SparkProbe(spark)
    for name in names:
        fn = QUERIES[name].fn
        buf = io.StringIO()
        with redirect_stdout(buf):
            fn(spark, SF_DIR).explain("formatted")
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(buf.getvalue())
        counters = work_counters(probe, spark, SF_DIR, name)
        best_cnt = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            best_cnt = min(best_cnt, time.perf_counter() - t0)
        best_noop = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best_noop = min(best_noop, time.perf_counter() - t0)
        print(
            f"{name}: "
            + " ".join(f"{k}={v}" for k, v in counters.items())
            + f" count={best_cnt:.3f}s noop={best_noop:.3f}s (min of {RUNS})"
        )


if __name__ == "__main__":
    main()
