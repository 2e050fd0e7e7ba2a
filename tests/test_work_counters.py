"""Deterministic work counters of every benched query against a baseline.

Wall time on a shared host swings 1.5-2x with load, so it cannot tell a
plan regression from a busy neighbour. These counters do not move with
host load or with the number of local cores:

* ``jobs`` — Spark jobs launched while building the query (eager
  ``localCheckpoint`` / boundary collects) and collecting it;
* ``stages`` — stages of those jobs that ran (skipped stages excluded);
* ``input_rows`` — rows the stages read from their sources;
* ``file_scans`` — ``FileScan`` nodes in the static physical plan of the
  collected query (the plan AQE starts from);
* ``exchanges`` — ``Exchange`` nodes in that plan, broadcast and reused
  exchanges included.

The plan-node counts catch what job counts alone miss: dropping a
``localCheckpoint`` removes a job, while every consumer of the relation
now re-derives it from its parquet scans.

Task counts and byte counters are left out on purpose: task counts
follow ``local[N]``, and shuffle bytes drift slightly between runs.
AQE's run-time re-planning is kept out too (see `work_counters`).

When a plan change is intended, regenerate the baseline with

    python tests/test_work_counters.py

and commit the JSON diff with the change; the diff shows in review what
each query now does.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from iceberg_tracking_spark.plans import QUERIES  # noqa: E402
from perfbench.probe import SparkProbe  # noqa: E402

BASELINE = os.path.join(ROOT, "tests", "work_baseline.json")
BENCHED = bench.HEADLINE + bench.EXTENDED
# The operator name on each line of a physical plan's tree string, after
# the tree drawing and any whole-stage-codegen `*(n)` prefix.
_NODE = re.compile(r"^[ +\-:|]*(?:\*\(\d+\) )?(\w+)", re.M)


# AQE turns a shuffled join into a broadcast join once one side's stage
# has finished small. Which side finishes first follows host timing, and
# so do the jobs and stages of the re-planned query (q_eval_combined and
# q_minhash_fidelity flip between two job counts). The counters are taken
# with that runtime promotion off; broadcasts the static plan picks stay.
_PROMOTE_KEY = "spark.sql.adaptive.autoBroadcastJoinThreshold"


def work_counters(probe: SparkProbe, spark, sf_dir: str, name: str) -> dict[str, int]:
    """Build and collect one registered query under `probe`; return its
    work counters (see the module docstring)."""

    def run():
        df = QUERIES[name].fn(spark, sf_dir)
        df.collect()
        return df

    prev = spark.conf.get(_PROMOTE_KEY, None)
    spark.conf.set(_PROMOTE_KEY, "-1")
    try:
        df, stats = probe.call(name, run)
    finally:
        if prev is None:
            spark.conf.unset(_PROMOTE_KEY)
        else:
            spark.conf.set(_PROMOTE_KEY, prev)
    # AQE prints its final plan, then the static plan it started from;
    # only the static one is free of run-time choices.
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    nodes = _NODE.findall(plan.partition("== Initial Plan ==")[2] or plan)
    return {
        "jobs": stats.jobs,
        "stages": stats.stages,
        "input_rows": stats.get("input_rows"),
        "file_scans": nodes.count("FileScan"),
        "exchanges": sum(n.endswith("Exchange") for n in nodes),
    }


@pytest.fixture(scope="module")
def probe(spark):
    # A frame cached by an earlier test stands in for the matching
    # sub-plan of a benched query (the clustering tests cache the ANN
    # queries' embeddings projection), so count only the queries' own plans.
    spark.catalog.clearCache()
    return SparkProbe(spark)


@pytest.fixture(scope="module")
def baseline():
    with open(BASELINE) as f:
        return json.load(f)


@pytest.mark.parametrize("name", BENCHED)
def test_work_counters_match_baseline(spark, sf_dir, probe, baseline, name):
    got = work_counters(probe, spark, sf_dir, name)
    assert got == baseline.get(name), (
        f"{name}: work counters {got} != baseline {baseline.get(name)}. "
        "An unintended plan change is a regression to fix; for an intended "
        "one run `python tests/test_work_counters.py` and commit the diff."
    )


def main() -> None:
    from tests.conftest import SF_DIR, make_session

    spark = make_session()
    probe = SparkProbe(spark)
    lines = []
    for name in BENCHED:
        counters = work_counters(probe, spark, SF_DIR, name)
        print(f"{name}: {counters}", file=sys.stderr)
        lines.append(f"  {json.dumps(name)}: {json.dumps(counters)}")
    with open(BASELINE, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {len(lines)} queries to {BASELINE}")


if __name__ == "__main__":
    main()
