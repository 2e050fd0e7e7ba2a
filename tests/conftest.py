from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_tracking_spark.session import get_spark  # noqa: E402
from perfbench.probe import RETAIN_CONF  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Run the all-queries oracle suite FIRST (r12 verdict task #3).

    The driver's VERIFY step runs pytest inside a bounded window; in
    r12 the run was cut off at ~84% with the alphabetically-late
    oracle suite (test_queries_vs_oracle — the local replica of the
    driver's correctness gate, the single highest-value file) not yet
    demonstrably complete. Ordering is correctness-neutral: every test
    uses the same session-scoped spark fixture and no test depends on
    another's side effects.
    """
    front = [i for i in items if "test_queries_vs_oracle" in i.nodeid]
    rest = [i for i in items if "test_queries_vs_oracle" not in i.nodeid]
    items[:] = front + rest


def make_session():
    """The suite's session; `tests/test_work_counters.py` also builds its
    baseline with it, so the baseline and the test count the same plans.
    The status store keeps every job and stage (`RETAIN_CONF`): the work
    counters read the stages of each query's jobs, and a stage evicted
    under Spark's default 1000-stage cap cannot be read back.

    The driver heap is capped at 3 GB (`get_spark` defaults to 8 GB):
    the JVM grows into whatever heap it is given before it collects. On
    a 4-vCPU, 15 GB host the full suite peaked at 9.2 GiB JVM RSS with
    8 GB, in the ANN scale tests, and at 4.2 GiB with 3 GB, in about the
    same wall time; with 2 GB it ran far slower (garbage collection)."""
    return get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={**RETAIN_CONF, "spark.driver.memory": "3g"},
    )


@pytest.fixture(scope="session")
def spark():
    s = make_session()
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
