from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager
from pathlib import Path
from types import SimpleNamespace

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from dags_spark.registry import all_specs  # noqa: E402
from dags_spark.session import get_spark  # noqa: E402
from dags_spark.testing import duck_connect  # noqa: E402

# Small SF for unit tests; tools/check.py covers sf0.01 (the driver's
# t2 scale) and the driver itself is the final gate.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def run_key(spark, key):
    """Run one registered key at the test SF and return its rows."""
    return all_specs()[key].fn(spark, SF_DIR).toPandas()


def union_find_components(edges) -> dict:
    """Reference connected components of an undirected edge list:
    {node: min node of its component}, by union-find with path
    halving. Self-loops make their node a singleton component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


@contextmanager
def count_jobs(spark):
    """Count the Spark jobs the block launches from this thread:
    ``with count_jobs(spark) as jobs: ...`` then read ``jobs.n``."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    jobs = SimpleNamespace(n=None)
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status tracker through the
        # asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.n = len(sc.statusTracker().getJobIdsForGroup(group))


def codegen_compiles(spark) -> int:
    """Janino compiles of generated classes since the JVM started."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def metaspace_mb(spark) -> float:
    """Used JVM Metaspace, where loaded generated classes live."""
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return next(p.getUsage().getUsed() for p in pools if p.getName() == "Metaspace") / 2**20


def pytest_terminal_summary(terminalreporter):
    """Report the test session's codegen cost, the memory side of the
    codegen cache size set in get_spark()."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        size = s.conf.get("spark.sql.codegen.cache.maxEntries")
        terminalreporter.write_line(
            f"codegen: {codegen_compiles(s)} compiles, cache maxEntries {size},"
            f" Metaspace {metaspace_mb(s):.0f} MB"
        )


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running (LSH/property) tests")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("dags_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()
