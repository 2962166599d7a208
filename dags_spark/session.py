"""SparkSession factory + per-session tuning.

Two paths:

- ``get_spark()``: used by our own tests/bench. Builds a local session
  tuned for the 32-CPU dev box.
- ``tune(spark)``: used by every registered query. The driver hands us
  an arbitrary session; we apply the runtime-settable knobs we rely on
  (UTC session timezone for cross-engine timestamp determinism, Arrow
  for pandas exchange, sane shuffle parallelism). All of these are
  dynamic SQL confs, safe to set on a running session.

Scale notes (100 TB design point): everything here is also correct on
a real cluster — AQE handles partition coalescing and skew splits at
runtime, so a fixed ``shuffle.partitions`` seed value is only the
pre-AQE upper bound. On a 1000-executor cluster you would raise
``spark.sql.shuffle.partitions`` to ~2-3x total cores and let AQE
coalesce; nothing in the operator code assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_TUNED_KEY = "spark.dags_spark.tuned"


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs we depend on. Idempotent and cheap."""
    try:
        if spark.conf.get(_TUNED_KEY, "") == "1":
            return spark
    except Exception:
        pass
    conf = {
        # Cross-engine determinism: DuckDB oracle timestamps are naive
        # (no zone); pin Spark's session zone to UTC so LTZ values render
        # identically.
        "spark.sql.session.timeZone": "UTC",
        # Arrow for toPandas/pandas_udf exchange (vectorized boundary).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Local dev parallelism; AQE coalesces small shuffles back down.
        "spark.sql.shuffle.partitions": str(os.environ.get("SPARK_GRAFT_SHUFFLE", "32")),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # InferFiltersFromGenerate turns every explode(f(x)) into a
        # pushed-down filter "size(f(x))>0 AND f(x) IS NOT NULL" whose
        # f(x) is re-substituted through projections and exchanges — for
        # expensive array builders (n-gram/shingle transforms) the whole
        # array is then computed twice, once of those BELOW the
        # repartition on the scan's (often single) input partition.
        # Measured 5x on the minhash pipeline at sf0.1. The rule is a
        # row-pruning heuristic, not a correctness rule — excluding it is
        # semantics-preserving.
        "spark.sql.optimizer.excludedRules": (
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
        ),
        # Python DataSource filter pushdown (Spark 4 pushFilters API):
        # off by default upstream; enabling it session-wide is
        # semantics-preserving (filters a reader declines still run
        # above) and lets pushdown-capable sources (e.g. the
        # source_python_pushdown key) prune at the feed. Set HERE, not
        # inside individual keys, so plans never depend on key run
        # order.
        "spark.sql.python.filterPushdown.enabled": "true",
        _TUNED_KEY: "1",
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this session — keep going
    return spark


def get_spark(app_name: str = "dags_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    import tempfile

    warehouse = os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", os.path.join(tempfile.gettempdir(), "dags_spark_warehouse")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Compiled whole-stage classes are cached per generated source;
        # at the default 100 entries the 7 llm_curation keys recompiled
        # 140 classes every warm pass. The three perfbench workloads
        # together need 309 distinct classes; 1000 holds them with room
        # to spare. Static: it cannot be set in tune().
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
