"""Scale machinery: skew-salted joins and bucketed co-located joins.

These are the two levers the 100 TB design point leans on when AQE's
automatic handling isn't enough:

- ``salted_join``: for a fact⋈fact equi-join with a few hot keys,
  split each hot left row across N salt shards and replicate the
  matching right rows to every shard — the hot key's work spreads
  over N tasks instead of one straggler. (AQE's skew-join split
  handles sort-merge joins automatically; explicit salting is for
  when you need deterministic control or hash joins.)

- ``write_bucketed`` / co-located reads: pre-shuffle both sides of a
  recurring join into the same bucket layout so every subsequent join
  on the bucket key is exchange-free (verified by plan test: no
  Exchange above the scans).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting to defuse skew.

    Left rows get a deterministic salt in [0, n_salts) (hash of the
    whole row spread via xxhash64 on the key + a per-row uniform
    component from ``rand(seed)`` would be non-deterministic; instead
    we shard by xxhash64 of the row's own key-adjacent columns, which
    spreads a hot key's rows across shards as long as non-key columns
    vary). Right rows replicate to all n_salts shards. Join keys
    become (key, salt) — the hot key's pairs now land in n_salts
    tasks.

    Result is row-identical to ``left.join(right, key, how)``.
    Supported: inner/left joins (replication breaks right/full-outer
    row accounting).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    shard = (
        F.abs(F.xxhash64(*[F.col(c) for c in left.columns])) % n_salts
    ).cast("int")
    l_s = left.withColumn("__salt", shard)
    r_s = right.join(
        F.broadcast(
            right.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    joined = l_s.join(r_s, [key, "__salt"], how)
    return joined.drop("__salt")


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_key: str,
    n_buckets: int = 16,
    sort_key: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) on a join key.

    Both sides of a recurring fact⋈fact join written this way join
    WITHOUT any Exchange: the bucket layout is the shuffle, paid once
    at write time — the difference between re-shuffling 100 TB per
    query and never. Requires a session with a warehouse dir (any
    local path works; see tests/test_scale.py).

    To also skip the merge join's SORTS, the reader must additionally
    set ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``:
    by default (SPARK-28595) a bucketed scan reports no ordering even
    when sortBy wrote one, because proving it needs an eager
    one-file-per-bucket listing. This writer guarantees exactly one
    sorted file per bucket (the pre-repartition below), so the conf is
    safe here and measured ~30% faster on the sf10 bucketed star join
    (plan Sort nodes 2 -> 0; see tools/bench_sf1.bucketed_tier).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # A stale location (e.g. warehouse dir surviving a previous session
    # whose in-memory catalog did not) blocks saveAsTable even in
    # overwrite mode — clear it so the write is idempotent.
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse:
        import shutil
        from urllib.parse import urlparse

        loc = Path(urlparse(warehouse).path) / name.split(".")[-1].lower()
        shutil.rmtree(loc, ignore_errors=True)
    # ONE file per bucket: bucketBy writes a file per (input task x
    # bucket), so an unaligned input fans out to many small files per
    # bucket — which caps scan parallelism at the bucket count AND
    # makes Spark distrust sortBy order (multi-file buckets must
    # re-sort before a merge join). Pre-shuffling on the bucket key
    # aligns tasks to buckets, so the layout is 1 sorted file per
    # bucket and the downstream join needs neither Exchange nor Sort.
    df = df.repartition(n_buckets, bucket_key)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_key)
    if sort_key:
        writer = writer.sortBy(sort_key)
    writer.saveAsTable(name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed saved tables on the bucket key
    (exchange-free when bucket specs match)."""
    return spark.table(left_table).join(spark.table(right_table), key)


# --- Z-order clustering ----------------------------------------------
# Morton/Z-order interleaving (public multi-dimensional indexing
# technique): map N integer dimensions to one key whose sort order
# preserves locality in EVERY dimension, then range-partition + sort
# the table by it before writing parquet. Row-group min/max stats then
# prune scans filtered on ANY of the dimensions — the lakehouse answer
# to "we filter this 100 TB table by customer AND by date".


def zorder_bits(spelling: str, a: str, b: str, bits: int = 10) -> str:
    """Bit-interleaved Morton key of two non-negative ints as a SQL
    string. ``spelling`` picks the integer-division operator ('div'
    for Spark SQL, '//' for DuckDB); the arithmetic — ((x div 2^i) % 2)
    * 2^(2i) — is identical, so both engines produce identical keys."""
    d = spelling
    terms = []
    for i in range(bits):
        terms.append(f"(({a} {d} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({b} {d} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    a: str,
    b: str,
    bits: int = 10,
    n_files: int = 32,
) -> None:
    """Cluster a table by the Morton key of two integer columns and
    write parquet: repartitionByRange gives each output file a narrow
    z-range, sortWithinPartitions makes row-group stats tight, and a
    filter on either source column then prunes most files/row-groups
    at scan time. At 100 TB this is the difference between reading a
    full table and reading ~sqrt of it for a 2-D selective query."""
    z = F.expr(zorder_bits("div", a, b, bits))
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def range_split(df: DataFrame, cols: list, n: int) -> DataFrame:
    """Range-partition ``df`` on ``cols`` into ``n`` partitions, tag
    each row with its ``__pid`` and PIN the result with
    localCheckpoint — phase 1 of every two-phase global-order rewrite
    (global_running here, dq_id_density_audit's gap scan).

    The pin is what makes the rewrite sound: the per-partition pass
    and the partition-count-sized offsets table both consume the range
    exchange, and without pinning AQE may coalesce the two instances
    differently (or a caller's self-referencing plan may re-evaluate
    the exchange), pairing offsets from one partitioning with __pid
    from another — duplicate/gapped ranks. The checkpoint is exactly
    the pass-1 materialization a two-pass 100 TB sort does anyway
    (write ranked runs, then publish). RangePartitioner samples to
    pick boundaries; that only moves WHERE a row lands, never what a
    total-order scan computes for it."""
    return (
        df.repartitionByRange(n, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )


def global_running(
    df: DataFrame,
    order_cols: list,
    value,
    agg: str,
    out_col: str,
    n_partitions: int = 32,
) -> DataFrame:
    """INCLUSIVE global running ``agg`` ("sum" or "min") of ``value``
    (a column name or Column) over a total order, WITHOUT the
    single-partition window (`Window.orderBy(...)` with no partition
    key funnels the entire table through one task — a non-plan at
    100 TB).

    Two-phase rewrite on range_split: accumulate within each range
    partition in parallel, fold ``agg`` over the totals of the
    PRECEDING partitions in a broadcast offsets table (one row per
    partition — partition-count-grain, never data- or domain-grain),
    then combine: ``coalesce(off, 0) + within`` for sum,
    ``least(off, within)`` for min (least skips the first partition's
    null offset). Both folds are associative, so the result equals
    the single-window answer. The order must carry a unique tie-break
    column (house determinism rule 3) so the total order — and every
    prefix — is engine- and partitioning-independent."""
    fold = {"sum": F.sum, "min": F.min}[agg]
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    v = F.col(value) if isinstance(value, str) else value
    d = range_split(df, cols, n_partitions)
    offs = (
        d.groupBy("__pid")
        .agg(fold(v).alias("__tot"))
        .select(
            "__pid",
            fold("__tot")
            .over(Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1))
            .alias("__off"),
        )
    )
    within = fold(v).over(
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if agg == "sum":
        running = F.coalesce(F.col("__off"), F.lit(0)) + within
    else:
        running = F.least(F.col("__off"), within)
    return (
        d.join(F.broadcast(offs), "__pid")
        .withColumn(out_col, running)
        .drop("__pid", "__off")
    )


def global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rank",
    n_partitions: int = 32,
) -> DataFrame:
    """Global ROW_NUMBER over a total order: global_running's sum of
    1 per row. The sort keys must include a unique tie-break column
    (house determinism rule 3)."""
    d = global_running(df, order_cols, F.lit(1), "sum", rank_col, n_partitions)
    return d.withColumn(rank_col, F.col(rank_col).cast("long"))


def global_ntile(
    df: DataFrame,
    order_cols: list,
    n: int,
    out_col: str = "ntile",
) -> DataFrame:
    """Exact NTILE(n) over a total order WITHOUT the single-partition
    window: two-phase global_rank supplies the total order, and
    NTILE's bucket arithmetic (the first ``n_tot % n`` buckets get
    one extra row) is reproduced as exact integer math against a
    broadcast 1-row count — bit-identical to ``ntile(n)`` at any
    scale. The order must carry a unique tie-break column (house
    determinism rule 3), same contract as global_rank.

    Shared by the decile/quintile keys (rank_lift_chart_deciles'
    rewrite generalized): agg_lorenz_deciles, feat_woe_iv,
    win_rfm_segmentation.
    """
    d = global_rank(df, order_cols, rank_col="__ntile_rnk")
    nrow = df.agg(F.count(F.lit(1)).cast("bigint").alias("__n_tot"))
    q = F.floor(F.col("__n_tot") / n).cast("bigint")
    rem = (F.col("__n_tot") % n).cast("bigint")
    # rows failing the first branch only exist when q >= 1, so the
    # ELSE division is never evaluated at q == 0 (n_tot < n).
    # The least/greatest clamp is a mathematical no-op (the bucket is
    # in [1, n] by construction) whose purpose is the PLAN: it makes
    # the bucket's value range — and therefore the cardinality of any
    # aggregate grouped on it — provable from plan text alone, so the
    # n-row grid that follows an NTILE needs no lint waiver.
    bucket = F.least(
        F.lit(n),
        F.greatest(
            F.lit(1),
            F.when(
                F.col("__ntile_rnk") <= rem * (q + F.lit(1)),
                F.floor((F.col("__ntile_rnk") - 1) / (q + F.lit(1))) + 1,
            )
            .otherwise(
                rem
                + F.floor(
                    (F.col("__ntile_rnk") - 1 - rem * (q + F.lit(1))) / q
                )
                + 1
            )
            .cast("int"),
        ),
    ).cast("int")
    return (
        d.crossJoin(F.broadcast(nrow))
        .withColumn(out_col, bucket)
        .drop("__ntile_rnk", "__n_tot")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list,
    weight_col: str,
    out_col: str = "running",
    n_partitions: int = 32,
) -> DataFrame:
    """INCLUSIVE global running sum of ``weight_col`` over a
    multi-column total order (global_running with sum). Used by the
    sweep-line keys (win_peak_concurrency): the running live-count
    over (ts, delta, user) boundaries."""
    return global_running(df, order_cols, weight_col, "sum", out_col, n_partitions)


def global_running_min(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "running_min",
    n_partitions: int = 32,
) -> DataFrame:
    """INCLUSIVE global running MIN of ``value_col`` over a total
    order (global_running with min). A SUFFIX min (BH step-up's
    reverse running min) is this same operator called with the order
    columns DESCENDING — which is exactly how stats_bh_fdr consumes
    it."""
    return global_running(df, order_cols, value_col, "min", out_col, n_partitions)
