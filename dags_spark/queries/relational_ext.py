"""SURVEY §2.13 — relational extensions (round-1 widening).

Pivot/unpivot reshaping, scalar and correlated aggregate subqueries,
fixed-width histograms, boolean aggregates, bitwise scalar functions,
and deterministic (hash-based) sampling.

Scale notes (100 TB design point):
- the scalar subquery is a 1-row broadcast join (what Catalyst itself
  plans for `WHERE x > (SELECT avg ...)`), so the fact table streams
  through a single stage;
- the correlated Q17 shape self-joins lineitem on its own grouping
  key, so the shuffle for the aggregate and for the join share one
  exchange (same key, same partitioning);
- deterministic sampling filters on a hash of the key at the scan —
  no shuffle and no RNG state, so the sample is reproducible across
  engines, retries, and cluster sizes (unlike `df.sample`).

All money arithmetic uses the exact scaled-BIGINT helpers from
``dags_spark.queries`` (determinism rule 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import SQL_CENTS, SQL_DEC_SUM, cents, dec_sum, table
from ..operators.dedup import latest_by_key
from ..registry import register

_STATUSES = ["F", "O", "P"]


@register(
    "pivot_wide",
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority
""",
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide reshape: order counts by priority pivoted on status.

    Explicit pivot values keep the plan a single pass (no extra job to
    discover the value set) with stable, deterministic column order.
    """
    o = table(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    for s in _STATUSES:
        out = out.withColumnRenamed(s, f"n_{s.lower()}")
    return out


@register(
    "unpivot_long",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
""",
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt of lineitem measures (quantity/discount/tax).

    Spark's native ``unpivot`` expands rows inside one stage (an
    Expand node) — no shuffle, unlike the UNION-ALL formulation which
    would scan the table three times.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "subquery_scalar_agg",
    oracle=f"""
WITH t AS (
  SELECT SUM({SQL_CENTS('o_totalprice')}) AS s, COUNT(*) AS n FROM orders
)
SELECT o_orderpriority,
       COUNT(*) AS n_above,
       {SQL_DEC_SUM('o_totalprice')} AS sum_above
FROM orders, t
WHERE {SQL_CENTS('o_totalprice')} * n > s
GROUP BY o_orderpriority
""",
)
def subquery_scalar_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders strictly above the global average price, per priority.

    The ``price > AVG(price)`` comparison is done in exact integer
    arithmetic (``cents * n > sum_cents``) so both engines agree on
    boundary rows — no double-division epsilon. The global aggregate
    is a 1-row broadcast (Catalyst's own scalar-subquery plan).
    """
    o = table(spark, sf_dir, "orders").withColumn("__c", cents("o_totalprice"))
    tot = o.agg(F.sum("__c").alias("__s"), F.count(F.lit(1)).alias("__n"))
    return (
        o.join(F.broadcast(tot))
        .filter(F.col("__c") * F.col("__n") > F.col("__s"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            dec_sum("o_totalprice").alias("sum_above"),
        )
    )


@register(
    "subquery_correlated_agg",
    oracle=f"""
WITH s AS (
  SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sq, COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT {SQL_DEC_SUM('l_extendedprice')} / 7.0 AS avg_yearly,
       COUNT(*) AS n_small
FROM lineitem JOIN s USING (l_partkey)
WHERE 5 * CAST(l_quantity AS BIGINT) * cnt < sq
""",
)
def subquery_correlated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue of lineitems below 20% of their part's
    average quantity (small-order revenue).

    The correlated ``qty < 0.2 * AVG(qty) per part`` is decorrelated
    into aggregate+self-join on ``l_partkey`` — both sides shuffle on
    the same key, so AQE plans one co-partitioned exchange. The 0.2
    factor is exact: ``5*qty*cnt < sum_qty`` in BIGINT.
    """
    li = table(spark, sf_dir, "lineitem").withColumn(
        "__q", F.col("l_quantity").cast("bigint")
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("__q").alias("__sq"), F.count(F.lit(1)).alias("__cnt")
    )
    small = li.join(per_part, "l_partkey").filter(
        F.lit(5) * F.col("__q") * F.col("__cnt") < F.col("__sq")
    )
    return small.agg(
        (dec_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


@register(
    "agg_histogram",
    oracle=f"""
SELECT LEAST({SQL_CENTS('o_totalprice')} // 5000000, 9) AS bucket,
       COUNT(*) AS n_orders,
       {SQL_DEC_SUM('o_totalprice')} AS sum_price
FROM orders GROUP BY 1
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (10 buckets of 50k, last
    bucket open-ended). Bucketing is integer division on exact cents —
    boundary values land identically in both engines.
    """
    o = table(spark, sf_dir, "orders").withColumn("__c", cents("o_totalprice"))
    bucket = F.least(F.expr("__c DIV 5000000"), F.lit(9).cast("long"))
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("sum_price"),
        )
    )


@register(
    "agg_bool",
    oracle="""
SELECT o_orderstatus,
       bool_and(o_totalprice > 2000) AS all_above_2k,
       bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
""",
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any) per order status."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 2000).alias("all_above_2k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "fn_bitwise",
    oracle="""
SELECT o_orderkey,
       o_orderkey & 255 AS band,
       o_orderkey | 4096 AS set_bit,
       xor(o_orderkey, 85) AS xored,
       (o_orderkey & 15) << 2 AS shifted,
       CAST(bit_count(o_orderkey) AS INT) AS popcount
FROM orders
""",
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR, shifts, and popcount on the order key —
    the building blocks of hash partitioning, bloom probes, and the
    SimHash/LSH operators elsewhere in this repo."""
    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(4096)).alias("set_bit"),
        k.bitwiseXOR(F.lit(85)).alias("xored"),
        F.shiftleft(k.bitwiseAND(F.lit(15)), 2).alias("shifted"),
        F.bit_count(k).cast("int").alias("popcount"),
    )


# Shared md5-nibble bucket expression — identical text runs in both
# engines (Spark and DuckDB both have instr/substr/md5).
def _NIB(key_expr: str) -> str:
    return (
        f"instr('0123456789abcdef', substr(md5(cast({key_expr} as string)), 1, 1)) - 1"
    )


@register(
    "sample_hash_mod",
    oracle=f"""
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders WHERE {_NIB('o_orderkey')} = 0
""",
)
def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 sample: keep rows whose key's first md5
    nibble is 0. Unlike ``df.sample`` this is reproducible across
    engines, retries, and cluster sizes, and it evaluates at the scan
    with no shuffle — the right sampling primitive for a 100 TB
    pipeline snapshot."""
    o = table(spark, sf_dir, "orders")
    return o.filter(F.expr(f"{_NIB('o_orderkey')} = 0")).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )


@register(
    "sample_stratified_topk",
    oracle=f"""
SELECT c_mktsegment, c_custkey, rn FROM (
  SELECT c_mktsegment, c_custkey,
         row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY md5(cast(c_custkey as string)), c_custkey
         ) AS rn
  FROM customer
) WHERE rn <= 20
""",
)
def sample_stratified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly 20 customers per
    market segment, chosen by md5 order (uniform, reproducible).
    One shuffle on the stratum key; rank evaluates within partitions.
    """
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    return (
        c.select("c_mktsegment", "c_custkey", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
    )


def _zorder_oracle() -> str:
    from ..operators.scale import zorder_bits

    z = zorder_bits("//", "za", "zb")
    return f"""
WITH d AS (
  SELECT o_orderkey,
         o_custkey % 1024 AS za,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 1024 AS zb
  FROM orders
)
SELECT o_orderkey, za, zb, {z} AS zkey FROM d
"""


@register("fn_zorder_key", oracle=_zorder_oracle())
def fn_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order key of (customer, order-day): the 2-D clustering
    key behind write_zordered (operators/scale.py) — range-partition +
    sort by this key and parquet row-group stats prune scans filtered
    on EITHER dimension. Bit interleave is pure integer arithmetic,
    identical in both engines."""
    from ..operators.scale import zorder_bits

    o = table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 1024).alias("za"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
            % 1024
        ).alias("zb"),
    )
    return d.select(
        "o_orderkey", "za", "zb", F.expr(zorder_bits("div", "za", "zb")).alias("zkey")
    )


@register(
    "join_band_binned",
    oracle="""
WITH a AS (
  SELECT event_id AS event_a, CAST(ROUND(value * 100, 0) AS BIGINT) AS va
  FROM events WHERE event_type = 'error'
), b AS (
  SELECT event_id AS event_b, CAST(ROUND(value * 100, 0) AS BIGINT) AS vb
  FROM events WHERE event_type = 'purchase'
)
SELECT event_a, event_b, va - vb AS diff_cents
FROM a JOIN b ON abs(va - vb) <= 5
""",
    tags=("join", "scale"),
)
def join_band_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join with NO equi anchor: error/purchase event pairs whose
    values differ by <= 5 cents, via the binned rewrite
    (operators/rangejoin.py) — explode left to 3 adjacent value bins,
    equi-join on the bin id, residual |diff| <= band. The naive plan
    for this predicate is BroadcastNestedLoopJoin (O(n*m)); the binned
    plan is an ordinary shuffled equi join on an integer key, so it
    survives 100 TB and AQE can skew-split hot bins. Values quantized
    to exact cents so the residual compare is integer-exact in both
    engines."""
    from ..operators.rangejoin import binned_band_join

    ev = table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("event_a"), cents("value").alias("va")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("event_b"), cents("value").alias("vb")
    )
    return binned_band_join(a, b, "va", "vb", band=5).select(
        "event_a", "event_b", (F.col("va") - F.col("vb")).alias("diff_cents")
    )


@register(
    "agg_hypertable_rollup",
    oracle=f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         count(*) AS n_events,
         CAST(sum({SQL_CENTS("value")}) AS BIGINT) AS sum_value_cents,
         max({SQL_CENTS("value")}) AS max_value_cents
  FROM events GROUP BY 1, 2
)
SELECT 'hour' AS grain, bucket, event_type, n_events,
       sum_value_cents, max_value_cents
FROM hourly
UNION ALL
SELECT 'day' AS grain, date_trunc('day', bucket) AS bucket, event_type,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(sum(sum_value_cents) AS BIGINT) AS sum_value_cents,
       max(max_value_cents) AS max_value_cents
FROM hourly GROUP BY 2, 3
""",
    tags=("agg", "time", "scale"),
)
def agg_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable continuous-aggregate cascade (operators/hypertable.py):
    hour and day rollups of events where the DAY level re-aggregates
    the HOURLY partials — one raw scan + one shuffle total, vs GROUPING
    SETS which re-expands every raw row per grain. All measures are
    algebraic (count/sum/max on exact cents) so the cascade is
    bit-exact; the oracle mirrors it with an explicit hourly CTE."""
    from ..operators.hypertable import hierarchical_rollup

    ev = table(spark, sf_dir, "events").withColumn("vc", cents("value"))
    return hierarchical_rollup(
        ev,
        ts_col="ts",
        keys=["event_type"],
        measures={
            "n_events": ("n", ""),
            "sum_value_cents": ("sum", "vc"),
            "max_value_cents": ("max", "vc"),
        },
        grains=["hour", "day"],
    )


@register(
    "merge_upsert",
    oracle="""
WITH updates AS (
  SELECT o_orderkey, o_custkey, 'X-MERGED' AS o_orderstatus,
         o_totalprice + 1.00 AS o_totalprice
  FROM orders WHERE o_orderkey % 50 = 0
),
base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pri) AS rn
  FROM (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 0 AS pri FROM updates
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 1 AS pri FROM base
  )
) WHERE rn = 1
""",
    tags=("merge", "scale"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE/upsert without a table format: updates win over
    base rows on the natural key, implemented as union + one window
    on the key (the engine-portable MERGE INTO ... WHEN MATCHED THEN
    UPDATE). One shuffle on the merge key; at scale, pair with
    write_bucketed (operators/scale.py) so the base side is already
    partitioned by the key and only the delta shuffles. Prices
    emitted as exact cents (determinism rule 2)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        o.filter(F.col("o_orderkey") % 50 == 0)
        .withColumn("o_orderstatus", F.lit("X-MERGED"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.00)
        .withColumn("pri", F.lit(0))
    )
    merged = latest_by_key(
        o.withColumn("pri", F.lit(1)).unionByName(updates),
        keys=["o_orderkey"],
        order_by=[F.col("pri").asc()],
    )
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        cents("o_totalprice").alias("totalprice_cents"),
    )


@register(
    "join_salted_checked",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n_li,
       {SQL_DEC_SUM('l_extendedprice')} AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    tags=("join", "scale", "skew"),
)
def join_salted_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-defusing salted join as a hash-checked key: lineitem
    (salted on l_orderkey into 8 shards) ⋈ orders (replicated to all
    shards) — row-identical to the plain equi join the oracle runs,
    which is the operator's correctness contract. At 100 TB this is
    how a hot key (one customer with 10^9 rows) stops serializing one
    task: its rows spread across n_salts tasks and AQE handles the
    rest."""
    from ..operators.scale import salted_join

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = salted_join(li, o, "l_orderkey", n_salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_li"),
        dec_sum("l_extendedprice").alias("sum_price"),
    )


@register(
    "join_bucketed_checked",
    oracle=f"""
SELECT c_mktsegment, COUNT(*) AS n_orders,
       {SQL_DEC_SUM('o_totalprice')} AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    tags=("join", "scale", "bucketing"),
)
def join_bucketed_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pay-the-shuffle-once bucketed join as a hash-checked key:
    orders and customer both written bucketed on the join key, then
    joined exchange-free (the bucket layout IS the shuffle, amortized
    across every future query — the 100 TB recurring-join pattern).
    tests/test_plans.py separately asserts the no-Exchange property;
    this key gives the RESULT hard driver evidence."""
    from ..operators.scale import bucketed_join, write_bucketed

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # Session-unique table names: the warehouse dir is shared across
    # processes (CWD), so a fixed name races concurrent test/check runs
    # rewriting the same location.
    tag = spark.sparkContext.applicationId.replace("-", "_").replace(".", "_")
    t_o, t_c = f"bk_orders_{tag}", f"bk_customer_{tag}"
    write_bucketed(o.withColumnRenamed("o_custkey", "c_custkey"), t_o, "c_custkey", 8)
    write_bucketed(c, t_c, "c_custkey", 8)
    j = bucketed_join(spark, t_o, t_c, "c_custkey")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice").alias("sum_price"),
    )


@register(
    "table_diff_reconcile",
    oracle="""
WITH newsnap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN 'X-NEW' ELSE o_orderstatus END AS o_orderstatus
  FROM orders
  WHERE o_orderkey % 101 <> 0
),
oldsnap AS (
  SELECT o_orderkey, o_orderstatus FROM orders
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change
FROM oldsnap o FULL OUTER JOIN newsnap n USING (o_orderkey)
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
      OR o.o_orderstatus <> n.o_orderstatus
""",
    tags=("diff", "reconcile"),
)
def table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (the change-data-feed primitive without
    a table format): FULL OUTER join two snapshots on the key and
    classify added / removed / changed rows. The 'new' snapshot is
    derived in-query (drop keys %101, restatus keys %97) so both
    engines diff identical inputs. One shuffle on the key; at scale
    both snapshots bucket-written on the key diff exchange-free, and
    unchanged rows (the overwhelming majority) are filtered before
    any wide output is materialized."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    new = (
        o.filter(F.col("o_orderkey") % 101 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 97 == 0, F.lit("X-NEW")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .withColumnRenamed("o_orderstatus", "n_status")
    )
    old = o.withColumnRenamed("o_orderstatus", "o_status")
    j = old.join(new, "o_orderkey", "full_outer")
    return j.filter(
        F.col("o_status").isNull()
        | F.col("n_status").isNull()
        | (F.col("o_status") != F.col("n_status"))
    ).select(
        "o_orderkey",
        F.when(F.col("o_status").isNull(), "added")
        .when(F.col("n_status").isNull(), "removed")
        .otherwise("changed")
        .alias("change"),
    )


@register(
    "dq_rules_summary",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price,
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
       CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                  OR o_orderdate > TIMESTAMP '2003-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS date_out_of_range,
       COUNT(*) - COUNT(DISTINCT o_orderkey) AS duplicate_keys
FROM orders
""",
    tags=("dq",),
)
def dq_rules_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: null / range / set-membership / uniqueness
    rule violations counted in ONE scan (conditional sums share the
    pass; the uniqueness rule rides the same agg as count-distinct).
    The output is the go/no-go row a pipeline checks before
    publishing a snapshot — at 100 TB the single-pass property is the
    difference between one scan and one scan per rule."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_custkey"
        ),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive_price"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("bad_status"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") > F.lit("2003-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("date_out_of_range"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("duplicate_keys"),
    )


@register(
    "agg_pareto_customers",
    oracle=f"""
WITH rev AS (
  SELECT o_custkey, SUM({SQL_CENTS('o_totalprice')}) AS rev_c
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT o_custkey, rev_c,
         ROW_NUMBER() OVER (ORDER BY rev_c DESC, o_custkey) AS rnk,
         SUM(rev_c) OVER (ORDER BY rev_c DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS cum_c
  FROM rev
)
SELECT o_custkey, rnk, CAST(rev_c AS DOUBLE) / 100.0 AS revenue
FROM ranked, (SELECT SUM(rev_c) AS tot FROM rev)
WHERE (cum_c - rev_c) * 5 < tot * 4
""",
    tags=("pareto", "scale"),
)
def agg_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) analysis: the smallest prefix of customers, by
    descending revenue, whose cumulative revenue stays under 80% of
    total — i.e. every customer whose EXCLUSIVE running total is below
    the threshold (exact integer compare: cum_before*5 < total*4).
    Composes both two-phase operators: global_rank for the revenue
    order and global_cumsum for the running total — no
    single-partition window over the customer table; the 1-row total
    broadcasts. The whale-curve query every revenue (or token-budget)
    report needs."""
    from ..operators.scale import global_rank
    from ..operators.trainprep import global_cumsum

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("rev_c")
    )
    ranked = global_rank(
        rev, [F.col("rev_c").desc(), F.col("o_custkey").asc()], rank_col="rnk"
    )
    # global_cumsum orders by an integer key: the rank IS that key.
    cum = global_cumsum(
        ranked, order_col="rnk", weight_col="rev_c", n_partitions=32
    )
    tot = rev.agg(F.sum("rev_c").alias("tot"))
    return (
        cum.join(F.broadcast(tot))
        .filter(F.col("cum_before") * 5 < F.col("tot") * 4)
        .select(
            "o_custkey",
            "rnk",
            (F.col("rev_c").cast("double") / F.lit(100.0)).alias("revenue"),
        )
    )


@register(
    "dq_k_anonymity",
    oracle="""
WITH cohorts AS (
  SELECT c_mktsegment, c_nationkey, COUNT(*) AS cohort_size
  FROM customer GROUP BY c_mktsegment, c_nationkey
)
SELECT c.c_custkey, c.c_mktsegment, c.c_nationkey,
       k.cohort_size,
       k.cohort_size < 5 AS suppress
FROM customer c JOIN cohorts k
  ON c.c_mktsegment = k.c_mktsegment AND c.c_nationkey = k.c_nationkey
""",
    tags=("dq", "privacy"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier (segment, nation):
    each customer's cohort size and whether releasing the pair would
    violate k=5 (cohort smaller than k -> suppress before publishing).
    The cohort table is quasi-identifier-domain sized, so it
    broadcasts back onto the scan; one hash-agg + one broadcast join,
    no wide shuffle at 100 TB."""
    cust = table(spark, sf_dir, "customer")
    cohorts = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        cust.select("c_custkey", "c_mktsegment", "c_nationkey")
        .join(F.broadcast(cohorts), ["c_mktsegment", "c_nationkey"])
        .select(
            "c_custkey",
            "c_mktsegment",
            "c_nationkey",
            "cohort_size",
            (F.col("cohort_size") < 5).alias("suppress"),
        )
    )


@register(
    "dq_fd_check",
    oracle="""
WITH fd1 AS (
  SELECT 'o_orderkey->o_custkey' AS fd,
         COUNT(*) AS n_lhs,
         CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs
  FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS n_rhs
        FROM orders GROUP BY o_orderkey)
),
fd2 AS (
  SELECT 'o_custkey->o_orderpriority' AS fd,
         COUNT(*) AS n_lhs,
         CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs
  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_rhs
        FROM orders GROUP BY o_custkey)
),
fd3 AS (
  SELECT 'l_orderkey,l_linenumber->l_partkey' AS fd,
         COUNT(*) AS n_lhs,
         CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs
  FROM (SELECT l_orderkey, l_linenumber, COUNT(DISTINCT l_partkey) AS n_rhs
        FROM lineitem GROUP BY l_orderkey, l_linenumber)
)
SELECT fd, n_lhs, n_violating_lhs, n_violating_lhs = 0 AS holds FROM fd1
UNION ALL SELECT fd, n_lhs, n_violating_lhs, n_violating_lhs = 0 FROM fd2
UNION ALL SELECT fd, n_lhs, n_violating_lhs, n_violating_lhs = 0 FROM fd3
""",
    tags=("dq", "profiling"),
)
def dq_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency verification (the counting core of
    distributed FD discovery, cf. 'Distributed Discovery of
    Functional Dependencies', ICDE 2019 — see PAPERS.md): a candidate
    FD X->Y holds iff no X-group sees more than one distinct Y.
    Three pinned candidates profile the fixture: the orders key FD
    (holds), a deliberately false one, and the lineitem composite-key
    FD. Each check is one hash-agg on its LHS (map-side combinable)
    + a count-distinct on the RHS — at 100 TB this is exactly the
    per-candidate cost model the discovery lattice prunes with."""

    def check(df: DataFrame, lhs: list[str], rhs: str, name: str) -> DataFrame:
        per = df.groupBy(*lhs).agg(F.countDistinct(rhs).alias("n_rhs"))
        return per.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_lhs"),
        ).withColumn("holds", F.col("n_violating_lhs") == 0)

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        check(o, ["o_orderkey"], "o_custkey", "o_orderkey->o_custkey")
        .unionByName(
            check(o, ["o_custkey"], "o_orderpriority", "o_custkey->o_orderpriority")
        )
        .unionByName(
            check(
                li,
                ["l_orderkey", "l_linenumber"],
                "l_partkey",
                "l_orderkey,l_linenumber->l_partkey",
            )
        )
    )


@register(
    "dq_benford",
    oracle="""
WITH digits AS (
  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS d
  FROM orders WHERE o_totalprice >= 1
),
tot AS (SELECT COUNT(*) AS n_total FROM digits)
SELECT CAST(d AS INT) AS first_digit,
       COUNT(*) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE) / n_total, 6) AS observed_freq,
       ROUND(ABS(CAST(COUNT(*) AS DOUBLE) / n_total
                 - ROUND(log10(1.0 + 1.0 / CAST(d AS INT)), 9)), 6)
         AS benford_deviation
FROM digits CROSS JOIN tot
GROUP BY d, n_total
""",
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit screen over order totals
    (round 4) — the classic fabricated-data / unit-mix-up detector:
    naturally-occurring multi-magnitude amounts follow
    P(d) = log10(1 + 1/d); a column whose deviation spikes was
    truncated, synthesized, or re-scaled somewhere upstream. One
    narrow scan -> 9-group hash-agg (the total is a 1-row broadcast);
    log10(1+1/d) is rounded to 9 guard digits on both engines before
    the deviation, same ulp discipline as the quantized-log keys."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        ).alias("d")
    )
    tot = digits.agg(F.count(F.lit(1)).alias("n_total"))
    freq = F.col("n").cast("double") / F.col("n_total")
    benford = F.round(F.log10(1.0 + 1.0 / F.col("first_digit")), 9)
    return (
        digits.groupBy(F.col("d").cast("int").alias("first_digit"))
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "first_digit",
            "n",
            F.round(freq, 6).alias("observed_freq"),
            F.round(F.abs(freq - benford), 6).alias("benford_deviation"),
        )
    )


@register(
    "merge_scd2",
    oracle="""
WITH changes AS (
  SELECT user_id, event_type, ts,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_id
  FROM events
),
runs AS (
  SELECT user_id, event_type, ts, event_id
  FROM changes
  WHERE prev_type IS NULL OR prev_type <> event_type
),
versioned AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM runs
)
SELECT user_id, state, valid_from,
       COALESCE(valid_to, TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
       CAST(valid_to IS NULL AS BOOLEAN) AS is_current
FROM versioned
""",
)
def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build (round 4): collapse each
    user's event-type history into validity intervals
    [valid_from, valid_to) with an is_current flag — the warehouse
    versioned-dimension pattern (the reference's DB-storage identity
    made this a daily shape). Two windows over one (user_id) shuffle:
    LAG detects run starts (consecutive-duplicate collapse), LEAD
    closes each version with the next run's start; ties break on
    event_id so the timeline is total. At 100 TB both windows reuse
    ONE hash partitioning on user_id — no second exchange — and state
    per key is a scalar, not the history."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    versioned = runs.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    # open-ended current version carries the conventional high-date
    # sentinel instead of NULL (SCD2 practice, and NULL timestamps
    # compare NaT!=NaT in cross-engine value checks)
    return versioned.select(
        "user_id",
        "state",
        "valid_from",
        F.coalesce(
            "valid_to", F.lit("2200-01-01 00:00:00").cast("timestamp")
        ).alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    )


@register(
    "ts_gapfill_locf",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('day', MIN(ts)) AS gmin, date_trunc('day', MAX(ts)) AS gmax
  FROM events
),
users AS (SELECT DISTINCT user_id FROM events),
spine AS (
  SELECT u.user_id, CAST(d.d AS TIMESTAMP) AS day
  FROM users u CROSS JOIN bounds b
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(b.gmin, b.gmax, INTERVAL 1 DAY)) AS d
  ) d
),
daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS day_value
  FROM events GROUP BY user_id, date_trunc('day', ts)
),
joined AS (
  SELECT s.user_id, s.day,
         COALESCE(d.n_events, 0) AS n_events,
         d.day_value
  FROM spine s LEFT JOIN daily d
    ON d.user_id = s.user_id AND d.day = s.day
)
SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events,
       COALESCE(
         last_value(day_value IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         -1.0) AS value_locf,
       CAST(n_events = 0 AS BOOLEAN) AS is_filled
FROM joined
""",
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series GAP FILL + LOCF (round 4) — the hypertable
    operation rollups feed into: build the dense per-user daily spine
    across the observed range (sequence + explode — generated, never
    stored), left-join the sparse daily aggregates, and forward-fill
    each gap with the last observed value (last_value IGNORE NULLS
    over one user_id window; -1 sentinel before first observation —
    a NULL would compare NaT-style cross-engine). Day sums are exact
    DECIMAL. At 100 TB the spine is (users x days) — generated
    colocated with the join, so the only wide exchange is the daily
    aggregate itself; the LOCF window rides the same user_id
    partitioning."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("DAY", F.min("ts")).alias("gmin"),
        F.date_trunc("DAY", F.max("ts")).alias("gmax"),
    )
    users = ev.select("user_id").distinct()
    spine = (
        users.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence("gmin", "gmax", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    daily = ev.groupBy(
        "user_id", F.date_trunc("DAY", "ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("day_value"),
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce(
            F.last("day_value", ignorenulls=True).over(w), F.lit(-1.0)
        ).alias("value_locf"),
        F.coalesce("n_events", F.lit(0)).eqNullSafe(0).alias("is_filled"),
    )


@register(
    "iter_reachability_bfs",
    oracle="""
WITH RECURSIVE nn AS (SELECT COUNT(*) AS n FROM customer),
edges AS (
  SELECT c_custkey AS src,
         (c_custkey * 37 + 11) % (SELECT n FROM nn) AS dst
  FROM customer
),
reach (node, depth) AS (
  SELECT src, 0 FROM edges WHERE src % 100 = 0
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.depth < 6
)
SELECT CAST(node AS BIGINT) AS node, CAST(MIN(depth) AS INTEGER) AS depth
FROM reach GROUP BY node
""",
)
def iter_reachability_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS reachability (min hops <= 6 from seed nodes)
    over a derived functional graph — the iterative frontier-
    expansion shape behind label propagation, influence radius, and
    k-hop neighborhood features. The edge set is derived in-plan
    (dst = (37*key + 11) mod N, N a 1-row broadcast count — no
    collect); seeds are key % 100 == 0.

    Spark formulation: the depth bound is static, so the loop
    UNROLLS into 6 chained equi-joins (frontier ⋈ edges on the
    node key) with a per-level distinct() keeping each frontier at
    most |nodes| — no driver-side iteration state at all, one job.
    The oracle reaches the same fixpoint with a recursive CTE;
    min-depth semantics make revisit rows harmless on both sides.
    An unbounded depth needs driver-side rounds, each pinned with
    localCheckpoint (dedup_connected_components' large-star/small-star
    operator); bounded-k unrolling is the cheaper plan when k is
    known."""
    cust = table(spark, sf_dir, "customer")
    nn = cust.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        cust.select("c_custkey")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("c_custkey").alias("src"),
            ((F.col("c_custkey") * 37 + 11) % F.col("n")).alias("dst"),
        )
    )
    from ..operators.iterative import bounded_bfs

    seeds = edges.filter(F.col("src") % 100 == 0).select(
        F.col("src").alias("node")
    )
    return bounded_bfs(edges, seeds, max_depth=6).select(
        F.col("node").cast("bigint").alias("node"), "depth"
    )


@register(
    "ts_resample_interp",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('day', MIN(ts)) AS gmin, date_trunc('day', MAX(ts)) AS gmax
  FROM events
),
users AS (SELECT DISTINCT user_id FROM events),
spine AS (
  SELECT u.user_id, CAST(d.d AS TIMESTAMP) AS day
  FROM users u CROSS JOIN bounds b
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(b.gmin, b.gmax, INTERVAL 1 DAY)) AS d
  ) d
),
daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS vc
  FROM events GROUP BY user_id, date_trunc('day', ts)
),
joined AS (
  SELECT s.user_id, s.day, d.vc,
         CASE WHEN d.vc IS NOT NULL THEN s.day END AS obs_day
  FROM spine s LEFT JOIN daily d
    ON d.user_id = s.user_id AND d.day = s.day
),
ctx AS (
  SELECT user_id, day, vc,
         last_value(vc IGNORE NULLS) OVER w_prev AS pv,
         last_value(obs_day IGNORE NULLS) OVER w_prev AS pd,
         first_value(vc IGNORE NULLS) OVER w_next AS nv,
         first_value(obs_day IGNORE NULLS) OVER w_next AS nd
  FROM joined
  WINDOW
    w_prev AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day,
       CASE
         WHEN vc IS NOT NULL THEN CAST(vc AS DOUBLE) / 100.0
         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           (CAST(pv AS DOUBLE)
            + CAST(nv - pv AS DOUBLE)
              * date_diff('day', pd, day) / date_diff('day', pd, nd)) / 100.0
         WHEN pv IS NOT NULL THEN CAST(pv AS DOUBLE) / 100.0
         ELSE CAST(nv AS DOUBLE) / 100.0
       END AS value_interp,
       (vc IS NULL) AS is_filled
FROM ctx
""",
)
def ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with LINEAR interpolation — the sibling
    of ts_gapfill_locf for continuous signals: each missing day gets
    prev + (next - prev) * elapsed/gap, holding flat before the first
    / after the last observation.

    Same dense-spine construction as LOCF (sequence + explode,
    generated colocated — never stored); prev/next context comes from
    two mirrored IGNORE NULLS windows over the SAME user_id
    partitioning (one sort, two frames — no extra shuffle). All
    inputs to the interpolation are exact integers (cents sums, day
    diffs), so the double expression tree is bit-identical on both
    engines. At 100 TB the wide exchange is the daily aggregate;
    spine + windows ride its partitioning."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("DAY", F.min("ts")).alias("gmin"),
        F.date_trunc("DAY", F.max("ts")).alias("gmax"),
    )
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.explode(F.sequence("gmin", "gmax", F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        ),
    )
    daily = ev.groupBy("user_id", F.date_trunc("DAY", "ts").alias("day")).agg(
        F.sum(cents("value")).alias("vc")
    )
    from ..operators.iterative import resample_interp_daily

    joined = spine.join(daily, ["user_id", "day"], "left")
    return resample_interp_daily(joined)


@register(
    "dq_mad_outliers",
    oracle="""
WITH med AS (
  SELECT user_id, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY user_id
),
dev AS (
  SELECT e.user_id, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.user_id = m.user_id
),
mad AS (
  SELECT user_id, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY user_id
)
SELECT d.user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       ROUND(MAX(d.adev), 6) AS max_abs_dev,
       ROUND(MAX(m.mad), 6) AS mad
FROM dev d JOIN mad m ON d.user_id = m.user_id
GROUP BY d.user_id
""",
)
def dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per user: events whose |value - median|
    exceeds 3x the Median Absolute Deviation — the data-quality gate
    that, unlike z-scores, one wild value cannot poison (median and
    MAD both resist contamination).

    Two exact-percentile hash-aggs and two joins, ALL keyed on
    user_id — one logical exchange reused end-to-end (AQE keeps the
    co-partitioning). Exact medians: both engines interpolate
    (a+b)/2 over the same sorted 2-decimal values, so med, adev, and
    the 3x cut are bit-identical doubles cross-engine (the
    agg_percentile_exact determinism argument, composed twice).
    At 100 TB this is the grouped-median pattern: no global sort,
    percentile accumulates per group."""
    ev = table(spark, sf_dir, "events").select("user_id", "value")
    med = ev.groupBy("user_id").agg(F.percentile("value", 0.5).alias("med"))
    dev = ev.join(med, "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("adev") > 3.0 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.round(F.max("adev"), 6).alias("max_abs_dev"),
            F.round(F.max("mad"), 6).alias("mad"),
        )
    )


@register(
    "merge_cdc_apply",
    oracle="""
WITH base AS (
  SELECT user_id, 'I' AS op, value,
         TIMESTAMP '2023-12-31 00:00:00' AS ts, CAST(-1 AS BIGINT) AS seq
  FROM (
    SELECT user_id, arg_min(value, event_id) AS value,
           MIN(event_id) AS first_id
    FROM events GROUP BY user_id
  )
),
changes AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value, ts, event_id AS seq
  FROM events
),
unioned AS (
  SELECT * FROM base UNION ALL SELECT * FROM changes
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, seq DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_ops
  FROM unioned
)
SELECT user_id, value, ts AS last_ts, CAST(n_ops AS BIGINT) AS n_ops
FROM ranked
WHERE rn = 1 AND op <> 'D'
""",
)
def merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY with tombstones — the missing half of merge_upsert:
    a change stream of Insert/Update/DELETE ops (error events play
    the delete marker) folds onto a base snapshot; last writer per
    key wins by (ts, seq), and a key whose LAST op is a delete
    vanishes from the final state instead of keeping its stale row —
    the semantics every Debezium/binlog-to-warehouse sync needs.

    One unionByName + ONE window over the key partitioning (rank and
    op-count share the sort), then a scan-local tombstone filter; the
    change stream never joins the snapshot row-by-row. At 100 TB this
    is the same latest-per-key shuffle as merge_upsert — deletes add
    zero extra exchanges, unlike MERGE implementations that anti-join
    deletes separately."""
    ev = table(spark, sf_dir, "events")
    base = (
        ev.groupBy("user_id")
        .agg(F.expr("min_by(value, event_id)").alias("value"))
        .select(
            "user_id",
            F.lit("I").alias("op"),
            "value",
            F.lit("2023-12-31 00:00:00").cast("timestamp").alias("ts"),
            F.lit(-1).cast("bigint").alias("seq"),
        )
    )
    changes = ev.select(
        "user_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "value",
        "ts",
        F.col("event_id").alias("seq"),
    )
    unioned = base.unionByName(changes)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("seq").desc())
    wc = Window.partitionBy("user_id")
    ranked = unioned.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_ops"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "user_id",
        "value",
        F.col("ts").alias("last_ts"),
        F.col("n_ops").cast("bigint").alias("n_ops"),
    )


@register(
    "dq_referential_orphans",
    oracle="""
SELECT 'lineitem->orders' AS relation,
       (SELECT COUNT(*) FROM lineitem) AS n_child,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
UNION ALL
SELECT 'orders->customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem->part',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'events->supplier(canary)',
       (SELECT COUNT(*) FROM events),
       (SELECT COUNT(*) FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = e.user_id))
""",
)
def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign-key
    relation in one report — the cross-table DQ gate dq_rules_summary
    (single-table) does not cover. Three real FK edges (expected
    0 orphans) plus a deliberately-broken CANARY relation
    (events.user_id -> supplier.s_suppkey: user ids exceed the
    supplier key range) proving the check actually detects orphans
    rather than vacuously passing.

    Each relation is child LEFT-ANTI JOIN parent-keys on the FK —
    parent key sets are projected to the single key column before the
    join, so at 100 TB each check shuffles (key) pairs only (or
    broadcasts, when the parent is dim-sized). The per-relation
    1-row aggregates union into the report."""
    def check(child: DataFrame, fk: str, parent: DataFrame, pk: str, name: str) -> DataFrame:
        orphans = child.select(F.col(fk)).join(
            parent.select(F.col(pk)), child[fk] == parent[pk], "left_anti"
        )
        return (
            child.agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(
                F.broadcast(
                    orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
                )
            )
            .select(
                F.lit(name).alias("relation"), "n_child", "n_orphans"
            )
        )

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    p = table(spark, sf_dir, "part")
    ev = table(spark, sf_dir, "events")
    s = table(spark, sf_dir, "supplier")
    return (
        check(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionByName(check(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionByName(check(li, "l_partkey", p, "p_partkey", "lineitem->part"))
        .unionByName(
            check(ev, "user_id", s, "s_suppkey", "events->supplier(canary)")
        )
    )


@register(
    "agg_log2_histogram",
    oracle="""
WITH c AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders
)
SELECT CAST(length(ltrim(bin(cents), '0')) AS INTEGER) AS log2_bucket,
       COUNT(*) AS n_orders,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM c WHERE cents > 0
GROUP BY log2_bucket
""",
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logarithmic (power-of-2) histogram of order values — the
    HDR-histogram shape latency/value distributions use when
    fixed-width buckets (agg_histogram) can't span orders of
    magnitude. The bucket is the integer bit position of the cents
    value (floor(log2)+1), computed with INTEGER bit arithmetic on
    both engines — no libm log() anywhere, so no guard digits needed;
    one map-side-combinable hash-agg over ~30 buckets."""
    o = table(spark, sf_dir, "orders")
    c = cents("o_totalprice")
    # floor(log2(c)) + 1 == number of significant bits via bin()
    # string length — exact integer arithmetic. Dialect traps pinned
    # here: Spark's two-arg ltrim is (trimStr, str) while DuckDB's is
    # (str, chars), and DuckDB bit_length() counts STRING BYTES x 8,
    # so both oracles use length().
    bucket = F.length(F.expr("ltrim('0', bin(__c))")).cast("int")
    return (
        o.select(c.alias("__c"))
        .filter(F.col("__c") > 0)
        .groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("__c").cast("bigint").alias("min_cents"),
            F.max("__c").cast("bigint").alias("max_cents"),
        )
    )


@register(
    "iter_pagerank",
    oracle="""
WITH nn AS (SELECT COUNT(*) AS n FROM customer),
nodes AS (SELECT c_custkey AS node FROM customer),
edges AS (
  SELECT c_custkey AS src,
         (c_custkey * 37 + 11) % (SELECT n FROM nn) + 1 AS dst
  FROM customer
),
base AS (
  SELECT CAST(1000000000000 AS BIGINT) // (SELECT n FROM nn) AS r0
),
r0 AS (SELECT node, (SELECT r0 FROM base) AS rank FROM nodes),
s1 AS (SELECT e.dst AS node, SUM(r.rank) AS s
       FROM edges e JOIN r0 r ON r.node = e.src GROUP BY e.dst),
r1 AS (SELECT nodes.node,
              (15 * (SELECT r0 FROM base)) // 100
              + (85 * COALESCE(s1.s, 0)) // 100 AS rank
       FROM nodes LEFT JOIN s1 ON s1.node = nodes.node),
s2 AS (SELECT e.dst AS node, SUM(r.rank) AS s
       FROM edges e JOIN r1 r ON r.node = e.src GROUP BY e.dst),
r2 AS (SELECT nodes.node,
              (15 * (SELECT r0 FROM base)) // 100
              + (85 * COALESCE(s2.s, 0)) // 100 AS rank
       FROM nodes LEFT JOIN s2 ON s2.node = nodes.node),
s3 AS (SELECT e.dst AS node, SUM(r.rank) AS s
       FROM edges e JOIN r2 r ON r.node = e.src GROUP BY e.dst),
r3 AS (SELECT nodes.node,
              (15 * (SELECT r0 FROM base)) // 100
              + (85 * COALESCE(s3.s, 0)) // 100 AS rank
       FROM nodes LEFT JOIN s3 ON s3.node = nodes.node)
SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank_scaled
FROM r3
""",
    tags=("iterative", "graph"),
)
def iter_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (damping 0.85, 3 rounds) over the
    derived functional customer graph (dst = (37*key+11) mod N + 1 —
    same in-plan edge construction as iter_reachability_bfs, so the
    two iterative keys share one graph). All arithmetic is integer:
    ranks are BIGINTs scaled by 1e12, the damping update divides by
    100 with truncating integer division — exact under any shuffle
    order and engine (operators/iterative.pagerank_fixed). The static
    iteration count unrolls into 3 chained join+agg rounds in ONE
    lazy plan; each round's shuffle carries (node, rank) pairs only.
    The oracle replays the identical integer recurrence as chained
    CTEs. This is the power-iteration shape behind centrality
    features and influence scoring at 100 TB: per-round cost is one
    |E| join + one |V| agg, never materializing paths."""
    from ..operators.iterative import pagerank_fixed

    cust = table(spark, sf_dir, "customer")
    nn = cust.agg(F.count(F.lit(1)).alias("n"))
    nodes = cust.select(F.col("c_custkey").alias("node"))
    edges = (
        cust.select("c_custkey")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("c_custkey").alias("src"),
            ((F.col("c_custkey") * 37 + 11) % F.col("n") + 1).alias("dst"),
        )
    )
    return pagerank_fixed(edges, nodes, iterations=3).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("rank").cast("bigint").alias("rank_scaled"),
    )


@register(
    "sql_recursive_cte",
    oracle="""
WITH RECURSIVE edges AS (
  SELECT c_custkey AS child, c_custkey // 2 AS parent
  FROM customer WHERE c_custkey > 1
),
walk (node, cur, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  SELECT w.node, e.parent, w.depth + 1
  FROM walk w JOIN edges e ON e.child = w.cur
)
SELECT CAST(node AS BIGINT) AS node,
       CAST(MAX(depth) AS INTEGER) AS depth_to_root
FROM walk GROUP BY node
""",
    tags=("sql", "iterative"),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE recursive CTE (Spark 4 `WITH RECURSIVE` — new in 4.0):
    each customer's depth in the implicit binary-ownership hierarchy
    (parent = key div 2, root = 1), walked by the engine's own
    fixpoint iteration with a JOIN inside the recursive member — the
    declarative twin of the hand-unrolled iter_reachability_bfs /
    iter_pagerank keys, for the cases where the depth is NOT known
    statically. Spark executes the recursion as iterated UnionLoop
    steps over the same join+filter plan; each level's frontier is
    one halving pass, so the walk terminates in ~log2(N) rounds and
    the exchange per round carries (node, cur, depth) triples only.
    DuckDB runs the identical SQL text modulo the integer-division
    spelling (`div` vs `//`). Both sides aggregate MAX(depth) per
    node, which is the root distance since `cur` strictly halves."""
    cust = table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("customer_rec_src")
    return spark.sql(
        """
WITH RECURSIVE edges AS (
  SELECT c_custkey AS child, c_custkey div 2 AS parent
  FROM customer_rec_src WHERE c_custkey > 1
),
walk (node, cur, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer_rec_src
  UNION ALL
  SELECT w.node, e.parent, w.depth + 1
  FROM walk w JOIN edges e ON e.child = w.cur
)
SELECT CAST(node AS BIGINT) AS node,
       CAST(MAX(depth) AS INT) AS depth_to_root
FROM walk GROUP BY node
"""
    )


@register(
    "dq_completeness_profile",
    oracle="""
WITH src AS (
  SELECT c_custkey, NULLIF(c_mktsegment, 'MACHINERY') AS seg,
         c_acctbal, c_nationkey
  FROM customer
)
SELECT col_name, n_rows, n_nulls, n_distinct, min_str, max_str FROM (
  SELECT 'c_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(c_custkey) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
         CAST(MIN(c_custkey) AS VARCHAR) AS min_str,
         CAST(MAX(c_custkey) AS VARCHAR) AS max_str
  FROM src
  UNION ALL
  SELECT 'seg', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(seg) AS BIGINT),
         CAST(COUNT(DISTINCT seg) AS BIGINT),
         CAST(MIN(seg) AS VARCHAR), CAST(MAX(seg) AS VARCHAR)
  FROM src
  UNION ALL
  SELECT 'c_acctbal', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(c_acctbal) AS BIGINT),
         CAST(COUNT(DISTINCT c_acctbal) AS BIGINT),
         CAST(CAST(ROUND(MIN(c_acctbal) * 100, 0) AS BIGINT) AS VARCHAR),
         CAST(CAST(ROUND(MAX(c_acctbal) * 100, 0) AS BIGINT) AS VARCHAR)
  FROM src
  UNION ALL
  SELECT 'c_nationkey', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(c_nationkey) AS BIGINT),
         CAST(COUNT(DISTINCT c_nationkey) AS BIGINT),
         CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR)
  FROM src
)
""",
    tags=("dq", "profile"),
)
def dq_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column PROFILING in one pass — the table-summary report every
    dataset onboarding starts with (deequ/TFDV profile shape): per
    column, (rows, nulls, distincts, min, max) emitted long-format.
    All columns profile in a SINGLE aggregate over one scan (the
    per-column UNION in the oracle is the readable mirror; Spark
    computes one wide agg row and unpivots it with a literal stack —
    an Expand node, no second scan, no join). min/max render as
    strings so one report schema fits every column type (doubles via
    exact cents). A nullable column is derived in-query since the
    fixture has no NULLs. At 100 TB this is one map-side-combinable
    pass; COUNT(DISTINCT) is the only expensive term — swap to
    approx_count_distinct when exactness isn't required."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg"),
        "c_acctbal",
        "c_nationkey",
    )
    wide = c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            x
            for col, mm in [
                ("c_custkey", False),
                ("seg", False),
                ("c_acctbal", True),
                ("c_nationkey", False),
            ]
            for x in [
                (F.count(F.lit(1)) - F.count(col)).alias(f"{col}__nulls"),
                F.countDistinct(col).alias(f"{col}__distinct"),
                (
                    cents(F.min(col)).cast("string")
                    if mm
                    else F.min(col).cast("string")
                ).alias(f"{col}__min"),
                (
                    cents(F.max(col)).cast("string")
                    if mm
                    else F.max(col).cast("string")
                ).alias(f"{col}__max"),
            ]
        ],
    )
    rows = [
        F.struct(
            F.lit(col).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"{col}__nulls").alias("n_nulls"),
            F.col(f"{col}__distinct").alias("n_distinct"),
            F.col(f"{col}__min").alias("min_str"),
            F.col(f"{col}__max").alias("max_str"),
        )
        for col in ["c_custkey", "seg", "c_acctbal", "c_nationkey"]
    ]
    return wide.select(
        F.explode(F.array(*rows)).alias("p")
    ).select("p.*")


@register(
    "join_scd2_pointintime",
    oracle="""
WITH changes AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events WHERE event_type <> 'purchase'
),
runs AS (
  SELECT user_id, event_type, ts, event_id
  FROM changes WHERE prev_type IS NULL OR prev_type <> event_type
),
dim AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  TIMESTAMP '2200-01-01 00:00:00') AS valid_to
  FROM runs
),
facts AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE event_type = 'purchase'
)
SELECT COALESCE(d.state, 'no_state') AS state_at_purchase,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(ROUND(f.value * 100, 0) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM facts f
LEFT JOIN dim d
  ON d.user_id = f.user_id
 AND f.ts >= d.valid_from AND f.ts < d.valid_to
GROUP BY COALESCE(d.state, 'no_state')
""",
    tags=("join", "scd2", "warehouse"),
)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against an SCD2 dimension — the consuming
    half of merge_scd2 (which builds the versioned dimension, this
    key reads it correctly): each purchase fact attaches the
    dimension version whose [valid_from, valid_to) interval covers
    the fact timestamp — the time-correct enrichment that prevents
    feature leakage in training-data builds (joining today's
    attributes onto last year's facts). Because SCD2 versions TILE
    each user's timeline, interval containment == as-of-backward on
    valid_from, so the plan is the single-shuffle union-tag as-of
    operator (one user_id sort), NOT an O(n·versions) range join —
    the oracle states the containment predicate declaratively and
    DuckDB's IEJoin evaluates it; row-identical results prove the
    rewrite. Facts before a user's first version keep a 'no_state'
    bucket (left semantics). Output: per-state purchase counts and
    exact cent sums."""
    from ..operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.filter(F.col("event_type") != "purchase")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    dim = runs.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        "event_id",
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    # tiebreak: two versions sharing one valid_from mean the earlier
    # (by event_id) has an EMPTY [t, t) interval in the oracle's LEAD
    # construction — containment picks the later event_id, so the
    # as-of must too (determinism rule 3: ties always break on a
    # unique key).
    enriched = asof_join(
        facts,
        dim,
        on=["user_id"],
        left_ts="ts",
        right_ts="valid_from",
        right_payload={"state": "state_at_purchase"},
        tiebreak="event_id",
    )
    return enriched.groupBy(
        F.coalesce("state_at_purchase", F.lit("no_state")).alias(
            "state_at_purchase"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(cents("value")).alias("value_cents"),
    )


@register(
    "agg_gini_revenue",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT rev_c,
         CAST(ROW_NUMBER() OVER (ORDER BY rev_c ASC, o_custkey ASC)
              AS BIGINT) AS rnk
  FROM rev
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rev_c) AS BIGINT) AS sx,
         CAST(SUM(rnk * rev_c) AS BIGINT) AS sixi
  FROM ranked
)
SELECT n AS n_customers, sx AS total_cents,
       ROUND(CAST(2 * sixi - (n + 1) * sx AS DOUBLE) / (CAST(n AS DOUBLE) * sx), 6)
         AS gini
FROM agg
""",
    tags=("stats", "agg"),
)
def agg_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality scalar behind the whale curve (agg_pareto_customers
    draws the curve; this is its summary statistic, the one a
    mixture-design or revenue-risk dashboard tracks over time). The
    rank-sum identity G = (2*Σ i*x_i − (n+1)*Σx) / (n*Σx) over
    ascending-sorted values needs ONE global total order — supplied
    by the two-phase global_rank operator (range-partition + local
    rank + tiny offset table), never a single-partition window. Both
    Σ terms are exact BIGINTs (i ≤ |customers|, x = cents; products
    ≤ ~2e16, int64-safe), so the only double is the final pinned
    division, rounded 6dp. The oracle's ROW_NUMBER states the same
    order declaratively."""
    from ..operators.scale import global_rank

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("rev_c")
    )
    ranked = global_rank(
        rev, [F.col("rev_c").asc(), F.col("o_custkey").asc()], rank_col="rnk"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev_c").alias("sx"),
        F.sum(F.col("rnk") * F.col("rev_c")).alias("sixi"),
    )
    n, sx, sixi = F.col("n"), F.col("sx"), F.col("sixi")
    return agg.select(
        n.alias("n_customers"),
        sx.alias("total_cents"),
        F.round(
            (2 * sixi - (n + 1) * sx).cast("double")
            / (n.cast("double") * sx),
            6,
        ).alias("gini"),
    )


@register(
    "sql_pipe_syntax",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
HAVING COUNT(*) > 10
""",
    tags=("sql",),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4 `|>` operators, the GoogleSQL-style
    linear composition): scan |> WHERE |> AGGREGATE..GROUP BY |>
    WHERE-as-HAVING — each stage reads top-to-bottom in dataflow
    order, the SQL-text twin of DataFrame chaining and the form
    generated query builders emit. Catalyst compiles pipes to the
    identical logical plan as the nested-SELECT equivalent (same
    pushdown, same hash-agg), which the oracle states classically —
    the hash proves the two notations are the same query. Post-agg
    filtering in pipe form is just another `|> WHERE` (no special
    HAVING keyword needed)."""
    cents_sql = "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe_src")
    return spark.sql(
        f"""
FROM orders_pipe_src
|> WHERE o_orderstatus = 'O'
|> AGGREGATE COUNT(*) AS n_orders, SUM({cents_sql}) AS value_cents
   GROUP BY o_orderpriority
|> WHERE n_orders > 10
|> SELECT o_orderpriority, n_orders, value_cents
"""
    )


@register(
    "reshape_transpose",
    oracle="""
WITH agg AS (
  SELECT o_orderpriority AS pri,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM orders GROUP BY o_orderpriority
)
SELECT 'n_orders' AS key,
       (SELECT n_orders FROM agg WHERE pri = '1-URGENT') AS "1-URGENT",
       (SELECT n_orders FROM agg WHERE pri = '2-HIGH') AS "2-HIGH",
       (SELECT n_orders FROM agg WHERE pri = '3-MEDIUM') AS "3-MEDIUM",
       (SELECT n_orders FROM agg WHERE pri = '4-NOT SPECIFIED')
         AS "4-NOT SPECIFIED",
       (SELECT n_orders FROM agg WHERE pri = '5-LOW') AS "5-LOW"
UNION ALL
SELECT 'value_cents',
       (SELECT value_cents FROM agg WHERE pri = '1-URGENT'),
       (SELECT value_cents FROM agg WHERE pri = '2-HIGH'),
       (SELECT value_cents FROM agg WHERE pri = '3-MEDIUM'),
       (SELECT value_cents FROM agg WHERE pri = '4-NOT SPECIFIED'),
       (SELECT value_cents FROM agg WHERE pri = '5-LOW')
""",
    tags=("reshape",),
)
def reshape_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame TRANSPOSE (Spark 4 `df.transpose()`) — the full
    matrix flip that completes the reshape family (pivot_wide turns
    values into columns, unpivot_long melts columns into rows;
    transpose swaps the axes entirely): a 5-priority × 2-measure
    aggregate becomes a 2-row report whose COLUMNS are the priority
    values — the orientation dashboards want for small summary
    grids. Spark derives the output columns from the first column's
    values at ANALYSIS time (requires a driver-side peek of the
    grid — fine for summary-sized inputs, never for corpus-scale;
    that asymmetry is why transpose stays a reporting op while
    pivot/unpivot remain the scalable reshapes). Measures are cast
    to one BIGINT type first — transpose requires a least common
    type across transposed cells. The oracle builds the flipped grid
    with scalar subqueries."""
    agg = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("value_cents"),
        )
        .orderBy("pri")
    )
    return agg.transpose()


@register(
    "dq_table_checksum",
    oracle="""
WITH rowhash AS (
  SELECT (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
         + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
         + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
         + (instr('0123456789abcdef', substr(h, 4, 1)) - 1) AS hv
  FROM (
    SELECT md5(CAST(o_orderkey AS VARCHAR) || '\x01' || o_orderstatus
               || '\x01' || CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                                 AS VARCHAR)) AS h
    FROM orders
  )
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(hv) AS BIGINT) AS checksum_sum,
       CAST(SUM(hv * hv) AS BIGINT) AS checksum_sq
FROM rowhash
""",
    tags=("dq", "reconcile"),
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INSENSITIVE table checksum — the cheap cross-environment
    reconciliation primitive (did the replica/backfill/migration
    produce the same table?) that table_diff_reconcile's full outer
    join is overkill for: each row serializes its key columns
    canonically (exact cents for money), hashes to a 16-bit integer
    via md5, and the table's signature is (count, Σh, Σh²) — three
    BIGINTs, associative and commutative, so any engine, partition
    order, or shard-merge computes the identical triple (the same
    monoid trick as dedup_exact_sharded, applied to verification).
    Σh alone misses swapped corruption (a+b = (a+1)+(b-1)); the Σh²
    second moment catches it. 16 bits keeps Σh² inside int64 to
    ~2e9 rows under ANSI mode; beyond that, widen the hash and take
    both sums mod a shared prime (identical % both engines). One
    scan, one 3-value agg — at 100 TB this runs per partition and
    the triples just add."""
    o = table(spark, sf_dir, "orders")
    h = F.md5(
        F.concat_ws(
            "\x01",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            cents("o_totalprice").cast("string"),
        )
    )
    nib = lambda i: (  # noqa: E731
        F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1
    ).cast("bigint")
    hv = nib(1) * 4096 + nib(2) * 256 + nib(3) * 16 + nib(4)
    return o.select(hv.alias("hv")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("hv").alias("checksum_sum"),
        F.sum(F.col("hv") * F.col("hv")).alias("checksum_sq"),
    )


# Rule table for dq_rules_as_data — DATA, not code: each row is
# (rule_id, column, op, bound). Adding a rule is an INSERT, not a
# deploy. Shared between the Spark key and its oracle.
_DQ_RULES = [
    ("r1", "o_totalprice", "min", 0.0),
    ("r2", "o_totalprice", "max", 600000.0),
    ("r3", "o_custkey", "min", 1.0),
    ("r4", "o_orderkey", "min", 1.0),
    ("r5", "o_totalprice", "min", 100000.0),  # deliberately strict
]
_DQ_RULES_SQL = ", ".join(
    f"('{r}', '{c}', '{o}', {b})" for r, c, o, b in _DQ_RULES
)


@register(
    "dq_rules_as_data",
    oracle=f"""
WITH rules(rule_id, col, op, bound) AS (
  SELECT * FROM (VALUES {_DQ_RULES_SQL})
),
vals AS (
  SELECT o_orderkey,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice,
         CAST(o_custkey AS DOUBLE) AS o_custkey_d,
         CAST(o_orderkey AS DOUBLE) AS o_orderkey_d
  FROM orders
),
checked AS (
  SELECT r.rule_id, r.col, r.op, r.bound,
         CASE r.col
           WHEN 'o_totalprice' THEN v.o_totalprice
           WHEN 'o_custkey' THEN v.o_custkey_d
           ELSE v.o_orderkey_d
         END AS val
  FROM vals v CROSS JOIN rules r
)
SELECT rule_id, col, op, bound,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN (op = 'min' AND val < bound)
                       OR (op = 'max' AND val > bound)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM checked
GROUP BY rule_id, col, op, bound
""",
    tags=("dq", "rules"),
)
def dq_rules_as_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ rules as DATA, not code — the property that makes a quality
    gate operable at fleet scale: the rule set is a TABLE
    (rule_id, column, op, bound) that analysts extend with an
    INSERT, while the engine applies whatever rules exist via one
    generic melt-join-CASE plan (dq_rules_summary hardcodes its
    checks into the query; this key makes the check surface
    declarative, the reference's config-over-code identity). Plan:
    values melt scan-locally to (col, val) pairs only for columns
    rules mention, the tiny rule table broadcasts into the
    cross-apply, and one hash-agg counts violations per rule — rule
    count scales the broadcast, never the scan count. A
    deliberately-strict rule (r5) proves violations are actually
    counted, not vacuously zero."""
    o = table(spark, sf_dir, "orders")
    rules = spark.createDataFrame(
        _DQ_RULES, "rule_id STRING, col STRING, op STRING, bound DOUBLE"
    )
    vals = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("o_custkey").cast("double").alias("o_custkey_d"),
        F.col("o_orderkey").cast("double").alias("o_orderkey_d"),
    )
    checked = vals.crossJoin(F.broadcast(rules)).select(
        "rule_id",
        "col",
        "op",
        "bound",
        F.when(F.col("col") == "o_totalprice", F.col("o_totalprice"))
        .when(F.col("col") == "o_custkey", F.col("o_custkey_d"))
        .otherwise(F.col("o_orderkey_d"))
        .alias("val"),
    )
    viol = F.when(
        ((F.col("op") == "min") & (F.col("val") < F.col("bound")))
        | ((F.col("op") == "max") & (F.col("val") > F.col("bound"))),
        1,
    ).otherwise(0)
    return checked.groupBy("rule_id", "col", "op", "bound").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(viol).alias("n_violations"),
    )


@register(
    "agg_equidepth_bins",
    oracle="""
WITH ranked AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (ORDER BY CAST(ROUND(o_totalprice * 100, 0)
                                          AS BIGINT), o_orderkey) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
)
SELECT CAST(b.i AS INTEGER) AS bin_no,
       CAST(r.cents AS BIGINT) AS upper_edge_cents,
       CAST(r.rn AS BIGINT) AS edge_rank,
       CAST(r.n AS BIGINT) AS n_rows
FROM (SELECT unnest(generate_series(1, 8)) AS i) b
JOIN ranked r ON r.rn = CAST(ceil(b.i * r.n / 8.0) AS BIGINT)
""",
    tags=("stats", "histogram"),
)
def agg_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram boundaries — the third histogram family
    (agg_histogram is equi-width, agg_log2_histogram is logarithmic;
    equi-depth puts equal ROW COUNTS per bin), and the statistic
    cost-based optimizers actually keep (selectivity of a range
    predicate reads straight off equi-depth edges regardless of
    skew). Each of the 8 edges is the exact order statistic at rank
    ceil(i*n/8) — the agg_percentile_disc formula vectorized over
    the bin grid, tie-broken on the unique key so the edge set is
    deterministic. The Spark side runs the two-phase global_rank
    (range-partition + local rank + tiny offset table — never a
    single-partition window over the corpus); the oracle states the
    same order statistic with a plain ROW_NUMBER. Joining the 8-row
    bin grid against the ranked relation keeps the output exactly 8
    rows."""
    from ..operators.scale import global_rank

    o = table(spark, sf_dir, "orders")
    v = o.select(
        cents("o_totalprice").alias("cents"), "o_orderkey"
    )
    ranked = global_rank(
        v, [F.col("cents").asc(), F.col("o_orderkey").asc()], rank_col="rn"
    )
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    bins = spark.range(1, 9).select(F.col("id").cast("int").alias("bin_no"))
    edges = (
        bins.crossJoin(F.broadcast(n))
        .select(
            "bin_no",
            "n",
            F.ceil(F.col("bin_no") * F.col("n") / 8.0)
            .cast("bigint")
            .alias("edge_rank"),
        )
    )
    return (
        ranked.join(
            F.broadcast(edges), ranked.rn == edges.edge_rank
        )
        .select(
            "bin_no",
            F.col("cents").alias("upper_edge_cents"),
            "edge_rank",
            F.col("n").cast("bigint").alias("n_rows"),
        )
    )


@register(
    "agg_revenue_hhi",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS c
  FROM orders GROUP BY o_custkey
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(c AS HUGEINT) * c) AS sq,
         SUM(CAST(c AS HUGEINT)) AS s
  FROM rev
)
SELECT n AS n_customers,
       ROUND(CAST(sq AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6)
         AS hhi,
       ROUND((CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(sq AS DOUBLE), 3)
         AS effective_n
FROM m
""",
    tags=("stats", "agg"),
)
def agg_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of customer revenue —
    the marketplace/antitrust concentration scalar pairing with
    agg_gini_revenue (Gini measures inequality of the distribution;
    HHI = Σ share² measures how few actors dominate, and its inverse
    is the 'effective number of customers'). Squared cent sums
    overflow int64 at scale (c² ~ 1e17 per whale), so the squares
    accumulate in WIDE EXACT integers — Spark DECIMAL(38,0), DuckDB
    HUGEINT — which stay order-free like any integer sum; the only
    doubles are the two final pinned divisions (6dp / 3dp). One
    customer-keyed agg + one 1-row reduction."""
    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("c")
    )
    cdec = F.col("c").cast("decimal(38,0)")
    m = rev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cdec * F.col("c")).alias("sq"),
        F.sum(cdec).alias("s"),
    )
    s_d, sq_d = F.col("s").cast("double"), F.col("sq").cast("double")
    return m.select(
        F.col("n").alias("n_customers"),
        F.round(sq_d / (s_d * s_d), 6).alias("hhi"),
        F.round((s_d * s_d) / sq_d, 3).alias("effective_n"),
    )


@register(
    "agg_abc_classification",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS c
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, c,
         CAST(SUM(c) OVER (ORDER BY c DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(c) OVER () AS BIGINT) AS tot
  FROM rev
),
classed AS (
  SELECT l_partkey, c,
         CASE WHEN cum * 100 <= tot * 80 THEN 'A'
              WHEN cum * 100 <= tot * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(c) AS BIGINT) AS revenue_cents
FROM classed GROUP BY abc
""",
    tags=("agg", "behavior"),
)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC CLASSIFICATION of parts by revenue (the inventory-ops
    staple: A = the head carrying ~80% of revenue, B = the next 15%,
    C = the long tail) — the discretized sibling of
    agg_pareto_customers (which finds a threshold prefix; this
    stamps every item's class and reports class sizes, the picking
    list a warehouse actually operates on). Class cuts are EXACT
    integer cross-multiplications (cum·100 ≤ tot·80 — no share
    doubles, no boundary flips). Round 8: the descending running sum
    now actually RUNS on the two-pass machinery instead of arguing
    it would — global_rank totally orders the part-grain rows
    (rev desc, partkey tie-break), global_cumsum accumulates in rank
    order, and the grand total is a 1-row broadcast — so the
    part-grain relation (which grows with the catalog) never funnels
    through one task, and the plan passes the lint sweep with no
    waiver."""
    from ..operators.scale import global_rank  # noqa: PLC0415
    from ..operators.trainprep import global_cumsum  # noqa: PLC0415

    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(cents("l_extendedprice")).alias("c")
    )
    ranked = global_rank(
        rev, [F.col("c").desc(), F.col("l_partkey").asc()], rank_col="rnk"
    )
    cum = global_cumsum(ranked, "rnk", "c", 32, out_col="cum_before")
    tot = rev.agg(F.sum("c").alias("tot"))
    classed = cum.crossJoin(F.broadcast(tot)).select(
        "c",
        F.when(
            (F.col("cum_before") + F.col("c")) * 100 <= F.col("tot") * 80, "A"
        )
        .when(
            (F.col("cum_before") + F.col("c")) * 100 <= F.col("tot") * 95, "B"
        )
        .otherwise("C")
        .alias("abc"),
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("c").alias("revenue_cents"),
    )


@register(
    "dq_schema_drift",
    oracle="""
WITH v1 AS (
  SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM orders)
),
v2 AS (
  SELECT column_name, column_type FROM (DESCRIBE
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(o_totalprice AS VARCHAR) AS o_totalprice,
           o_orderdate, 'web' AS o_channel
    FROM orders)
)
SELECT COALESCE(v1.column_name, v2.column_name) AS column_name,
       CASE
         WHEN v2.column_name IS NULL THEN 'removed'
         WHEN v1.column_name IS NULL THEN 'added'
         WHEN v1.column_type <> v2.column_type THEN 'type_changed'
         ELSE 'unchanged'
       END AS status
FROM v1 FULL OUTER JOIN v2 USING (column_name)
""",
    tags=("dq", "schema"),
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA DRIFT detection between two snapshot versions of a
    table — the contract check a pipeline runs before a backfill or
    a downstream migration: every column classified as unchanged /
    added / removed / type_changed by a FULL OUTER JOIN of the two
    schemas' metadata. The comparison is pure metadata (df.schema on
    the Spark side, DESCRIBE on the oracle side — neither scans a
    row; type names never cross engines, only the within-engine
    drift classification does, which is why the statuses hash-match
    exactly). The drift fixture: v2 drops o_orderpriority, adds
    o_channel, and retypes o_totalprice to string. At 100 TB this
    runs in milliseconds — it reads footers, not data — and is the
    gate that stops a silently-widened column from poisoning ten
    thousand downstream partitions."""
    v1 = table(spark, sf_dir, "orders")
    v2 = v1.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("string").alias("o_totalprice"),
        "o_orderdate",
        F.lit("web").alias("o_channel"),
    )

    def describe(df) -> DataFrame:
        return spark.createDataFrame(
            [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
            "column_name STRING, column_type STRING",
        )

    d1 = describe(v1).withColumnRenamed("column_type", "t1")
    d2 = describe(v2).withColumnRenamed("column_type", "t2")
    j = d1.join(d2, "column_name", "full_outer")
    return j.select(
        "column_name",
        F.when(F.col("t2").isNull(), "removed")
        .when(F.col("t1").isNull(), "added")
        .when(F.col("t1") != F.col("t2"), "type_changed")
        .otherwise("unchanged")
        .alias("status"),
    )


@register(
    "iter_sssp_bellman_ford",
    oracle="""
WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
edges AS (
  SELECT c_custkey AS src,
         (c_custkey * 37 + 11) % (SELECT n FROM nn) AS dst,
         CAST(1 + c_custkey % 7 AS BIGINT) AS w
  FROM customer
),
d0 AS (
  SELECT c_custkey AS node, CAST(0 AS BIGINT) AS dist
  FROM customer WHERE c_custkey % 100 = 0
),
r1 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d0
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM d0 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
),
r2 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM r1
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM r1 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
),
r3 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM r2
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM r2 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
),
r4 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM r3
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM r3 d JOIN edges e ON e.src = d.node
  ) GROUP BY node
)
SELECT node, CAST(dist AS BIGINT) AS dist FROM r4
""",
    tags=("iterative", "graph"),
)
def iter_sssp_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source shortest paths, 4 Bellman-Ford
    relaxation rounds over the same in-plan functional graph the BFS
    and PageRank keys derive (dst = (37k+11) mod N, weight = 1+k%7 —
    integer weights, no float accumulation, so every relaxation is
    exact under any shuffle order). Multi-source seeds (key%100=0)
    make the frontier realistic; each round is UNION ALL + one
    hash-agg MIN keyed on the node — the textbook distributed
    Bellman-Ford step, where the per-round shuffle carries (node,
    dist) pairs only, never the edge list twice (edges re-join from
    the same scan each round; Catalyst reuses the exchange). Fixed
    depth unrolls into ONE plan (the sql_recursive_cte key covers
    the unknown-depth variant); at real diameter, rounds bound by
    graph diameter with localCheckpoint lineage truncation every few
    rounds — the iter_pagerank operating procedure."""
    c = table(spark, sf_dir, "customer")
    nn = c.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        c.crossJoin(F.broadcast(nn))
        .select(
            F.col("c_custkey").alias("src"),
            ((F.col("c_custkey") * 37 + 11) % F.col("n")).alias("dst"),
            (1 + F.col("c_custkey") % 7).cast("bigint").alias("w"),
        )
    )
    dist = c.filter(F.col("c_custkey") % 100 == 0).select(
        F.col("c_custkey").alias("node"), F.lit(0).cast("bigint").alias("dist")
    )
    for _ in range(4):
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.select("node", F.col("dist").cast("bigint").alias("dist"))


@register(
    "agg_histogram_percentile",
    oracle="""
WITH c AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders
),
b AS (
  SELECT CAST(FLOOR(LN(CAST(cents AS DOUBLE)) / LN(2.0)) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM c WHERE cents > 0 GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM b),
cum AS (
  SELECT bucket, n,
         CAST(SUM(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n
  FROM b
),
pick AS (
  SELECT 'p50' AS pct, 50 AS q UNION ALL
  SELECT 'p90', 90 UNION ALL SELECT 'p99', 99
),
hit AS (
  SELECT p.pct, MIN(c.bucket) AS bucket
  FROM pick p CROSS JOIN tot t JOIN cum c
    ON c.cum_n * 100 >= p.q * t.total
  GROUP BY p.pct
)
SELECT h.pct,
       h.bucket,
       CAST(POW(2.0, h.bucket) AS BIGINT) AS lo_cents,
       CAST(POW(2.0, h.bucket + 1) AS BIGINT) AS hi_cents,
       c.n AS bucket_n
FROM hit h JOIN b c ON c.bucket = h.bucket
""",
    tags=("agg", "sketch"),
)
def agg_histogram_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILES FROM A MERGEABLE HISTOGRAM — how p99 is actually
    computed over a 100 TB stream: exact percentiles need a global
    sort; a log2-bucketed histogram needs one hash-agg (CRDT —
    buckets add across shards/windows like the CMS counters), and
    the quantile is read off the cumulative curve with bounded
    relative error (factor-2 brackets here; HDR histograms refine
    with sub-buckets, same algebra). Emitted per percentile: the hit
    bucket, its [lo, hi) cent bracket (integer powers of two —
    exact), and its population. The per-bucket table is tiny (~40
    rows for any money-like domain), so the cumulative window and
    the percentile probe are grid work, not corpus work — only the
    ONE bucket hash-agg ever sees the data. A wrong boundary rule
    (>= vs >) moves the bucket and fails the hash."""
    o = table(spark, sf_dir, "orders")
    c = o.select(cents("o_totalprice").alias("cents")).filter(F.col("cents") > 0)
    b = c.select(
        F.floor(F.log(F.col("cents").cast("double")) / F.log(F.lit(2.0)))
        .cast("bigint")
        .alias("bucket")
    ).groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    tot = b.agg(F.sum("n").alias("total"))
    cum = b.select(
        "bucket",
        "n",
        F.sum("n").over(Window.orderBy("bucket")).cast("bigint").alias("cum_n"),
    )
    pick = spark.createDataFrame(
        [("p50", 50), ("p90", 90), ("p99", 99)], "pct STRING, q INT"
    )
    hit = (
        pick.crossJoin(F.broadcast(tot))
        .join(cum, F.col("cum_n") * 100 >= F.col("q") * F.col("total"))
        .groupBy("pct")
        .agg(F.min("bucket").alias("bucket"))
    )
    return hit.join(b, "bucket").select(
        "pct",
        "bucket",
        F.pow(F.lit(2.0), F.col("bucket")).cast("bigint").alias("lo_cents"),
        F.pow(F.lit(2.0), F.col("bucket") + 1).cast("bigint").alias("hi_cents"),
        F.col("n").alias("bucket_n"),
    )


@register(
    "dq_freshness_sla",
    oracle="""
WITH wm AS (SELECT MAX(o_orderdate) AS global_max FROM orders),
per AS (
  SELECT o_orderpriority,
         MAX(o_orderdate) AS src_max,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY o_orderpriority
)
SELECT p.o_orderpriority,
       CAST(date_diff('day', p.src_max, w.global_max) AS BIGINT)
         AS days_behind,
       CASE WHEN date_diff('day', p.src_max, w.global_max) <= 7
            THEN 'ok' ELSE 'stale' END AS sla_status,
       p.n_rows
FROM per p CROSS JOIN wm w
""",
    tags=("dq",),
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRESHNESS SLA per source partition — the landing-zone monitor
    every multi-feed warehouse runs: each feed's high-water mark
    (MAX event time) compared to the global watermark, flagged
    against a 7-day SLA. Two aggregates over one scan (per-feed and
    global max share the read; the global is a 1-row broadcast), day
    arithmetic in exact integer days. At 100 TB this is the query
    that pages before a silent upstream stall poisons every
    downstream join with stale dimensions — and it costs one
    map-side-combinable MAX, the cheapest aggregate there is."""
    o = table(spark, sf_dir, "orders")
    wm = o.agg(F.max("o_orderdate").alias("global_max"))
    per = o.groupBy("o_orderpriority").agg(
        F.max("o_orderdate").alias("src_max"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    j = per.crossJoin(F.broadcast(wm))
    behind = F.datediff(F.col("global_max"), F.col("src_max")).cast("bigint")
    return j.select(
        "o_orderpriority",
        behind.alias("days_behind"),
        F.when(behind <= 7, "ok").otherwise("stale").alias("sla_status"),
        "n_rows",
    )


@register(
    "sql_pivot_syntax",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS status_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
         AS status_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
         AS status_p
FROM orders
GROUP BY o_orderpriority
""",
    tags=("relational", "sql"),
)
def sql_pivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-level PIVOT clause (the DataFrame .pivot() key's SQL twin,
    pivot_wide): explicit IN-list pivot of order counts by status —
    the declared-columns form that keeps the output schema STATIC,
    which is the only pivot shape that scales (a discovered-values
    pivot needs a driver-side distinct pass first and breaks schema
    stability between runs). Catalyst compiles the clause to the
    same single conditional hash-agg as the CASE-WHEN oracle — one
    pass, map-side combinable, no row explosion."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("_pivot_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COALESCE(status_f, 0) AS status_f,
               COALESCE(status_o, 0) AS status_o,
               COALESCE(status_p, 0) AS status_p
        FROM (SELECT o_orderpriority, o_orderstatus FROM _pivot_orders)
        PIVOT (
          COUNT(*) FOR o_orderstatus IN ('F' AS status_f, 'O' AS status_o,
                                         'P' AS status_p)
        )
        """
    )


@register(
    "merge_schema_evolution_upsert",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_custkey, o_orderstatus
  FROM orders WHERE o_orderkey % 5 <> 0
),
source AS (
  -- late-arriving feed carries a NEW column the target never had
  SELECT o_orderkey, o_custkey, 'X-EVOLVED' AS o_orderstatus,
         'feed-v2' AS ingest_tag
  FROM orders WHERE o_orderkey % 10 = 0
),
merged AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(NULL AS VARCHAR) AS ingest_tag, 1 AS pri FROM target
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, ingest_tag, 0 FROM source
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       COALESCE(ingest_tag, '<pre-evolution>') AS ingest_tag
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pri) AS rn
  FROM merged
) WHERE rn = 1
""",
    tags=("merge", "schema"),
)
def merge_schema_evolution_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPSERT UNDER SCHEMA EVOLUTION — the lakehouse MERGE reality:
    the incoming feed grew a column (`ingest_tag`) the target table
    never had. The merge must (a) widen the result to the union
    schema, (b) NULL-backfill existing rows (surfaced here as an
    explicit '<pre-evolution>' marker so the provenance boundary is
    part of the checked output), and (c) still keep exactly one row
    per key with source-wins precedence — unionByName(
    allowMissingColumns=True) + the same keyed window as
    merge_upsert. Silent alternatives all lose: dropping the column
    loses data, failing blocks the feed, positional union corrupts
    rows. Shuffle: one window exchange on the merge key, same as
    the evolution-free upsert."""
    o = table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    source = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("X-EVOLVED").alias("o_orderstatus"),
        F.lit("feed-v2").alias("ingest_tag"),
    )
    merged = target.withColumn("pri", F.lit(1)).unionByName(
        source.withColumn("pri", F.lit(0)), allowMissingColumns=True
    )
    w = Window.partitionBy("o_orderkey").orderBy("pri")
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.coalesce("ingest_tag", F.lit("<pre-evolution>")).alias(
                "ingest_tag"
            ),
        )
    )


@register(
    "dq_distribution_psi",
    oracle="""
WITH tagged AS (
  SELECT CASE WHEN year(o_orderdate) <= 1997 THEN 'base' ELSE 'cur' END AS era,
         CAST(FLOOR(LN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    / LN(2.0)) AS BIGINT) AS bucket
  FROM orders WHERE o_totalprice > 0
),
cells AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN era = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN era = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_c
  FROM tagged GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(n_b) AS BIGINT) AS tb, CAST(SUM(n_c) AS BIGINT) AS tc
  FROM cells
),
terms AS (
  -- +1 smoothing keeps every log finite under engine-identical
  -- arithmetic; the term is rounded 9dp BEFORE the sum so the
  -- total is shuffle-order-free (the JSD key's quantization rule)
  SELECT ROUND(
           (CAST(n_b + 1 AS DOUBLE) / (tb + COUNT(*) OVER ())
            - CAST(n_c + 1 AS DOUBLE) / (tc + COUNT(*) OVER ()))
           * LN((CAST(n_b + 1 AS DOUBLE) / (tb + COUNT(*) OVER ()))
                / (CAST(n_c + 1 AS DOUBLE) / (tc + COUNT(*) OVER ()))),
           9) AS term
  FROM cells CROSS JOIN tot
)
SELECT ROUND(SUM(term), 6) AS psi,
       CAST(COUNT(*) AS BIGINT) AS n_buckets
FROM terms
""",
    tags=("dq", "stats"),
)
def dq_distribution_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX between two eras of the order-value
    distribution — the model-monitoring standard (PSI < 0.1 stable,
    > 0.25 investigate) complementing dq_corpus_drift_jsd's
    JS-divergence: log2 value buckets (the mergeable histogram
    again), +1 Laplace smoothing so empty cells stay finite, and
    per-bucket terms ROUNDED 9dp BEFORE summation so the float total
    is shuffle-order-free (this repo's standard quantization fence).
    One scan, one bucket hash-agg, grid-sized everything after — and
    round 8 the grid is PROVABLY sized: floor(log2(cents)) of a
    positive 64-bit value is in [0, 63] by arithmetic, so the
    least/greatest clamp (a value no-op, same trick as global_ntile)
    lets the plan linter bound every downstream fold with no waiver.
    The era split is the time-slice comparison every daily monitor
    runs against its training-period baseline."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    tagged = o.select(
        F.when(F.year("o_orderdate") <= 1997, "base")
        .otherwise("cur")
        .alias("era"),
        F.least(
            F.lit(63),
            F.greatest(
                F.lit(0),
                F.floor(
                    F.log(cents("o_totalprice").cast("double"))
                    / F.log(F.lit(2.0))
                ).cast("int"),
            ),
        )
        .cast("bigint")
        .alias("bucket"),
    )
    cells = tagged.groupBy("bucket").agg(
        F.sum(F.when(F.col("era") == "base", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("era") == "cur", 1).otherwise(0)).alias("n_c"),
    )
    tot = cells.agg(
        F.sum("n_b").alias("tb"), F.sum("n_c").alias("tc")
    )
    k = Window.partitionBy()
    j = cells.crossJoin(F.broadcast(tot)).withColumn(
        "nb_tot", F.count(F.lit(1)).over(k)
    )
    pb = (F.col("n_b") + 1).cast("double") / (F.col("tb") + F.col("nb_tot"))
    pc = (F.col("n_c") + 1).cast("double") / (F.col("tc") + F.col("nb_tot"))
    terms = j.select(
        F.round((pb - pc) * F.log(pb / pc), 9).alias("term")
    )
    return terms.agg(
        F.round(F.sum("term"), 6).alias("psi"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


@register(
    "iter_kcore_peel",
    oracle="""
WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
edges AS (
  -- QUADRATIC map (not the bijective 37x+11 the other graph keys
  -- use): collisions create hubs and leaves, so the 2-core peel has
  -- genuine work — a permutation graph is 2-regular and peels
  -- nothing.
  SELECT c_custkey AS s,
         (c_custkey * c_custkey * 13 + 7) % (SELECT n FROM nn) AS d
  FROM customer
  WHERE c_custkey <> (c_custkey * c_custkey * 13 + 7) % (SELECT n FROM nn)
),
n0 AS (SELECT c_custkey AS node FROM customer),
d1 AS (
  SELECT g.node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT e.s AS node, e.d AS other FROM edges e
    UNION ALL
    SELECT e.d, e.s FROM edges e
  ) g
  JOIN n0 a ON g.node = a.node
  JOIN n0 b ON g.other = b.node
  GROUP BY g.node
),
n1 AS (SELECT node FROM d1 WHERE deg >= 2),
d2 AS (
  SELECT g.node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT e.s AS node, e.d AS other FROM edges e
    UNION ALL
    SELECT e.d, e.s FROM edges e
  ) g
  JOIN n1 a ON g.node = a.node
  JOIN n1 b ON g.other = b.node
  GROUP BY g.node
),
n2 AS (SELECT node FROM d2 WHERE deg >= 2),
d3 AS (
  SELECT g.node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT e.s AS node, e.d AS other FROM edges e
    UNION ALL
    SELECT e.d, e.s FROM edges e
  ) g
  JOIN n2 a ON g.node = a.node
  JOIN n2 b ON g.other = b.node
  GROUP BY g.node
),
n3 AS (SELECT node FROM d3 WHERE deg >= 2)
SELECT d.node, d.deg
FROM d3 d JOIN n3 nz ON d.node = nz.node
""",
    tags=("iterative", "graph"),
)
def iter_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-CORE decomposition by iterative PEELING — the graph-cleanup
    primitive behind spam-ring detection and dense-community seeds:
    repeatedly delete nodes of degree < k (an edge only counts while
    BOTH endpoints survive), until the survivor set is stable. Three
    unrolled rounds over a derived QUADRATIC-map graph (collisions
    make hubs and leaves — a bijective map like the BFS/SSSP keys'
    37x+11 is 2-regular undirected and would peel nothing; undirected
    via the union of both edge directions, self-loops dropped); each
    round is one
    edge-endpoint semi-join pair + one degree hash-agg — the
    shuffles all key on the node id, and the edge list re-derives
    from the same scan (ReusedExchange). Emitted: the 2-core members
    with their within-core degree. At real diameter the peel loops
    with a convergence check + localCheckpoint (iter_pagerank's
    operating procedure); the fixed unroll keeps the key
    hash-checkable."""
    c = table(spark, sf_dir, "customer")
    nn = c.agg(F.count(F.lit(1)).alias("n"))
    e = (
        c.crossJoin(F.broadcast(nn))
        .select(
            F.col("c_custkey").alias("s"),
            (
                (F.col("c_custkey") * F.col("c_custkey") * 13 + 7)
                % F.col("n")
            ).alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
    )
    und = e.select("s", "d").unionByName(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).select(F.col("s").alias("node"), F.col("d").alias("other"))
    alive = c.select(F.col("c_custkey").alias("node"))
    deg = None
    for _ in range(3):
        a = alive.select(F.col("node").alias("__a"))
        b = alive.select(F.col("node").alias("__b"))
        deg = (
            und.join(a, und.node == F.col("__a"))
            .join(b, und.other == F.col("__b"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = deg.filter(F.col("deg") >= 2).select("node")
    return deg.join(alive, "node").select("node", "deg")


@register(
    "iter_triangle_count",
    oracle="""
WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
spine AS (
  SELECT c_custkey AS i, r FROM customer
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS r)
),
raw AS (
  SELECT (((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':a'), 1, 1)) - 1))*1048576 + ((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':a'), 2, 1)) - 1))*65536 + ((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':a'), 3, 1)) - 1))*4096 + ((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':a'), 4, 1)) - 1))*256 + ((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':a'), 5, 1)) - 1))*16 + ((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':a'), 6, 1)) - 1))) % (SELECT n FROM nn) AS s,
         (((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':b'), 1, 1)) - 1))*1048576 + ((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':b'), 2, 1)) - 1))*65536 + ((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':b'), 3, 1)) - 1))*4096 + ((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':b'), 4, 1)) - 1))*256 + ((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':b'), 5, 1)) - 1))*16 + ((instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' || CAST(r AS VARCHAR) || ':b'), 6, 1)) - 1))) % (SELECT n FROM nn) AS d
  FROM spine
),
f AS (SELECT s, d FROM raw WHERE s <> d),
edges AS (
  SELECT DISTINCT LEAST(s, d) AS lo, GREATEST(s, d) AS hi FROM f
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges
FROM edges e1
JOIN edges e2 ON e1.hi = e2.lo AND e1.lo < e2.lo
JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
""",
    tags=("iterative", "graph"),
)
def iter_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNTING via the ordered two-path join — the
    clustering-coefficient numerator and the canonical test of
    whether a graph engine joins smartly: edges canonicalize to
    (lo < hi) so each triangle {a<b<c} is found EXACTLY once as the
    path a-b, b-c closed by a-c — no division by 6, no symmetric
    blowup. Two equi-joins on node keys; the ordering predicate
    halves the wedge fan-out (the standard degree-ordering
    optimization's simplest form — at scale, orient edges by DEGREE
    instead of id so hubs never anchor wedges, same plan shape).
    Graph: ~3 edges/node with md5-HASH endpoints (the algebraic
    functional maps the other graph keys derive are too structured
    to close 3-cycles — hash endpoints behave Erdos-Renyi and the
    fixture closes ~37 real triangles, so the join is tested on
    genuine work, not a vacuous zero)."""
    c = table(spark, sf_dir, "customer")
    nn = c.agg(F.count(F.lit(1)).alias("n"))
    spine = c.select(F.col("c_custkey").alias("i")).crossJoin(
        F.broadcast(
            spark.range(3).select(F.col("id").cast("int").alias("r"))
        )
    )

    def h3(salt: str):
        key = "CAST(i AS STRING) || ':' || CAST(r AS STRING) || '%s'" % salt
        nib = (
            lambda j: f"(instr('0123456789abcdef', substr(md5({key}), {j}, 1)) - 1)"
        )
        return F.expr(
            f"(({nib(1)})*1048576 + ({nib(2)})*65536 + ({nib(3)})*4096"
            f" + ({nib(4)})*256 + ({nib(5)})*16 + ({nib(6)}))"
        )

    raw = spine.crossJoin(F.broadcast(nn)).select(
        (h3(":a") % F.col("n")).alias("s"),
        (h3(":b") % F.col("n")).alias("d"),
    )
    edges = (
        raw.filter(F.col("s") != F.col("d"))
        .select(F.least("s", "d").alias("lo"), F.greatest("s", "d").alias("hi"))
        .distinct()
    )
    e1 = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = edges.select(F.col("lo").alias("b2"), F.col("hi").alias("c2"))
    wedges = e1.join(
        e2, (F.col("b") == F.col("b2")) & (F.col("a") < F.col("b2"))
    )
    closing = edges.select(F.col("lo").alias("a"), F.col("hi").alias("c2"))
    tri = wedges.join(closing, ["a", "c2"])
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(n_edges))
    )


@register(
    "dq_value_set_drift",
    oracle="""
WITH base AS (
  SELECT DISTINCT o_orderpriority AS val FROM orders
  WHERE year(o_orderdate) <= 1997 AND o_orderkey % 7 <> 0
),
cur AS (
  SELECT DISTINCT
         CASE WHEN o_orderkey % 11 = 0 THEN o_orderpriority || '-V2'
              ELSE o_orderpriority END AS val
  FROM orders WHERE year(o_orderdate) > 1997
)
SELECT COALESCE(b.val, c.val) AS value,
       CASE WHEN c.val IS NULL THEN 'disappeared'
            WHEN b.val IS NULL THEN 'new'
            ELSE 'stable' END AS status
FROM base b FULL OUTER JOIN cur c ON b.val = c.val
""",
    tags=("dq",),
)
def dq_value_set_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATEGORICAL VALUE-SET drift — the values-level companion of
    dq_schema_drift (columns) and dq_distribution_psi (shapes): the
    distinct domain of a code column in the current era FULL OUTER
    joined against the training-era baseline, each value classified
    new / disappeared / stable. 'New' is the enum nobody told the
    pipeline about (the classic silent CASE-WHEN fall-through);
    'disappeared' is the upstream rename that starves a filter. The
    drift fixture plants both (a '-V2' suffix on some current rows,
    a baseline-only slice). Two distinct-aggregates over era-pruned
    scans + a domain-sized join — at 100 TB each side is a partial-
    agg'd DISTINCT over its time slice and the join is broadcast."""
    o = table(spark, sf_dir, "orders")
    base = (
        o.filter(
            (F.year("o_orderdate") <= 1997) & (F.col("o_orderkey") % 7 != 0)
        )
        .select(F.col("o_orderpriority").alias("val"))
        .distinct()
    )
    cur = (
        o.filter(F.year("o_orderdate") > 1997)
        .select(
            F.when(
                F.col("o_orderkey") % 11 == 0,
                F.concat("o_orderpriority", F.lit("-V2")),
            )
            .otherwise(F.col("o_orderpriority"))
            .alias("val")
        )
        .distinct()
    )
    b = base.withColumnRenamed("val", "bval")
    c = cur.withColumnRenamed("val", "cval")
    j = b.join(c, b.bval == c.cval, "full_outer")
    return j.select(
        F.coalesce("bval", "cval").alias("value"),
        F.when(F.col("cval").isNull(), "disappeared")
        .when(F.col("bval").isNull(), "new")
        .otherwise("stable")
        .alias("status"),
    )


def _lpa_oracle() -> str:
    nib = lambda salt, j: (
        f"(instr('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' ||"
        f" CAST(r AS VARCHAR) || '{salt}'), {j}, 1)) - 1)"
    )
    h = lambda salt: (
        f"({nib(salt,1)}*1048576 + {nib(salt,2)}*65536 + {nib(salt,3)}*4096"
        f" + {nib(salt,4)}*256 + {nib(salt,5)}*16 + {nib(salt,6)})"
    )
    rounds = []
    for r in range(3):
        rounds.append(f"""
cand{r} AS (
  SELECT a.v, l.lab, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM adj a JOIN lab{r} l ON a.u = l.v GROUP BY a.v, l.lab
),
lab{r + 1} AS (
  SELECT v, lab FROM (
    SELECT v, lab,
           ROW_NUMBER() OVER (PARTITION BY v ORDER BY cnt DESC, lab ASC) AS rn
    FROM cand{r}
  ) WHERE rn = 1
)""")
    return f"""
WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
spine AS (
  SELECT c_custkey AS i, r FROM customer
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS r)
),
raw AS (
  SELECT {h(':a')} % (SELECT n FROM nn) AS s,
         {h(':b')} % (SELECT n FROM nn) AS d
  FROM spine
),
edges AS (
  SELECT DISTINCT LEAST(s, d) AS lo, GREATEST(s, d) AS hi
  FROM raw WHERE s <> d
),
adj AS (
  SELECT lo AS v, hi AS u FROM edges
  UNION ALL
  SELECT hi AS v, lo AS u FROM edges
),
lab0 AS (SELECT DISTINCT v, v AS lab FROM adj),
{','.join(rounds)}
SELECT CAST(lab AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM lab3 GROUP BY lab
"""


@register(
    "iter_label_propagation",
    oracle=_lpa_oracle(),
    tags=("iterative", "graph"),
)
def iter_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL PROPAGATION community detection (real LPA, not min-flood:
    each node adopts the MOST FREQUENT label among its neighbors,
    ties broken by smallest label — the frequency vote is what finds
    dense communities instead of just connected components, which
    iter_reachability_bfs/dedup_connected_components already pin).
    Three SYNCHRONOUS rounds unrolled: per round one join of the
    adjacency against the label table, a (node, label) count, and a
    per-node argmax window — the exact shape a Pregel superstep
    compiles to relationally. Deterministic at every step (fixed
    round count + total-order tie-break), so the hash pins the whole
    trajectory, oscillations included. Same md5-hash graph as
    iter_triangle_count (~3 edges/node, Erdos-Renyi-ish, so the
    vote sees real contention). Scale: each round shuffles on the
    node key only — label tables are node-sized, never edge-sized;
    at 100 TB you'd co-partition adj and labels once and every
    round's join is exchange-free on the bucketed key."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    nn = c.agg(F.count(F.lit(1)).alias("n"))
    spine = c.select(F.col("c_custkey").alias("i")).crossJoin(
        F.broadcast(spark.range(3).select(F.col("id").cast("int").alias("r")))
    )

    def h3(salt: str):
        key = f"CAST(i AS STRING) || ':' || CAST(r AS STRING) || '{salt}'"
        nib = (
            lambda j: f"(instr('0123456789abcdef', substr(md5({key}), {j}, 1)) - 1)"
        )
        return F.expr(
            f"(({nib(1)})*1048576 + ({nib(2)})*65536 + ({nib(3)})*4096"
            f" + ({nib(4)})*256 + ({nib(5)})*16 + ({nib(6)}))"
        )

    raw = spine.crossJoin(F.broadcast(nn)).select(
        (h3(":a") % F.col("n")).alias("s"),
        (h3(":b") % F.col("n")).alias("d"),
    )
    edges = (
        raw.filter(F.col("s") != F.col("d"))
        .select(F.least("s", "d").alias("lo"), F.greatest("s", "d").alias("hi"))
        .distinct()
    )
    adj = edges.select(
        F.col("lo").alias("v"), F.col("hi").alias("u")
    ).unionAll(edges.select(F.col("hi").alias("v"), F.col("lo").alias("u")))
    labels = adj.select("v").distinct().withColumn("lab", F.col("v"))
    w = Window.partitionBy("v").orderBy(F.col("cnt").desc(), F.col("lab").asc())
    for _ in range(3):
        cand = (
            adj.join(
                labels.select(F.col("v").alias("u"), "lab"), "u"
            )
            .groupBy("v", "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("v", "lab")
        )
    return labels.groupBy(F.col("lab").cast("bigint").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


# ---------------------------------------------------------------------------
# Round-6 wave 4: weighted sampling, bloom membership, inequality index.


def _MD5_WORD(expr: str, nibbles: int = 8) -> str:
    from ..operators.trainprep import MD5_WORD

    return MD5_WORD(expr, nibbles)


@register(
    "sample_weighted_reservoir",
    oracle=f"""
WITH scored AS (
  SELECT o_orderkey, o_totalprice AS w,
         ({_MD5_WORD("o_orderkey || ':wrs'")} + 1) / 4294967296.0 AS u
  FROM orders
),
keyed AS (
  SELECT o_orderkey, w, u / w AS score FROM scored
)
SELECT o_orderkey, w,
       CAST(ROUND(score * 1e12, 0) AS BIGINT) AS score_e12,
       CAST(ROW_NUMBER() OVER (ORDER BY score, o_orderkey) AS BIGINT) AS rnk
FROM keyed
ORDER BY score, o_orderkey
LIMIT 200
""",
    tags=("sampling",),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling WITHOUT replacement, k=200, by SEQUENTIAL
    POISSON SAMPLING (Ohlsson 1998 — the order-sampling approximation
    of probability-proportional-to-size used by statistics agencies):
    each row gets a deterministic uniform u from md5(key) and the
    sample is the k SMALLEST u/w ranking keys, so inclusion odds rise
    with weight w = o_totalprice. Unlike the classic Efraimidis-
    Spirakis u^(1/w) key this needs NO transcendental (pure IEEE
    divide), so the ranking keys are bit-identical across engines —
    which is what makes the sample itself hash-checkable rather than
    rows-only. No RNG state, no seed plumbing: re-runs, retries, and
    engine swaps reproduce the exact sample; appended rows never
    shuffle existing selections (each key's u is intrinsic).

    Scale: the score is computed at the scan (no shuffle) and the
    global k-smallest is TakeOrderedAndProject — every executor keeps
    a local k-heap and ships exactly k rows to one reducer; the final
    rank window touches k=200 rows. At 100 TB this is the standard
    'draw a weighted training subsample' primitive."""
    from ..operators.trainprep import hash_word

    scored = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("w"),
        ((hash_word("o_orderkey || ':wrs'") + 1) / F.lit(4294967296.0)).alias(
            "u"
        ),
    )
    keyed = scored.select(
        "o_orderkey", "w", (F.col("u") / F.col("w")).alias("score")
    )
    top = keyed.orderBy("score", "o_orderkey").limit(200)
    return top.select(
        "o_orderkey",
        "w",
        F.round(F.col("score") * 1e12, 0).cast("bigint").alias("score_e12"),
        F.row_number()
        .over(Window.orderBy("score", "o_orderkey"))
        .cast("bigint")
        .alias("rnk"),
    ).drop("score")


@register(
    "dq_bloom_membership",
    oracle=f"""
WITH members AS (SELECT c_custkey AS k FROM customer),
seeds AS (SELECT unnest([1, 2, 3]) AS s),
bits AS (
  SELECT DISTINCT
    {_MD5_WORD("concat('bloom', CAST(s AS VARCHAR), ':', CAST(k AS VARCHAR))", 4)} % 16384 AS pos
  FROM members, seeds
),
probes AS (SELECT unnest(generate_series(1, 3000)) AS p),
probe_pos AS (
  SELECT p,
    {_MD5_WORD("concat('bloom', CAST(s AS VARCHAR), ':', CAST(p AS VARCHAR))", 4)} % 16384 AS pos
  FROM probes, seeds
),
hits AS (
  SELECT pp.p, COUNT(b.pos) AS nhit
  FROM probe_pos pp LEFT JOIN bits b ON pp.pos = b.pos
  GROUP BY pp.p
),
truth AS (
  SELECT h.p, h.nhit, CASE WHEN m.k IS NULL THEN 0 ELSE 1 END AS is_member
  FROM hits h LEFT JOIN members m ON h.p = m.k
)
SELECT
  CAST((SELECT COUNT(*) FROM members) AS BIGINT) AS n_members,
  CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS bits_set,
  CAST(COUNT(*) AS BIGINT) AS n_probes,
  CAST(SUM(CASE WHEN nhit = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
  CAST(SUM(is_member) AS BIGINT) AS n_true_members,
  CAST(SUM(CASE WHEN is_member = 1 AND nhit < 3 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_false_neg,
  CAST(SUM(CASE WHEN nhit = 3 AND is_member = 0 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_false_pos,
  CASE WHEN SUM(CASE WHEN is_member = 0 THEN 1 ELSE 0 END) > 0 THEN
    CAST(ROUND(
      1e4 * SUM(CASE WHEN nhit = 3 AND is_member = 0 THEN 1 ELSE 0 END)
          / SUM(CASE WHEN is_member = 0 THEN 1 ELSE 0 END), 0)
      AS BIGINT) END AS fpr_bp
FROM truth
""",
    tags=("dq",),
)
def dq_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BLOOM FILTER build + probe with the false-positive
    rate MEASURED in-query — the semantics behind Spark's own runtime
    bloom-filter join pruning (spark.sql.optimizer.runtime.bloomFilter),
    reconstructed relationally so the filter itself is hash-checkable:
    m = 16384 bits, k = 3 md5-derived positions per key; the built
    filter IS the distinct set of set-bit positions (at most m rows —
    broadcast-sized BY CONSTRUCTION, whatever the member count), and
    a probe is positive iff all 3 of its positions are set. The
    summary pins the bloom contract: n_false_neg MUST be 0 (no false
    negatives, ever) while n_false_pos is small and nonzero (~1.4%
    here: 4500 insertions into 16384 bits -> fill 0.24, FPR ~ 0.24^3).

    Scale: members explode to 3 integer positions at the scan and
    hash-agg down to <= m distinct bits (map-side combine does the
    heavy dedup); the probe side joins that broadcast set and never
    shuffles its payload. This is exactly how a 100 TB fact scan gets
    pre-filtered against a large-but-compressible dimension key set."""
    from ..operators.trainprep import hash_word

    def positions(df: DataFrame, key: str) -> DataFrame:
        key_expr = (
            f"concat('bloom', CAST(s AS STRING), ':', CAST({key} AS STRING))"
        )
        return df.select(
            F.col(key),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("s"),
        ).select(F.col(key), (hash_word(key_expr, 4) % 16384).alias("pos"))

    members = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    bits = positions(members, "k").select("pos").distinct()
    probes = spark.range(1, 3001).select(F.col("id").alias("p"))
    probe_pos = positions(probes, "p")
    hits = (
        probe_pos.join(
            F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left"
        )
        .groupBy("p")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("nhit"))
    )
    truth = hits.join(
        members.withColumn("is_m", F.lit(1)), hits.p == members.k, "left"
    ).select("p", "nhit", F.coalesce("is_m", F.lit(0)).alias("is_member"))
    # scalar-subquery shapes: 1-row aggregates crossJoin'd in (never a
    # driver-side .count() — keeps the whole key one lazy plan)
    n_members = members.agg(F.count(F.lit(1)).alias("n_members"))
    bits_set = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    agg = truth.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum((F.col("nhit") == 3).cast("bigint")).alias("n_positive"),
        F.sum("is_member").cast("bigint").alias("n_true_members"),
        F.sum(
            ((F.col("is_member") == 1) & (F.col("nhit") < 3)).cast("bigint")
        ).alias("n_false_neg"),
        F.sum(
            ((F.col("nhit") == 3) & (F.col("is_member") == 0)).cast("bigint")
        ).alias("n_false_pos"),
    )
    out = n_members.crossJoin(bits_set).crossJoin(agg)
    return out.select(
        "n_members",
        "bits_set",
        "n_probes",
        "n_positive",
        "n_true_members",
        "n_false_neg",
        "n_false_pos",
        # guarded: at SFs where every probe id is a member (sf0.1:
        # custkeys cover 1..15000 > the 3000 probes) there are zero
        # non-member probes and the FPR is undefined — NULL, not a
        # DIVIDE_BY_ZERO under ANSI (caught by the round-10 sf0.1
        # sweep; identical output at the oracle SFs, which all have
        # non-member probes).
        F.when(
            F.col("n_probes") - F.col("n_true_members") > 0,
            F.round(
                1e4
                * F.col("n_false_pos")
                / (F.col("n_probes") - F.col("n_true_members")),
                0,
            ).cast("bigint"),
        ).alias("fpr_bp"),
    )


@register(
    "agg_theil_index",
    oracle="""
WITH rev AS (
  SELECT c.c_custkey, r.r_name,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY c.c_custkey, r.r_name
),
g AS (
  SELECT r_name, COUNT(*) AS n_cust,
         CAST(SUM(rev_cents) AS BIGINT) AS tot_cents
  FROM rev GROUP BY r_name
),
terms AS (
  SELECT rev.r_name,
         CAST(ROUND(
           (rev.rev_cents / (CAST(g.tot_cents AS DOUBLE) / g.n_cust))
           * ln(rev.rev_cents / (CAST(g.tot_cents AS DOUBLE) / g.n_cust))
           * 1e6, 0) AS BIGINT) AS term_u
  FROM rev JOIN g ON rev.r_name = g.r_name
)
SELECT g.r_name, g.n_cust, g.tot_cents,
       CAST(ROUND(CAST(SUM(t.term_u) AS DOUBLE) / g.n_cust, 0) AS BIGINT)
         AS theil_micro
FROM terms t JOIN g ON t.r_name = g.r_name
GROUP BY g.r_name, g.n_cust, g.tot_cents
""",
    tags=("agg",),
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL T INEQUALITY INDEX of customer revenue per region —
    T = (1/n) * sum_i (x_i/mu) * ln(x_i/mu) — the entropy-based
    inequality measure that (unlike agg_gini_revenue's rank approach)
    decomposes additively across subgroups, which is why revenue-
    concentration dashboards pair it with Gini and HHI
    (agg_revenue_hhi). Determinism recipe: x_i is an exact cents
    BIGINT, mu is the exact integer total divided once (IEEE divide,
    bit-identical both engines), each customer's term is quantized to
    integer MICRO-nats before the sum (order-free), and the final
    per-region index is micro-nat-scaled BIGINT — no double ever
    enters an aggregate.

    Scale: one shuffle to per-customer revenue (partial aggs map-
    side), region totals are a 5-row broadcast back, and the term sum
    re-uses the customer-level partitioning. At 100 TB the only big
    exchange is the per-key revenue agg every downstream metric
    already shares."""
    rev = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            table(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("c_custkey", "r_name")
        .agg(F.sum(cents("o_totalprice")).alias("rev_cents"))
    )
    g = rev.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("rev_cents").alias("tot_cents"),
    )
    ratio = F.col("rev_cents") / (
        F.col("tot_cents").cast("double") / F.col("n_cust")
    )
    terms = rev.join(F.broadcast(g), "r_name").select(
        "r_name",
        F.round(ratio * F.log(ratio) * 1e6, 0).cast("bigint").alias("term_u"),
    )
    return (
        terms.groupBy("r_name")
        .agg(F.sum("term_u").alias("sum_u"))
        .join(F.broadcast(g), "r_name")
        .select(
            "r_name",
            "n_cust",
            "tot_cents",
            F.round(F.col("sum_u").cast("double") / F.col("n_cust"), 0)
            .cast("bigint")
            .alias("theil_micro"),
        )
    )


@register(
    "stats_assortativity_degree",
    oracle="""
WITH nn AS (SELECT COUNT(*) AS n FROM customer),
edges AS (
  SELECT c_custkey AS src,
         (c_custkey * c_custkey + 7 * c_custkey + 11) % (SELECT n FROM nn) AS dst
  FROM customer
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT src AS node FROM edges
    UNION ALL
    SELECT dst AS node FROM edges
  ) GROUP BY node
),
pairs AS (
  SELECT ds.d AS dx, dd.d AS dy
  FROM edges e
  JOIN deg ds ON ds.node = e.src
  JOIN deg dd ON dd.node = e.dst
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy
  FROM pairs
)
SELECT m, sx, sy, sxy, sxx, syy,
       ROUND((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
             SQRT((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                  (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
         AS assortativity
FROM s
""",
)
def stats_assortativity_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the synthetic customer graph (a
    deterministic QUADRATIC edge map — the BFS keys' affine map is a
    bijection, so every total degree would be 2 and the correlation
    undefined; the quadratic map gives a real in-degree distribution): the Pearson
    correlation between source-degree and target-degree across
    directed edges — positive means hubs link to hubs (the
    social-network signature), negative means hub-and-spoke (the
    infrastructure signature). Degrees are total (in+out). All five
    correlation moments are exact BIGINT sums (degrees are small
    integers), so the aggregation is order-free and the one float
    expression — the textbook (m*Sxy - SxSy)/sqrt(...) — runs once
    on the final 1-row table, mirrored verbatim. Scale: degree
    table = one union+agg shuffle; the two degree joins are
    broadcast (degree table is node-sized but the fixture's is
    model-scale; at web scale both sides shuffle on node id)."""
    cust = table(spark, sf_dir, "customer")
    nn = cust.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        cust.select("c_custkey")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("c_custkey").alias("src"),
            (
                (F.col("c_custkey") * F.col("c_custkey") + 7 * F.col("c_custkey") + 11)
                % F.col("n")
            ).alias("dst"),
        )
    )
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    pairs = (
        edges.join(
            F.broadcast(deg.select(F.col("node").alias("sn"), F.col("d").alias("dx"))),
            F.col("sn") == F.col("src"),
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("dn"), F.col("d").alias("dy"))),
            F.col("dn") == F.col("dst"),
        )
        .select("dx", "dy")
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
    )
    m_d = F.col("m").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    return s.select(
        "m",
        "sx",
        "sy",
        "sxy",
        "sxx",
        "syy",
        F.round(
            (m_d * F.col("sxy") - sx_d * F.col("sy"))
            / F.sqrt(
                (m_d * F.col("sxx") - sx_d * F.col("sx"))
                * (m_d * F.col("syy") - sy_d * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "pivot_multi_agg",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
              FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) / 100.0 AS f_sum,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o_n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
              FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) / 100.0 AS o_sum,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p_n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
              FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) / 100.0 AS p_sum
FROM orders
GROUP BY o_orderpriority
""",
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with MULTIPLE aggregates per cell — the API surface
    pivot_wide leaves uncovered: one .pivot() producing both a count
    and an exact DECIMAL-cents sum per (priority x status) cell.
    Spark names multi-agg pivot columns `<value>_<alias>`; they are
    re-aliased to the oracle's `<status>_<agg>` layout. Pivot with a
    pinned value list skips the extra distinct-scan Spark otherwise
    needs and keeps one partial+final hash agg — same 100 TB shape
    as a plain groupBy."""
    o = table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dec_sum("o_totalprice").alias("sum"),
        )
    )
    return piv.select(
        "o_orderpriority",
        F.col("F_n").alias("f_n"),
        F.col("F_sum").alias("f_sum"),
        F.col("O_n").alias("o_n"),
        F.col("O_sum").alias("o_sum"),
        F.col("P_n").alias("p_n"),
        F.col("P_sum").alias("p_sum"),
    )


# Hilbert-curve step: the 8 subdivision scales for a 256x256 grid.
# Both engines apply the identical 8 unrolled steps of the standard
# xy -> d walk (quadrant digit + reflect/rotate), so the key is pure
# integer arithmetic end-to-end — no loop primitive needed anywhere.
_HILBERT_S = [128, 64, 32, 16, 8, 4, 2, 1]


def _hilbert_step_sql(s: int) -> str:
    """One unrolled Hilbert step as a SQL projection over (k,x,y,d)."""
    rx = f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END"
    ry = f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END"
    quad = (
        f"CASE WHEN ({rx}) = 0 AND ({ry}) = 0 THEN 0 "
        f"WHEN ({rx}) = 0 THEN 1 WHEN ({ry}) = 0 THEN 3 ELSE 2 END"
    )
    new_x = (
        f"CASE WHEN ({ry}) = 0 THEN "
        f"(CASE WHEN ({rx}) = 1 THEN {s} - 1 - y ELSE y END) ELSE x END"
    )
    new_y = (
        f"CASE WHEN ({ry}) = 0 THEN "
        f"(CASE WHEN ({rx}) = 1 THEN {s} - 1 - x ELSE x END) ELSE y END"
    )
    return (
        f"SELECT k, {new_x} AS x, {new_y} AS y, "
        f"d + {s * s} * ({quad}) AS d"
    )


_HILBERT_ORACLE = (
    "WITH st0 AS (SELECT c_custkey AS k, c_custkey % 256 AS x, "
    "(c_custkey * 7 + 3) % 256 AS y, CAST(0 AS BIGINT) AS d FROM customer)"
    + "".join(
        f", st{i + 1} AS ({_hilbert_step_sql(s)} FROM st{i})"
        for i, s in enumerate(_HILBERT_S)
    )
    + """
SELECT s0.k AS c_custkey,
       CAST(s0.x AS BIGINT) AS px, CAST(s0.y AS BIGINT) AS py,
       CAST(s8.d AS BIGINT) AS hilbert_key
FROM st0 s0 JOIN st8 s8 ON s0.k = s8.k
"""
)


@register("fn_hilbert_key", oracle=_HILBERT_ORACLE)
def fn_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILBERT-CURVE clustering key over a 256x256 grid — the
    locality curve lakehouses reach for when Z-ORDER (fn_zorder_key)
    isn't enough: Hilbert has no Z-shaped jumps, so range scans over
    the sorted key touch strictly fewer multidimensional tiles. The
    standard xy->d walk (per-scale quadrant digit, then
    reflect/rotate the frame) is UNROLLED into 8 pure-integer
    projection steps generated from one shared table — Spark gets 8
    chained column rewrites inside a single whole-stage-codegen
    span, the oracle gets the same 8 chained CTEs — so both engines
    compute the identical key with zero loops, zero UDFs, and zero
    floats. Scan-local: sorting/partitioning by the key is how it
    would drive file layout at 100 TB. Property-tested against a
    reference Python implementation (tests/test_property.py)."""
    c = table(spark, sf_dir, "customer")
    df = c.select(
        F.col("c_custkey").alias("k"),
        (F.col("c_custkey") % 256).alias("x"),
        ((F.col("c_custkey") * 7 + 3) % 256).alias("y"),
        F.lit(0).cast("bigint").alias("d"),
    )
    px = df.select(F.col("k"), F.col("x").alias("px"), F.col("y").alias("py"))
    for s in _HILBERT_S:
        rx = F.when((F.col("x").bitwiseAND(s)) > 0, 1).otherwise(0)
        ry = F.when((F.col("y").bitwiseAND(s)) > 0, 1).otherwise(0)
        quad = (
            F.when((rx == 0) & (ry == 0), 0)
            .when(rx == 0, 1)
            .when(ry == 0, 3)
            .otherwise(2)
        )
        new_x = F.when(
            ry == 0, F.when(rx == 1, F.lit(s - 1) - F.col("y")).otherwise(F.col("y"))
        ).otherwise(F.col("x"))
        new_y = F.when(
            ry == 0, F.when(rx == 1, F.lit(s - 1) - F.col("x")).otherwise(F.col("x"))
        ).otherwise(F.col("y"))
        df = df.select(
            "k",
            new_x.alias("x"),
            new_y.alias("y"),
            (F.col("d") + F.lit(s * s) * quad).alias("d"),
        )
    return df.join(px, "k").select(
        F.col("k").alias("c_custkey"),
        F.col("px").cast("bigint").alias("px"),
        F.col("py").cast("bigint").alias("py"),
        F.col("d").cast("bigint").alias("hilbert_key"),
    )


@register(
    "dq_join_key_skew",
    oracle="""
WITH sizes AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS sz
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT sz,
         ROW_NUMBER() OVER (ORDER BY sz, o_custkey) AS r,
         COUNT(*) OVER () AS n
  FROM sizes
)
SELECT CAST(MAX(n) AS BIGINT) AS n_keys,
       CAST(MAX(sz) AS BIGINT) AS max_sz,
       CAST(MAX(CASE WHEN r = GREATEST((n * 50) // 100, 1) THEN sz END)
            AS BIGINT) AS p50_sz,
       CAST(MAX(CASE WHEN r = GREATEST((n * 90) // 100, 1) THEN sz END)
            AS BIGINT) AS p90_sz,
       CAST(MAX(CASE WHEN r = GREATEST((n * 99) // 100, 1) THEN sz END)
            AS BIGINT) AS p99_sz,
       ROUND(CAST(MAX(sz) AS DOUBLE) /
             MAX(CASE WHEN r = GREATEST((n * 50) // 100, 1) THEN sz END), 4)
         AS skew_ratio
FROM ranked
""",
)
def dq_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW PROFILE — the pre-flight check that decides the
    join strategy BEFORE the expensive job runs: group sizes of the
    candidate key, their rank-based p50/p90/p99 (exact, pinned total
    order — no float quantiles), and the max/median skew ratio. A
    ratio >> 1 is the signal to salt the key or lean on AQE skew
    handling; this is the measurement that justifies
    join_salted_checked. One agg (sizes) + one TWO-PASS global rank
    over KEY-COUNT rows (round 8: the key-grain relation grows with
    the corpus, so the rank runs on scale.global_rank instead of a
    single-partition window) + a 1-row key count broadcast, 1-row
    output — no data-grain funnel anywhere in the plan."""
    from ..operators.scale import global_rank  # noqa: PLC0415

    o = table(spark, sf_dir, "orders")
    sizes = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("sz"))
    nrow = sizes.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = global_rank(
        sizes, [F.col("sz").asc(), F.col("o_custkey").asc()], rank_col="r"
    ).crossJoin(F.broadcast(nrow))

    def at_pct(k: int):
        rank = F.greatest(F.expr(f"(n * {k}) DIV 100"), F.lit(1))
        return F.max(F.when(F.col("r") == rank, F.col("sz")))

    return ranked.agg(
        F.max("n").cast("bigint").alias("n_keys"),
        F.max("sz").cast("bigint").alias("max_sz"),
        at_pct(50).cast("bigint").alias("p50_sz"),
        at_pct(90).cast("bigint").alias("p90_sz"),
        at_pct(99).cast("bigint").alias("p99_sz"),
        F.round(F.max("sz").cast("double") / at_pct(50), 4).alias("skew_ratio"),
    )


@register(
    "agg_market_basket_lift",
    oracle="""
WITH items AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n_orders AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n FROM items),
brand_n AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_b FROM items GROUP BY brand
),
pair_n AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY a.brand, b.brand
)
SELECT p.brand_a, p.brand_b, p.n_ab,
       ROUND(CAST(p.n_ab AS DOUBLE) / o.n, 6) AS support,
       ROUND(CAST(p.n_ab AS DOUBLE) / ba.n_b, 6) AS confidence,
       ROUND(CAST(p.n_ab AS DOUBLE) * o.n /
             (CAST(ba.n_b AS DOUBLE) * bb.n_b), 6) AS lift
FROM pair_n p
JOIN brand_n ba ON ba.brand = p.brand_a
JOIN brand_n bb ON bb.brand = p.brand_b
CROSS JOIN n_orders o
WHERE p.n_ab >= 5
""",
)
def agg_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET ASSOCIATION RULES — support / confidence / lift
    for brand pairs co-occurring in an order, the frequent-itemset
    layer every recommender and assortment analysis starts from.
    The pair join is BLOCKED BY BASKET (self-equi-join on the order
    key with brand_a < brand_b — one co-partitioned shuffle whose
    cost is sum(basket_size^2), never |items|^2), brand marginals
    broadcast back, and a min-support floor (n_ab >= 5) prunes the
    long tail exactly like a production Apriori first pass. All
    counts exact BIGINTs; the three ratios are the only float ops,
    rounded 6dp with division order mirrored."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    items = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = items.agg(F.countDistinct("okey").alias("n"))
    brand_n = items.groupBy("brand").agg(F.count(F.lit(1)).alias("n_b"))
    b = items.select(F.col("okey").alias("b_okey"), F.col("brand").alias("brand_b"))
    pair_n = (
        items.join(
            b,
            (F.col("b_okey") == F.col("okey"))
            & (F.col("brand") < F.col("brand_b")),
        )
        .groupBy(F.col("brand").alias("brand_a"), "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    ba = brand_n.select(F.col("brand").alias("brand_a"), F.col("n_b").alias("na"))
    bb = brand_n.select(F.col("brand").alias("brand_b"), F.col("n_b").alias("nb"))
    return (
        pair_n.join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n"), 6).alias("support"),
            F.round(F.col("n_ab").cast("double") / F.col("na"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "agg_histogram_2d",
    oracle="""
SELECT LEAST(CAST(FLOOR(l_extendedprice / 10000) AS BIGINT), 9) AS price_bin,
       LEAST((CAST(FLOOR(l_quantity) AS BIGINT) - 1) // 5, 9) AS qty_bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
         / 100.0 AS revenue
FROM lineitem
GROUP BY price_bin, qty_bin
""",
)
def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D HISTOGRAM (heatmap binning) — joint distribution of price
    x quantity on a fixed 10x10 grid, the density readout behind
    every scatter-density plot and copula sanity check; the 1-D
    histogram keys can't see the JOINT structure. Bin edges are
    integer arithmetic (10k-wide price bins, 5-wide quantity bins,
    top bins clamped), so assignment is exact; counts and exact-
    cents revenue aggregate in one partial+final hash agg —
    scan-local, one shuffle of at most 100 groups."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.least(
            F.floor(F.col("l_extendedprice") / 10000).cast("bigint"), F.lit(9)
        ).alias("price_bin"),
        F.least(
            F.expr("(CAST(FLOOR(l_quantity) AS BIGINT) - 1) DIV 5"), F.lit(9)
        ).alias("qty_bin"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("l_extendedprice").alias("revenue"),
    )


@register(
    "dq_uniqueness_profile",
    oracle="""
SELECT 'o_orderkey' AS col, CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
         AS n_distinct, CAST(COUNT(o_orderkey) AS BIGINT) AS n_nonnull,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       COUNT(DISTINCT o_orderkey) = COUNT(*) AS is_unique_key
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
       CAST(COUNT(o_custkey) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       COUNT(DISTINCT o_custkey) = COUNT(*)
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
       CAST(COUNT(o_orderstatus) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       COUNT(DISTINCT o_orderstatus) = COUNT(*)
FROM orders
UNION ALL
SELECT 'o_totalprice', CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       CAST(COUNT(o_totalprice) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       COUNT(DISTINCT o_totalprice) = COUNT(*)
FROM orders
UNION ALL
SELECT 'o_orderdate', CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
       CAST(COUNT(o_orderdate) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       COUNT(DISTINCT o_orderdate) = COUNT(*)
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       CAST(COUNT(o_orderpriority) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       COUNT(DISTINCT o_orderpriority) = COUNT(*)
FROM orders
""",
)
def dq_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CANDIDATE-KEY DISCOVERY — per-column uniqueness profile of a
    table (distinct count, non-null count, is-unique-key verdict),
    the DQ pass that finds primary-key candidates and near-keys
    before anyone trusts a join. One row per column via a single
    pass per column family; Spark folds all six profiles into ONE
    scan with count_distinct aggregates (partial+final, no row
    explosion) and unions the 6-row result. At 100 TB the swap is
    approx_count_distinct per column first, exact confirmation only
    on columns whose approx count is within epsilon of the row
    count — both shapes share this key's plan skeleton."""
    o = table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.countDistinct(c).alias(f"d_{c}") for c in cols],
        *[F.count(c).alias(f"c_{c}") for c in cols],
    )
    profiles = None
    for c in cols:
        row = agg.select(
            F.lit(c).alias("col"),
            F.col(f"d_{c}").cast("bigint").alias("n_distinct"),
            F.col(f"c_{c}").cast("bigint").alias("n_nonnull"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            (F.col(f"d_{c}") == F.col("n_rows")).alias("is_unique_key"),
        )
        profiles = row if profiles is None else profiles.unionAll(row)
    return profiles


@register(
    "iter_critical_path",
    oracle="""
WITH RECURSIVE nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM customer),
nodes AS MATERIALIZED (
  SELECT c_custkey AS id, 1 + c_custkey % 10 AS dur FROM customer
),
edges AS MATERIALIZED (
  SELECT id AS src, dst FROM (
    SELECT id, id + 1 + (id * 7 + 11) % 40 AS dst FROM nodes
    UNION ALL
    SELECT id, id + 1 + (id * 13 + 5) % 37 AS dst FROM nodes
  ) WHERE dst < (SELECT n FROM nn)
),
paths (node, plen, depth) AS (
  SELECT id, dur, 0 FROM nodes
  UNION ALL
  SELECT e.dst, p.plen + n2.dur, p.depth + 1
  FROM paths p
  JOIN edges e ON e.src = p.node
  JOIN nodes n2 ON n2.id = e.dst
  WHERE p.depth < 8
)
SELECT CAST(node AS BIGINT) AS node,
       CAST(MAX(plen) AS BIGINT) AS critical_len
FROM paths GROUP BY node
""",
)
def iter_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRITICAL-PATH LENGTH through a DAG — the max-plus sibling of
    iter_sssp_bellman_ford (longest weighted path ending at each
    node, the quantity a scheduler uses to find what gates the
    pipeline). The synthetic task graph is acyclic BY CONSTRUCTION
    (both edge maps point strictly forward, dst > src), node weight
    = task duration; relaxation is bounded at 8 edges on BOTH
    engines (the pinned semantic — out-degree <= 2 keeps the path
    set linear-ish, and deeper chains cut off identically). Spark
    unrolls 8 max-plus relaxation joins (frontier JOIN edges JOIN
    durations, union, max per node) — the bounded-BFS shape with
    MAX(plen) instead of MIN(depth)."""
    cust = table(spark, sf_dir, "customer")
    nn = cust.agg(F.count(F.lit(1)).alias("n"))
    nodes = cust.select(
        F.col("c_custkey").alias("id"),
        (1 + F.col("c_custkey") % 10).alias("dur"),
    )
    e1 = nodes.select(
        F.col("id").alias("src"),
        (F.col("id") + 1 + (F.col("id") * 7 + 11) % 40).alias("dst"),
    )
    e2 = nodes.select(
        F.col("id").alias("src"),
        (F.col("id") + 1 + (F.col("id") * 13 + 5) % 37).alias("dst"),
    )
    edges = (
        e1.unionAll(e2)
        .crossJoin(F.broadcast(nn))
        .filter(F.col("dst") < F.col("n"))
        .select("src", "dst")
    )
    dur = nodes.select(F.col("id").alias("d_id"), F.col("dur").alias("d_dur"))
    frontier = nodes.select(F.col("id").alias("node"), F.col("dur").alias("plen"))
    best = frontier
    for _ in range(8):
        stepped = (
            frontier.join(edges, edges.src == F.col("node"))
            .join(F.broadcast(dur), F.col("d_id") == F.col("dst"))
            .select(
                F.col("dst").alias("node"),
                (F.col("plen") + F.col("d_dur")).alias("plen"),
            )
        )
        # per-round max-compaction keeps the frontier node-sized —
        # without it the path set (not the answer) is what explodes
        frontier = stepped.groupBy("node").agg(F.max("plen").alias("plen"))
        frontier = frontier.localCheckpoint()
        best = (
            best.unionAll(frontier)
            .groupBy("node")
            .agg(F.max("plen").alias("plen"))
        )
    return best.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("plen").cast("bigint").alias("critical_len"),
    )


def _neyman_md5_rank() -> str:
    from ..operators.trainprep import MD5_WORD

    return MD5_WORD("c_custkey", 8)


@register(
    "sample_neyman_stratified",
    oracle=f"""
WITH moments AS (
  SELECT c_mktsegment AS seg,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS sy,
         SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) *
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS syy
  FROM customer GROUP BY c_mktsegment
),
sized AS (
  SELECT seg, n_h,
         n_h * SQRT((CAST(n_h AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) /
                    (CAST(n_h AS DOUBLE) * (n_h - 1))) AS nh_sh
  FROM moments
),
alloc AS (
  SELECT seg, n_h,
         CAST(FLOOR(100.0 * nh_sh / (SELECT SUM(nh_sh) FROM sized))
              AS BIGINT) AS take_h
  FROM sized
),
ranked AS (
  SELECT c_custkey, c_mktsegment AS seg,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY {{rank}}, c_custkey) AS r
  FROM customer
)
SELECT r.c_custkey, r.seg, a.take_h,
       CAST(a.n_h AS BIGINT) AS stratum_size
FROM ranked r JOIN alloc a ON r.seg = a.seg
WHERE r.r <= a.take_h
""".replace("{rank}", _neyman_md5_rank()),
)
def sample_neyman_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN-ALLOCATION STRATIFIED SAMPLING — the statistically
    optimal way to spend a fixed sample budget (100 rows): each
    stratum gets budget proportional to N_h * S_h (size x exact
    within-stratum standard deviation from BIGINT moment sums), so
    volatile strata are oversampled exactly as survey theory says.
    Selection within a stratum is the repo's deterministic-uniform:
    rank by MD5_WORD(custkey) — reproducible across engines,
    retries, and cluster sizes, unlike rand(). One moments agg (the
    fit, 5 rows, broadcast back) + one hash-rank window per
    stratum. The naive-vs-Neyman contrast with
    sample_stratified_topk is the point: that key takes k per
    stratum, this one PROVES where the budget should go."""
    c = table(spark, sf_dir, "customer")
    bal_c = cents("c_acctbal")
    moments = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(bal_c).alias("sy"),
        F.sum(bal_c * bal_c).alias("syy"),
    )
    n_d = F.col("n_h").cast("double")
    sized = moments.select(
        "seg",
        "n_h",
        (
            F.col("n_h")
            * F.sqrt(
                (n_d * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
                / (n_d * (F.col("n_h") - 1))
            )
        ).alias("nh_sh"),
    )
    tot = sized.agg(F.sum("nh_sh").alias("tot"))
    alloc = sized.crossJoin(F.broadcast(tot)).select(
        "seg",
        "n_h",
        F.floor(100.0 * F.col("nh_sh") / F.col("tot")).cast("bigint").alias(
            "take_h"
        ),
    )
    from ..operators.trainprep import MD5_WORD

    w = Window.partitionBy("c_mktsegment").orderBy(
        F.expr(MD5_WORD("c_custkey", 8)), "c_custkey"
    )
    ranked = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.row_number().over(w).alias("r"),
    )
    return ranked.join(F.broadcast(alloc), "seg").filter(
        F.col("r") <= F.col("take_h")
    ).select(
        "c_custkey",
        "seg",
        "take_h",
        F.col("n_h").cast("bigint").alias("stratum_size"),
    )


@register(
    "iter_hits_scores",
    oracle="""
WITH nn AS (SELECT COUNT(*) AS n FROM customer),
edges AS (
  SELECT c_custkey AS src,
         (c_custkey * c_custkey + 13 * c_custkey + 7) % (SELECT n FROM nn)
           AS dst
  FROM customer
),
-- iteration 1 (init all scores 1): a1 = in-degree, h1 = out-mass
a1 AS (SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS a FROM edges GROUP BY dst),
h1 AS (
  SELECT e.src AS id, CAST(SUM(COALESCE(a1.a, 0)) AS BIGINT) AS h
  FROM edges e LEFT JOIN a1 ON a1.id = e.dst
  GROUP BY e.src
),
a2 AS (
  SELECT e.dst AS id, CAST(SUM(COALESCE(h1.h, 0)) AS BIGINT) AS a
  FROM edges e LEFT JOIN h1 ON h1.id = e.src
  GROUP BY e.dst
),
h2 AS (
  SELECT e.src AS id, CAST(SUM(COALESCE(a2.a, 0)) AS BIGINT) AS h
  FROM edges e LEFT JOIN a2 ON a2.id = e.dst
  GROUP BY e.src
)
SELECT COALESCE(a2.id, h2.id) AS node,
       COALESCE(a2.a, 0) AS authority,
       COALESCE(h2.h, 0) AS hub
FROM a2 FULL OUTER JOIN h2 ON a2.id = h2.id
WHERE COALESCE(a2.a, 0) > 0 OR COALESCE(h2.h, 0) > 0
""",
)
def iter_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hubs & authorities) — Kleinberg's companion to
    PageRank: authorities are pointed AT by good hubs, hubs point
    TO good authorities, mutually reinforcing. Two alternating
    power-iteration rounds over the quadratic synthetic graph,
    UN-normalized so every score stays an exact BIGINT (the usual
    L2 normalization only rescales the ranking — dropping it is
    what makes the result hash-checkable; scores after 2 rounds are
    bounded by max_indegree^2 * n). Each half-step is one join +
    sum-agg on the edge key — the iter_pagerank shape; nodes with
    both scores zero are dropped identically on both sides."""
    cust = table(spark, sf_dir, "customer")
    nn = cust.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        cust.select("c_custkey")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("c_custkey").alias("src"),
            (
                (F.col("c_custkey") * F.col("c_custkey") + 13 * F.col("c_custkey") + 7)
                % F.col("n")
            ).alias("dst"),
        )
    )
    a1 = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    h1 = (
        edges.join(a1, a1.id == edges.dst, "left")
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum(F.coalesce("a", F.lit(0))).cast("bigint").alias("h"))
    )
    a2 = (
        edges.join(h1, h1.id == edges.src, "left")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum(F.coalesce("h", F.lit(0))).cast("bigint").alias("a"))
    )
    h2 = (
        edges.join(a2, a2.id == edges.dst, "left")
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum(F.coalesce("a", F.lit(0))).cast("bigint").alias("h"))
    )
    a2r = a2.select(F.col("id").alias("a_id"), "a")
    h2r = h2.select(F.col("id").alias("h_id"), "h")
    return (
        a2r.join(h2r, a2r.a_id == h2r.h_id, "full_outer")
        .select(
            F.coalesce("a_id", "h_id").alias("node"),
            F.coalesce("a", F.lit(0)).alias("authority"),
            F.coalesce("h", F.lit(0)).alias("hub"),
        )
        .filter((F.col("authority") > 0) | (F.col("hub") > 0))
    )


@register(
    "dq_row_count_anomaly",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY day
),
med AS (
  SELECT day, n_rows,
         MEDIAN(n_rows) OVER (
           ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
         ) AS trailing_med,
         COUNT(*) OVER (
           ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
         ) AS n_trailing
  FROM daily
)
SELECT day, n_rows,
       ROUND(trailing_med, 6) AS trailing_median,
       CAST(n_rows AS DOUBLE) < 0.5 * trailing_med
         OR CAST(n_rows AS DOUBLE) > 1.5 * trailing_med AS is_anomaly
FROM med
WHERE n_trailing >= 3
""",
)
def dq_row_count_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIPELINE VOLUME MONITOR — the "did yesterday's load arrive?"
    check every ingestion DAG needs: each day's row count vs the
    MEDIAN of the 7 prior days (median, not mean, so one bad day
    can't poison its own baseline — the same robustness argument as
    dq_mad_outliers), flagged when outside [0.5x, 1.5x]. Days with
    fewer than 3 trailing observations are withheld rather than
    judged on noise. The fact scan reduces map-side into the daily
    grid first; the rolling median runs on the CALENDAR-sized grid
    (~2.2k days here, bounded at any fact scale), which is the whole
    reason exact medians are affordable in this shape. Both engines
    interpolate the even-count median identically (linear midpoint
    of exact integers)."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    w = Window.orderBy("day").rowsBetween(-7, -1)
    med = daily.select(
        "day",
        "n_rows",
        F.expr("percentile(n_rows, 0.5)").over(w).alias("trailing_med"),
        F.count(F.lit(1)).over(w).alias("n_trailing"),
    )
    return med.filter(F.col("n_trailing") >= 3).select(
        "day",
        "n_rows",
        F.round("trailing_med", 6).alias("trailing_median"),
        (
            (F.col("n_rows").cast("double") < 0.5 * F.col("trailing_med"))
            | (F.col("n_rows").cast("double") > 1.5 * F.col("trailing_med"))
        ).alias("is_anomaly"),
    )


@register(
    "merge_golden_record",
    oracle="""
WITH src AS (
  -- source 1 (CRM, highest name priority): full names, segment
  -- missing for every 3rd key, balances stale (day 0)
  SELECT c_custkey AS k, 1 AS priority, c_name AS name,
         CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS segment,
         CASE WHEN c_custkey % 5 = 0 THEN NULL
              ELSE CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) END AS bal_c,
         0 AS updated_at
  FROM customer
  UNION ALL
  -- source 2 (billing): no names, always has segment, fresher
  -- balances for even keys
  SELECT c_custkey, 2, NULL, c_mktsegment,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) + 100,
         CASE WHEN c_custkey % 2 = 0 THEN 2 ELSE 0 END
  FROM customer
  UNION ALL
  -- source 3 (legacy, subset): uppercased names for every 7th key
  SELECT c_custkey, 3, upper(c_name), NULL,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) - 50, 1
  FROM customer WHERE c_custkey % 7 = 0
),
bal_pick AS (
  SELECT k, bal_c, priority,
         ROW_NUMBER() OVER (
           PARTITION BY k
           ORDER BY (bal_c IS NOT NULL) DESC, updated_at DESC, priority
         ) AS rn
  FROM src
),
fielded AS (
  SELECT k,
         COALESCE(MAX(CASE WHEN priority = 1 THEN name END),
                  MAX(CASE WHEN priority = 2 THEN name END),
                  MAX(CASE WHEN priority = 3 THEN name END)) AS name_golden,
         COALESCE(MAX(CASE WHEN priority = 1 THEN segment END),
                  MAX(CASE WHEN priority = 2 THEN segment END),
                  MAX(CASE WHEN priority = 3 THEN segment END)) AS segment_golden,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM src GROUP BY k
)
SELECT f.k AS custkey, f.name_golden, f.segment_golden,
       CAST(b.bal_c AS DOUBLE) / 100.0 AS bal_golden,
       CAST(b.priority AS BIGINT) AS bal_source,
       f.n_sources
FROM fielded f JOIN bal_pick b ON f.k = b.k AND b.rn = 1
""",
)
def merge_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN RECORD SURVIVORSHIP — the MDM merge step after entity
    resolution: three derived "source systems" disagree about each
    customer (CRM has names but stale balances and missing segments;
    billing is fresh but nameless; a legacy subset shouts in
    uppercase), and each FIELD survives by its own rule — names and
    segments by source-priority COALESCE (first non-null across the
    per-source conditional maxes: each source has <= 1 row per key,
    so the rule is one hash-agg, no windows), balance by RECENCY
    (latest non-null updated_at, priority tiebreak) via one
    row_number window partitioned by the entity key. This is the
    field-level complement of dedup_latest_by_key (which keeps whole
    rows); real MDM merges COLUMNS from different rows, which is why
    it needs its own operator. One union scan + one agg + one
    entity-partitioned window: shards by key at any scale."""
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    s1 = c.select(
        k.alias("k"),
        F.lit(1).alias("priority"),
        F.col("c_name").alias("name"),
        F.when(k % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.when(k % 5 == 0, F.lit(None).cast("bigint"))
        .otherwise(cents("c_acctbal"))
        .alias("bal_c"),
        F.lit(0).alias("updated_at"),
    )
    s2 = c.select(
        k.alias("k"),
        F.lit(2).alias("priority"),
        F.lit(None).cast("string").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        (cents("c_acctbal") + 100).alias("bal_c"),
        F.when(k % 2 == 0, 2).otherwise(0).alias("updated_at"),
    )
    s3 = c.filter(k % 7 == 0).select(
        k.alias("k"),
        F.lit(3).alias("priority"),
        F.upper("c_name").alias("name"),
        F.lit(None).cast("string").alias("segment"),
        (cents("c_acctbal") - 50).alias("bal_c"),
        F.lit(1).alias("updated_at"),
    )
    src = s1.unionByName(s2).unionByName(s3)
    w_bal = Window.partitionBy("k").orderBy(
        F.col("bal_c").isNotNull().desc(),
        F.col("updated_at").desc(),
        F.col("priority"),
    )
    bal_pick = src.select(
        "k", "bal_c", "priority", F.row_number().over(w_bal).alias("rn")
    ).filter(F.col("rn") == 1)

    def by_priority(col):
        return F.coalesce(
            *[
                F.max(F.when(F.col("priority") == p, F.col(col)))
                for p in (1, 2, 3)
            ]
        )

    fielded = src.groupBy("k").agg(
        by_priority("name").alias("name_golden"),
        by_priority("segment").alias("segment_golden"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    return fielded.join(bal_pick, "k").select(
        F.col("k").alias("custkey"),
        "name_golden",
        "segment_golden",
        (F.col("bal_c").cast("double") / 100.0).alias("bal_golden"),
        F.col("priority").cast("bigint").alias("bal_source"),
        "n_sources",
    )


@register(
    "agg_abc_xyz_classification",
    oracle="""
WITH monthly AS (
  SELECT l.l_partkey AS pk,
         date_trunc('month', l.l_shipdate) AS m,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem l GROUP BY pk, m
),
lanes AS (
  SELECT pk,
         CAST(COUNT(*) AS BIGINT) AS n_m,
         CAST(SUM(qty) AS BIGINT) AS sq,
         CAST(SUM(qty * qty) AS BIGINT) AS sqq
  FROM monthly GROUP BY pk
),
xyz AS (
  SELECT pk, n_m, sq,
         SQRT((CAST(sqq AS DOUBLE)
               - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(n_m AS DOUBLE))
              / CAST(n_m AS DOUBLE))
           / (CAST(sq AS DOUBLE) / CAST(n_m AS DOUBLE)) AS cv
  FROM lanes WHERE n_m >= 6
),
classed AS (
  SELECT pk, sq, cv,
         CASE WHEN cv <= 0.5 THEN 'X' WHEN cv <= 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz_class
  FROM xyz
)
SELECT xyz_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(sq) AS BIGINT) AS total_qty,
       ROUND(MIN(cv), 6) AS min_cv,
       ROUND(MAX(cv), 6) AS max_cv
FROM classed GROUP BY xyz_class
""",
)
def agg_abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ DEMAND-VARIABILITY CLASSIFICATION — the inventory-
    planning twin of the revenue ABC key (agg_pareto / agg_abc
    slice by VALUE; XYZ slices by PREDICTABILITY): per part, the
    coefficient of variation of monthly shipped quantity buckets
    parts into X (steady, cv<=0.5 — forecast and automate), Y
    (seasonal/variable), Z (erratic, cv>1 — safety stock or
    make-to-order). The cv comes from exact integer month-quantity
    lanes (sum, sum-of-squares — population SD over the part's
    observed months), one double closed form per part, and parts
    with under 6 observed months are withheld rather than classed
    on noise. Two hash-aggs (part x month, then part), dim-sized
    output; the classic planning report at any scale."""
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("month", "l_shipdate").alias("m"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
    lanes = monthly.groupBy("pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_m"),
        F.sum("qty").cast("bigint").alias("sq"),
        F.sum(F.col("qty") * F.col("qty")).cast("bigint").alias("sqq"),
    ).filter(F.col("n_m") >= 6)
    n_d = F.col("n_m").cast("double")
    sq_d = F.col("sq").cast("double")
    cv = F.sqrt(
        (F.col("sqq").cast("double") - sq_d * sq_d / n_d) / n_d
    ) / (sq_d / n_d)
    classed = lanes.select(
        "pk",
        "sq",
        cv.alias("cv"),
        F.when(cv <= 0.5, "X").when(cv <= 1.0, "Y").otherwise("Z").alias(
            "xyz_class"
        ),
    )
    return classed.groupBy("xyz_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("sq").cast("bigint").alias("total_qty"),
        F.round(F.min("cv"), 6).alias("min_cv"),
        F.round(F.max("cv"), 6).alias("max_cv"),
    )


# Shared hex-digit -> int SQL for the bloom positions (3 hex chars =
# 12 bits, mod 1024): identical string algebra on both engines.
def _bloom_pos_sql(key: str, seed: int, typ: str = "VARCHAR") -> str:
    h = f"md5(CAST({key} AS {typ}) || ':b{seed}')"
    d = "instr('0123456789abcdef', substr({h}, {i}, 1)) - 1"
    return (
        "(("
        + d.format(h=h, i=1)
        + ") * 256 + ("
        + d.format(h=h, i=2)
        + ") * 16 + ("
        + d.format(h=h, i=3)
        + ")) % 1024"
    )


@register(
    "join_bloom_prefilter_checked",
    oracle=f"""
WITH dim AS (
  SELECT s_suppkey AS k FROM supplier WHERE s_nationkey % 5 = 0
),
dim_bits AS (
  SELECT ({_bloom_pos_sql('k', 1)}) AS pos FROM dim
  UNION ALL SELECT ({_bloom_pos_sql('k', 2)}) FROM dim
  UNION ALL SELECT ({_bloom_pos_sql('k', 3)}) FROM dim
),
words AS (
  SELECT pos // 32 AS word,
         CAST(BIT_OR(CAST(1 AS BIGINT) << (pos % 32)) AS BIGINT) AS mask
  FROM dim_bits GROUP BY word
),
probes AS (
  SELECT l_orderkey, l_linenumber, l_suppkey,
         unnest([{_bloom_pos_sql('l_suppkey', 1)},
                 {_bloom_pos_sql('l_suppkey', 2)},
                 {_bloom_pos_sql('l_suppkey', 3)}]) AS pos
  FROM lineitem
),
tested AS (
  SELECT p.l_orderkey, p.l_linenumber, p.l_suppkey,
         MIN(CASE WHEN ((COALESCE(w.mask, 0) >> (p.pos % 32)) & 1) = 1
                  THEN 1 ELSE 0 END) AS pass
  FROM probes p LEFT JOIN words w ON p.pos // 32 = w.word
  GROUP BY p.l_orderkey, p.l_linenumber, p.l_suppkey
),
truth AS (
  SELECT t.*,
         CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END AS is_match
  FROM tested t LEFT JOIN dim d ON t.l_suppkey = d.k
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_fact,
       CAST(SUM(pass) AS BIGINT) AS n_bloom_pass,
       CAST(SUM(is_match) AS BIGINT) AS n_true_match,
       CAST(SUM(CASE WHEN pass = 1 AND is_match = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positive,
       CAST(SUM(CASE WHEN pass = 0 AND is_match = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_negative
FROM truth
""",
)
def join_bloom_prefilter_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER SEMI-JOIN REDUCTION, certificate included — the
    scale technique for "dim too big to ship raw, but its FINGERPRINT
    fits anywhere": dim keys set 3 hash positions each in a 1024-bit
    filter (32x 32-bit words via BIT_OR — an associative aggregate,
    so the build is one map-side-combined pass however large dim
    is); fact rows probe their 3 positions against the broadcast
    word table and only bloom-survivors proceed to the real join.
    The output IS the certificate: n_false_negative MUST be 0 (the
    bloom guarantee — hash-pinned, not assumed) while
    n_false_positive documents the honest cost of the 1024-bit
    sizing. Spark's own runtime bloom (AQE) does this invisibly;
    this key makes the mechanism a checkable operator with
    engine-portable md5 positions. Probes are an explode(3) +
    broadcast join on a 32-row table — no shuffle of fact rows at
    all."""
    sup = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    dim = sup.filter(F.col("s_nationkey") % 5 == 0).select(
        F.col("s_suppkey").alias("k")
    )

    def pos_expr(key: str, seed: int) -> F.Column:
        return F.expr(_bloom_pos_sql(key, seed, typ="STRING"))

    dim_bits = (
        dim.select(pos_expr("k", 1).alias("pos"))
        .unionAll(dim.select(pos_expr("k", 2).alias("pos")))
        .unionAll(dim.select(pos_expr("k", 3).alias("pos")))
    )
    words = dim_bits.groupBy(
        (F.col("pos") / 32).cast("bigint").alias("word")
    ).agg(
        F.expr(
            "CAST(bit_or(shiftleft(CAST(1 AS BIGINT),"
            " CAST(pos % 32 AS INT))) AS BIGINT)"
        ).alias("mask")
    )
    probes = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        F.explode(
            F.array(
                pos_expr("l_suppkey", 1),
                pos_expr("l_suppkey", 2),
                pos_expr("l_suppkey", 3),
            )
        ).alias("pos"),
    )
    tested = (
        probes.join(
            F.broadcast(words),
            (F.col("pos") / 32).cast("bigint") == F.col("word"),
            "left",
        )
        .groupBy("l_orderkey", "l_linenumber", "l_suppkey")
        .agg(
            F.min(
                F.when(
                    F.expr(
                        "((COALESCE(mask, 0) >> CAST(pos % 32 AS INT)) & 1) = 1"
                    ),
                    1,
                ).otherwise(0)
            ).alias("pass")
        )
    )
    truth = tested.join(
        F.broadcast(dim), tested.l_suppkey == dim.k, "left"
    ).select(
        "pass",
        F.when(F.col("k").isNotNull(), 1).otherwise(0).alias("is_match"),
    )
    return truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fact"),
        F.sum("pass").cast("bigint").alias("n_bloom_pass"),
        F.sum("is_match").cast("bigint").alias("n_true_match"),
        F.sum(
            F.when((F.col("pass") == 1) & (F.col("is_match") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_positive"),
        F.sum(
            F.when((F.col("pass") == 0) & (F.col("is_match") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_negative"),
    )


def _lp_h24(cast_t: str, salt: str) -> str:
    """24-bit md5 nibble hash of 'i:r:<salt>' — same synthesis as
    iter_triangle_count, parameterized by the engine's string cast
    type so Spark (STRING) and DuckDB (VARCHAR) parse identical
    structure."""
    key = (
        f"CAST(i AS {cast_t}) || ':' || CAST(r AS {cast_t}) || '{salt}'"
    )
    nib = lambda j: (  # noqa: E731
        f"(instr('0123456789abcdef', substr(md5({key}), {j}, 1)) - 1)"
    )
    return (
        f"(({nib(1)})*1048576 + ({nib(2)})*65536 + ({nib(3)})*4096"
        f" + ({nib(4)})*256 + ({nib(5)})*16 + ({nib(6)}))"
    )


@register(
    "graph_link_prediction",
    oracle=f"""
WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
spine AS (
  SELECT c_custkey AS i, r FROM customer
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS r)
),
raw AS (
  SELECT {_lp_h24('VARCHAR', ':a')} % (SELECT n FROM nn) AS s,
         {_lp_h24('VARCHAR', ':b')} % (SELECT n FROM nn) AS d
  FROM spine
),
edges AS (
  SELECT DISTINCT LEAST(s, d) AS lo, GREATEST(s, d) AS hi
  FROM raw WHERE s <> d
),
adj AS (
  SELECT lo AS u, hi AS v FROM edges
  UNION ALL
  SELECT hi AS u, lo AS v FROM edges
),
deg AS (SELECT u AS z, CAST(COUNT(*) AS BIGINT) AS dz FROM adj GROUP BY u),
wedge AS (
  SELECT a1.v AS z, a1.u AS u, a2.v AS v
  FROM adj a1 JOIN adj a2 ON a1.v = a2.u AND a1.u < a2.v
),
scored AS (
  SELECT w.u, w.v,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(CAST(FLOOR(ROUND(1.0 / ln(d.dz), 12) * 1000000000)
                       AS BIGINT)) AS BIGINT) AS aa_nano
  FROM wedge w JOIN deg d ON w.z = d.z
  GROUP BY w.u, w.v
),
cand AS (
  SELECT s.* FROM scored s
  LEFT JOIN edges e ON s.u = e.lo AND s.v = e.hi
  WHERE e.lo IS NULL AND s.cn >= 2
)
SELECT c.u, c.v, c.cn,
       ROUND(c.aa_nano / 1000000000.0, 6) AS adamic_adar,
       ROUND(CAST(c.cn AS DOUBLE) / (du.dz + dv.dz - c.cn), 6) AS jaccard
FROM cand c
JOIN deg du ON c.u = du.z
JOIN deg dv ON c.v = dv.z
""",
    tags=("iterative", "graph"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION SCORES — the classic neighborhood heuristics
    (common neighbors, Adamic-Adar, Jaccard) for every NON-edge pair
    at distance 2 with >= 2 shared neighbors, on the same md5-hash
    Erdos-Renyi-ish graph as iter_triangle_count. One wedge join
    (adjacency self-join through the middle node z, oriented u < v
    so each pair scores once), one hash-agg on the pair key, an
    anti-join against existing edges, and two degree lookups.
    Adamic-Adar's 1/ln(deg_z) terms are libm values, so each wedge's
    term is quantized to integer nano-units BEFORE the pair-sum (deg
    >= 2 for any wedge middle, so ln never hits zero). At 100 TB the
    wedge join is the Sum(deg^2) hot spot — the u < v predicate
    halves it and a degree-ordered orientation caps hub fan-out,
    same plan shape Spark AQE skew-handles."""
    c = table(spark, sf_dir, "customer")
    nn = c.agg(F.count(F.lit(1)).alias("n"))
    spine = c.select(F.col("c_custkey").alias("i")).crossJoin(
        F.broadcast(spark.range(3).select(F.col("id").cast("int").alias("r")))
    )
    raw = spine.crossJoin(F.broadcast(nn)).select(
        (F.expr(_lp_h24("STRING", ":a")) % F.col("n")).alias("s"),
        (F.expr(_lp_h24("STRING", ":b")) % F.col("n")).alias("d"),
    )
    edges = (
        raw.filter(F.col("s") != F.col("d"))
        .select(F.least("s", "d").alias("lo"), F.greatest("s", "d").alias("hi"))
        .distinct()
    )
    adj = edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionAll(
        edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("z")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dz")
    )
    a1 = adj.select(F.col("u").alias("wu"), F.col("v").alias("z"))
    a2 = adj.select(F.col("u").alias("z2"), F.col("v").alias("wv"))
    wedge = a1.join(
        a2, (F.col("z") == F.col("z2")) & (F.col("wu") < F.col("wv"))
    ).select(F.col("wu").alias("u"), F.col("wv").alias("v"), "z")
    aa_term = (
        F.floor(F.round(1.0 / F.log(F.col("dz")), 12) * 1000000000)
        .cast("bigint")
    )
    scored = (
        wedge.join(deg, "z")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(aa_term).cast("bigint").alias("aa_nano"),
        )
    )
    cand = (
        scored.join(
            edges,
            (scored["u"] == edges["lo"]) & (scored["v"] == edges["hi"]),
            "left_anti",
        )
        .filter(F.col("cn") >= 2)
    )
    du = deg.select(F.col("z").alias("u"), F.col("dz").alias("du"))
    dv = deg.select(F.col("z").alias("v"), F.col("dz").alias("dv"))
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            F.round(F.col("aa_nano") / 1000000000.0, 6).alias("adamic_adar"),
            F.round(
                F.col("cn").cast("double") / (F.col("du") + F.col("dv") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "dq_l_diversity",
    oracle="""
WITH tagged AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         CASE WHEN c_acctbal < 0 THEN 'debt'
              WHEN c_acctbal < 3000 THEN 'low'
              WHEN c_acctbal < 7000 THEN 'mid'
              ELSE 'high' END AS sens
  FROM customer
),
cells AS (
  SELECT seg, nat, sens, CAST(COUNT(*) AS BIGINT) AS n
  FROM tagged GROUP BY seg, nat, sens
),
termed AS (
  SELECT seg, nat, n,
         CAST(ROUND(-(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY seg, nat))
                    * ln(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY seg, nat))
                    * 1000000000, 0) AS BIGINT) AS term_nano
  FROM cells
),
cohorts AS (
  SELECT seg, nat,
         CAST(SUM(n) AS BIGINT) AS cohort_size,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_sens,
         CAST(SUM(term_nano) AS BIGINT) AS ent_nano
  FROM termed GROUP BY seg, nat
)
SELECT seg, nat, cohort_size, n_distinct_sens,
       ROUND(ent_nano / 1000000000.0, 6) AS sens_entropy,
       n_distinct_sens >= 3 AS distinct_l3,
       ent_nano / 1000000000.0 >= ln(3.0) AS entropy_l3
FROM cohorts
""",
    tags=("dq", "privacy"),
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit — k-anonymity's necessary complement: a
    large cohort is still unsafe if everyone in it shares the same
    SENSITIVE value. Per quasi-identifier cohort (segment, nation)
    over a 4-band balance sensitivity: distinct-l (>= 3 distinct
    sensitive values) AND entropy-l (sensitive-distribution entropy
    >= ln 3, the stricter criterion that catches 99%-skewed
    cohorts). Cell counts are exact; each cell's -p*ln p term is
    quantized to nano-units BEFORE the cohort sum (the standard
    libm lane). Cohort and cell tables are QI-domain sized — two
    hash-aggs, zero wide shuffles at 100 TB."""
    c = table(spark, sf_dir, "customer")
    sens = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 3000, "low")
        .when(F.col("c_acctbal") < 7000, "mid")
        .otherwise("high")
    )
    cells = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        sens.alias("sens"),
    ).groupBy("seg", "nat", "sens").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("seg", "nat")
    pp = F.col("n").cast("double") / F.sum("n").over(w)
    cells = cells.withColumn(
        "term_nano",
        F.round(-pp * F.log(pp) * 1000000000, 0).cast("bigint"),
    )
    cohorts = cells.groupBy("seg", "nat").agg(
        F.sum("n").cast("bigint").alias("cohort_size"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_sens"),
        F.sum("term_nano").cast("bigint").alias("ent_nano"),
    )
    return cohorts.select(
        "seg",
        "nat",
        "cohort_size",
        "n_distinct_sens",
        F.round(F.col("ent_nano") / 1000000000.0, 6).alias("sens_entropy"),
        (F.col("n_distinct_sens") >= 3).alias("distinct_l3"),
        (F.col("ent_nano") / 1000000000.0 >= F.log(F.lit(3.0))).alias(
            "entropy_l3"
        ),
    )


@register(
    "dq_dp_noisy_count",
    oracle="""
WITH counts AS (
  SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM customer GROUP BY seg
),
seeded AS (
  SELECT seg, true_count,
         ((instr('0123456789abcdef', substr(md5(seg || ':dp:1'), 1, 1)) - 1) * CAST(1048576 AS DOUBLE)
          + (instr('0123456789abcdef', substr(md5(seg || ':dp:1'), 2, 1)) - 1) * CAST(65536 AS DOUBLE)
          + (instr('0123456789abcdef', substr(md5(seg || ':dp:1'), 3, 1)) - 1) * CAST(4096 AS DOUBLE)
          + (instr('0123456789abcdef', substr(md5(seg || ':dp:1'), 4, 1)) - 1) * CAST(256 AS DOUBLE)
          + (instr('0123456789abcdef', substr(md5(seg || ':dp:1'), 5, 1)) - 1) * CAST(16 AS DOUBLE)
          + (instr('0123456789abcdef', substr(md5(seg || ':dp:1'), 6, 1)) - 1)
         ) / CAST(16777216 AS DOUBLE) AS u
  FROM counts
),
noised AS (
  SELECT seg, true_count, u,
         CAST(FLOOR(ROUND(
           -(CASE WHEN u >= CAST(0.5 AS DOUBLE) THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)
             * ln(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) * abs(u - CAST(0.5 AS DOUBLE))) / CAST(1 AS DOUBLE), 9) * 1000000)
           AS BIGINT) AS noise_micro
  FROM seeded
)
SELECT seg, true_count,
       ROUND(u, 6) AS u_seed,
       ROUND(noise_micro / CAST(1000000 AS DOUBLE), 6) AS laplace_noise,
       ROUND(true_count + noise_micro / CAST(1000000 AS DOUBLE), 6) AS noisy_count
FROM noised
""",
    tags=("dq", "privacy"),
)
def dq_dp_noisy_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENTIALLY-PRIVATE COUNT RELEASE (epsilon = 1, Laplace
    mechanism) with a SEEDED noise lane: the Laplace draw comes from
    inverse-CDF sampling of a deterministic md5-derived uniform
    (u from 24 hash bits), so the privacy MACHINERY — sensitivity-1
    count, b = 1/epsilon scale, sign-split inverse CDF
    -sgn(u-1/2) * b * ln(1 - 2|u-1/2|) — is real and testable while
    the run stays reproducible (a production release would swap the
    seed source for a CSPRNG; everything else is unchanged). The
    libm ln quantizes to micro-units per group before the add (the
    standard lane). The true count rides along because this is the
    audit view, not the release view. Group-domain sized; one
    hash-agg."""
    c = table(spark, sf_dir, "customer")
    counts = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count")
    )
    nib = lambda j: (  # noqa: E731
        f"(instr('0123456789abcdef', substr(md5(seg || ':dp:1'), {j}, 1)) - 1)"
    )
    u_expr = (
        f"({nib(1)} * CAST(1048576 AS DOUBLE) + {nib(2)} * CAST(65536 AS DOUBLE) + {nib(3)} * CAST(4096 AS DOUBLE)"
        f" + {nib(4)} * CAST(256 AS DOUBLE) + {nib(5)} * CAST(16 AS DOUBLE) + {nib(6)}) / CAST(16777216 AS DOUBLE)"
    )
    seeded = counts.selectExpr("seg", "true_count", f"{u_expr} AS u")
    noised = seeded.selectExpr(
        "seg",
        "true_count",
        "u",
        "CAST(FLOOR(ROUND("
        " -(CASE WHEN u >= CAST(0.5 AS DOUBLE) THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)"
        " * ln(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) * abs(u - CAST(0.5 AS DOUBLE))) / CAST(1 AS DOUBLE), 9) * 1000000)"
        " AS BIGINT) AS noise_micro",
    )
    return noised.selectExpr(
        "seg",
        "true_count",
        "ROUND(u, 6) AS u_seed",
        "ROUND(noise_micro / CAST(1000000 AS DOUBLE), 6) AS laplace_noise",
        "ROUND(true_count + noise_micro / CAST(1000000 AS DOUBLE), 6) AS noisy_count",
    )


@register(
    "rank_map_at_k",
    oracle="""
WITH rel AS (
  SELECT l_orderkey AS okey, CAST(COUNT(*) AS BIGINT) AS rel
  FROM lineitem GROUP BY l_orderkey
),
ranked AS (
  SELECT o.o_custkey,
         CASE WHEN r.rel >= 5 THEN 1 ELSE 0 END AS is_rel,
         ROW_NUMBER() OVER (PARTITION BY o.o_custkey
                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS pos
  FROM orders o JOIN rel r ON o.o_orderkey = r.okey
),
hits AS (
  SELECT o_custkey, pos, is_rel,
         SUM(is_rel) OVER (PARTITION BY o_custkey ORDER BY pos) AS hits_k
  FROM ranked
),
peruser AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN pos <= 10 AND is_rel = 1
                       THEN hits_k * (2520 // pos) ELSE 0 END) AS BIGINT)
           AS ap_scaled,
         CAST(SUM(is_rel) AS BIGINT) AS n_relevant
  FROM hits GROUP BY o_custkey
)
SELECT o_custkey AS user_key, n_relevant, ap_scaled,
       CASE WHEN n_relevant = 0 THEN 0.0
            ELSE ROUND(CAST(ap_scaled AS DOUBLE)
                       / (2520.0 * LEAST(n_relevant, 10)), 6) END AS ap10
FROM peruser
""",
    tags=("rank", "orders"),
)
def rank_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE PRECISION @ 10 — the binary-relevance ranking metric
    that completes the eval trio (MRR = first hit only, NDCG =
    graded gains, AP = all hits position-weighted), on the same
    surrogate task as rank_ndcg_at_k (system ranking by totalprice,
    relevant = order with >= 5 lineitems). The trick that keeps it
    EXACT: precision@k terms hits_k/k have denominators 1..10, so
    each term scales by the literal LCM 2520 (2520//pos is an exact
    integer for every pos <= 10) — the per-user sum is exact BIGINT
    and AP divides once by 2520 * min(R, 10). One window for the
    running hit count, one hash-agg; per-user rows so the oracle
    compares the full distribution, not just the mean."""
    rel = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("rel"))
    )
    o = table(spark, sf_dir, "orders")
    ranked = o.join(rel, o["o_orderkey"] == rel["okey"]).select(
        "o_custkey",
        F.when(F.col("rel") >= 5, 1).otherwise(0).alias("is_rel"),
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                F.col("o_totalprice").desc(), "o_orderkey"
            )
        )
        .alias("pos"),
    )
    hits = ranked.withColumn(
        "hits_k",
        F.sum("is_rel").over(
            Window.partitionBy("o_custkey").orderBy("pos")
        ),
    )
    peruser = hits.groupBy("o_custkey").agg(
        F.sum(
            F.when(
                (F.col("pos") <= 10) & (F.col("is_rel") == 1),
                F.col("hits_k") * (F.lit(2520) / F.col("pos")).cast("bigint"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("ap_scaled"),
        F.sum("is_rel").cast("bigint").alias("n_relevant"),
    )
    return peruser.select(
        F.col("o_custkey").alias("user_key"),
        "n_relevant",
        "ap_scaled",
        F.when(F.col("n_relevant") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("ap_scaled").cast("double")
                / (2520.0 * F.least(F.col("n_relevant"), F.lit(10))),
                6,
            )
        )
        .alias("ap10"),
    )


@register(
    "stats_beta_binomial_shrinkage",
    oracle="""
WITH g AS (
  SELECT o_custkey % 25 AS grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
           AS BIGINT) AS x
  FROM orders GROUP BY grp
),
q AS (
  SELECT grp, n, x,
         CAST(ROUND(CAST(x AS DOUBLE) / n * 1000000000, 0) AS BIGINT)
           AS p_nano
  FROM g
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(p_nano) AS BIGINT) AS sp,
         CAST(SUM(p_nano * p_nano) AS BIGINT) AS spp
  FROM q
),
ab AS (
  SELECT k, sp, spp,
         CAST(sp AS DOUBLE) / k / 1000000000.0 AS m,
         (CAST(spp AS DOUBLE) / k
          - (CAST(sp AS DOUBLE) / k) * (CAST(sp AS DOUBLE) / k))
           / 1000000000.0 / 1000000000.0 AS v
  FROM mom
),
prior AS (
  SELECT m, v,
         m * (m * (1.0 - m) / v - 1.0) AS alpha,
         (1.0 - m) * (m * (1.0 - m) / v - 1.0) AS beta
  FROM ab
)
SELECT q.grp, q.n, q.x,
       ROUND(CAST(q.x AS DOUBLE) / q.n, 6) AS raw_rate,
       ROUND(p.alpha, 6) AS alpha,
       ROUND(p.beta, 6) AS beta,
       ROUND((q.x + p.alpha) / (q.n + p.alpha + p.beta), 6) AS shrunk_rate
FROM q CROSS JOIN prior p
""",
    tags=("stats", "agg"),
)
def stats_beta_binomial_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL-BAYES SHRINKAGE of per-group rates — the
    beta-binomial answer to 'which segment really converts best'
    when group sizes differ: fit a Beta(alpha, beta) prior to the 25
    observed fulfilled-rates by METHOD OF MOMENTS (alpha+beta =
    m(1-m)/v - 1), then shrink each group's raw x/n toward the prior
    mean by (x+alpha)/(n+alpha+beta) — small groups move a lot,
    big groups barely. Each group rate is quantized to nano-units
    before the cross-group moment sums (the standard exact-
    accumulation lane); the prior is ONE broadcast row; shrunken
    rates are a single shared double tree per group. Two grid aggs
    + one broadcast cross — nothing data-sized moves twice."""
    o = table(spark, sf_dir, "orders")
    g = o.groupBy((F.col("o_custkey") % 25).alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    q = g.withColumn(
        "p_nano",
        F.round(F.col("x").cast("double") / F.col("n") * 1000000000, 0).cast(
            "bigint"
        ),
    )
    mom = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("p_nano").cast("bigint").alias("sp"),
        F.sum(F.col("p_nano") * F.col("p_nano")).cast("bigint").alias("spp"),
    )
    ab = mom.selectExpr(
        "CAST(sp AS DOUBLE) / k / CAST(1000000000 AS DOUBLE) AS m",
        "(CAST(spp AS DOUBLE) / k"
        " - (CAST(sp AS DOUBLE) / k) * (CAST(sp AS DOUBLE) / k))"
        " / CAST(1000000000 AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS v",
    )
    prior = ab.selectExpr(
        "m",
        "v",
        "m * (m * (CAST(1 AS DOUBLE) - m) / v - CAST(1 AS DOUBLE)) AS alpha",
        "(CAST(1 AS DOUBLE) - m)"
        " * (m * (CAST(1 AS DOUBLE) - m) / v - CAST(1 AS DOUBLE)) AS beta",
    )
    return q.crossJoin(F.broadcast(prior)).select(
        "grp",
        "n",
        "x",
        F.round(F.col("x").cast("double") / F.col("n"), 6).alias("raw_rate"),
        F.round("alpha", 6).alias("alpha"),
        F.round("beta", 6).alias("beta"),
        F.round(
            (F.col("x") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta")),
            6,
        ).alias("shrunk_rate"),
    )


@register(
    "sample_block_bootstrap",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1 AS t,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY t
),
nd AS (SELECT CAST(MAX(t) AS BIGINT) AS n_days FROM daily),
picks AS (
  SELECT b.b, blk.i,
         1 + ((instr('0123456789abcdef',
                     substr(md5(CAST(b.b AS VARCHAR) || ':' ||
                            CAST(blk.i AS VARCHAR) || ':bb'), 1, 1)) - 1) * 256
              + (instr('0123456789abcdef',
                       substr(md5(CAST(b.b AS VARCHAR) || ':' ||
                              CAST(blk.i AS VARCHAR) || ':bb'), 2, 1)) - 1) * 16
              + (instr('0123456789abcdef',
                       substr(md5(CAST(b.b AS VARCHAR) || ':' ||
                              CAST(blk.i AS VARCHAR) || ':bb'), 3, 1)) - 1))
             % ((SELECT n_days FROM nd) - 4) AS start_t
  FROM (SELECT unnest(generate_series(1, 200)) AS b) b
  CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS i) blk
),
resampled AS (
  SELECT p.b, CAST(SUM(d.c) AS BIGINT) AS total_c
  FROM picks p
  JOIN daily d ON d.t BETWEEN p.start_t AND p.start_t + 4
  GROUP BY p.b
),
ranked AS (
  SELECT total_c,
         ROW_NUMBER() OVER (ORDER BY total_c, b) AS rn,
         COUNT(*) OVER () AS nb
  FROM resampled
)
SELECT CAST(MAX(nb) AS BIGINT) AS n_boot,
       ROUND(CAST(SUM(total_c) AS BIGINT) / CAST(MAX(nb) AS DOUBLE), 6)
         AS boot_mean_c,
       CAST(MAX(CASE WHEN rn = 5 THEN total_c END) AS BIGINT) AS ci_lo_c,
       CAST(MAX(CASE WHEN rn = 195 THEN total_c END) AS BIGINT) AS ci_hi_c
FROM ranked
""",
    tags=("sample", "events", "timeseries"),
)
def sample_block_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOVING-BLOCK BOOTSTRAP — the bootstrap that respects serial
    correlation (i.i.d. resampling destroys the autocorrelation the
    runs/DW keys just measured): each of B=200 resamples draws 6
    OVERLAPPABLE 5-day blocks of the daily-revenue series, block
    starts chosen by a deterministic md5 lane (the repo's seeded-
    sampling convention), and the 2.5/97.5 percentile of the
    resample totals is the CI — reported as exact order statistics
    of exact cent sums (rank 5 / 195 of 200). The resample join is
    picks x daily on a BETWEEN range — 1200 block rows against the
    30-day grid, model-sized; the daily agg is the only data-sized
    shuffle."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        (
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            + 1
        ).alias("t")
    ).agg(F.sum(cents("value")).cast("bigint").alias("c"))
    nd = daily.agg(F.max("t").cast("bigint").alias("n_days"))
    b = spark.range(1, 201).select(F.col("id").alias("b"))
    i = spark.range(1, 7).select(F.col("id").alias("i"))
    nib = lambda j: (  # noqa: E731
        f"(instr('0123456789abcdef', substr(md5(CAST(b AS STRING) || ':' ||"
        f" CAST(i AS STRING) || ':bb'), {j}, 1)) - 1)"
    )
    picks = (
        b.crossJoin(i)
        .crossJoin(F.broadcast(nd))
        .selectExpr(
            "b",
            "i",
            f"1 + ({nib(1)} * 256 + {nib(2)} * 16 + {nib(3)})"
            " % (n_days - 4) AS start_t",
        )
    )
    resampled = (
        picks.join(
            daily,
            (F.col("t") >= F.col("start_t"))
            & (F.col("t") <= F.col("start_t") + 4),
        )
        .groupBy("b")
        .agg(F.sum("c").cast("bigint").alias("total_c"))
    )
    ranked = resampled.select(
        "total_c",
        F.row_number().over(Window.orderBy("total_c", "b")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    return ranked.agg(
        F.max("nb").cast("bigint").alias("n_boot"),
        F.round(
            F.sum("total_c").cast("bigint") / F.max("nb").cast("double"), 6
        ).alias("boot_mean_c"),
        F.max(F.when(F.col("rn") == 5, F.col("total_c")))
        .cast("bigint")
        .alias("ci_lo_c"),
        F.max(F.when(F.col("rn") == 195, F.col("total_c")))
        .cast("bigint")
        .alias("ci_hi_c"),
    )


@register(
    "rank_lift_chart_deciles",
    oracle="""
WITH scored AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS score,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
         NTILE(10) OVER (ORDER BY CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                                  DESC, o_orderkey) AS decile
  FROM orders
),
per AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS positives
  FROM scored GROUP BY decile
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(positives) AS BIGINT) AS pt
  FROM per
),
cum AS (
  SELECT decile, n, positives,
         CAST(SUM(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
         CAST(SUM(positives) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
  FROM per
)
SELECT c.decile, c.n, c.positives,
       ROUND(CAST(c.positives AS DOUBLE) / c.n, 6) AS decile_rate,
       ROUND(CAST(c.cum_pos AS DOUBLE) / t.pt, 6) AS cum_capture,
       ROUND((CAST(c.cum_pos AS DOUBLE) / c.cum_n)
             / (CAST(t.pt AS DOUBLE) / t.nt), 6) AS cum_lift
FROM cum c CROSS JOIN tot t
""",
    tags=("rank", "orders", "stats"),
)
def rank_lift_chart_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE GAINS / LIFT CHART — the model-eval table scoring
    teams actually deploy from (AUC says 'how good', the lift chart
    says 'how many of the top decile to contact'): rank by score
    (order value, ties pinned by key), NTILE into deciles, and per
    decile report the hit rate, cumulative capture of all
    positives, and cumulative lift over the base rate. Counts are
    exact; every ratio is one double division; the decile grid
    windows over 10 rows. Completes the eval family next to
    auc_exact / ks_2sample / rank_ndcg_at_k.

    The decile assignment needs ONE global total order — supplied by
    the two-phase global_ntile operator (range-partition + local
    rank + tiny offset table + NTILE's first-N%10-buckets-get-one-
    extra-row arithmetic as exact integer math against a broadcast
    1-row total), never a single-partition NTILE window —
    bit-identical to NTILE(10) at any scale."""
    from ..operators.scale import global_ntile

    o = table(spark, sf_dir, "orders")
    base = o.select(
        cents("o_totalprice").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        "o_orderkey",
    )
    scored = global_ntile(
        base,
        [F.col("score").desc(), F.col("o_orderkey").asc()],
        10,
        out_col="decile",
    )
    per = scored.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("positives"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("positives").cast("bigint").alias("pt"),
    )
    cum = per.select(
        "decile",
        "n",
        "positives",
        F.sum("n").over(Window.orderBy("decile")).cast("bigint").alias("cum_n"),
        F.sum("positives")
        .over(Window.orderBy("decile"))
        .cast("bigint")
        .alias("cum_pos"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n",
        "positives",
        F.round(F.col("positives").cast("double") / F.col("n"), 6).alias(
            "decile_rate"
        ),
        F.round(F.col("cum_pos").cast("double") / F.col("pt"), 6).alias(
            "cum_capture"
        ),
        F.round(
            (F.col("cum_pos").cast("double") / F.col("cum_n"))
            / (F.col("pt").cast("double") / F.col("nt")),
            6,
        ).alias("cum_lift"),
    )


@register(
    "iter_als_rank1",
    oracle="""
WITH RECURSIVE m AS (
  SELECT user_id AS u, event_type AS it,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY u, it
),
items AS (SELECT DISTINCT event_type AS it FROM events),
-- rank-1 ALS on the user x event-type count matrix: item vector v
-- carried as 5 scalar columns (keyed to the sorted item list);
-- user vector u is IMPLICIT (u_i = sum_j M_ij v_j / sum v_j^2), so
-- each sweep folds u out algebraically and v updates in one
-- data-sized agg pair: v'_j = sum_i M_ij u_i / sum u_i^2.
iter AS (
  SELECT 0 AS k,
         CAST(1 AS DOUBLE) AS v1, CAST(1 AS DOUBLE) AS v2,
         CAST(1 AS DOUBLE) AS v3, CAST(1 AS DOUBLE) AS v4,
         CAST(1 AS DOUBLE) AS v5
  UNION ALL
  SELECT k + 1, nv.v1, nv.v2, nv.v3, nv.v4, nv.v5
  FROM iter, LATERAL (
    WITH uvec AS (
      SELECT m.u,
             CAST(SUM(CAST(ROUND(m.n * (CASE m.it
                 WHEN 'click' THEN iter.v1 WHEN 'error' THEN iter.v2
                 WHEN 'purchase' THEN iter.v3 WHEN 'signup' THEN iter.v4
                 ELSE iter.v5 END) * 1000000, 0) AS BIGINT)) AS BIGINT)
               AS num_micro
      FROM m GROUP BY m.u
    ),
    unorm AS (
      SELECT CAST(iter.v1*iter.v1 + iter.v2*iter.v2 + iter.v3*iter.v3
                  + iter.v4*iter.v4 + iter.v5*iter.v5 AS DOUBLE) AS vn
    ),
    uu AS (
      SELECT u, num_micro / CAST(1000000 AS DOUBLE) / (SELECT vn FROM unorm)
               AS ui
      FROM uvec
    ),
    vnum AS (
      SELECT m.it,
             CAST(SUM(CAST(ROUND(m.n * uu.ui * 1000000, 0) AS BIGINT))
               AS BIGINT) AS num_micro
      FROM m JOIN uu ON m.u = uu.u GROUP BY m.it
    ),
    un AS (
      SELECT CAST(SUM(CAST(ROUND(ui * ui * 1000000000, 0) AS BIGINT))
               AS BIGINT) AS un_nano
      FROM uu
    )
    SELECT
      MAX(CASE WHEN it = 'click' THEN num_micro END)
        / CAST(1000000 AS DOUBLE)
        / ((SELECT un_nano FROM un) / CAST(1000000000 AS DOUBLE)) AS v1,
      MAX(CASE WHEN it = 'error' THEN num_micro END)
        / CAST(1000000 AS DOUBLE)
        / ((SELECT un_nano FROM un) / CAST(1000000000 AS DOUBLE)) AS v2,
      MAX(CASE WHEN it = 'purchase' THEN num_micro END)
        / CAST(1000000 AS DOUBLE)
        / ((SELECT un_nano FROM un) / CAST(1000000000 AS DOUBLE)) AS v3,
      MAX(CASE WHEN it = 'signup' THEN num_micro END)
        / CAST(1000000 AS DOUBLE)
        / ((SELECT un_nano FROM un) / CAST(1000000000 AS DOUBLE)) AS v4,
      MAX(CASE WHEN it = 'view' THEN num_micro END)
        / CAST(1000000 AS DOUBLE)
        / ((SELECT un_nano FROM un) / CAST(1000000000 AS DOUBLE)) AS v5
    FROM vnum
  ) nv
  WHERE k < 3
)
SELECT ROUND(v1, 6) AS v_click, ROUND(v2, 6) AS v_error,
       ROUND(v3, 6) AS v_purchase, ROUND(v4, 6) AS v_signup,
       ROUND(v5, 6) AS v_view,
       CAST(3 AS BIGINT) AS n_sweeps
FROM iter WHERE k = 3
""",
    tags=("iterative", "events"),
)
def iter_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-1 ALTERNATING LEAST SQUARES on the user x event-type
    count matrix — the matrix-factorization primitive under every
    collaborative recommender, in its smallest honest form: each
    sweep solves u = Mv/||v||^2 then v = M'u/||u||^2 in closed form,
    i.e. exactly two map-side-combinable hash-aggs per sweep over
    the co-occurrence relation — the DATA-sized user factor never
    materializes outside the plan (it is a join-aggregate, the
    distributed-ALS lesson); only the MODEL-sized item factor (5
    doubles + a norm) collects to the driver between sweeps,
    exactly like MLlib broadcasting factors per iteration. Three
    unrolled sweeps;
    every sum over doubles quantizes per term to the standard
    micro/nano integer lanes so both engines accumulate exact
    integers (Spark unrolls the same algebra as DataFrame joins;
    the oracle as a recursive CTE over LATERAL sub-aggregates).
    Converges toward the dominant right-singular direction."""
    ev = table(spark, sf_dir, "events")
    m = ev.groupBy(
        F.col("user_id").alias("u"), F.col("event_type").alias("it")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    m.cache()
    items = ["click", "error", "purchase", "signup", "view"]
    v = {it: F.lit(1.0) for it in items}
    for _ in range(3):
        v_expr = None
        for it in items:
            term = F.when(F.col("it") == it, v[it])
            v_expr = term if v_expr is None else v_expr.when(
                F.col("it") == it, v[it]
            )
        # u_i = sum_j M_ij v_j / ||v||^2, numerators micro-quantized
        uvec = m.withColumn("vj", v_expr).groupBy("u").agg(
            F.sum(
                F.round(F.col("n") * F.col("vj") * 1000000, 0).cast("bigint")
            )
            .cast("bigint")
            .alias("num_micro")
        )
        vn = None
        for it in items:
            sq = v[it] * v[it]
            vn = sq if vn is None else vn + sq
        uu = uvec.select(
            "u",
            (
                F.col("num_micro") / F.lit(1000000.0) / vn
            ).alias("ui"),
        )
        # v_j = sum_i M_ij u_i / ||u||^2
        joined = m.join(uu, "u")
        vnum = joined.groupBy("it").agg(
            F.sum(
                F.round(F.col("n") * F.col("ui") * 1000000, 0).cast("bigint")
            )
            .cast("bigint")
            .alias("num_micro")
        )
        un = uu.agg(
            F.sum(
                F.round(F.col("ui") * F.col("ui") * 1000000000, 0).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("un_nano")
        )
        wide = vnum.groupBy().pivot("it", items).agg(F.max("num_micro"))
        row = wide.crossJoin(F.broadcast(un)).collect()[0]
        un_d = row["un_nano"] / 1e9
        v = {
            it: F.lit((row[it] / 1e6) / un_d) for it in items
        }
    out = m.sparkSession.createDataFrame([(3,)], "n_sweeps bigint")
    sel = [
        F.round(v[it], 6).alias(f"v_{it}") for it in items
    ] + [F.col("n_sweeps")]
    return out.select(*sel)


def _bom_sql(intdiv: str, part_ref: str) -> str:
    """Shared BOM-rollup SQL; parameterized only by the integer-
    division operator (`//` DuckDB, `div` Spark) and the part-table
    reference."""
    return f"""
WITH RECURSIVE edges AS (
  SELECT p_partkey AS child, p_partkey {intdiv} 3 AS parent,
         1 + p_partkey % 4 AS qty_per
  FROM {part_ref} WHERE p_partkey >= 3
),
roots AS (
  SELECT p_partkey AS root FROM {part_ref} WHERE p_partkey < 3
),
walk (root, node, mult) AS (
  SELECT root, root, CAST(1 AS BIGINT) FROM roots
  UNION ALL
  SELECT w.root, e.child, w.mult * e.qty_per
  FROM walk w JOIN edges e ON e.parent = w.node
),
costed AS (
  SELECT w.root, w.node, w.mult,
         CAST(ROUND(p.p_retailprice * 100, 0) AS BIGINT) AS price_c
  FROM walk w JOIN {part_ref} p ON p.p_partkey = w.node
)
SELECT root,
       CAST(COUNT(*) AS BIGINT) AS n_components,
       CAST(MAX(mult) AS BIGINT) AS max_mult,
       CAST(SUM(mult) AS BIGINT) AS total_units,
       CAST(SUM(mult * price_c) AS BIGINT) AS rolled_cost_c
FROM costed GROUP BY root
"""


@register(
    "sql_bom_rollup",
    oracle=_bom_sql("//", "part"),
    tags=("sql", "iterative", "part"),
)
def sql_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-LEVEL BILL-OF-MATERIALS COST ROLLUP — the canonical
    recursive-CTE business query (MRP systems run exactly this):
    parts form a ternary assembly forest (parent = key div 3,
    quantity-per = 1 + key mod 4), and each root assembly's cost is
    the sum over ALL transitive components of the PRODUCT of
    quantities along the path times the component price — the
    multiplied quantity rides the recursion as an exact BIGINT, so
    unlike a flat transitive closure this exercises ACCUMULATION
    through the fixpoint. Runs as the engine's NATIVE `WITH
    RECURSIVE` on BOTH sides (Spark 4 UnionLoop vs DuckDB's
    fixpoint) from one shared SQL text parameterized only by the
    integer-division spelling — the declarative twin of the
    hand-unrolled iter_* family. ~7 levels deep on the 2k-part
    fixture; each iteration is one co-keyed join."""
    table(spark, sf_dir, "part").createOrReplaceTempView("bom_part_v")
    return spark.sql(_bom_sql("div", "bom_part_v"))


@register(
    "agg_repeat_purchase_curve",
    oracle="""
WITH per AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust FROM per),
ks AS (SELECT unnest(generate_series(1, 10)) AS k)
SELECT k,
       CAST(SUM(CASE WHEN n_orders >= k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_customers_at_least_k,
       ROUND(CAST(SUM(CASE WHEN n_orders >= k THEN 1 ELSE 0 END) AS DOUBLE)
             / (SELECT n_cust FROM tot), 6) AS share,
       ROUND(CAST(SUM(CASE WHEN n_orders >= k + 1 THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / SUM(CASE WHEN n_orders >= k THEN 1 ELSE 0 END), 6)
         AS next_order_prob
FROM per CROSS JOIN ks GROUP BY k
""",
    tags=("orders", "agg", "growth"),
)
def agg_repeat_purchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPEAT-PURCHASE CURVE — retention's transactional cousin: the
    share of customers reaching at least k orders (k = 1..10) and
    the conditional 'k -> k+1' repeat probability, the curve CLV
    models are fit to and the fastest honest answer to 'do second
    orders happen'. One per-customer count, one broadcast k-spine
    cross, one grid agg; the conditional probability is a ratio of
    exact counts within each k row."""
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    tot = per.agg(F.count(F.lit(1)).cast("bigint").alias("n_cust"))
    ks = spark.range(1, 11).select(F.col("id").cast("bigint").alias("k"))
    j = per.crossJoin(F.broadcast(ks))
    grid = j.groupBy("k").agg(
        F.sum(F.when(F.col("n_orders") >= F.col("k"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_customers_at_least_k"),
        F.sum(F.when(F.col("n_orders") >= F.col("k") + 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_next"),
    )
    return grid.crossJoin(F.broadcast(tot)).select(
        "k",
        "n_customers_at_least_k",
        F.round(
            F.col("n_customers_at_least_k").cast("double") / F.col("n_cust"), 6
        ).alias("share"),
        F.round(
            F.col("n_next").cast("double") / F.col("n_customers_at_least_k"), 6
        ).alias("next_order_prob"),
    )


@register(
    "dq_checksum_bisect",
    oracle="""
WITH a AS (
  SELECT o_orderkey AS k,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
  FROM orders
),
b AS (
  SELECT k, CASE WHEN k % 1000 = 7 THEN v + 1 ELSE v END AS v FROM a
),
ca AS (
  SELECT k % 16 AS bucket,
         CAST(SUM(CAST(hash(CAST(k AS VARCHAR) || ':' ||
                            CAST(v AS VARCHAR)) % 1000003 AS BIGINT))
           AS BIGINT) AS sig,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM a GROUP BY bucket
),
cb AS (
  SELECT k % 16 AS bucket,
         CAST(SUM(CAST(hash(CAST(k AS VARCHAR) || ':' ||
                            CAST(v AS VARCHAR)) % 1000003 AS BIGINT))
           AS BIGINT) AS sig,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM b GROUP BY bucket
)
SELECT ca.bucket,
       ca.n AS n_rows,
       ca.sig <> cb.sig AS differs,
       CAST((SELECT COUNT(*) FROM a JOIN b USING (k)
             WHERE a.v <> b.v AND a.k % 16 = ca.bucket) AS BIGINT)
         AS n_corrupt_rows
FROM ca JOIN cb ON ca.bucket = cb.bucket
""",
    tags=("dq",),
)
def dq_checksum_bisect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKSUM BISECTION — how you actually FIND a corrupt range
    between two copies of a 100 TB table without comparing rows:
    both sides compute order-insensitive per-bucket signatures (sum
    of row hashes over key%16 buckets — O(buckets) to exchange, not
    O(rows)), mismatched buckets point at the corruption, and only
    those buckets pay the row-level diff. The fixture plants a
    1-cent corruption on keys % 1000 = 7 in copy B, so exactly the
    buckets containing such keys flag. The signature is DELIBERATELY
    engine-pinned: both sides hash the same canonical string with
    the engine's OWN hash and the comparison is within-engine
    (A vs B), so the oracle check certifies the bisection logic
    while each engine keeps its native row-hash — the portable part
    is the protocol, not the hash."""
    o = table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("k"), cents("o_totalprice").alias("v")
    )
    b = a.select(
        "k",
        F.when(F.col("k") % 1000 == 7, F.col("v") + 1)
        .otherwise(F.col("v"))
        .alias("v"),
    )

    def sig(df):
        h = F.expr(
            "CAST(hash(CAST(k AS STRING) || ':' || CAST(v AS STRING))"
            " % 1000003 AS BIGINT)"
        )
        return df.groupBy((F.col("k") % 16).alias("bucket")).agg(
            F.sum(h).cast("bigint").alias("sig"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    ca, cb = sig(a), sig(b).withColumnRenamed("sig", "sig_b")
    corrupt = (
        a.alias("a")
        .join(b.alias("b"), "k")
        .filter(F.col("a.v") != F.col("b.v"))
        .groupBy((F.col("k") % 16).alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_corrupt"))
    )
    return (
        ca.join(cb.select("bucket", "sig_b"), "bucket")
        .join(F.broadcast(corrupt), "bucket", "left")
        .select(
            "bucket",
            F.col("n").alias("n_rows"),
            (F.col("sig") != F.col("sig_b")).alias("differs"),
            F.coalesce("n_corrupt", F.lit(0))
            .cast("bigint")
            .alias("n_corrupt_rows"),
        )
    )


@register(
    "graph_edge_support",
    oracle=f"""
WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
spine AS (
  SELECT c_custkey AS i, r FROM customer
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS r)
),
raw AS (
  SELECT {_lp_h24('VARCHAR', ':a')} % (SELECT n FROM nn) AS s,
         {_lp_h24('VARCHAR', ':b')} % (SELECT n FROM nn) AS d
  FROM spine
),
edges AS (
  SELECT DISTINCT LEAST(s, d) AS lo, GREATEST(s, d) AS hi
  FROM raw WHERE s <> d
),
tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM edges e1
  JOIN edges e2 ON e1.hi = e2.lo AND e1.lo < e2.lo
  JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
),
support AS (
  SELECT lo, hi, CAST(COUNT(*) AS BIGINT) AS sup FROM (
    SELECT a AS lo, b AS hi FROM tri
    UNION ALL SELECT b AS lo, c AS hi FROM tri
    UNION ALL SELECT a AS lo, c AS hi FROM tri
  ) GROUP BY lo, hi
)
SELECT sup AS support,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(MIN(lo) AS BIGINT) AS sample_lo,
       CAST(MIN(hi) AS BIGINT) AS sample_hi
FROM support GROUP BY sup
""",
    tags=("iterative", "graph"),
)
def graph_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDGE SUPPORT (triangles per edge) — the k-truss building
    block and the strongest cheap tie-strength signal (an edge in
    many triangles is embedded in a community; a zero-support edge
    is a bridge): triangles enumerate once via the ordered two-path
    join (the iter_triangle_count plan), then each triangle credits
    its THREE edges through a union and the support histogram rolls
    up. Same md5 edge synthesis as the link-prediction key, so the
    two are directly comparable (support is the common-neighbor
    count restricted to actual edges). At 100 TB: one wedge join +
    one grid agg — no iteration until you actually peel a truss."""
    c = table(spark, sf_dir, "customer")
    nn = c.agg(F.count(F.lit(1)).alias("n"))
    spine = c.select(F.col("c_custkey").alias("i")).crossJoin(
        F.broadcast(spark.range(3).select(F.col("id").cast("int").alias("r")))
    )
    raw = spine.crossJoin(F.broadcast(nn)).select(
        (F.expr(_lp_h24("STRING", ":a")) % F.col("n")).alias("s"),
        (F.expr(_lp_h24("STRING", ":b")) % F.col("n")).alias("d"),
    )
    edges = (
        raw.filter(F.col("s") != F.col("d"))
        .select(F.least("s", "d").alias("lo"), F.greatest("s", "d").alias("hi"))
        .distinct()
    )
    e1 = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = edges.select(F.col("lo").alias("b2"), F.col("hi").alias("c2"))
    wedges = e1.join(
        e2, (F.col("b") == F.col("b2")) & (F.col("a") < F.col("b2"))
    ).select("a", "b", F.col("c2").alias("c"))
    closing = edges.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = wedges.join(closing, ["a", "c"])
    sides = (
        tri.select(F.col("a").alias("lo"), F.col("b").alias("hi"))
        .unionAll(tri.select(F.col("b").alias("lo"), F.col("c").alias("hi")))
        .unionAll(tri.select(F.col("a").alias("lo"), F.col("c").alias("hi")))
    )
    support = sides.groupBy("lo", "hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("sup")
    )
    return support.groupBy(F.col("sup").alias("support")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.min("lo").cast("bigint").alias("sample_lo"),
        F.min("hi").cast("bigint").alias("sample_hi"),
    )


@register(
    "dq_id_density_audit",
    oracle="""
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MIN(event_id) AS BIGINT) AS lo,
         CAST(MAX(event_id) AS BIGINT) AS hi,
         CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
  FROM events
),
gaps AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(COALESCE(SUM(gap - 1), 0) AS BIGINT) AS missing_ids
  FROM (
    SELECT event_id - LAG(event_id) OVER (ORDER BY event_id) AS gap
    FROM events
  ) WHERE gap > 1
)
SELECT s.n, s.lo, s.hi, s.n_distinct,
       s.n = s.n_distinct AS ids_unique,
       s.hi - s.lo + 1 = s.n AS ids_dense,
       g.n_gaps, g.missing_ids,
       ROUND(CAST(s.n AS DOUBLE) / (s.hi - s.lo + 1), 6) AS density
FROM s CROSS JOIN gaps g
""",
    tags=("dq", "events"),
)
def dq_id_density_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURROGATE-KEY DENSITY AUDIT — the ingestion sanity check that
    catches silent drops and replays in one pass: are event ids
    unique, is the range dense (max - min + 1 == count), how many
    gaps and how many ids are missing inside them (a gap histogram
    localizes a lost batch; a density below 1.0 quantifies it).
    Round 8, the gap scan is genuinely distributed instead of argued:
    ids are RANGE-partitioned (contiguous, non-overlapping id spans
    per task), the LAG runs within each partition in parallel, and
    the only global object is the partition-BOUNDARY table
    (one (min,max) row per partition — partition-count-grain), whose
    adjacent-span gaps are the lag gaps the per-partition pass
    cannot see. Identical algebra to the former global-sort LAG at
    any scale; phase 1 is scale.range_split, so the boundary subtree
    and the within-partition subtree consume the SAME pinned
    partitioning. Exact integers throughout."""
    from ..operators.scale import range_split

    ev = table(spark, sf_dir, "events")
    s = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("event_id").cast("bigint").alias("lo"),
        F.max("event_id").cast("bigint").alias("hi"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct"),
    )
    ids = range_split(ev.select("event_id"), ["event_id"], 32)
    w_in = Window.partitionBy("__pid").orderBy("event_id")
    inner_gaps = ids.select(
        (F.col("event_id") - F.lag("event_id").over(w_in)).alias("gap")
    ).filter(F.col("gap") > 1)
    bounds = ids.groupBy("__pid").agg(
        F.min("event_id").alias("lo_p"), F.max("event_id").alias("hi_p")
    )
    boundary_gaps = bounds.select(
        (
            F.col("lo_p") - F.lag("hi_p").over(Window.orderBy("lo_p"))
        ).alias("gap")
    ).filter(F.col("gap") > 1)
    gap = inner_gaps.unionAll(boundary_gaps)
    gaps = gap.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.coalesce(F.sum(F.col("gap") - 1), F.lit(0))
        .cast("bigint")
        .alias("missing_ids"),
    )
    return s.crossJoin(F.broadcast(gaps)).select(
        "n",
        "lo",
        "hi",
        "n_distinct",
        (F.col("n") == F.col("n_distinct")).alias("ids_unique"),
        (F.col("hi") - F.col("lo") + 1 == F.col("n")).alias("ids_dense"),
        "n_gaps",
        "missing_ids",
        F.round(
            F.col("n").cast("double") / (F.col("hi") - F.col("lo") + 1), 6
        ).alias("density"),
    )


# ---------------------------------------------------------- round 9

@register(
    "iter_closeness_centrality",
    oracle="""
WITH RECURSIVE nn AS (SELECT COUNT(*) AS n FROM customer),
edges AS (
  SELECT c_custkey AS src,
         (c_custkey * 37 + 11) % (SELECT n FROM nn) AS dst
  FROM customer
),
walk (seed, node, depth) AS (
  SELECT src, src, 0 FROM edges WHERE src % 100 = 0
  UNION ALL
  SELECT w.seed, e.dst, w.depth + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.depth < 6
),
dists AS (
  SELECT seed, node, MIN(depth) AS d
  FROM walk GROUP BY seed, node
)
SELECT CAST(seed AS BIGINT) AS seed,
       CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(SUM(60 / d) AS BIGINT) AS h_q,
       ROUND(CAST(SUM(60 / d) AS DOUBLE) / 60.0, 6) AS harmonic_closeness
FROM dists WHERE d > 0
GROUP BY seed
""",
)
def iter_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARMONIC CLOSENESS CENTRALITY (Boldi & Vigna's fix of classic
    closeness for disconnected graphs: H(s) = sum 1/d(s,u), so
    unreachable nodes contribute 0 instead of poisoning the mean)
    for the seed set of the house functional graph (dst = (37k+11)
    mod N, seeds k%100=0), truncated at 6 hops — the k-hop
    influence measure recommender graphs rank sources by. The BFS
    is the same UNROLLED 6-join frontier expansion as
    iter_reachability_bfs but carries the SEED dimension, with a
    per-level distinct on (seed, node) keeping each frontier at
    most |seeds|x|nodes|; min-depth over revisits. EXACT INTEGER
    output: depths are 1..6, so 60/d is integral and H*60 is a
    BIGINT lane — no float until the final /60 display division.
    Scale: each hop is one equi-join shuffle on the node key; seed
    count controls the frontier width, so landmark-style sampling
    (pick sqrt(N) seeds) is the standard 100 TB deployment of
    exactly this plan."""
    cust = table(spark, sf_dir, "customer")
    nn = cust.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        cust.select("c_custkey")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("c_custkey").alias("src"),
            ((F.col("c_custkey") * 37 + 11) % F.col("n")).alias("dst"),
        )
    )
    seeds = edges.filter(F.col("src") % 100 == 0).select(
        F.col("src").alias("seed"), F.col("src").alias("node"), F.lit(0).alias("d")
    )
    levels = [seeds]
    frontier = seeds
    for depth in range(1, 7):
        frontier = (
            frontier.join(edges, frontier.node == edges.src)
            .select("seed", F.col("dst").alias("node"), F.lit(depth).alias("d"))
            .distinct()
        )
        levels.append(frontier)
    walk = levels[0]
    for lv in levels[1:]:
        walk = walk.unionByName(lv)
    dists = walk.groupBy("seed", "node").agg(F.min("d").alias("d")).filter(
        F.col("d") > 0
    )
    return dists.groupBy("seed").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reached"),
        F.sum(F.lit(60) / F.col("d")).cast("bigint").alias("h_q"),
        F.round(
            F.sum(F.lit(60) / F.col("d")).cast("double") / 60.0, 6
        ).alias("harmonic_closeness"),
    ).select(
        F.col("seed").cast("bigint").alias("seed"),
        "n_reached",
        "h_q",
        "harmonic_closeness",
    )


# Shared md5-derived uniform in [0,1) at 16-bit resolution — four
# hex nibbles decoded with the same instr trick as _NIB; identical
# expression text runs on both engines.
def _U16(key_expr: str) -> str:
    h = f"md5({key_expr})"
    nib = "instr('0123456789abcdef', substr({h}, {i}, 1)) - 1"
    parts = " + ".join(
        f"({nib.format(h=h, i=i)}) * {w}"
        for i, w in ((1, 4096), (2, 256), (3, 16), (4, 1))
    )
    return f"(CAST({parts} AS DOUBLE) / 65536.0)"


# Poisson(1) CDF ladder (exact cumulative probabilities to 17 sig
# figs — identical literals in both engines' CASE).
_POIS1_CDF = (
    (0, 0.36787944117144233),
    (1, 0.7357588823428847),
    (2, 0.9196986029286058),
    (3, 0.9810118431238462),
    (4, 0.9963401531726563),
    (5, 0.9994058151824183),
    (6, 0.9999167588507119),
)


def _POIS1(u_expr: str) -> str:
    whens = " ".join(
        f"WHEN {u_expr} < {p!r} THEN {k}" for k, p in _POIS1_CDF
    )
    return f"(CASE {whens} ELSE 7 END)"


@register(
    "sample_poisson_bootstrap",
    oracle=f"""
WITH reps AS (SELECT unnest(generate_series(0, 2)) AS rep),
w AS (
  SELECT o.o_orderpriority, r.rep,
         CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents,
         {_POIS1(_U16("cast(o.o_orderkey as string) || ':' || cast(r.rep as string)"))} AS k
  FROM orders o CROSS JOIN reps r
)
SELECT o_orderpriority, CAST(rep AS BIGINT) AS rep,
       CAST(SUM(k) AS BIGINT) AS n_eff,
       CAST(SUM(k * cents) AS BIGINT) AS total_c,
       ROUND(CAST(SUM(k * cents) AS DOUBLE) / SUM(k) / 100.0, 6) AS boot_mean
FROM w GROUP BY o_orderpriority, rep
""",
    tags=("sample", "stats"),
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP — the only bootstrap that works at 100 TB:
    classic resampling needs n draws WITH replacement from a corpus
    no single node can hold, but Poisson(1) per-row weights are an
    asymptotically exact substitute (Chamandy et al., Google 2012)
    that needs NO coordination: each row independently draws its
    multiplicity in each replicate, so the whole resample is one
    streaming map over the scan. The draw is DETERMINISTIC — u from
    four md5 nibbles of (key:replicate) through the shared _U16
    expression, mapped through the exact Poisson(1) inverse-CDF
    ladder — so both engines (and any retry, on any cluster) build
    byte-identical replicates: reproducible bootstrap CIs. Three
    replicates unroll from a literal sequence; per-replicate means
    come out of ONE partial+final aggregate over exact BIGINT
    weighted cents (weights 0-7, no overflow) — shuffle grain is
    (priority x replicate), never the fact."""
    o = table(spark, sf_dir, "orders")
    w = o.select(
        "o_orderpriority",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("rep"),
        cents("o_totalprice").alias("cents"),
        "o_orderkey",
    ).withColumn(
        "k",
        F.expr(
            _POIS1(
                _U16(
                    "cast(o_orderkey as string) || ':' || cast(rep as string)"
                )
            )
        ),
    )
    return w.groupBy("o_orderpriority", F.col("rep").cast("bigint").alias("rep")).agg(
        F.sum("k").cast("bigint").alias("n_eff"),
        F.sum(F.col("k") * F.col("cents")).cast("bigint").alias("total_c"),
        F.round(
            F.sum(F.col("k") * F.col("cents")).cast("double")
            / F.sum("k")
            / 100.0,
            6,
        ).alias("boot_mean"),
    )


@register(
    "iter_ppr_restart",
    oracle="""
WITH RECURSIVE nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM customer),
nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
edges AS MATERIALIZED (
  SELECT id AS src, dst FROM (
    SELECT id, id + 1 + (id * 7 + 11) % 40 AS dst FROM nodes
    UNION ALL
    SELECT id, id + 1 + (id * 13 + 5) % 37 AS dst FROM nodes
  ) WHERE dst < (SELECT n FROM nn)
),
outdeg AS MATERIALIZED (
  SELECT src, COUNT(*) AS d FROM edges GROUP BY src
),
seeds AS MATERIALIZED (SELECT id FROM nodes WHERE id % 100 = 0),
ns AS MATERIALIZED (SELECT COUNT(*) AS s FROM seeds),
walks (node, prob, depth) AS (
  SELECT id, CAST(6553600000000 AS BIGINT), 0 FROM seeds
  UNION ALL
  SELECT e.dst, (w.prob * 17) // (20 * od.d), w.depth + 1
  FROM walks w
  JOIN edges e ON e.src = w.node
  JOIN outdeg od ON od.src = w.node
  WHERE w.depth < 8
)
SELECT CAST(node AS BIGINT) AS node,
       ROUND(CAST(SUM(CASE WHEN depth < 8 THEN prob * 3 // 20 ELSE prob END)
                  AS DOUBLE) / 6553600000000.0 / (SELECT s FROM ns), 6)
         AS mass
FROM walks GROUP BY node
HAVING ROUND(CAST(SUM(CASE WHEN depth < 8 THEN prob * 3 // 20 ELSE prob END)
                  AS DOUBLE) / 6553600000000.0 / (SELECT s FROM ns), 6)
       > 0.0
""",
)
def iter_ppr_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PAGERANK (random walk with restart) — the
    seeded variant behind 'similar items', fraud-neighborhood
    scoring and graph-based retrieval: mass teleports back to the
    SEED SET (every 100th node) with probability 0.15 each step
    instead of to all nodes, so scores measure proximity to the
    seeds. Spark runs the textbook distributed power iteration —
    8 unrolled rounds of p <- 0.15*s + 0.85 * M'p, each one
    equi-join (frontier x edges x out-degree) + hash re-aggregate
    on the destination, the exact shape a Pregel superstep lowers
    to, partitionable on node id at any graph size. The oracle
    certifies it through the CLOSED WALK EXPANSION of the same
    recurrence: p_8 = sum_{t<8} 0.15 * 0.85^t M'^t s + 0.85^8 M'^8
    s, enumerated as a recursive CTE over all length-<=8 walks from
    the seeds with probability alpha^len * prod(1/outdeg) — two
    genuinely different evaluation strategies, one fixed point.
    Dangling nodes absorb (sub-stochastic M), identically in both
    forms. Masses rounded at 1e-6; zero-rounded rows dropped on
    both sides.

    EXACT INTEGER LATTICE (round 10, ADVICE r9 #1): the two
    strategies sum double products in different orders, so agreement
    used to hang on ROUND(...,6) absorbing low-order drift — the
    flake class the decontaminate_embedding fix quantized away in
    round 9. The walk algebra here is exactly representable: every
    step multiplies by 0.85/d = 17/(20*d) with d in {1,2} (two
    generator rules per node, minus boundary-clipped edges), so a
    seed mass of C = 20^8 * 2^8 = 6_553_600_000_000 stays integer
    through all 8 steps (after t steps every term keeps a
    20^(8-t)*2^(8-t) factor, so the next 20*d division is exact,
    including the 3/20 restart weighting). Both engines now fold
    BIGINTs — order-independent, no drift — and perform ONE double
    division per node (mi / C / s, same order both sides) before
    the shared 6dp round. Max |mi| = s*C (~1e15 at sf1) is far
    inside int64; the 17x intermediate stays under 2e17."""
    cust = table(spark, sf_dir, "customer")
    nn = cust.agg(F.count(F.lit(1)).alias("n"))
    nodes = cust.select(F.col("c_custkey").alias("id"))
    e1 = nodes.select(
        F.col("id").alias("src"),
        (F.col("id") + 1 + (F.col("id") * 7 + 11) % 40).alias("dst"),
    )
    e2 = nodes.select(
        F.col("id").alias("src"),
        (F.col("id") + 1 + (F.col("id") * 13 + 5) % 37).alias("dst"),
    )
    edges = (
        e1.unionAll(e2)
        .crossJoin(F.broadcast(nn))
        .filter(F.col("dst") < F.col("n"))
        .select("src", "dst")
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    em = edges.join(outdeg, "src").select("src", "dst", "d")
    seeds = nodes.filter(F.col("id") % 100 == 0)
    ns = seeds.agg(F.count(F.lit(1)).alias("s"))
    lattice = 20**8 * 2**8  # exact through 8 steps of *17 div (20*d)
    p = seeds.select(
        F.col("id").alias("node"), F.lit(lattice).cast("bigint").alias("mi")
    )
    restart = seeds.select(
        F.col("id").alias("node"),
        F.lit(lattice * 3 // 20).cast("bigint").alias("mi"),
    )
    for _ in range(8):
        spread = (
            p.join(em, p["node"] == em["src"])
            .select(
                F.col("dst").alias("node"),
                F.expr("(mi * 17) div (20 * d)").alias("mi"),
            )
        )
        p = (
            restart.unionAll(spread)
            .groupBy("node")
            .agg(F.sum("mi").alias("mi"))
        )
    mass = F.round(
        F.col("mi").cast("double") / F.lit(float(lattice)) / F.col("s"), 6
    )
    return (
        p.crossJoin(F.broadcast(ns))
        .select(F.col("node").cast("bigint").alias("node"), mass.alias("mass"))
        .filter(F.col("mass") > 0.0)
    )


@register(
    "merge_crdt_pncounter",
    oracle="""
WITH inc AS (
  SELECT o_custkey % 100 AS counter_key,
         o_orderkey % 5 AS replica,
         o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN 'n' ELSE 'p' END AS sign
  FROM orders
),
site_a AS (
  SELECT counter_key, replica, sign, CAST(COUNT(*) AS BIGINT) AS c
  FROM inc WHERE o_orderkey % 3 != 0 GROUP BY counter_key, replica, sign
),
site_b AS (
  SELECT counter_key, replica, sign, CAST(COUNT(*) AS BIGINT) AS c
  FROM inc WHERE o_orderkey % 4 != 0 GROUP BY counter_key, replica, sign
),
merged AS (
  SELECT COALESCE(a.counter_key, b.counter_key) AS counter_key,
         COALESCE(a.replica, b.replica) AS replica,
         COALESCE(a.sign, b.sign) AS sign,
         GREATEST(COALESCE(a.c, 0), COALESCE(b.c, 0)) AS m,
         COALESCE(a.c, 0) AS ac, COALESCE(b.c, 0) AS bc
  FROM site_a a FULL OUTER JOIN site_b b
    ON a.counter_key = b.counter_key AND a.replica = b.replica
       AND a.sign = b.sign
)
SELECT CAST(counter_key AS BIGINT) AS counter_key,
       CAST(SUM(CASE WHEN sign = 'p' THEN m ELSE 0 END) AS BIGINT) AS p_total,
       CAST(SUM(CASE WHEN sign = 'n' THEN m ELSE 0 END) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN sign = 'p' THEN m ELSE -m END) AS BIGINT) AS value,
       CAST(SUM(ac) AS BIGINT) AS site_a_obs,
       CAST(SUM(bc) AS BIGINT) AS site_b_obs,
       SUM(m) >= GREATEST(SUM(ac), SUM(bc)) AS merge_dominates
FROM merged GROUP BY counter_key
""",
    tags=("merge",),
)
def merge_crdt_pncounter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRDT PN-COUNTER MERGE — the conflict-free replicated counter
    (Shapiro 2011) behind every eventually-consistent like/view/
    inventory count: each replica owns a monotone increment (P) and
    decrement (N) slot, sites gossip their vectors, and merge is
    ELEMENT-WISE MAX per (counter, replica, sign) — commutative,
    associative, idempotent, so replays and re-merges are free. Two
    sites with DIVERGENT partial views (different key-modulus
    observation sets) are built from orders, merged with the
    max-join, and read out as value = sum(P) - sum(N). The
    merge_dominates column certifies the join-semilattice law: the
    merged vector dominates both inputs. This is exactly how a 100
    TB pipeline folds per-shard counter snapshots without
    coordination — a full-outer equi-join on the vector key + one
    GREATEST, partitionable on counter_key, no window, no state."""
    o = table(spark, sf_dir, "orders")
    inc = o.select(
        (F.col("o_custkey") % 100).alias("counter_key"),
        (F.col("o_orderkey") % 5).alias("replica"),
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "n")
        .otherwise("p")
        .alias("sign"),
    )

    def site(pred):
        return (
            inc.filter(pred)
            .groupBy("counter_key", "replica", "sign")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )

    a = site(F.col("o_orderkey") % 3 != 0)
    b = site(F.col("o_orderkey") % 4 != 0)
    merged = (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.counter_key") == F.col("b.counter_key"))
            & (F.col("a.replica") == F.col("b.replica"))
            & (F.col("a.sign") == F.col("b.sign")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("a.counter_key"), F.col("b.counter_key")).alias(
                "counter_key"
            ),
            F.coalesce(F.col("a.sign"), F.col("b.sign")).alias("sign"),
            F.greatest(
                F.coalesce(F.col("a.c"), F.lit(0)),
                F.coalesce(F.col("b.c"), F.lit(0)),
            ).alias("m"),
            F.coalesce(F.col("a.c"), F.lit(0)).alias("ac"),
            F.coalesce(F.col("b.c"), F.lit(0)).alias("bc"),
        )
    )
    is_p = F.col("sign") == "p"
    return merged.groupBy(
        F.col("counter_key").cast("bigint").alias("counter_key")
    ).agg(
        F.sum(F.when(is_p, F.col("m")).otherwise(0))
        .cast("bigint")
        .alias("p_total"),
        F.sum(F.when(~is_p, F.col("m")).otherwise(0))
        .cast("bigint")
        .alias("n_total"),
        F.sum(F.when(is_p, F.col("m")).otherwise(-F.col("m")))
        .cast("bigint")
        .alias("value"),
        F.sum("ac").cast("bigint").alias("site_a_obs"),
        F.sum("bc").cast("bigint").alias("site_b_obs"),
        (
            F.sum("m") >= F.greatest(F.sum("ac"), F.sum("bc"))
        ).alias("merge_dominates"),
    )


@register(
    "agg_hdr_histogram",
    oracle="""
WITH v AS (
  SELECT o_orderpriority,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS val
  FROM orders
),
b AS (
  SELECT o_orderpriority, val,
         CAST(length(bin(val)) - 1 AS BIGINT) AS e
  FROM v
),
sub AS (
  SELECT o_orderpriority, val, e,
         CASE WHEN e >= 3 THEN (val >> (e - 3)) & 7 ELSE val & 7 END AS s
  FROM b
)
SELECT o_orderpriority,
       e, CAST(s AS BIGINT) AS s,
       CAST(CASE WHEN e >= 3 THEN (8 + s) << (e - 3) ELSE s END AS BIGINT)
         AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(val) AS BIGINT) AS lo_seen,
       CAST(MAX(val) AS BIGINT) AS hi_seen
FROM sub GROUP BY o_orderpriority, e, s
""",
    tags=("agg", "observability"),
)
def agg_hdr_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-HISTOGRAM BUCKETS — the log-linear layout (Gil Tene's
    HdrHistogram, also Prometheus native histograms) that records
    value distributions with BOUNDED RELATIVE ERROR and a few
    hundred fixed buckets regardless of range: the exponent tier is
    floor(log2(v)) and each tier splits into 8 linear sub-buckets
    (top 3 mantissa bits), giving <= 12.5% relative width
    everywhere. The exponent is computed EXACTLY as
    length(bin(v))-1 — integer bit-length, no floating log2 whose
    boundary rounding differs between libms — and the sub-bucket is
    pure shift/mask. Unlike a quantile sketch this is lossless at
    the bucket grain, mergeable by simple count addition (the CRDT
    of histograms — see merge_crdt_pncounter), and the 100 TB
    shape is ONE partial+final hash aggregate on a key space
    bounded at ~64*8 per group, with min/max per bucket certifying
    the boundaries."""
    o = table(spark, sf_dir, "orders")
    val = cents("o_totalprice")
    b = o.select(
        "o_orderpriority",
        val.alias("val"),
        (F.length(F.bin(val)) - 1).cast("bigint").alias("e"),
    )
    s = F.expr(
        "CASE WHEN e >= 3 THEN shiftright(val, cast(e - 3 AS int)) & 7"
        " ELSE val & 7 END"
    )
    sub = b.select("o_orderpriority", "val", "e", s.alias("s"))
    lo = F.expr(
        "CASE WHEN e >= 3 THEN shiftleft(8 + s, cast(e - 3 AS int))"
        " ELSE s END"
    )
    return sub.groupBy(
        "o_orderpriority", "e", F.col("s").cast("bigint").alias("s")
    ).agg(
        F.max(lo).cast("bigint").alias("bucket_lo"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("val").cast("bigint").alias("lo_seen"),
        F.max("val").cast("bigint").alias("hi_seen"),
    )
