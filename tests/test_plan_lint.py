"""Plan lint: the sweep of every registered batch query's physical
plan (waivers in ``test_correctness.ALLOWED``, each with its reason),
then linter self-tests — bad plans trip each finding code, proven-
bounded shapes stay clean, and the two-pass global operators the
linter steers keys onto match their single-window equivalents."""

from __future__ import annotations

from dags_spark.plans import lint_plan

from .test_correctness import BATCH_KEYS, check_key


def test_every_batch_plan_is_lint_clean(spark, duck, sf_dir):
    """Also: every waived code still fires, and hash keys emit only
    atomic columns — the external driver's canonicalizer cannot
    sort/hash array/map/struct/binary cells."""
    violations = {}
    for key in BATCH_KEYS:
        bad = check_key(key, spark, duck, sf_dir, run=False).lint
        if bad:
            violations[key] = bad
    assert not violations, f"plan lint violations: {violations}"


def test_lint_catches_cartesian_and_single_partition(spark, sf_dir):
    """Linter self-test on deliberately bad plans. The bad inputs
    must be DATA-SCALE-DEPENDENT (parquet scans): literal Range
    crosses are now structurally proven bounded and stay clean —
    pinned by the companion assertions."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dags_spark.io import table

    cust = table(spark, sf_dir, "customer").select("c_custkey")
    ords = table(spark, sf_dir, "orders").select("o_orderkey")
    codes = {f.code for f in lint_plan(cust.crossJoin(ords))}
    assert "cartesian" in codes

    w = Window.orderBy("c_custkey")
    ranked = cust.withColumn("rn", F.row_number().over(w))
    codes = {f.code for f in lint_plan(ranked)}
    assert "single-partition-exchange" in codes

    # bounded-by-literals shapes are proven, not waived:
    a = spark.range(10)
    b = spark.range(12).withColumnRenamed("id", "id2")
    assert lint_plan(cust.crossJoin(b)) == []            # literal spine
    assert lint_plan(a.crossJoin(b)) == []               # grid x grid
    ranked_spine = b.withColumn(
        "rn", F.row_number().over(Window.orderBy("id2"))
    )
    assert lint_plan(ranked_spine) == []                 # bounded funnel
    # an UNBOUNDED range (beyond the 65536 proof threshold) still trips
    big = spark.range(200_000).withColumnRenamed("id", "id3")
    assert "cartesian" in {f.code for f in lint_plan(cust.crossJoin(big))}


def test_lint_catches_dim_shuffle_join_and_unpruned_scan(spark, sf_dir, tmp_path):
    """Self-test for the round-5 codes: a nation scan feeding a
    SortMergeJoin trips dim-shuffle-join (and stays clean when
    broadcast); a partitioned read without a partition predicate
    trips unpruned-partition-scan (and stays clean when pruned)."""
    from pyspark.sql import functions as F

    from dags_spark.io import table

    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        smj = cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        assert "dim-shuffle-join" in {f.code for f in lint_plan(smj)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    bhj = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    assert "dim-shuffle-join" not in {f.code for f in lint_plan(bhj)}

    d = str(tmp_path / "t")
    spark.range(100).select("id", (F.col("id") % 5).alias("p")).write.partitionBy(
        "p"
    ).parquet(d)
    unpruned = spark.read.parquet(d).filter(F.col("id") > 50)
    assert "unpruned-partition-scan" in {f.code for f in lint_plan(unpruned)}
    pruned = spark.read.parquet(d).filter(F.col("p") == 3)
    assert "unpruned-partition-scan" not in {f.code for f in lint_plan(pruned)}


def test_lint_group_key_cardinality_algebra(spark, sf_dir):
    """Round-8 second pass: grouped aggregates with provably-small
    keys (calendar grain / literal modulus / partition id / literal
    CASE) are bounded, so a global window or SinglePartition funnel
    over them stays clean — while a data-grain key (custkey) still
    trips."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dags_spark.io import table

    o = table(spark, sf_dir, "orders")
    w = Window.orderBy("k")

    # calendar grain: month-truncated key -> bounded -> clean
    monthly = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cum", F.sum("n").over(w))
    )
    assert lint_plan(monthly) == []

    # year() function key -> bounded -> clean
    yearly = (
        o.groupBy(F.year("o_orderdate").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cum", F.sum("n").over(w))
    )
    assert lint_plan(yearly) == []

    # literal modulus key -> bounded -> clean
    bucketed = (
        o.groupBy(F.pmod(F.col("o_custkey"), F.lit(32)).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cum", F.sum("n").over(w))
    )
    assert lint_plan(bucketed) == []

    # all-literal CASE key -> bounded by branch count -> clean
    cased = (
        o.groupBy(
            F.when(F.col("o_totalprice") > 1000, F.lit(1))
            .otherwise(F.lit(0))
            .alias("k")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cum", F.sum("n").over(w))
    )
    assert lint_plan(cased) == []

    # spark_partition_id key (the two-pass offset-table shape) -> clean
    offsets = (
        o.withColumn("k", F.spark_partition_id())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cum", F.sum("n").over(w))
    )
    assert lint_plan(offsets) == []

    # data-grain key still trips: per-customer grain through one task
    per_cust = (
        o.groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cum", F.sum("n").over(w))
    )
    assert "single-partition-exchange" in {f.code for f in lint_plan(per_cust)}

    # finer-than-day calendar grain is NOT bounded: hour-truncation
    hourly = (
        o.groupBy(F.date_trunc("hour", "o_orderdate").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cum", F.sum("n").over(w))
    )
    assert "single-partition-exchange" in {f.code for f in lint_plan(hourly)}


def test_expr_bound_unit():
    """Pure-string unit coverage of the key-cardinality resolver."""
    from dags_spark.plans.lint import _expr_bound, _group_keys_bound

    defs = {
        "m#3": "date_trunc(month, cast(ts#1 as timestamp), Some(UTC))",
        "y#4": "year(o_orderdate#2)",
        "alias#5": "m#3",
        "b#6": "pmod(hash(o_custkey#7, 42), 64)",
        "c#8": "CASE WHEN (x#9 > 2.0) THEN 1 WHEN (x#9 < -2.0) THEN 2 ELSE 0 END",
        "d#10": "o_custkey#7",
        "n#11": "ntile(10) windowspecdefinition(...)",
        "p#12": "SPARK_PARTITION_ID()",
    }
    assert _expr_bound("m#3", defs) == 2400
    assert _expr_bound("y#4", defs) == 200
    assert _expr_bound("alias#5", defs) == 2400  # alias chain resolves
    assert _expr_bound("b#6", defs) == 64
    assert _expr_bound("c#8", defs) == 3
    assert _expr_bound("d#10", defs) is None  # data-grain
    assert _expr_bound("n#11", defs) == 10
    assert _expr_bound("p#12", defs) is not None
    assert _expr_bound("__pid#99", defs) is not None  # reserved name
    # __bkt dropped from the reserved contract in round 9: the old
    # global_cumsum defined it as value div width — DOMAIN-grain, so
    # treating it as partition-count-grain was a false premise.
    assert _expr_bound("__bkt#99L", defs) is None
    # bare % takes the dividend's sign: up to 2K-1 residues, not K
    assert _expr_bound("(v#1 % 16)", defs) == 31
    assert _expr_bound("pmod(v#1, 16)", defs) == 16
    # CASE soundness (round 9): one non-literal branch voids the
    # bound; a missing ELSE adds the implicit null outcome.
    assert _expr_bound(
        "CASE WHEN (x#9 > 2.0) THEN col#5 ELSE 0 END", defs
    ) is None
    assert _expr_bound(
        "CASE WHEN (x#9 > 2.0) THEN 1 ELSE col#5 END", defs
    ) is None
    assert _expr_bound("CASE WHEN (x#9 > 2.0) THEN 1 END", defs) == 2
    assert _expr_bound(
        "CASE WHEN (x#9 > 2.0) THEN 1 + col#5 ELSE 0 END", defs
    ) is None
    assert _expr_bound("cast(ts#1 as date)", defs) == 36600
    assert _expr_bound("date_trunc(hour, ts#1)", defs) is None
    # datediff is day-span-bounded; a literal shift is a bijection
    assert _expr_bound(
        "(datediff(cast(ts#1 as date), 2024-01-01) + 1)", defs
    ) == 36600
    assert _expr_bound("(m#3 - 5)", defs) == 2400
    assert _expr_bound("(d#10 + 1)", defs) is None  # still data-grain
    # literal clamp on an INTEGER-typed expression: at most K-J+1
    # values; the same clamp on an unproven-type body stays unproven
    assert _expr_bound(
        "least(10, greatest(1, cast(CASE WHEN (a#1 > 2) THEN 1 ELSE 2 END"
        " as int)))", defs,
    ) == 10
    assert _expr_bound("least(5, greatest(1, floor(x#2 / 7.0)))", defs) == 5
    assert _expr_bound("least(10, greatest(1, x#2))", defs) is None
    # product across keys, with the 65536 ceiling enforced
    assert _group_keys_bound("Keys [2]: [m#3, y#4]", defs) is None  # 480k > cap
    assert _group_keys_bound("Keys [2]: [y#4, c#8]", defs) == 600
    assert _group_keys_bound("Keys [1]: [d#10]", defs) is None


def test_global_rank_matches_single_window(spark):
    """Two-phase global_rank == naive global window, including
    desc order, nulls-last, and duplicate sort values."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dags_spark.operators.scale import global_rank

    rows = [(i, (i * 37) % 11 if i % 7 else None) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long")
    order = [F.col("v").desc_nulls_last(), F.col("k").asc()]
    naive = {
        r.k: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    for nparts in (1, 5, 64):
        got = {
            r.k: r.rank
            for r in global_rank(df, order, n_partitions=nparts).collect()
        }
        assert got == naive, f"n_partitions={nparts}"


def test_lint_readschema_whole_name_match(spark, tmp_path):
    """Round-6 ADVICE regression: a partition column ('year') whose
    name+':' appears as a suffix of a data column ('o_year') in
    ReadSchema must still be detected as a partition column — the
    matcher parses whole struct field names, not substrings."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "suffix")
    (
        spark.range(100)
        .select(
            "id",
            (F.col("id") % 4 + 2020).alias("o_year"),
            (F.col("id") % 3 + 1994).alias("year"),
        )
        .write.partitionBy("year")
        .parquet(d)
    )
    unpruned = spark.read.parquet(d).filter(F.col("id") > 50)
    assert "unpruned-partition-scan" in {f.code for f in lint_plan(unpruned)}
    pruned = spark.read.parquet(d).filter(F.col("year") == 1994)
    assert "unpruned-partition-scan" not in {f.code for f in lint_plan(pruned)}


def test_global_running_sum_matches_single_window(spark):
    """Two-phase global_running_sum == naive inclusive global-window
    running sum, over a multi-column order with ties broken by a
    unique key, for several partition counts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dags_spark.operators.scale import global_running_sum

    rows = [(i, (i * 31) % 7, 1 if i % 3 else -1) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, g long, w long")
    order = [F.col("g").asc(), F.col("w").asc(), F.col("k").asc()]
    naive = {
        r.k: r.run
        for r in df.withColumn(
            "run",
            F.sum("w").over(
                Window.orderBy(*order).rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        ).collect()
    }
    for nparts in (1, 7, 64):
        got = {
            r.k: r.run
            for r in global_running_sum(
                df, order, "w", out_col="run", n_partitions=nparts
            ).collect()
        }
        assert got == naive, f"n_partitions={nparts}"


def test_global_running_min_matches_single_window(spark):
    """Two-phase running min == the single-partition window, in both
    ascending and DESCENDING (suffix-min, the BH step-up shape)
    order, across partition counts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dags_spark.operators.scale import global_running_min

    rows = [(i, float((i * 37) % 23) - 5.0) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v double")
    for order in (
        [F.col("k").asc()],
        [F.col("k").desc()],  # suffix min over ascending k
    ):
        naive = {
            r.k: r.rm
            for r in df.withColumn(
                "rm",
                F.min("v").over(
                    Window.orderBy(*order).rowsBetween(
                        Window.unboundedPreceding, 0
                    )
                ),
            ).collect()
        }
        for nparts in (1, 7, 64):
            got = {
                r.k: r.rm
                for r in global_running_min(
                    df, order, "v", out_col="rm", n_partitions=nparts
                ).collect()
            }
            assert got == naive, f"n_partitions={nparts}, order={order}"


def test_lint_range_and_sequence_grid_rule(spark):
    """A grouped aggregate keyed on a literal Range output (or an
    exploded literal sequence) is grid-sized, so a global window over
    it stays clean; the grid bound composes with the rest of the
    algebra."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    grid = spark.range(2, 15).withColumnRenamed("id", "p")
    folded = (
        grid.groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cum", F.sum("n").over(Window.orderBy("p")))
    )
    assert lint_plan(folded) == []

    seq = spark.range(1).select(
        F.explode(F.expr("sequence(2, 14)")).alias("p")
    )
    folded2 = (
        seq.groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cum", F.sum("n").over(Window.orderBy("p")))
    )
    assert lint_plan(folded2) == []


def test_split_top_comparisons_vs_type_brackets():
    """The detail-line splitter must nest struct<...> type brackets
    but NOT comparison operators — a '<=' inside a CASE used to
    swallow every following entry (the dq_distribution_psi defs
    corruption)."""
    from dags_spark.plans.lint import _split_top

    body = ("CASE WHEN (year(d#1) <= 1997) THEN base ELSE cur END AS e#2, "
            "cast(least(63, greatest(0, f#3)) as bigint) AS b#4")
    parts = _split_top(body)
    assert len(parts) == 2 and parts[1].endswith("AS b#4")

    typed = "a#1, named_struct(x, struct<p:int,q:array<string>>) AS s#2"
    parts = _split_top(typed)
    assert len(parts) == 2 and parts[0] == "a#1"

    lam = "zip_with(u#1, v#2, (e, i) -> IF(e > 0, 1, 0)) AS w#3, k#4"
    parts = _split_top(lam)
    assert len(parts) == 2 and parts[1] == "k#4"


def test_global_ntile_matches_window_ntile(spark):
    """Two-phase global_ntile == the engine's own NTILE(n) window,
    including the first-buckets-take-the-remainder rule, for several
    n and partition layouts, with duplicate order values tie-broken
    by key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dags_spark.operators.scale import global_ntile

    rows = [(i, (i * 17) % 23) for i in range(157)]  # 157 % n != 0
    df = spark.createDataFrame(rows, "k long, v long")
    order = [F.col("v").asc(), F.col("k").asc()]
    for n in (3, 5, 10):
        naive = {
            r.k: r.b
            for r in df.select(
                "k", F.ntile(n).over(Window.orderBy(*order)).alias("b")
            ).collect()
        }
        got = {
            r.k: r.b
            for r in global_ntile(df, order, n, out_col="b")
            .select("k", "b")
            .collect()
        }
        assert got == naive, f"n={n}"
    # degenerate: fewer rows than buckets
    tiny = spark.createDataFrame([(1, 1), (2, 2)], "k long, v long")
    got = {
        r.k: r.b
        for r in global_ntile(tiny, order, 10, out_col="b").collect()
    }
    naive = {
        r.k: r.b
        for r in tiny.select(
            "k", F.ntile(10).over(Window.orderBy(*order)).alias("b")
        ).collect()
    }
    assert got == naive
