"""Iterative / time-series operator cores shared by registry keys
and property tests.

`bounded_bfs` is the bounded-depth companion of
``dedup.connected_components``: when the hop limit k is known, the
loop unrolls into k chained equi-joins inside ONE Catalyst plan — no
driver-side iteration state, no checkpointing needed (plan depth is
bounded by k). For unbounded depth use connected_components, whose
large-star/small-star rounds are O(log^2 n) whatever the diameter,
each pinned with localCheckpoint.

`resample_interp_daily` is the linear-interpolation core of the
ts_resample_interp key: two mirrored IGNORE NULLS windows over one
partitioning produce the previous/next observation context, and the
interpolation arithmetic stays on exact integers (scaled value units,
day diffs) until a single final double division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bounded_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Min-hop BFS from `seeds` over directed `edges`, depth <= k.

    Returns (node, depth) with depth = minimum number of hops from
    any seed (seeds themselves at depth 0). Each frontier is
    distinct()-bounded at |nodes| rows; revisit rows are harmless
    because the final aggregate takes MIN(depth). Scale: k shuffles
    on the node key, each frontier <= |nodes| — never all-paths.
    """
    frontier = seeds.select(F.col(node_col)).distinct()
    levels = [frontier.withColumn("depth", F.lit(0))]
    for d in range(1, max_depth + 1):
        frontier = (
            frontier.join(edges, frontier[node_col] == edges[src_col])
            .select(F.col(dst_col).alias(node_col))
            .distinct()
        )
        levels.append(frontier.withColumn("depth", F.lit(d)))
    allv = levels[0]
    for lv in levels[1:]:
        allv = allv.unionAll(lv)
    return allv.groupBy(node_col).agg(
        F.min("depth").cast("int").alias("depth")
    )


def resample_interp_daily(
    joined: DataFrame,
    key_col: str = "user_id",
    day_col: str = "day",
    vc_col: str = "vc",
) -> DataFrame:
    """Linear interpolation over a dense (key, day) spine.

    `joined` must hold one row per (key, day) with `vc` = the exact
    integer-scaled observed value or NULL on gap days. Output adds
    value_interp (double, descaled /100) and is_filled. Gap days get
    prev + (next-prev) * elapsed/gap; days before the first / after
    the last observation hold flat.
    """
    joined = joined.withColumn(
        "_obs_day", F.when(F.col(vc_col).isNotNull(), F.col(day_col))
    )
    w_prev = (
        Window.partitionBy(key_col)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(key_col)
        .orderBy(day_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ctx = joined.select(
        key_col,
        day_col,
        vc_col,
        F.last(vc_col, ignorenulls=True).over(w_prev).alias("pv"),
        F.last("_obs_day", ignorenulls=True).over(w_prev).alias("pd"),
        F.first(vc_col, ignorenulls=True).over(w_next).alias("nv"),
        F.first("_obs_day", ignorenulls=True).over(w_next).alias("nd"),
    )
    interp = (
        F.col("pv").cast("double")
        + (F.col("nv") - F.col("pv")).cast("double")
        * F.datediff(day_col, "pd")
        / F.datediff("nd", "pd")
    ) / F.lit(100.0)
    return ctx.select(
        key_col,
        day_col,
        F.when(
            F.col(vc_col).isNotNull(), F.col(vc_col).cast("double") / 100.0
        )
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .when(F.col("pv").isNotNull(), F.col("pv").cast("double") / 100.0)
        .otherwise(F.col("nv").cast("double") / 100.0)
        .alias("value_interp"),
        F.col(vc_col).isNull().alias("is_filled"),
    )


def pagerank_fixed(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int,
    scale: int = 1_000_000_000_000,
    damping_pct: int = 85,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic.

    Ranks live as BIGINTs scaled by `scale`; the damping update
    r' = (100-d)% * (scale/|V|) + d% * S(v)   (integer div by 100)
    uses only integer sums and truncating division, so the result is
    bit-identical under any shuffle/agg order and across engines
    (DuckDB mirrors with `//`). The iteration count is static, so the
    loop UNROLLS into `iterations` chained join+agg rounds — one
    logical plan, no driver-side state; every round shuffles on the
    node key only (rank table is |V| rows, contributions <= |E|).
    For unbounded/convergence variants pin each round with
    localCheckpoint, as dedup.connected_components does. Dangling
    nodes (no out-edges) are not redistributed — the caller's graph
    should be functional (out-degree >= 1), as a derived
    hash-successor graph is by construction.
    """
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = (
        nodes.select(node_col)
        .crossJoin(F.broadcast(n_nodes))
        .selectExpr(node_col, f"CAST({scale} AS BIGINT) div n AS rank")
    )
    out_deg = edges.groupBy(src_col).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    for _ in range(iterations):
        contrib = (
            edges.join(out_deg, src_col)
            .join(
                ranks.withColumnRenamed(node_col, src_col),
                src_col,
            )
            .selectExpr(
                f"{dst_col} AS {node_col}",
                "rank div out_deg AS share",
            )
            .groupBy(node_col)
            .agg(F.sum("share").alias("s"))
        )
        ranks = (
            nodes.select(node_col)
            .join(contrib, node_col, "left")
            .crossJoin(F.broadcast(n_nodes))
            .selectExpr(
                node_col,
                f"({100 - damping_pct} * (CAST({scale} AS BIGINT) div n))"
                f" div 100 + ({damping_pct} * COALESCE(s, CAST(0 AS BIGINT)))"
                f" div 100 AS rank",
            )
        )
    return ranks
