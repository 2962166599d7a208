"""Oracle-independent double checks for the round-6 statistics keys:
each test recomputes the statistic BRUTE-FORCE in plain Python/pandas
from the same fixture and compares against the distributed grid/lane
formulation — so correctness does not rest solely on the DuckDB oracle
mirroring the same algebra (a shared-bug failure mode the hash check
cannot see)."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from .conftest import run_key


def test_norm_p2_matches_reference_values(spark):
    # A&S 7.1.26 has |eps| < 7.5e-8 on Phi; pin the classic quantiles.
    from dags_spark.queries.aggregates import _norm_p2
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1.959963984540054,), (2.5758293035489004,), (0.0,), (-1.6448536269514722,)],
        "z DOUBLE",
    )
    got = [r["p"] for r in df.select(_norm_p2(F.col("z")).alias("p")).collect()]
    for p, expected in zip(got, [0.05, 0.01, 1.0, 0.10]):
        assert abs(p - expected) < 5e-7, (p, expected)


def test_mann_whitney_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_mann_whitney_u").iloc[0]
    rows = duck.execute(
        "SELECT l_quantity, l_returnflag FROM lineitem"
        " WHERE l_returnflag IN ('R','A')"
    ).df()
    # brute force: average ranks over the pooled sample
    rows["rank"] = rows["l_quantity"].rank(method="average")
    r1 = rows.loc[rows["l_returnflag"] == "R", "rank"].sum()
    n1 = int((rows["l_returnflag"] == "R").sum())
    n2 = int((rows["l_returnflag"] == "A").sum())
    u1 = r1 - n1 * (n1 + 1) / 2.0
    assert int(got["n1"]) == n1 and int(got["n2"]) == n2
    assert abs(float(got["u1"]) - u1) < 1e-6
    # tie-corrected z
    n = n1 + n2
    ties = rows.groupby("l_quantity").size()
    tie_sum = float((ties**3 - ties).sum())
    var = n1 * n2 / 12.0 * ((n + 1) - tie_sum / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2.0) / math.sqrt(var)
    assert abs(float(got["z_stat"]) - round(z, 6)) < 2e-6


def test_ks_2sample_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_ks_2sample").iloc[0]
    rows = duck.execute(
        "SELECT value, event_type FROM events"
        " WHERE event_type IN ('purchase','click')"
    ).df()
    a = sorted(rows.loc[rows["event_type"] == "purchase", "value"])
    b = sorted(rows.loc[rows["event_type"] == "click", "value"])
    grid = sorted(set(a) | set(b))
    import bisect

    d = max(
        abs(
            bisect.bisect_right(a, v) / len(a)
            - bisect.bisect_right(b, v) / len(b)
        )
        for v in grid
    )
    assert int(got["n1"]) == len(a) and int(got["n2"]) == len(b)
    assert abs(float(got["d_stat"]) - round(d, 6)) < 2e-6


def test_cohens_d_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_cohens_d").set_index("region")
    rows = duck.execute(
        """SELECT r.r_name AS region, c.c_mktsegment AS seg,
                  ROUND(c.c_acctbal * 100) AS bal_c
           FROM customer c
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE c.c_mktsegment IN ('AUTOMOBILE','BUILDING')"""
    ).df()
    for region, grp in rows.groupby("region"):
        a = grp.loc[grp["seg"] == "AUTOMOBILE", "bal_c"]
        b = grp.loc[grp["seg"] == "BUILDING", "bal_c"]
        if len(a) < 2 or len(b) < 2:
            assert region not in got.index
            continue
        pooled = ((a.var(ddof=1) * (len(a) - 1)) + (b.var(ddof=1) * (len(b) - 1))) / (
            len(a) + len(b) - 2
        )
        d = (a.mean() - b.mean()) / math.sqrt(pooled)
        assert abs(float(got.loc[region, "cohens_d"]) - round(d, 6)) < 2e-6


def test_mann_kendall_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_mann_kendall_trend").iloc[0]
    xs = duck.execute(
        """SELECT CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
           FROM orders GROUP BY date_trunc('month', o_orderdate)
           ORDER BY date_trunc('month', o_orderdate)"""
    ).fetchall()
    xs = [r[0] for r in xs]
    n = len(xs)
    s = sum(
        (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    assert int(got["n"]) == n and int(got["s_stat"]) == s
    ties = pd.Series(xs).value_counts()
    tie_term = float(sum(t * (t - 1) * (2 * t + 5) for t in ties if t > 1))
    var = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    num = (s - 1) if s > 0 else (s + 1) if s < 0 else 0
    assert abs(float(got["z_stat"]) - round(num / math.sqrt(var), 6)) < 2e-6


def test_bh_fdr_is_valid_step_up(spark):
    out = run_key(spark, "stats_bh_fdr").sort_values(["p_q", "brand"]).reset_index(
        drop=True
    )
    m = len(out)
    p = out["p_q"].astype(float) / 1e12
    # brute-force BH adjusted p
    raw = [p[i] * m / (i + 1) for i in range(m)]
    adj = [min(min(raw[i:]), 1.0) for i in range(m)]
    for i in range(m):
        assert abs(float(out.loc[i, "p_adj"]) - round(adj[i], 9)) < 2e-9
        assert bool(out.loc[i, "reject"]) == (adj[i] <= 0.05)
    # adjusted p is monotone in p — the defining step-up property
    assert all(adj[i] <= adj[i + 1] + 1e-12 for i in range(m - 1))


def test_tost_agrees_with_cohens_population(spark):
    tost = run_key(spark, "stats_tost_equivalence").set_index("region")
    coh = run_key(spark, "stats_cohens_d").set_index("region")
    # same lanes -> same populations and mean-diff sign per region
    assert set(tost.index) == set(coh.index)
    for region in tost.index:
        assert int(tost.loc[region, "n1"]) == int(coh.loc[region, "n1"])
        assert int(tost.loc[region, "n2"]) == int(coh.loc[region, "n2"])
        if abs(float(tost.loc[region, "mean_diff"])) > 1e-9:
            assert (float(tost.loc[region, "mean_diff"]) > 0) == (
                float(coh.loc[region, "cohens_d"]) > 0
            )


def test_bollinger_flags_match_bruteforce(spark, duck):
    got = run_key(spark, "win_bollinger_breakout")
    daily = duck.execute(
        """SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
                    AS rev_c
           FROM orders GROUP BY day ORDER BY day"""
    ).df()
    rev = daily["rev_c"].astype(float).tolist()
    expected = {}
    for i in range(6, len(rev)):
        w = rev[i - 6 : i + 1]
        mean = sum(w) / 7.0
        sd = math.sqrt(sum((x - mean) ** 2 for x in w) / 6.0)
        expected[daily["day"][i]] = (rev[i] > mean + 2 * sd) or (
            rev[i] < mean - 2 * sd
        )
    assert len(got) == len(expected)
    got = got.set_index("day")
    mismatches = [
        d for d, e in expected.items() if bool(got.loc[d, "is_breakout"]) != e
    ]
    assert not mismatches, mismatches[:5]


def test_sen_slope_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_sen_slope").iloc[0]
    xs = duck.execute(
        """SELECT (date_part('year', o_orderdate) - 1995) * 12
                    + date_part('month', o_orderdate) - 1 AS m,
                  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
           FROM orders GROUP BY m ORDER BY m"""
    ).fetchall()
    import statistics

    slopes = [
        round((xj - xi) * 1e6 / (j - i))
        for (i, xi) in xs
        for (j, xj) in xs
        if i < j
    ]
    assert int(got["n_months"]) == len(xs)
    assert int(got["n_pairs"]) == len(slopes)
    med = statistics.median(slopes)  # interpolated for even counts
    assert abs(float(got["sen_slope"]) - round(med / 1e6 / 100.0, 6)) < 2e-6


def test_cuped_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_cuped_adjustment").iloc[0]
    rows = duck.execute(
        """SELECT user_id,
                  SUM(CASE WHEN date_part('day', ts) <= 15
                      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS x,
                  SUM(CASE WHEN date_part('day', ts) > 15
                      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS y
           FROM events GROUP BY user_id"""
    ).df()
    x = rows["x"].astype(float)
    y = rows["y"].astype(float)
    n = len(rows)
    cov = (x * y).sum() - x.sum() * y.sum() / n
    varx = (x * x).sum() - x.sum() ** 2 / n
    vary = (y * y).sum() - y.sum() ** 2 / n
    theta = cov / varx
    ratio = 1.0 - cov * cov / (varx * vary)
    assert int(got["n"]) == n
    assert abs(float(got["theta"]) - theta) < 1e-4
    assert abs(float(got["adjusted_variance_ratio"]) - ratio) < 1e-4
    # CUPED must actually help on this fixture: rho^2 > 0
    assert float(got["adjusted_variance_ratio"]) < 1.0


def test_peak_concurrency_matches_bruteforce(spark, duck):
    got = run_key(spark, "win_peak_concurrency").set_index("day")[
        "peak_concurrency"
    ]
    rows = duck.execute(
        "SELECT user_id, ts FROM events ORDER BY user_id, ts"
    ).df()
    # brute-force sessionize (30-min gap), then sweep
    sessions = []
    for _, grp in rows.groupby("user_id"):
        ts = list(grp["ts"])
        start = prev = ts[0]
        for t in ts[1:]:
            if (t - prev).total_seconds() > 1800:
                sessions.append((start, prev))
                start = t
            prev = t
        sessions.append((start, prev))
    bounds = [(s, 1) for s, _ in sessions] + [(e, -1) for _, e in sessions]
    bounds.sort(key=lambda p: (p[0], p[1]))
    live = 0
    peaks: dict = {}
    for t, d in bounds:
        live += d
        day = t.normalize() if hasattr(t, "normalize") else t
        peaks[day] = max(peaks.get(day, 0), live)
    assert len(got) == len(peaks)
    for day, peak in peaks.items():
        assert int(got.loc[day]) == peak, day


def test_dtw_matches_bruteforce(spark, duck):
    got = run_key(spark, "ts_dtw_distance")
    daily = duck.execute(
        "SELECT event_type, date_trunc('day', ts) AS day,"
        " CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT) AS v"
        " FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).df()
    series = {
        et: list(g.sort_values("day")["v"].astype(int))
        for et, g in daily.groupby("event_type")
    }

    def dtw_ref(x, y):
        m, n = len(x), len(y)
        INF = float("inf")
        dp = [[INF] * (n + 1) for _ in range(m + 1)]
        dp[0][0] = 0
        for i in range(1, m + 1):
            for j in range(1, n + 1):
                dp[i][j] = abs(x[i - 1] - y[j - 1]) + min(
                    dp[i - 1][j], dp[i][j - 1], dp[i - 1][j - 1]
                )
        return dp[m][n]

    assert len(got) == 10  # C(5,2) event-type pairs
    for _, r in got.iterrows():
        expected = dtw_ref(series[r["t1"]], series[r["t2"]])
        assert int(r["dtw_cents"]) == expected, (r["t1"], r["t2"])
        assert int(r["n1"]) == len(series[r["t1"]])


def test_kmeans_matches_bruteforce(spark, duck):
    got = run_key(spark, "feat_kmeans_lloyd").set_index("cluster_id")
    pts = duck.execute(
        "SELECT CAST(p_size AS BIGINT)*200 AS x,"
        " CAST(ROUND(p_retailprice*100,0) AS BIGINT) - 90000 AS y FROM part"
    ).df()
    cents = [(2000.0, 2000.0), (5000.0, 5000.0), (8000.0, 8000.0)]
    xs, ys = pts["x"].astype(float), pts["y"].astype(float)
    assign = None
    for _ in range(2):
        d = [(xs - cx) ** 2 + (ys - cy) ** 2 for cx, cy in cents]
        assign = pd.concat(d, axis=1).values.argmin(axis=1)
        new = []
        for k in range(3):
            sel = assign == k
            if sel.any():
                new.append((xs[sel].mean(), ys[sel].mean()))
            else:
                new.append(cents[k])
        cents = new
    # key reports the SECOND assignment's clusters against the
    # post-update (c2) centroids
    for k in range(3):
        sel = assign == k
        assert int(got.loc[k, "n_points"]) == int(sel.sum())
        # cents[k] is the post-update centroid (kept at its previous
        # value for empty clusters, matching the key's COALESCE lane)
        assert abs(got.loc[k, "centroid_x"] - cents[k][0]) < 1e-4
        assert abs(got.loc[k, "centroid_y"] - cents[k][1]) < 1e-4
        if not sel.any():
            assert int(got.loc[k, "inertia"]) == 0
            continue
        inertia_ref = round(
            float(((xs[sel] - cents[k][0]) ** 2 + (ys[sel] - cents[k][1]) ** 2).sum())
        )
        assert abs(int(got.loc[k, "inertia"]) - inertia_ref) <= int(sel.sum())


def test_ols_multiple_matches_numpy(spark, duck):
    import numpy as np

    got = run_key(spark, "stats_ols_multiple").iloc[0]
    df = duck.execute(
        "SELECT CAST(l_quantity AS BIGINT) AS x1,"
        " CAST(ROUND(l_discount*100,0) AS BIGINT) AS x2,"
        " CAST(ROUND(l_extendedprice*100,0) AS BIGINT) AS y FROM lineitem"
    ).df()
    X = np.column_stack(
        [np.ones(len(df)), df["x1"].astype(float), df["x2"].astype(float)]
    )
    yv = df["y"].astype(float).values
    beta, *_ = np.linalg.lstsq(X, yv, rcond=None)
    assert abs(got["b0_cents"] - beta[0]) < max(1e-3, abs(beta[0]) * 1e-6)
    assert abs(got["b1_cents_per_qty"] - beta[1]) < max(1e-3, abs(beta[1]) * 1e-6)
    assert abs(got["b2_cents_per_disc_c"] - beta[2]) < max(1e-3, abs(beta[2]) * 1e-6)
    pred = X @ beta
    ss_res = float(((yv - pred) ** 2).sum())
    ss_tot = float(((yv - yv.mean()) ** 2).sum())
    assert abs(got["r2"] - (1 - ss_res / ss_tot)) < 1e-6


def test_anova_matches_scipyless_bruteforce(spark, duck):
    got = run_key(spark, "stats_anova_oneway").iloc[0]
    df = duck.execute(
        "SELECT substr(o_orderpriority,1,1) AS g,"
        " CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS c FROM orders"
    ).df()
    groups = [g["c"].astype(float) for _, g in df.groupby("g")]
    n = len(df)
    k = len(groups)
    grand = df["c"].astype(float).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    assert int(got["n"]) == n and int(got["k"]) == k
    assert abs(got["f_stat"] - f_ref) < max(1e-4, f_ref * 1e-9)
    # moment-identity cancellation at ~1e17 magnitudes costs ~7 of
    # the 16 double digits vs the two-pass reference - 1e-5 is tight
    assert abs(got["eta_sq"] - ssb / (ssb + ssw)) < 1e-5


def test_levene_bf_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_levene_bf").iloc[0]
    df = duck.execute(
        "SELECT l_returnflag AS g,"
        " CAST(ROUND(l_extendedprice*100,0) AS BIGINT) AS c FROM lineitem"
    ).df()
    zs = []
    for flag, g in df.groupby("g"):
        v = g["c"].sort_values().reset_index(drop=True)
        med = int(v.iloc[(len(v) + 1) // 2 - 1])  # lower median
        assert int(got[f"med_{flag.lower()}"]) == med
        zs.append((g["c"] - med).abs().astype(float))
    n = len(df)
    k = len(zs)
    allz = pd.concat(zs)
    grand = allz.mean()
    ssb = sum(len(z) * (z.mean() - grand) ** 2 for z in zs)
    ssw = sum(((z - z.mean()) ** 2).sum() for z in zs)
    w_ref = (ssb / (k - 1)) / (ssw / (n - k))
    assert abs(got["w_stat"] - w_ref) < max(1e-4, w_ref * 1e-9)


def test_attribution_position_weights_conserve_revenue(spark, duck):
    got = run_key(spark, "attribution_position_based")
    total_purchase_micro = duck.execute(
        "SELECT CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT)"
        " * 1000000 FROM events WHERE event_type = 'purchase'"
    ).fetchone()[0]
    # position weights sum to 1 per purchase -> channel sums conserve
    # total purchase revenue up to one microcent of rounding per touch
    assert abs(int(got["attributed_microcents"].sum()) - total_purchase_micro) <= int(
        got["n_touches"].sum()
    )


def test_attribution_time_decay_conserves_revenue(spark, duck):
    got = run_key(spark, "attribution_time_decay")
    total_purchase_micro = duck.execute(
        "SELECT CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT)"
        " * 1000000 FROM events WHERE event_type = 'purchase'"
    ).fetchone()[0]
    assert abs(int(got["attributed_microcents"].sum()) - total_purchase_micro) <= int(
        got["n_touches"].sum()
    )


def test_price_volume_mix_bridge_ties_out(spark):
    got = run_key(spark, "agg_price_volume_mix")
    for _, r in got.iterrows():
        # price+volume+mix (micro) + new - dropped (cents) ~= delta
        bridge = (
            r["price_eff_micro"] + r["volume_eff_micro"] + r["mix_eff_micro"]
        ) / 1e6 + r["new_rev_c"] - r["dropped_rev_c"]
        assert abs(bridge - r["delta_c"]) < max(1.0, int(r["n_common"])), r["brand"]


def test_elo_matches_pure_python_replay(spark, duck):
    got = run_key(spark, "win_elo_rating")
    ev = duck.execute(
        "SELECT user_id % 5 AS league, user_id, ts, event_id,"
        " CAST(ROUND(value*100,0) AS BIGINT) AS cents FROM events"
        " WHERE event_type = 'purchase' ORDER BY league, ts, event_id"
    ).df()
    for league, g in ev.groupby("league"):
        ratings, counts, prev = {}, {}, None
        for row in g.itertuples(index=False):
            cur = (int(row.user_id), int(row.cents))
            if prev is not None and prev[0] != cur[0]:
                ra = ratings.setdefault(prev[0], 1000.0)
                rb = ratings.setdefault(cur[0], 1000.0)
                sa = 1.0 if prev[1] >= cur[1] else 0.0
                ea = 1.0 / (1.0 + 10.0 ** ((rb - ra) / 400.0))
                ratings[prev[0]] = ra + 32.0 * (sa - ea)
                ratings[cur[0]] = rb + 32.0 * ((1.0 - sa) - (1.0 - ea))
                counts[prev[0]] = counts.get(prev[0], 0) + 1
                counts[cur[0]] = counts.get(cur[0], 0) + 1
            prev = cur
        sub = got[got["league"] == league].set_index("user_id")
        assert len(sub) == len(ratings)
        for u, r in ratings.items():
            assert abs(sub.loc[u, "rating"] - round(r, 6)) < 1e-9, (league, u)
            assert int(sub.loc[u, "n_matches"]) == counts.get(u, 0)


def test_weibull_fit_matches_numpy(spark, duck):
    import numpy as np

    got = run_key(spark, "stats_weibull_fit").iloc[0]
    df = duck.execute(
        "SELECT date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) + 1 AS t"
        " FROM orders GROUP BY o_custkey ORDER BY t"
    ).df()
    t = df["t"].astype(float).values
    n = len(t)
    i = np.arange(1, n + 1)
    x = np.log(t)
    y = np.log(-np.log(1.0 - i / (n + 1)))
    k, c = np.polyfit(x, y, 1)
    lam = float(np.exp(-c / k))
    assert int(got["n"]) == n
    # micro-quantized inputs vs full-precision numpy: ~1e-4 agreement
    assert abs(got["shape_k"] - k) < 5e-4
    assert abs(got["scale_lambda"] - lam) < max(5e-3, lam * 1e-3)


def test_granger_matches_statsmodels_free_ols(spark, duck):
    import numpy as np

    got = run_key(spark, "stats_granger_lagged").iloc[0]
    daily = duck.execute(
        "SELECT date_trunc('day', ts) AS day,"
        " CAST(SUM(CASE WHEN event_type='purchase'"
        "   THEN CAST(ROUND(value*100,0) AS BIGINT) ELSE 0 END) AS BIGINT)"
        "   AS buy_c,"
        " CAST(SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT)"
        "   AS views"
        " FROM events GROUP BY day ORDER BY day"
    ).df()
    yv = daily["buy_c"].astype(float).values
    vw = daily["views"].astype(float).values
    y, l1, l2 = yv[1:], yv[:-1], vw[:-1]
    n = len(y)
    Xf = np.column_stack([np.ones(n), l1, l2])
    Xr = np.column_stack([np.ones(n), l1])
    bf, *_ = np.linalg.lstsq(Xf, y, rcond=None)
    br, *_ = np.linalg.lstsq(Xr, y, rcond=None)
    sse_f = float(((y - Xf @ bf) ** 2).sum())
    sse_r = float(((y - Xr @ br) ** 2).sum())
    f_ref = (sse_r - sse_f) / (sse_f / (n - 3))
    assert int(got["n"]) == n
    assert abs(got["f_granger"] - f_ref) < max(1e-3, f_ref * 1e-4)
    assert abs(got["lag_views_coef"] - bf[2]) < max(1e-3, abs(bf[2]) * 1e-4)


def test_jarque_bera_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_jarque_bera").iloc[0]
    c = duck.execute(
        "SELECT CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS c FROM orders"
    ).df()["c"].astype(float)
    n = len(c)
    mu = c.mean()
    m2 = ((c - mu) ** 2).mean()
    m3 = ((c - mu) ** 3).mean()
    m4 = ((c - mu) ** 4).mean()
    skew = m3 / m2**1.5
    kurt = m4 / m2**2 - 3
    jb = n / 6.0 * (skew**2 + kurt**2 / 4.0)
    assert int(got["n"]) == n
    assert abs(got["skew_pop"] - skew) < 1e-5
    assert abs(got["kurt_excess"] - kurt) < 1e-5
    assert abs(got["jarque_bera"] - jb) < max(1e-3, jb * 1e-5)


def test_runs_test_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_runs_test").iloc[0]
    daily = duck.execute(
        "SELECT date_trunc('day', ts) AS day,"
        " CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT) AS c"
        " FROM events GROUP BY day ORDER BY day"
    ).df()
    vals = list(daily["c"].astype(int))
    med = sorted(vals)[(len(vals) + 1) // 2 - 1]
    signs = [1 if v > med else 0 for v in vals if v != med]
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n1, n2 = sum(signs), len(signs) - sum(signs)
    n = n1 + n2
    assert int(got["r"]) == runs and int(got["n1"]) == n1
    e_r = 2.0 * n1 * n2 / n + 1
    var = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0))
    assert abs(got["z_runs"] - (runs - e_r) / var**0.5) < 1e-6


def test_durbin_watson_matches_bruteforce(spark, duck):
    import numpy as np

    got = run_key(spark, "stats_durbin_watson").iloc[0]
    daily = duck.execute(
        "SELECT date_trunc('day', ts) AS day,"
        " CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT) AS y"
        " FROM events GROUP BY day ORDER BY day"
    ).df()
    y = daily["y"].astype(float).values
    t = np.arange(len(y), dtype=float)
    b, a = np.polyfit(t, y, 1)
    e = y - a - b * t
    dw = float(((e[1:] - e[:-1]) ** 2).sum() / (e**2).sum())
    # milli-cent residual quantization vs full precision: ~1e-6 rel
    assert abs(got["dw"] - dw) < 1e-4


def test_holt_winters_matches_pure_python(spark, duck):
    got = run_key(spark, "ts_holt_winters_seasonal").sort_values("t")
    daily = duck.execute(
        "SELECT date_trunc('day', ts) AS day,"
        " CAST(CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT)"
        " AS DOUBLE) AS c FROM events GROUP BY day ORDER BY day"
    ).df()
    c = list(daily["c"].astype(float))
    level = sum(c[:7]) / 7.0
    trend = (c[6] - c[0]) / 6.0
    s = [v - level for v in c[:7]]
    rows = []
    for t in range(8, len(c) + 1):
        yv = c[t - 1]
        idx = (t - 1) % 7
        fitted = level + trend + s[idx]
        new_l = 0.5 * (yv - s[idx]) + 0.5 * (level + trend)
        new_b = 0.5 * (new_l - level) + 0.5 * trend
        s[idx] = 0.5 * (yv - new_l) + 0.5 * s[idx]
        level, trend = new_l, new_b
        rows.append((t, fitted, level, trend))
    assert len(got) == len(rows)
    for (t, fitted, lvl, trd), (_, r) in zip(rows, got.iterrows()):
        assert int(r["t"]) == t
        assert abs(r["fitted_c"] - fitted) < 1e-6
        assert abs(r["level_c"] - lvl) < 1e-6
        assert abs(r["trend_c"] - trd) < 1e-6


def test_markov_stationary_matches_numpy(spark, duck):
    import numpy as np

    got = run_key(spark, "iter_markov_stationary").iloc[0]
    df = duck.execute(
        """
        WITH ev AS (
          SELECT event_type,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS nt
          FROM events)
        SELECT event_type AS src, nt AS dst, COUNT(*) AS n
        FROM ev WHERE nt IS NOT NULL GROUP BY src, dst
        """
    ).df()
    types = ["click", "error", "purchase", "signup", "view"]
    P = np.zeros((5, 5))
    for _, r in df.iterrows():
        P[types.index(r["src"]), types.index(r["dst"])] = r["n"]
    P = P / P.sum(axis=1, keepdims=True)
    v = np.full(5, 0.2)
    for _ in range(20):
        v = v @ P
    for j, t in enumerate(types):
        assert abs(got[f"pi_{t}"] - v[j]) < 1e-6, t
    assert abs(sum(got[f"pi_{t}"] for t in types) - 1.0) < 1e-6


def test_croston_matches_pure_python(spark, duck):
    got = run_key(spark, "ts_croston_intermittent").set_index("brand")
    df = duck.execute(
        """
        SELECT p.p_brand AS brand,
               date_diff('day', DATE '1998-01-01', CAST(l.l_shipdate AS DATE))
                 + 1 AS t,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
          AND l.l_shipdate < TIMESTAMP '1999-01-01'
        GROUP BY brand, t ORDER BY brand, t
        """
    ).df()
    brands = duck.execute("SELECT DISTINCT p_brand FROM part").df()["p_brand"]
    for brand in brands:
        g = df[df["brand"] == brand]
        dm = dict(zip(g["t"].astype(int), g["d"].astype(int)))
        seen, z, q, last_t, nd, sq = 0, 0.0, 0.0, 0, 0, 0
        for t in range(1, 366):
            d = dm.get(t, 0)
            sq += d
            if d > 0:
                if seen == 0:
                    z, q = float(d), float(t - last_t)
                else:
                    z = 0.5 * z + 0.5 * d
                    q = 0.5 * q + 0.5 * (t - last_t)
                seen, last_t, nd = 1, t, nd + 1
        r = got.loc[brand]
        assert int(r["n_demand_days"]) == nd and int(r["total_qty"]) == sq
        assert abs(r["z_size"] - round(z, 6)) < 1e-9
        assert abs(r["q_interval"] - round(q, 6)) < 1e-9
        assert abs(r["croston_rate"] - round(z / q, 6)) < 1e-9


def test_beta_binomial_shrinkage_pulls_toward_prior_mean(spark, duck):
    got = run_key(spark, "stats_beta_binomial_shrinkage")
    m = (got["alpha"] / (got["alpha"] + got["beta"])).iloc[0]
    for _, r in got.iterrows():
        raw, shrunk = r["raw_rate"], r["shrunk_rate"]
        # shrunken rate lies strictly between raw and the prior mean
        lo, hi = min(raw, m), max(raw, m)
        assert lo - 1e-9 <= shrunk <= hi + 1e-9
        # bigger n -> less shrinkage, verified pairwise on extremes
    big = got.loc[got["n"].idxmax()]
    small = got.loc[got["n"].idxmin()]
    if big["n"] > small["n"]:
        assert abs(big["shrunk_rate"] - big["raw_rate"]) <= abs(
            small["shrunk_rate"] - small["raw_rate"]
        ) + 1e-6


def test_block_bootstrap_matches_pure_python(spark, duck):
    import hashlib

    got = run_key(spark, "sample_block_bootstrap").iloc[0]
    daily = duck.execute(
        "SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1 AS t,"
        " CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT) AS c"
        " FROM events GROUP BY t ORDER BY t"
    ).df()
    cmap = dict(zip(daily["t"].astype(int), daily["c"].astype(int)))
    n_days = max(cmap)
    totals = []
    for b in range(1, 201):
        tot = 0
        for i in range(1, 7):
            h = hashlib.md5(f"{b}:{i}:bb".encode()).hexdigest()
            v = int(h[0], 16) * 256 + int(h[1], 16) * 16 + int(h[2], 16)
            start = 1 + v % (n_days - 4)
            tot += sum(cmap.get(t, 0) for t in range(start, start + 5))
        totals.append(tot)
    totals.sort()
    assert int(got["n_boot"]) == 200
    assert int(got["ci_lo_c"]) == totals[4]
    assert int(got["ci_hi_c"]) == totals[194]
    assert abs(got["boot_mean_c"] - sum(totals) / 200.0) < 1e-6


def test_shapley_matches_permutation_bruteforce(spark, duck):
    from itertools import permutations

    got = run_key(spark, "attribution_shapley").iloc[0]
    masks = duck.execute(
        """
        WITH ev AS (
          SELECT user_id, event_id, ts, event_type,
                 SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS conv
          FROM events),
        p AS (SELECT user_id, conv AS cid FROM ev
              WHERE event_type = 'purchase'),
        t AS (SELECT user_id, conv + 1 AS grp,
                     CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                          WHEN 'signup' THEN 4 ELSE 8 END AS bit
              FROM ev WHERE event_type <> 'purchase')
        SELECT mask, COUNT(*) AS nc FROM (
          SELECT p.user_id, p.cid,
                 CAST(COALESCE(bit_or(t.bit), 0) AS BIGINT) AS mask
          FROM p LEFT JOIN t ON p.user_id = t.user_id AND p.cid = t.grp
          GROUP BY p.user_id, p.cid
        ) GROUP BY mask
        """
    ).df()
    mcount = {
        int(r["mask"]): int(r["nc"])
        for _, r in masks.iterrows()
        if int(r["mask"]) > 0
    }

    def v(S):
        return sum(nc for m, nc in mcount.items() if m & S == m)

    channels = {"click": 1, "error": 2, "signup": 4, "view": 8}
    phi = {ch: 0.0 for ch in channels}
    for perm in permutations(channels):
        S = 0
        for ch in perm:
            gain = v(S | channels[ch]) - v(S)
            phi[ch] += gain / 24.0
            S |= channels[ch]
    for ch in channels:
        assert abs(got[f"phi24_{ch}"] / 24.0 - phi[ch]) < 1e-9, ch
    # efficiency: credits sum to v(grand coalition)
    assert (
        abs(sum(phi.values()) - int(got["total_attributed_conversions"]))
        < 1e-9
    )


def test_hurst_rs_matches_numpy(spark, duck):
    import numpy as np

    got = run_key(spark, "ts_hurst_rs").iloc[0]
    daily = duck.execute(
        "SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1 AS t,"
        " CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT) AS c"
        " FROM events GROUP BY t ORDER BY t"
    ).df()
    c = daily["c"].astype(float).values[:30]
    xs, ys = [], []
    for n in (5, 10, 15):
        rss = []
        for b in range(30 // n):
            x = c[b * n : (b + 1) * n]
            dev = np.cumsum(x - x.mean())
            r = dev.max() - dev.min()
            s = x.std()  # population
            rss.append(r / s)
        mean_rs = float(np.mean(rss))
        assert abs(got[f"rs_n{n}"] - mean_rs) < 1e-5
        xs.append(np.log(n))
        ys.append(np.log(mean_rs))
    h, _ = np.polyfit(xs, ys, 1)
    assert abs(got["hurst_h"] - h) < 1e-5


def test_damm_matches_reference_algorithm(spark, duck):
    table = [
        [0, 3, 1, 7, 5, 9, 8, 6, 4, 2],
        [7, 0, 9, 2, 1, 5, 4, 8, 6, 3],
        [4, 2, 0, 6, 8, 7, 1, 3, 5, 9],
        [1, 7, 5, 0, 9, 8, 3, 4, 2, 6],
        [6, 1, 2, 3, 0, 4, 5, 9, 7, 8],
        [3, 6, 7, 4, 2, 0, 9, 5, 8, 1],
        [5, 8, 6, 9, 7, 2, 0, 1, 3, 4],
        [8, 9, 4, 5, 3, 6, 2, 0, 1, 7],
        [9, 4, 3, 8, 6, 1, 7, 2, 0, 5],
        [2, 5, 8, 1, 4, 3, 6, 7, 9, 0],
    ]

    def damm(s):
        interim = 0
        for ch in s:
            interim = table[interim][int(ch)]
        return interim

    assert damm("572") == 4  # the classic worked example
    got = run_key(spark, "fn_damm_checksum")
    keys = duck.execute("SELECT c_custkey FROM customer").df()["c_custkey"]
    from collections import Counter

    ref = Counter(damm(str(int(k)).zfill(7)) for k in keys)
    for _, r in got.iterrows():
        assert int(r["n_keys"]) == ref[int(r["check_digit"])]


def test_breusch_pagan_matches_numpy(spark, duck):
    import numpy as np

    got = run_key(spark, "stats_breusch_pagan").iloc[0]
    daily = duck.execute(
        "SELECT date_trunc('day', ts) AS day,"
        " CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT) AS y"
        " FROM events GROUP BY day ORDER BY day"
    ).df()
    y = daily["y"].astype(float).values
    t = np.arange(len(y), dtype=float)
    b, a = np.polyfit(t, y, 1)
    e = np.floor(np.round(y - a - b * t, 6))  # whole-cent lane
    g = e * e
    r = np.corrcoef(t, g)[0, 1] ** 2
    lm = len(y) * r
    assert int(got["n"]) == len(y)
    assert abs(got["r2_aux"] - r) < 1e-5
    assert abs(got["lm_stat"] - lm) < 1e-3


def test_token_bucket_matches_pure_python(spark, duck):
    got = run_key(spark, "win_token_bucket_throttle").set_index("user_id")
    ev = duck.execute(
        "SELECT user_id, epoch_us(ts) AS eu, event_id FROM events"
        " ORDER BY user_id, ts, event_id"
    ).df()
    for uid, g in ev.groupby("user_id"):
        tokens, admitted, last, started = 5.0, 0, 0, False
        for eu in g["eu"].astype(int):
            if not started:
                tokens, admitted, started = 4.0, 1, True
            else:
                tokens = min(5.0, tokens + (eu - last) / 2000000.0)
                if tokens >= 1.0:
                    tokens -= 1.0
                    admitted += 1
            last = eu
        r = got.loc[uid]
        assert int(r["n_admitted"]) == admitted, uid
        assert int(r["n_events"]) == len(g)
        assert abs(r["final_tokens"] - round(tokens, 6)) < 1e-9


def test_pca_2x2_matches_numpy(spark, duck):
    import numpy as np

    got = run_key(spark, "stats_pca_2x2_analytic").iloc[0]
    df = duck.execute(
        "SELECT CAST(p_size AS BIGINT) AS x,"
        " CAST(ROUND(p_retailprice*100,0) AS BIGINT) AS y FROM part"
    ).df()
    X = df[["x", "y"]].astype(float).values
    cov = np.cov(X.T, bias=True)
    ev = np.sort(np.linalg.eigvalsh(cov))[::-1]
    assert abs(got["lambda1"] - ev[0]) < max(1e-3, ev[0] * 1e-9)
    assert abs(got["lambda2"] - ev[1]) < max(1e-3, abs(ev[1]) * 1e-9)
    # moment-identity covariance vs numpy two-pass: ~1e-7 agreement
    assert abs(got["explained_ratio"] - ev[0] / ev.sum()) < 1e-5


def test_paired_ttest_matches_scipyless(spark, duck):
    import numpy as np

    got = run_key(spark, "stats_paired_ttest").iloc[0]
    df = duck.execute(
        """
        WITH per AS (
          SELECT o_custkey AS ck, date_part('year', o_orderdate) AS y,
                 CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT))
                   AS BIGINT) AS r
          FROM orders WHERE date_part('year', o_orderdate) IN (1997, 1998)
          GROUP BY ck, y)
        SELECT a.r - b.r AS d
        FROM (SELECT ck, r FROM per WHERE y = 1998) a
        JOIN (SELECT ck, r FROM per WHERE y = 1997) b ON a.ck = b.ck
        """
    ).df()
    d = df["d"].astype(float).values
    t = d.mean() / (d.std(ddof=1) / np.sqrt(len(d)))
    assert int(got["n"]) == len(d)
    assert abs(got["t_stat"] - t) < max(1e-4, abs(t) * 1e-6)


def test_feistel_is_bijective_and_invertible(spark):
    got = run_key(spark, "fn_feistel_permutation").iloc[0]
    assert bool(got["is_bijective"])
    assert int(got["n_distinct_tokens"]) == int(got["n_keys"])
    # invert the 2-round network in pure Python for a sample of keys
    import hashlib

    def rf(half, salt):
        h = hashlib.md5(f"{half}{salt}".encode()).hexdigest()
        return int(h[:4], 16)

    def forward(key):
        l0, r0 = key % 65536, key // 65536
        l1, r1 = r0, (l0 + rf(r0, ":f1")) % 65536
        l2, r2 = r1, (l1 + rf(r1, ":f2")) % 65536
        return r2 * 65536 + l2

    def inverse(token):
        l2, r2 = token % 65536, token // 65536
        r1, l1 = l2, (r2 - rf(l2, ":f2")) % 65536
        r0, l0 = l1, (r1 - rf(l1, ":f1")) % 65536
        return r0 * 65536 + l0

    for key in (1, 7, 999, 65535, 123456):
        assert inverse(forward(key)) == key


def test_easter_matches_known_dates(spark):
    got = run_key(spark, "fn_easter_computus").set_index("year")
    known = {
        1995: (4, 16), 1996: (4, 7), 1997: (3, 30), 1998: (4, 12),
        1999: (4, 4), 2000: (4, 23), 2001: (4, 15),
    }
    for y, (m, d) in known.items():
        assert (int(got.loc[y, "easter_month"]),
                int(got.loc[y, "easter_day"])) == (m, d), y
        assert int(got.loc[y, "day_of_week"]) == 0  # always a Sunday


def test_vwap_never_averages_averages(spark, duck):
    got = run_key(spark, "win_vwap_rolling")
    ref = duck.execute(
        """
        WITH t AS (
          SELECT p.p_brand AS brand, date_trunc('day', l.l_shipdate) AS day,
                 CAST(SUM(CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT))
                   AS BIGINT) AS pq,
                 CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
            AND l.l_shipdate < TIMESTAMP '1998-04-01'
          GROUP BY brand, day ORDER BY brand, day)
        SELECT brand, day, pq, q FROM t
        """
    ).df()
    import pandas as pd

    for brand, g in ref.groupby("brand"):
        g = g.sort_values("day").reset_index(drop=True)
        sub = got[got["brand"] == brand].sort_values("day").reset_index(drop=True)
        assert len(sub) == len(g)
        for i in range(len(g)):
            lo = max(0, i - 6)
            pq7 = int(g["pq"][lo : i + 1].sum())
            q7 = int(g["q"][lo : i + 1].sum())
            assert abs(sub.loc[i, "vwap7_c"] - round(pq7 / q7, 6)) < 1e-9
            pqc = int(g["pq"][: i + 1].sum())
            qc = int(g["q"][: i + 1].sum())
            assert abs(sub.loc[i, "vwap_cum_c"] - round(pqc / qc, 6)) < 1e-9


def test_growth_accounting_reconciles_wau(spark, duck):
    got = run_key(spark, "win_growth_accounting")
    wau = duck.execute(
        "SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7"
        " AS wk, COUNT(DISTINCT user_id) AS n FROM events GROUP BY wk"
    ).df().set_index("wk")["n"].to_dict()
    import collections

    table = collections.defaultdict(dict)
    for _, r in got.iterrows():
        table[int(r["week"])][r["stage"]] = int(r["n_users"])
    for wk, stages in table.items():
        active = (
            stages.get("new", 0)
            + stages.get("retained", 0)
            + stages.get("resurrected", 0)
        )
        assert active == wau.get(wk, 0), wk
        # WAU(w) = WAU(w-1) + new + resurrected - churned  (w > first)
        if wk - 1 in wau and wk in table:
            expected = (
                wau[wk - 1]
                + stages.get("new", 0)
                + stages.get("resurrected", 0)
                - stages.get("churned", 0)
            )
            assert expected == wau[wk], wk


def test_lift_chart_is_monotone_and_captures_all(spark):
    got = run_key(spark, "rank_lift_chart_deciles").sort_values("decile")
    assert abs(got["cum_capture"].iloc[-1] - 1.0) < 1e-9
    assert (got["cum_capture"].diff().dropna() >= -1e-12).all()
    n_total = got["n"].sum()
    assert abs(n_total - 15 * got["n"].iloc[0]) < n_total  # sanity


def test_lerp_curve_fraction_bounds_and_endpoints(spark, duck):
    got = run_key(spark, "join_lerp_curve")
    assert ((got["frac"] >= 0) & (got["frac"] < 1)).all()
    curve = duck.execute(
        """
        SELECT date_trunc('month', l_shipdate) AS m,
               CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT))
                 AS BIGINT) AS s,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1999-01-01'
        GROUP BY m ORDER BY m
        """
    ).df()
    prices = (curve["s"] / curve["q"]).astype(float)
    lo, hi = prices.min(), prices.max()
    assert ((got["interpolated_price_c"] >= lo - 1e-6)
            & (got["interpolated_price_c"] <= hi + 1e-6)).all()


def test_mrr_bridge_ties_out_exactly(spark, duck):
    got = run_key(spark, "agg_mrr_bridge")
    per = duck.execute(
        "SELECT date_part('year', o_orderdate) AS y,"
        " CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)"
        " AS rev FROM orders GROUP BY y"
    ).df().set_index("y")["rev"].to_dict()
    for _, r in got.iterrows():
        y = int(r["year"])
        # additive identity: new + expansion - contraction - churned
        bridge = (
            r["new_c"] + r["expansion_c"] - r["contraction_c"] - r["churned_c"]
        )
        assert bridge == r["delta_c"], y
        # delta matches the independent per-year totals exactly
        assert r["delta_c"] == per[y] - per[y - 1], y


def test_catalog_coverage_partitions_the_catalog(spark, duck):
    got = run_key(spark, "agg_catalog_coverage")
    n_parts = duck.execute("SELECT COUNT(*) FROM part").fetchone()[0]
    n_lines = duck.execute("SELECT COUNT(*) FROM lineitem").fetchone()[0]
    assert int(got["n_parts"].sum()) == n_parts
    assert int(got["n_lines"].sum()) == n_lines
    assert abs(got["share_of_catalog"].sum() - 1.0) < 1e-6


def test_checksum_bisect_localizes_the_plant(spark, duck):
    got = run_key(spark, "dq_checksum_bisect")
    planted = duck.execute(
        "SELECT DISTINCT o_orderkey % 16 FROM orders"
        " WHERE o_orderkey % 1000 = 7"
    ).df().iloc[:, 0].astype(int).tolist()
    flagged = set(got.loc[got["differs"], "bucket"].astype(int))
    assert flagged == set(planted)
    # corrupt counts only in flagged buckets
    assert (got.loc[~got["differs"], "n_corrupt_rows"] == 0).all()
    assert (got.loc[got["differs"], "n_corrupt_rows"] > 0).all()


def test_dwell_time_shares_sum_to_one(spark):
    got = run_key(spark, "win_dwell_time_by_state")
    assert abs(got["share_of_time"].sum() - 1.0) < 1e-5
    assert (got["dwell_us"] > 0).all() and (got["n_spans"] > 0).all()


def test_shrinkage_orders_small_groups_by_prior(spark):
    got = run_key(spark, "stats_beta_binomial_shrinkage")
    # all shrunk rates lie strictly inside (0, 1) and alpha, beta > 0
    assert ((got["shrunk_rate"] > 0) & (got["shrunk_rate"] < 1)).all()
    assert (got["alpha"] > 0).all() and (got["beta"] > 0).all()
