"""Oracle-independent double checks for the round-9 observability /
window / sketch keys (brute-force references in plain Python)."""

from __future__ import annotations

import math

from .conftest import run_key


def test_kadane_matches_bruteforce(spark, duck):
    got = run_key(spark, "win_max_subarray_kadane").set_index("brand")
    cells = duck.execute(
        "SELECT p.p_brand AS brand, date_trunc('month', o.o_orderdate) AS m,"
        " SUM(CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT)"
        "     * (100 - CAST(ROUND(l.l_discount*100,0) AS BIGINT))) AS rev_c"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " JOIN part p ON l.l_partkey = p.p_partkey GROUP BY brand, m"
        " ORDER BY brand, m"
    ).df()
    for brand, grp in cells.groupby("brand"):
        vals = list(grp["rev_c"])
        nm = len(vals)
        mean = sum(vals) / nm
        centered = [v - mean for v in vals]
        # O(n^2) brute force over all subarrays
        best = max(
            sum(centered[i:j])
            for i in range(nm)
            for j in range(i + 1, nm + 1)
        )
        assert abs(got.loc[brand, "best_run_sum"] - best / 10000.0) < 1e-3, brand
        assert int(got.loc[brand, "n_months"]) == nm


def test_ddsketch_within_relative_error(spark, duck):
    """The DDSketch contract: every estimate within 1% RELATIVE error
    of the true quantile (rank floor(q*(n-1))+1 of the sorted values)."""
    got = run_key(spark, "agg_ddsketch_quantile")
    vals = sorted(
        r[0] for r in duck.execute("SELECT o_totalprice FROM orders").fetchall()
    )
    n = len(vals)
    for _, row in got.iterrows():
        true_q = vals[int(math.floor(row["q"] * (n - 1)))]
        rel = abs(row["est"] - true_q) / true_q
        assert rel <= 0.0101, (row["q"], row["est"], true_q, rel)


def test_histogram_quantile_interpolation(spark, duck):
    """PromQL semantics: the estimate sits inside its bucket's bounds,
    and the crossing bucket is the first with cum >= 0.95*N."""
    got = run_key(spark, "obs_histogram_quantile")
    le = [5.0, 10.0, 25.0, 50.0, 100.0, 250.0, 500.0]
    rows = duck.execute(
        "SELECT event_type, value FROM events"
    ).df()
    for _, r in got.iterrows():
        sub = rows.loc[rows["event_type"] == r["event_type"], "value"]
        n = len(sub)
        assert int(r["n_total"]) == n
        # recompute crossing bucket
        counts = [0] * (len(le) + 1)
        for v in sub:
            for i, b in enumerate(le):
                if v <= b:
                    counts[i] += 1
                    break
            else:
                counts[len(le)] += 1
        cum = 0
        for i, c in enumerate(counts):
            cum += c
            if cum >= 0.95 * n:
                break
        assert int(r["bucket_idx"]) == i
        lo = 0.0 if i == 0 else le[i - 1]
        hi = le[i] if i < len(le) else le[-1]
        assert lo - 1e-9 <= r["p95_est"] <= hi + 1e-9


def test_apdex_range_and_bruteforce(spark, duck):
    got = run_key(spark, "obs_apdex_score")
    ref = duck.execute(
        "SELECT event_type, COUNT(*) AS n,"
        " SUM(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS s,"
        " SUM(CASE WHEN value > 50 AND value <= 200 THEN 1 ELSE 0 END) AS t"
        " FROM events GROUP BY event_type"
    ).df().set_index("event_type")
    for _, r in got.iterrows():
        e = ref.loc[r["event_type"]]
        expect = (e["s"] + e["t"] / 2.0) / e["n"]
        assert abs(r["apdex"] - expect) < 1e-6
        assert 0.0 <= r["apdex"] <= 1.0


def test_error_budget_burn_windows(spark, duck):
    """The 6h rolling side must equal the sum of the service's hourly
    counts within [t-5h, t] — spot-check the hottest rows."""
    got = run_key(spark, "obs_error_budget_burn")
    hourly = duck.execute(
        "SELECT event_type AS service, date_trunc('hour', ts) AS hb,"
        " COUNT(*) AS n, SUM(CASE WHEN value > 250 THEN 1 ELSE 0 END) AS e"
        " FROM events GROUP BY service, hb"
    ).df()
    sample = got.nlargest(20, "burn_6h")
    for _, r in sample.iterrows():
        sub = hourly[
            (hourly["service"] == r["service"])
            & (hourly["hb"] <= r["hb"])
            & (hourly["hb"] > r["hb"] - __import__("pandas").Timedelta(hours=6))
        ]
        tot6, err6 = int(sub["n"].sum()), int(sub["e"].sum())
        assert abs(r["burn_6h"] - err6 / tot6 / 0.05) < 1e-4


def test_ulcer_index_bruteforce(spark, duck):
    got = run_key(spark, "win_ulcer_index").set_index("brand")
    cells = duck.execute(
        "SELECT p.p_brand AS brand, date_trunc('month', o.o_orderdate) AS m,"
        " SUM(CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT)"
        "     * (100 - CAST(ROUND(l.l_discount*100,0) AS BIGINT))) AS rev_c"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " JOIN part p ON l.l_partkey = p.p_partkey GROUP BY brand, m"
        " ORDER BY brand, m"
    ).df()
    for brand, grp in cells.groupby("brand"):
        peak, ssq, mx = 0, 0.0, 0.0
        for v in grp["rev_c"]:
            peak = max(peak, v)
            dd = 100.0 * (peak - v) / peak
            ssq += dd * dd
            mx = max(mx, dd)
        ui = math.sqrt(ssq / len(grp))
        assert abs(got.loc[brand, "ulcer_index"] - ui) < 1e-4
        assert abs(got.loc[brand, "max_drawdown_pct"] - mx) < 1e-4
