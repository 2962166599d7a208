"""Oracle-independent double checks for the round-9 statistics keys
(same rationale as test_stats_round6: the DuckDB oracle mirrors the
distributed algebra, so a shared algebra bug would hash green — these
recompute each statistic brute-force in plain Python/pandas)."""

from __future__ import annotations

import math

import pytest

from .conftest import run_key


def test_kruskal_wallis_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_kruskal_wallis").iloc[0]
    rows = duck.execute(
        "SELECT CAST(l_quantity AS BIGINT) AS q, l_returnflag AS fl"
        " FROM lineitem"
    ).df()
    rows["rank"] = rows["q"].rank(method="average")
    n = len(rows)
    ssq = 0.0
    for fl in ("A", "N", "R"):
        grp = rows.loc[rows["fl"] == fl, "rank"]
        ssq += grp.sum() ** 2 / len(grp)
    h = 12.0 / (n * (n + 1)) * ssq - 3.0 * (n + 1)
    # tie correction
    t = rows.groupby("q").size()
    c = 1.0 - float((t**3 - t).sum()) / (n**3 - n)
    assert abs(got["h_stat"] - h) < 1e-4
    assert abs(got["h_adj"] - h / c) < 1e-4


def test_fisher_exact_matches_math_comb(spark, duck):
    """Exact-integer reference: hypergeometric terms via math.comb
    (arbitrary precision), the standard two-sided 'sum of tables at
    most as likely' definition with (1+1e-7) slack."""
    got = run_key(spark, "stats_fisher_exact").iloc[0]
    a, r1, c1, n = (int(got[k]) for k in ("a", "r1", "c1", "n"))
    ref = duck.execute(
        "SELECT CAST(SUM(CASE WHEN p_size <= 10 AND p_type LIKE 'PROMO%'"
        " THEN 1 ELSE 0 END) AS BIGINT) AS a,"
        " CAST(SUM(CASE WHEN p_size <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS r1,"
        " CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN 1 ELSE 0 END) AS BIGINT)"
        " AS c1, CAST(COUNT(*) AS BIGINT) AS n FROM part"
    ).df().iloc[0]
    assert (a, r1, c1, n) == tuple(int(ref[k]) for k in ("a", "r1", "c1", "n"))
    denom = math.comb(n, c1)
    lo, hi = max(0, r1 + c1 - n), min(r1, c1)
    p_obs = math.comb(r1, a) * math.comb(n - r1, c1 - a) / denom
    p_two = sum(
        math.comb(r1, k) * math.comb(n - r1, c1 - k) / denom
        for k in range(lo, hi + 1)
        if math.comb(r1, k) * math.comb(n - r1, c1 - k) / denom
        <= p_obs * (1 + 1e-7)
    )
    assert abs(got["p_two"] - p_two) < 1e-6, (got["p_two"], p_two)


def test_friedman_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_friedman_test").iloc[0]
    cells = duck.execute(
        "SELECT date_trunc('month', o_orderdate) AS blk, o_orderpriority AS trt,"
        " CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)"
        " / COUNT(*) AS val FROM orders GROUP BY blk, trt"
    ).df()
    piv = cells.pivot(index="blk", columns="trt", values="val").dropna()
    ranks = piv.rank(axis=1, method="average")
    nb, k = ranks.shape
    assert int(got["n_blocks"]) == nb and int(got["k_treat"]) == k == 5
    rj = ranks.sum(axis=0)
    q = 12.0 / (nb * k * (k + 1)) * float((rj**2).sum()) - 3.0 * nb * (k + 1)
    assert abs(got["q_stat"] - q) < 1e-4
    # tie correction: sum(t^3 - t) over tie groups within each block
    tie = 0
    for _, row in piv.iterrows():
        counts = row.value_counts()
        tie += int((counts**3 - counts).sum())
    q_adj = q / (1.0 - tie / (nb * k * (k * k - 1)))
    assert abs(got["q_adj"] - q_adj) < 1e-4


def test_brier_decomposition_identity_and_bruteforce(spark, duck):
    got = run_key(spark, "stats_brier_decomposition").iloc[0]
    rows = duck.execute(
        "SELECT EXTRACT(hour FROM ts) AS hb,"
        " CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS y,"
        " ts < TIMESTAMP '2024-01-16' AS is_train FROM events"
    ).df()
    trn = rows[rows["is_train"]]
    ev = rows[~rows["is_train"]]
    gtrn = trn["y"].mean()
    phat = trn.groupby("hb")["y"].mean()
    ev = ev.assign(p=ev["hb"].map(phat).fillna(gtrn))
    n = len(ev)
    assert int(got["n_eval"]) == n
    brier = float(((ev["p"] - ev["y"]) ** 2).mean())
    ybar = ev["y"].mean()
    g = ev.groupby("hb").agg(n_k=("y", "size"), ybk=("y", "mean"), p=("p", "first"))
    rel = float((g["n_k"] * (g["p"] - g["ybk"]) ** 2).sum()) / n
    res = float((g["n_k"] * (g["ybk"] - ybar) ** 2).sum()) / n
    unc = ybar * (1 - ybar)
    assert abs(got["brier"] - brier) < 1e-4
    assert abs(got["reliability"] - rel) < 1e-4
    assert abs(got["resolution"] - res) < 1e-4
    assert abs(got["uncertainty"] - unc) < 1e-4
    # Murphy identity holds for bucket-constant forecasts
    assert abs(brier - (rel - res + unc)) < 1e-9


def test_logrank_matches_bruteforce(spark, duck):
    got = run_key(spark, "stats_logrank_test").iloc[0]
    subj = duck.execute(
        """
        WITH firstev AS (
          SELECT user_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events
        ),
        u AS (
          SELECT e.user_id, CAST(MIN(e.ts) AS DATE) AS t0,
                 CAST(MAX(e.ts) AS DATE) AS tlast,
                 CAST(MIN(CASE WHEN e.event_type='error' THEN e.ts END)
                      AS DATE) AS terr,
                 MAX(CASE WHEN f.event_type='click' THEN 1 ELSE 0 END) AS g1
          FROM events e JOIN firstev f
            ON e.user_id = f.user_id AND f.rn = 1
          GROUP BY e.user_id
        )
        SELECT date_diff('day', t0, COALESCE(terr, tlast)) AS dur,
               CASE WHEN terr IS NOT NULL THEN 1 ELSE 0 END AS observed, g1
        FROM u
        """
    ).df()
    n_all, n1_all = len(subj), int(subj["g1"].sum())
    assert int(got["n_subjects"]) == n_all
    assert int(got["n1_subjects"]) == n1_all
    o1 = e1 = v = 0.0
    at_risk = subj.copy()
    for dur in sorted(subj["dur"].unique()):
        cur = at_risk[at_risk["dur"] >= dur]
        n_t, n1_t = len(cur), int(cur["g1"].sum())
        ev_t = cur[cur["dur"] == dur]
        d = int(ev_t["observed"].sum())
        d1 = int((ev_t["observed"] * ev_t["g1"]).sum())
        if d >= 1 and n_t >= 2:
            o1 += d1
            e1 += d * n1_t / n_t
            v += d * (n1_t / n_t) * (1 - n1_t / n_t) * (n_t - d) / (n_t - 1)
    assert int(got["o1"]) == int(o1)
    assert abs(got["e1"] - e1) < 1e-4
    assert abs(got["chi2"] - (o1 - e1) ** 2 / v) < 1e-3


def test_err_cascade_matches_bruteforce(spark, duck):
    got = run_key(spark, "rank_err_cascade").set_index("user_key")
    rows = duck.execute(
        """
        SELECT o.o_custkey AS u, LEAST(COUNT(l.l_orderkey), 4) AS rel,
               o.o_totalprice AS tp, o.o_orderkey AS ok
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_custkey, o.o_totalprice, o.o_orderkey
        """
    ).df()
    # spot-check 25 users against the direct cascade
    for u, grp in list(rows.groupby("u"))[:25]:
        g = grp.sort_values(["tp", "ok"], ascending=[False, True]).head(10)
        stop = 1.0
        err = 0.0
        for r, rel in enumerate(g["rel"], start=1):
            ri = (2**int(rel) - 1) / 16.0
            err += stop * ri / r
            stop *= 1.0 - ri
        assert abs(got.loc[u, "err10"] - err) < 1e-8, (u, err)
