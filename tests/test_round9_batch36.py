"""Oracle-independent double checks for the round-9 batch-36 keys:
from-spec punycode vs the independent CPython codec, PPR mass
conservation, Poisson-bootstrap weight census, theta-method SES
closed form vs the sequential recursion, BY dominance over raw p."""

from __future__ import annotations

import math

from dags_spark.operators.punycode import (
    idn_decode_label,
    idn_encode_label,
    punycode_decode,
    punycode_encode,
)
from .conftest import SF_DIR, run_key


def test_punycode_matches_cpython_codec():
    """The from-spec RFC 3492 implementation must agree with the
    INDEPENDENT stdlib 'punycode' codec on a diverse label corpus,
    and decode must invert encode."""
    labels = [
        "bücher", "münchen", "ουτοπία", "point-é", "hello",
        "他们为什么不说中文", "ü", "a", "", "déjà-vu-très-élégant",
        "ascii-only-label-123", "παράδειγμα", "例え", "실례",
        "mixed-ascii-中文-tail", "ñandú", "øre", "łódź",
    ]
    for lab in labels:
        mine = punycode_encode(lab)
        std = lab.encode("punycode").decode("ascii")
        assert mine == std, (lab, mine, std)
        assert punycode_decode(mine) == lab
        assert idn_decode_label(idn_encode_label(lab)) == lab
    # pure-ASCII labels must pass through the IDN surface unchanged
    assert idn_encode_label("plain-ascii") == "plain-ascii"
    assert idn_encode_label("bücher").startswith("xn--")


def test_punycode_rejects_malformed():
    import pytest

    with pytest.raises(ValueError):
        punycode_decode("kva!")  # non-digit in the encoded tail


def test_ppr_mass_properties(spark):
    out = run_key(spark, "iter_ppr_restart")
    total = out["mass"].sum()
    # sub-stochastic: total mass can only leak (dangling absorption),
    # never exceed 1
    assert total <= 1.0 + 1e-6
    assert total > 0.05
    assert (out["mass"] > 0).all()


def test_poisson_bootstrap_weight_census(spark):
    out = run_key(spark, "sample_poisson_bootstrap")
    # Poisson(1): E[sum k] = n per replicate -> n_eff within 5% of
    # the true group size, and the three replicates must differ
    import duckdb

    con = duckdb.connect()
    n = dict(
        con.execute(
            f"SELECT o_orderpriority, COUNT(*) FROM "
            f"read_parquet('{SF_DIR}/orders.parquet') GROUP BY 1"
        ).fetchall()
    )
    for r in out.itertuples():
        expect = n[r.o_orderpriority]
        assert abs(int(r.n_eff) - expect) < 0.08 * expect + 30
    reps = out.groupby("o_orderpriority")["n_eff"].nunique()
    assert (reps > 1).any()


def test_theta_ses_closed_form_matches_recursion(spark, duck):
    out = run_key(spark, "ts_theta_method").set_index("flag")
    series = duck.execute(
        """
        WITH m AS (
          SELECT l_returnflag AS flag,
                 CAST(date_part('year', l_shipdate) * 12
                      + date_part('month', l_shipdate) AS BIGINT) AS ym,
                 SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS c
          FROM lineitem GROUP BY flag, ym
        )
        SELECT flag, list(ym ORDER BY ym), list(c ORDER BY ym)
        FROM m GROUP BY flag
        """
    ).fetchall()
    for flag, yms, cs in series:
        t0 = min(yms)
        pts = sorted((ym - t0 + 1, c / 100.0) for ym, c in zip(yms, cs))
        n = len(pts)
        st = sum(t for t, _ in pts)
        sx = sum(x for _, x in pts)
        stx = sum(t * x for t, x in pts)
        stt = sum(t * t for t, _ in pts)
        b = (stx - st * sx / n) / (stt - st * st / n)
        a = sx / n - b * st / n
        tmax = pts[-1][0]
        # independent recomputation of the dyadic-weight closed form
        y = {t: 2 * x - (a + b * t) for t, x in pts}
        closed = sum(
            (0.5 ** (tmax - 1)) * y[pts[0][0]]
            if i == 0
            else 0.5 * (0.5 ** (tmax - t)) * y[t]
            for i, (t, _) in enumerate(pts)
        )
        assert abs(float(out.loc[flag, "ses_theta"]) - closed) < 1e-4
        fc = 0.5 * closed + 0.5 * (a + b * (tmax + 1))
        assert abs(float(out.loc[flag, "forecast_1"]) - fc) < 1e-4
        assert abs(float(out.loc[flag, "trend_b"]) - b) < 1e-4


def test_by_adjusted_dominates_raw(spark):
    out = run_key(spark, "stats_benjamini_yekutieli")
    for r in out.itertuples():
        p_raw = int(r.p_q) / 1e12
        assert float(r.p_adj) >= p_raw - 1e-9
        assert 0.0 <= float(r.p_adj) <= 1.0
