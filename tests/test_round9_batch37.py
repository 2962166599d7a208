"""Oracle-independent double checks for the round-9 batch-37 keys:
DER walker vs round-trip + truncation fuzz, CRDT lattice laws,
HDR-histogram bucket invariants, NB moment identities, power-formula
cross-check, sentence-splitter protections."""

from __future__ import annotations

import math

import pytest

from dags_spark.operators.asn1 import (
    der_integer,
    der_octets,
    der_sequence,
    der_utf8,
    parse_record,
)
from .conftest import run_key


def test_der_roundtrip_and_truncation_fuzz():
    for serial, subj, plen in (
        (0, "", 0),
        (127, "CN=a", 1),
        (128, "CN=é-unicode", 127),
        (123456789, "x" * 200, 300),  # long-form lengths both levels
    ):
        rec = der_sequence(
            der_integer(serial), der_utf8(subj), der_octets(b"\xab" * plen)
        )
        out = parse_record(rec)
        assert out["serial"] == serial
        assert out["subject"] == subj
        assert out["payload_len"] == plen
        assert out["total_len"] == len(rec)
        # every strict prefix must fail LOUDLY with ValueError —
        # never IndexError (the round-8 ADVICE discipline)
        for cut in range(len(rec)):
            with pytest.raises(ValueError):
                parse_record(rec[:cut])


def test_der_rejects_non_minimal_long_form_lengths():
    """DER minimal-length strictness (round-10 ADVICE fix): a
    long-form length whose value fits the shorter encoding must be
    rejected, exactly as the _read_tlv docstring promises."""
    from dags_spark.operators.asn1 import _read_tlv

    # 0x81 carrying 0x05 (< 0x80): BER-legal, DER-illegal
    with pytest.raises(ValueError, match="non-minimal"):
        _read_tlv(b"\x04\x81\x05" + b"\x00" * 5, 0)
    # 0x82 carrying 0x0080 (< 0x100): same rule one level up
    with pytest.raises(ValueError, match="non-minimal"):
        _read_tlv(b"\x04\x82\x00\x80" + b"\x00" * 0x80, 0)
    # boundary values stay accepted: 0x81/0x80 and 0x82/0x0100
    assert _read_tlv(b"\x04\x81\x80" + b"\x00" * 0x80, 0) == (4, 3, 0x80)
    assert _read_tlv(b"\x04\x82\x01\x00" + b"\x00" * 0x100, 0) == (4, 4, 0x100)


def test_crdt_pncounter_lattice_laws(spark):
    out = run_key(spark, "merge_crdt_pncounter")
    assert out["merge_dominates"].all()
    # merged totals dominate each site's own observation totals
    assert (out["p_total"] + out["n_total"] >= 0).all()
    assert (
        (out["p_total"] + out["n_total"])
        >= out[["site_a_obs", "site_b_obs"]].max(axis=1)
    ).all()
    assert (out["value"] == out["p_total"] - out["n_total"]).all()


def test_hdr_histogram_bucket_invariants(spark):
    out = run_key(spark, "agg_hdr_histogram")
    for r in out.itertuples():
        e, s, lo = int(r.e), int(r.s), int(r.bucket_lo)
        width = max(1, 2 ** max(e - 3, 0))
        hi = lo + width - 1 if e >= 3 else lo
        assert lo <= int(r.lo_seen) <= int(r.hi_seen), (lo, r.lo_seen)
        assert int(r.hi_seen) <= hi + (0 if e >= 3 else 0) or e < 3
        if e >= 3:
            assert int(r.hi_seen) <= hi
            # bounded relative error: bucket width / lower bound <= 1/8
            assert width / lo <= 0.125 + 1e-12


def test_negative_binomial_moment_identity(spark):
    out = run_key(spark, "stats_negative_binomial_fit")
    for r in out.itertuples():
        m, v = float(r.mean_k), float(r.var_k)
        if bool(r.overdispersed):
            rr, p = float(r.nb_r), float(r.nb_p)
            # NB(r,p): mean = r(1-p)/p, var = r(1-p)/p^2 — the MoM
            # inversion must reproduce the sample moments
            assert abs(rr * (1 - p) / p - m) < 1e-3 * max(m, 1)
            assert abs(rr * (1 - p) / p**2 - v) < 1e-3 * max(v, 1)


def test_power_formula_crosscheck(spark):
    out = run_key(spark, "stats_power_analysis_2prop")
    for r in out.itertuples():
        if r.n_required_per_arm is None or (
            isinstance(r.n_required_per_arm, float)
            and math.isnan(r.n_required_per_arm)
        ):
            continue
        p1, p2 = float(r.p_control), float(r.p_treat)
        n = math.ceil(
            (1.959964 + 0.841621) ** 2
            * (p1 * (1 - p1) + p2 * (1 - p2))
            / (p2 - p1) ** 2
        )
        # p1/p2 in the output are rounded to 6dp; with a small
        # effect the 1/(p2-p1)^2 term amplifies that rounding, so
        # compare with a relative tolerance
        assert abs(int(r.n_required_per_arm) - n) <= max(2, 0.02 * n)


def test_sentence_segmentation_protects_abbreviations(spark):
    out = run_key(spark, "stats_negative_binomial_fit")  # warm session
    out = run_key(spark, "text_sentence_segmentation")
    # class 0 templates: 4 sentences, first begins 'Dr. ' with the
    # abbreviation period RESTORED
    cls0 = out[out["p_partkey"] % 3 == 0]
    assert (cls0["n_sentences"] == 4).all()
    assert cls0["first_sentence"].str.startswith("Dr. ").all()
    assert cls0["first_sentence"].str.contains("Mr. Smith").all()
    cls1 = out[out["p_partkey"] % 3 == 1]
    assert (cls1["n_sentences"] == 3).all()
    cls2 = out[out["p_partkey"] % 3 == 2]
    assert (cls2["n_sentences"] == 5).all()
    assert cls2["first_sentence"].str.contains("vs. the field").all()
