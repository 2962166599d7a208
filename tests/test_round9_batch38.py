"""Oracle-independent double checks for the round-9 batch-38 keys:
HSL vs colorsys, UTM exceptions vs hand-computed fixtures, Excel
serial edge cases, Gumbel quantile sanity, script-census bounds."""

from __future__ import annotations

import colorsys
import math

from .conftest import run_key


def test_hsl_matches_colorsys(spark):
    out = run_key(spark, "fn_rgb_to_hsl")
    for r in out.head(200).itertuples():
        # colorsys returns (h in [0,1), l, s)
        h, l, s = colorsys.rgb_to_hls(r.r / 255.0, r.g / 255.0, r.b / 255.0)
        assert abs(float(r.h) - h * 360.0) < 1e-3, (r.r, r.g, r.b)
        assert abs(float(r.s) - s) < 1e-5
        assert abs(float(r.l) - l) < 1e-5


def test_utm_known_points(spark):
    out = run_key(spark, "fn_geo_utm_zone")
    # every Norway-exception point must land in zone 32, band V
    nw = out[out["norway_exception"]]
    if len(nw):
        assert (nw["zone"] == 32).all()
        assert (nw["band"] == "V").all()
        assert ((nw["lon"] >= 3) & (nw["lon"] < 12)).all()
    sv = out[out["svalbard_exception"]]
    if len(sv):
        assert sv["zone"].isin([31, 33, 35, 37]).all()
        assert (sv["band"] == "X").all()
    # the standard formula holds everywhere else
    rest = out[~out["norway_exception"] & ~out["svalbard_exception"]]
    calc = (rest["lon"].add(180.0) / 6.0).apply(math.floor) + 1
    assert (rest["zone"] == calc).all()


def test_excel_serial_edges(spark):
    out = run_key(spark, "fn_excel_serial_date").set_index("small_serial")
    # serial 60 is the phantom 1900-02-29 -> NULL
    if 60 in out.index:
        sub = out.loc[[60]]
        assert sub["is_phantom_leap_day"].all()
        assert sub["small_date"].isna().all()
    # serials 59 and 61 are consecutive real days
    if 59 in out.index and 61 in out.index:
        d59 = out.loc[[59]]["small_date"].iloc[0]
        d61 = out.loc[[61]]["small_date"].iloc[0]
        assert d59 == "1900-02-28"
        assert d61 == "1900-03-01"
    assert out["roundtrip_ok"].all()


def test_gumbel_return_level_ordering(spark):
    out = run_key(spark, "stats_gumbel_max_fit")
    # p99 return level sits above the mean of maxima; beta positive
    assert (out["beta"] > 0).all()
    assert (out["return_level_p99"] > out["mean_max"]).all()


def test_script_census_bounds(spark):
    out = run_key(spark, "text_script_detection")
    assert (out.loc[out["doc_id"] % 5 == 1, "n_cyrillic"] > 0).all()
    assert (out.loc[out["doc_id"] % 5 == 2, "n_greek"] > 0).all()
    assert (out.loc[out["doc_id"] % 5 == 3, "n_cjk"] > 0).all()
    assert (~out.loc[out["doc_id"] % 5 == 0, "is_multiscript"]).all()
    assert (
        out.loc[out["doc_id"] % 5 == 0, "dominant_script"] == "latin"
    ).all()
