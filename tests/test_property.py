"""Hypothesis property tests for the composed operators whose
correctness depends on subtle invariants (tie resolution in the as-of
window carry; the bin-distance<=1 lemma in the band join). Each
example is a full Spark job, so examples are few but adversarially
generated (duplicate timestamps, negative values, empty sides).
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dags_spark.operators.asof import asof_join
from dags_spark.operators.rangejoin import binned_band_join

from .conftest import union_find_components

_SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # CI determinism: same examples every run
)

# Small key/time domains force collisions: same-ts ties and key overlap
# are the cases a naive as-of implementation gets wrong.
_key = st.integers(min_value=0, max_value=2)
_ts = st.integers(min_value=0, max_value=9)
_val = st.integers(min_value=-50, max_value=50)


@given(
    left=st.lists(st.tuples(_key, _ts), max_size=12),
    right=st.lists(st.tuples(_key, _ts, _val), max_size=12),
)
@_SLOW
def test_asof_backward_matches_bruteforce(spark, left, right):
    import pyspark.sql.functions as F

    ldf = spark.createDataFrame(
        pd.DataFrame(
            [(i, k, pd.Timestamp(t, unit="s")) for i, (k, t) in enumerate(left)],
            columns=["lid", "k", "ts"],
        )
        if left
        else pd.DataFrame({"lid": pd.Series(dtype="int64"),
                           "k": pd.Series(dtype="int64"),
                           "ts": pd.Series(dtype="datetime64[ns]")}),
        schema="lid BIGINT, k BIGINT, ts TIMESTAMP",
    )
    rdf = spark.createDataFrame(
        pd.DataFrame(
            [(j, k, pd.Timestamp(t, unit="s"), v) for j, (k, t, v) in enumerate(right)],
            columns=["rid", "k", "rts", "v"],
        )
        if right
        else pd.DataFrame({"rid": pd.Series(dtype="int64"),
                           "k": pd.Series(dtype="int64"),
                           "rts": pd.Series(dtype="datetime64[ns]"),
                           "v": pd.Series(dtype="int64")}),
        schema="rid BIGINT, k BIGINT, rts TIMESTAMP, v BIGINT",
    )
    got = {
        r["lid"]: r["pick"]
        for r in asof_join(
            ldf,
            rdf.withColumnRenamed("rts", "ts2"),
            on=["k"],
            left_ts="ts",
            right_ts="ts2",
            right_payload={"rid": "pick"},
            tiebreak="rid",
            direction="backward",
        )
        .select("lid", F.col("pick"))
        .collect()
    }
    # brute force: latest right with rts <= ts; equal-ts -> max rid wins
    for i, (k, t) in enumerate(left):
        cands = [
            (rt, j) for j, (rk, rt, _v) in enumerate(right) if rk == k and rt <= t
        ]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, k, t, got[i], expect)


@given(
    xs=st.lists(_val, max_size=10),
    ys=st.lists(_val, max_size=10),
    band=st.integers(min_value=1, max_value=7),
)
@_SLOW
def test_band_join_matches_bruteforce(spark, xs, ys, band):
    a = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)] or [(None, None)],
        "ia BIGINT, x BIGINT",
    ).filter("ia IS NOT NULL")
    b = spark.createDataFrame(
        [(j, y) for j, y in enumerate(ys)] or [(None, None)],
        "ib BIGINT, y BIGINT",
    ).filter("ib IS NOT NULL")
    got = {
        (r["ia"], r["ib"])
        for r in binned_band_join(a, b, "x", "y", band=band)
        .select("ia", "ib")
        .collect()
    }
    expect = {
        (i, j)
        for i, x in enumerate(xs)
        for j, y in enumerate(ys)
        if abs(x - y) <= band
    }
    assert got == expect


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        min_size=1,
        max_size=16,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_connected_components_matches_union_find(spark, edges):
    from dags_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == union_find_components(edges)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),   # order key (dups dropped)
            st.integers(min_value=0, max_value=30),   # weight
        ),
        max_size=20,
    ),
    width=st.integers(min_value=1, max_value=9),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
def test_global_cumsum_property(spark, rows, width):
    """The two-phase __pid rewrite must equal the single-window
    exclusive prefix sum for any order keys, weights, and partition
    count — including counts that leave partitions empty or put all
    rows in one partition."""
    from dags_spark.operators.trainprep import global_cumsum

    uniq = {}
    for k, w in rows:
        uniq.setdefault(k, w)
    if not uniq:
        return
    df = spark.createDataFrame(list(uniq.items()), "k BIGINT, w BIGINT")
    got = {
        r["k"]: r["cum_before"]
        for r in global_cumsum(df, "k", "w", n_partitions=width).collect()
    }
    run = 0
    for k in sorted(uniq):
        assert got[k] == run, (k, got[k], run, width)
        run += uniq[k]


@given(
    w=st.integers(min_value=1, max_value=65535),
    h=st.integers(min_value=1, max_value=65535),
    fmt=st.sampled_from(["png", "bmp", "gif", "jpeg"]),
)
@settings(max_examples=200, deadline=None)
def test_image_header_roundtrip_property(w, h, fmt):
    """Any (width, height) must round-trip through encode -> sniff for
    every container format (BMP rows are padded, so cap pixel volume
    to keep payloads small; header parsing is unaffected)."""
    from dags_spark.operators.multimodal import (
        encode_bmp,
        encode_gif,
        encode_jpeg,
        encode_png,
        sniff_image,
    )

    enc = {"png": encode_png, "bmp": encode_bmp, "gif": encode_gif, "jpeg": encode_jpeg}[fmt]
    if fmt in ("png", "bmp") and w * h > 4_000_000:
        h = max(1, 4_000_000 // w)
    assert sniff_image(enc(w, h)) == (fmt, w, h)


# --- bounded-depth BFS vs a pure-Python reference --------------------

_edge = st.tuples(
    st.integers(min_value=0, max_value=7), st.integers(min_value=0, max_value=7)
)


@given(
    edges=st.lists(_edge, min_size=1, max_size=24),
    seeds=st.lists(st.integers(min_value=0, max_value=7), min_size=1, max_size=3),
    depth=st.integers(min_value=0, max_value=4),
)
@_SLOW
def test_bounded_bfs_matches_reference(spark, edges, seeds, depth):
    """Unrolled frontier-join BFS == textbook queue BFS for min-hop
    depth, on adversarial small graphs (self-loops, multi-edges,
    unreachable seeds, depth 0)."""
    from dags_spark.operators.iterative import bounded_bfs

    edf = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node BIGINT")
    got = {
        r["node"]: r["depth"]
        for r in bounded_bfs(edf, sdf, max_depth=depth).collect()
    }

    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    want = {s: 0 for s in seeds}
    frontier = set(seeds)
    for lvl in range(1, depth + 1):
        nxt = {d for s in frontier for d in adj.get(s, ())}
        frontier = {d for d in nxt if d not in want}
        for d in frontier:
            want[d] = lvl
        if not frontier:
            break
    assert got == want


# --- daily linear interpolation vs a pandas reference ----------------

_series = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # day offset
        st.one_of(st.none(), st.integers(min_value=-500, max_value=500)),
    ),
    min_size=1,
    max_size=10,
    unique_by=lambda t: t[0],
)


@given(a=_series, b=_series)
@_SLOW
def test_resample_interp_matches_pandas(spark, a, b):
    """Dual-IGNORE-NULLS-window interpolation == pandas interpolate
    (linear on the interior, flat at both edges), including all-null
    and single-observation keys."""
    from dags_spark.operators.iterative import resample_interp_daily

    rows = [
        (
            key,
            (pd.Timestamp("2024-01-01") + pd.Timedelta(days=off)).to_pydatetime(),
            vc,
        )
        for key, series in ((0, a), (1, b))
        for off, vc in series
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, day TIMESTAMP, vc BIGINT")
    got = {
        (r["user_id"], r["day"]): r["value_interp"]
        for r in resample_interp_daily(df).collect()
    }

    for key, series in ((0, a), (1, b)):
        s = pd.Series(
            {off: (float(vc) if vc is not None else float("nan")) for off, vc in series}
        ).sort_index()
        if s.isna().all():
            want = s  # no observation at all -> NULLs
        else:
            want = (
                s.interpolate(method="index", limit_direction="both") / 100.0
            )
        for off in s.index:
            day = pd.Timestamp("2024-01-01") + pd.Timedelta(days=int(off))
            g = got[(key, day)]
            w = want.loc[off]
            if pd.isna(w):
                assert g is None
            else:
                assert g is not None and abs(g - (w if w == w else 0.0)) < 1e-9, (
                    key, off, g, w,
                )


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    ow=st.integers(min_value=1, max_value=9),
    oh=st.integers(min_value=1, max_value=9),
)
@settings(max_examples=200, deadline=None)
def test_bmp_resize_matches_closed_form(w, h, ow, oh):
    """Pure-Python BMP decode -> nearest-neighbor resize -> encode ->
    decode equals the closed-form pattern sampled at floor(dst*in/out)
    for every (in, out) dimension pair, including identity and
    1-pixel degenerate sizes."""
    from dags_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp_pattern,
        resize_bmp_nearest,
        sniff_image,
    )

    out = resize_bmp_nearest(encode_bmp_pattern(w, h), ow, oh)
    fmt, got_w, got_h = sniff_image(out)
    assert (fmt, got_w, got_h) == ("bmp", ow, oh)
    _, _, img = decode_bmp_pixels(out)
    for y in range(oh):
        sy = (y * h) // oh
        for x in range(ow):
            sx = (x * w) // ow
            assert img[y][x] == (
                (sx * 7 + sy * 13) % 256,
                (sx * 11 + sy * 3) % 256,
                (sx * 5 + sy * 17) % 256,
            )


@given(
    n=st.integers(min_value=1, max_value=400),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=100, deadline=None)
def test_wav_roundtrip_property(n, rate):
    """Every (n_samples, rate) must round-trip encode -> RIFF-walk
    parse with the closed-form samples intact."""
    from dags_spark.operators.multimodal import encode_wav_pattern, parse_wav

    got_rate, chans, bits, samples = parse_wav(encode_wav_pattern(n, rate))
    assert (got_rate, chans, bits, len(samples)) == (rate, 1, 16, n)
    for i in (0, n // 2, n - 1):
        assert samples[i] == ((i * 2654435761) % 65536) - 32768


@given(
    w=st.integers(min_value=1, max_value=6),
    h=st.integers(min_value=1, max_value=6),
    frames=st.integers(min_value=1, max_value=7),
    k=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=100, deadline=None)
def test_y4m_frame_sampling_property(w, h, frames, k):
    """Frame sampling keeps exactly the f % k == 0 indices with the
    closed-form luma checksum, for any even dimensions and stride."""
    from dags_spark.operators.multimodal import (
        encode_y4m_pattern,
        sample_y4m_frames,
    )

    w, h = 2 * w, 2 * h  # 4:2:0 needs even dims
    kept = sample_y4m_frames(encode_y4m_pattern(w, h, frames), k)
    assert [f for f, *_ in kept] == [f for f in range(frames) if f % k == 0]
    for f, gw, gh, cks in kept:
        assert (gw, gh) == (w, h)
        assert cks == sum(
            (x * 3 + y * 5 + f * 7) % 256 for y in range(h) for x in range(w)
        )


# --- fixed-iteration integer PageRank vs a pure-Python reference -----


@given(
    edges=st.lists(_edge, min_size=1, max_size=24),
    iters=st.integers(min_value=1, max_value=3),
)
@_SLOW
def test_pagerank_fixed_matches_reference(spark, edges, iters):
    """Integer-arithmetic PageRank == a literal Python replay of the
    same recurrence (truncating div, per-node share split) on
    adversarial small graphs (self-loops, multi-edges, sinks with
    in-edges only). Nodes = union of endpoints; every node is ranked,
    nodes without in-edges keep only the teleport term."""
    from dags_spark.operators.iterative import pagerank_fixed

    nodes = sorted({v for e in edges for v in e})
    edf = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    ndf = spark.createDataFrame([(n,) for n in nodes], "node BIGINT")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_fixed(edf, ndf, iterations=iters).collect()
    }

    scale, n = 1_000_000_000_000, len(nodes)
    out_deg: dict[int, int] = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    rank = {v: scale // n for v in nodes}
    for _ in range(iters):
        s_in: dict[int, int] = {v: 0 for v in nodes}
        for s, d in edges:
            s_in[d] += rank[s] // out_deg[s]
        rank = {v: (15 * (scale // n)) // 100 + (85 * s_in[v]) // 100 for v in nodes}
    assert got == rank


# --- PCA power iteration: exact replay + true-eigenvector alignment -


def test_pca_power_matches_replay_and_converges(spark, sf_dir):
    """embedding_pca_power == an exact python-int replay of the same
    integer recurrence (trunc div, planted spike), AND the result
    genuinely aligns with the float eigensolver's top eigenvector
    (|cos| >= 0.999) — the planted rank-1 spike gives the spectral
    gap that makes 3 iterations converge rather than merely replay
    arithmetic."""
    import numpy as np

    from dags_spark.registry import all_specs

    got = (
        all_specs()["embedding_pca_power"]
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("pos")["pc1_scaled"]
        .sort_index()
    )

    import duckdb

    con = duckdb.connect()
    df = con.execute(
        f"select vec_id, embedding from read_parquet('{sf_dir}/embeddings.parquet')"
        " order by vec_id"
    ).df()
    ids = df["vec_id"].values
    Q = np.floor(np.stack(df["embedding"].values).astype(np.float64) * 1000).astype(
        object
    )
    n, d = Q.shape
    Qs = Q + np.outer(((ids % 21) - 10) * 3, np.arange(1, d + 1)).astype(object)
    S = Qs.T @ Qs
    s = Qs.sum(axis=0)
    M = n * S - np.outer(s, s)

    def tdiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    v = np.array([1000] * d, dtype=object)
    for _ in range(3):
        w = M @ v
        ws = np.array([tdiv(x, 65536) for x in w], dtype=object)
        vmax = max(max(abs(x) for x in ws), 1)
        v = np.array([tdiv(x * 1000, vmax) for x in ws], dtype=object)

    assert list(got.values) == [int(x) for x in v], "integer recurrence diverged"

    ev, evec = np.linalg.eigh(M.astype(np.float64))
    pc1 = evec[:, -1]
    vf = v.astype(np.float64)
    cos = abs(vf @ pc1) / np.linalg.norm(vf)
    assert cos >= 0.999, f"power iteration did not converge: cos={cos:.4f}"


# --- statistics keys vs direct python references ---------------------


def test_auc_exact_matches_pairwise_reference(spark, sf_dir):
    """Grouped Mann-Whitney AUC == the O(n^2) definitional pairwise
    count (1 per correctly-ordered pair, 0.5 per tie) on the real
    fixture scores."""
    import duckdb

    from dags_spark.operators.textops import STOPWORDS
    from dags_spark.registry import all_specs

    got = (
        all_specs()["stats_auc_exact"].fn(spark, sf_dir).toPandas().iloc[0]
    )
    con = duckdb.connect()
    rows = con.execute(
        f"select text, lang from read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    sw = set(STOPWORDS)
    pos, neg = [], []
    for text, lang in rows:
        s = sum(1 for t in text.split(" ") if t in sw)
        (pos if lang == "en" else neg).append(s)
    num2 = 0
    for p in pos:
        for n in neg:
            if p > n:
                num2 += 2
            elif p == n:
                num2 += 1
    assert int(got["numerator2"]) == num2
    assert int(got["n_pos"]) == len(pos) and int(got["n_neg"]) == len(neg)
    want_auc = round(num2 / (2.0 * len(pos) * len(neg)), 6)
    assert abs(float(got["auc"]) - want_auc) < 1e-9


def test_survival_km_matches_lifelines_style_reference(spark, sf_dir):
    """KM key == a direct python Kaplan-Meier replay (risk sets by
    duration, exp of the ln-sum ~= the product estimator)."""
    import math

    import duckdb

    from dags_spark.registry import all_specs

    got = (
        all_specs()["stats_survival_km"]
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("dur")
        .sort_index()
    )
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH u AS (
          SELECT user_id, CAST(MIN(ts) AS DATE) t0, CAST(MAX(ts) AS DATE) tlast,
                 CAST(MIN(CASE WHEN event_type='error' THEN ts END) AS DATE) terr
          FROM read_parquet('{sf_dir}/events.parquet') GROUP BY user_id
        )
        SELECT date_diff('day', t0, COALESCE(terr, tlast)),
               terr IS NOT NULL FROM u
        """
    ).fetchall()
    subj = sorted(rows)
    n_all = len(subj)
    from collections import Counter

    by_dur_total = Counter(d for d, _ in subj)
    by_dur_events = Counter(d for d, obs in subj if obs)
    surv = 1.0
    seen = 0
    for dur in sorted(by_dur_total):
        n_risk = n_all - seen
        d = by_dur_events.get(dur, 0)
        seen += by_dur_total[dur]
        if d == 0 or d == n_risk:
            continue
        surv *= 1.0 - d / n_risk
        assert int(got.loc[dur, "n_risk"]) == n_risk
        assert int(got.loc[dur, "n_events"]) == d
        # exp(ln-sum) tracks the float product to quantization error
        approx = math.exp(got.loc[dur, "surv_lnsum_nano"] / 1e9)
        assert abs(approx - surv) < 1e-6


def test_bootstrap_ci_brackets_point_estimate(spark, sf_dir):
    """The hash-seeded bootstrap interval must bracket the point
    estimate, be deterministic across runs, and be non-degenerate."""
    from dags_spark.registry import all_specs

    spec = all_specs()["stats_bootstrap_ci"]
    a = spec.fn(spark, sf_dir).toPandas().iloc[0]
    b = spec.fn(spark, sf_dir).toPandas().iloc[0]
    assert a.equals(b), "bootstrap not deterministic"
    assert a["ci_lo"] < a["point_est"] < a["ci_hi"]
    assert a["ci_hi"] - a["ci_lo"] < a["point_est"]  # sane width


def test_count_min_sketch_one_sided_error(spark, sf_dir):
    """CMS guarantee on EVERY key (the registered query emits only the
    top-20): estimate >= exact always, and the average overcount stays
    within the eps*N envelope for width 256 / depth 4."""
    from pyspark.sql import functions as F

    from dags_spark.io import table
    from dags_spark.operators.trainprep import MD5_BYTE

    ev = table(spark, sf_dir, "events")
    depth_cols = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.expr(MD5_BYTE(f"CAST(user_id AS STRING) || ':cms{d}'")).alias(
                    "bucket"
                ),
            )
            for d in range(4)
        ]
    )
    counters = (
        ev.select(F.explode(depth_cols).alias("p"))
        .select("p.d", "p.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    est = (
        exact.select("user_id", "exact_n", F.explode(depth_cols).alias("p"))
        .select("user_id", "exact_n", "p.d", "p.bucket")
        .join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_est"))
        .collect()
    )
    n_stream = ev.count()
    assert est, "no keys estimated"
    overcounts = []
    for r in est:
        assert r.cms_est >= r.exact_n, f"undercount for {r.user_id}"
        overcounts.append(r.cms_est - r.exact_n)
    # eps = e/width ~ 0.0106; the MEAN overcount should sit well
    # inside eps*N (the per-key bound holds w.p. 1 - 1/2^depth)
    assert sum(overcounts) / len(overcounts) <= (2.718 / 256) * n_stream


def test_geohash_prefix_means_proximity(spark):
    """Geohash contract: a shared 5-char prefix bounds the distance
    between two points (cell diagonal ~5-7 km at that precision)."""
    import itertools
    import math

    from pyspark.sql import functions as F

    from dags_spark.operators.geo import geohash_col, haversine_km

    pts = [
        (48.8566, 2.3522), (48.8570, 2.3530), (48.8600, 2.3400),
        (40.7128, -74.0060), (40.7130, -74.0055),
    ]
    df = spark.createDataFrame(pts, "lat DOUBLE, lon DOUBLE").select(
        "lat", "lon", geohash_col(F.col("lat"), F.col("lon"), 5).alias("g5")
    )
    rows = df.collect()
    for a, b in itertools.combinations(rows, 2):
        # exact haversine on the driver for the reference distance
        lat1, lon1, lat2, lon2 = map(
            math.radians, (a.lat, a.lon, b.lat, b.lon)
        )
        h = (
            math.sin((lat2 - lat1) / 2) ** 2
            + math.cos(lat1) * math.cos(lat2) * math.sin((lon2 - lon1) / 2) ** 2
        )
        km = 2 * 6371.0088 * math.asin(math.sqrt(h))
        if a.g5 == b.g5:
            assert km < 7.0, f"same gh5 cell but {km:.1f} km apart"


def test_geohash_boundary_clamp_and_known_values(spark):
    """Round-6 ADVICE regression + spec pin: lat=90/lon=180 clamps to
    the TOP cell ('zzzzzzzz', not wrapping to '00000000'), and the
    encode matches the published geohash of a known landmark."""
    from pyspark.sql import functions as F

    from dags_spark.operators.geo import geohash_col

    pts = spark.createDataFrame(
        [
            (1, 90.0, 180.0),
            (2, -90.0, -180.0),
            (3, 48.8584, 2.2945),  # Eiffel Tower -> u09tunqu
        ],
        "id INT, lat DOUBLE, lon DOUBLE",
    )
    got = {
        r["id"]: r["g"]
        for r in pts.select(
            "id", geohash_col(F.col("lat"), F.col("lon"), 8).alias("g")
        ).collect()
    }
    assert got[1] == "zzzzzzzz"
    assert got[2] == "00000000"
    assert got[3] == "u09tunqu"


def test_geohash_decode_roundtrip_bounds(spark):
    """decode(encode(p)) center is within the half-cell error bound
    of p on both axes, for boundary and interior points. Asserted on
    COLLECTED rows: spark-side filters over decode-on-encode would
    inline the full mask algebra into each predicate (the expression
    is exponential in nesting depth), which is exactly the shape the
    production key avoids by selecting once."""
    from pyspark.sql import functions as F

    from dags_spark.operators.geo import geohash_col, with_geohash_decoded

    pts = spark.createDataFrame(
        [
            (1, 90.0, 180.0),
            (2, -90.0, -180.0),
            (3, 48.8584, 2.2945),
            (4, -33.8568, 151.2153),
            (5, 0.0001, -0.0001),
        ],
        "id INT, la DOUBLE, lo DOUBLE",
    )
    enc = pts.withColumn("gh", geohash_col(F.col("la"), F.col("lo"), 8))
    rows = with_geohash_decoded(enc, "gh", 8).select(
        "la", "lo", "lat", "lon", "lat_err", "lon_err"
    ).collect()
    assert len(rows) == 5
    for r in rows:
        # boundary coords clamp INTO the top cell -> within one full
        # cell (2*err); interior points within the half-cell bound
        lat_tol = 2 * r["lat_err"] if abs(r["la"]) >= 89.0 else r["lat_err"]
        lon_tol = 2 * r["lon_err"] if abs(r["la"]) >= 89.0 else r["lon_err"]
        assert abs(r["la"] - r["lat"]) <= lat_tol, r
        assert abs(r["lo"] - r["lon"]) <= lon_tol, r


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
)
@settings(max_examples=150, deadline=None)
def test_ppm_decode_matches_closed_form(w, h):
    """P6 PPM encode -> full-grammar decode round-trips dims/maxval
    and every RGB sample equals the closed-form pattern — including
    the in-header comment line the encoder always plants."""
    from dags_spark.operators.multimodal import decode_ppm, encode_ppm_pattern

    gw, gh, maxval, body = decode_ppm(encode_ppm_pattern(w, h))
    assert (gw, gh, maxval) == (w, h, 255)
    assert len(body) == w * h * 3
    for y in range(h):
        for x in range(w):
            i = (y * w + x) * 3
            assert body[i : i + 3] == bytes(
                ((x * 3 + y * 7) % 256, (x * 13 + y) % 256, (x + y * 11) % 256)
            )


def test_ppm_decode_rejects_malformed():
    """The netpbm parser fails loudly on the malformed headers a lazy
    split-on-newline reader silently accepts."""
    import pytest as _pytest

    from dags_spark.operators.multimodal import decode_ppm, encode_ppm_pattern

    good = encode_ppm_pattern(4, 3)
    with _pytest.raises(ValueError):
        decode_ppm(b"P5" + good[2:])  # wrong magic
    with _pytest.raises(ValueError):
        decode_ppm(good[:-1])  # truncated payload
    with _pytest.raises(ValueError):
        decode_ppm(b"P6\n4 3\n65535\n" + b"\x00" * 72)  # 16-bit maxval
    # comments between ANY header tokens parse (the grammar, not a
    # happy path): magic, then comment, then w, comment, h, maxval
    hdr = b"P6\n#a\n4\n#b\n3\n255\n"
    w, hgt, mv, body = decode_ppm(hdr + bytes(range(36)))
    assert (w, hgt, mv) == (4, 3, 255) and len(body) == 36


@given(key=st.integers(min_value=0, max_value=10**9))
@settings(max_examples=100, deadline=None)
def test_md5_word_spark_duckdb_agree(key):
    """MD5_WORD's portable SQL yields the identical BIGINT in DuckDB
    as hashlib computes — the cross-engine uniform every weighted-
    sampling / bloom key leans on (the Spark side is pinned by those
    keys' oracle hashes)."""
    import hashlib

    import duckdb

    from dags_spark.operators.trainprep import MD5_WORD

    expect = int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16)
    got = duckdb.sql(f"SELECT {MD5_WORD(str(key))} AS w").fetchone()[0]
    assert got == expect


def _xy2d_ref(n: int, x: int, y: int) -> int:
    """Reference Hilbert xy->d (standard iterative walk)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


@given(
    x=st.integers(min_value=0, max_value=255),
    y=st.integers(min_value=0, max_value=255),
)
@settings(max_examples=200, deadline=None)
def test_hilbert_sql_steps_match_reference(x, y):
    """The 8 unrolled SQL steps of fn_hilbert_key compute the same
    key as the reference Python walk — checked via DuckDB on the
    generated oracle fragments (the Spark side is pinned by the
    key's oracle hash)."""
    import duckdb

    from dags_spark.queries.relational_ext import _HILBERT_S, _hilbert_step_sql

    sql = f"WITH st0 AS (SELECT 0 AS k, {x} AS x, {y} AS y, CAST(0 AS BIGINT) AS d)"
    for i, s in enumerate(_HILBERT_S):
        sql += f", st{i + 1} AS ({_hilbert_step_sql(s)} FROM st{i})"
    sql += " SELECT d FROM st8"
    assert duckdb.sql(sql).fetchone()[0] == _xy2d_ref(256, x, y)


def test_hilbert_locality_beats_zorder_jumps():
    """Adjacent d values on the Hilbert curve are always adjacent
    cells (|dx|+|dy| = 1) — the locality property Z-order lacks
    (its worst jump at 256x256 spans half the grid)."""
    d2xy = {}
    for x in range(64):
        for y in range(64):
            d2xy[_xy2d_ref(64, x, y)] = (x, y)
    for d in range(0, 64 * 64 - 1):
        (x1, y1), (x2, y2) = d2xy[d], d2xy[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_compression_ratio_kernel_semantics():
    """The zlib quality signal orders texts correctly: highly
    repetitive text deflates far below prose-like text, which
    deflates below high-entropy noise — and the kernel's arithmetic
    equals a direct zlib call."""
    import zlib

    import hashlib

    # hash-chain noise: ~log2(90) = 6.5 bits/char, the ceiling for
    # printable text — zlib can't get much under ~0.82 on it
    chain, chunks = b"seed", []
    for _ in range(200):
        chain = hashlib.md5(chain).digest()
        chunks.append("".join(chr(33 + b % 90) for b in chain))
    texts = {
        "rep": "spam " * 400,
        "prose": ("the quick brown fox jumps over the lazy dog and then "
                  "discusses query planning with a catalyst optimizer ") * 20,
        "noise": "".join(chunks),
    }
    ratios = {
        k: len(zlib.compress(v.encode(), 6)) / len(v.encode())
        for k, v in texts.items()
    }
    assert ratios["rep"] < ratios["prose"] < ratios["noise"]
    assert ratios["rep"] < 0.25 and ratios["noise"] > 0.8
