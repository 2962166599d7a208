"""Operator unit tests: as-of join edge cases, dedup helpers,
approximate-op tolerance, MinHash recall property test (slow)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dags_spark.io import table
from dags_spark.operators.asof import asof_join
from dags_spark.operators.dedup import exact_dedup, minhash_near_dup_pairs, shingles

from .conftest import union_find_components


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_basic_and_ties(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01T10:00:00")),  # after r2 (same ts) -> matches r2
            (2, 10, _ts("2024-01-01T09:30:00")),  # between r1 and r2 -> r1
            (3, 10, _ts("2024-01-01T08:00:00")),  # before everything -> null
            (4, 99, _ts("2024-01-01T12:00:00")),  # key with no right rows -> null
        ],
        "lid BIGINT, k BIGINT, ts TIMESTAMP",
    )
    right = spark.createDataFrame(
        [
            (101, 10, _ts("2024-01-01T09:00:00"), 1.0),
            (102, 10, _ts("2024-01-01T10:00:00"), 2.0),  # equal-ts: <= matches
        ],
        "rid BIGINT, k BIGINT, ts TIMESTAMP, v DOUBLE",
    )
    out = asof_join(
        left,
        right,
        on=["k"],
        left_ts="ts",
        right_ts="ts",
        right_payload={"rid": "rid", "v": "v"},
    )
    got = {r.lid: (r.rid, r.v) for r in out.collect()}
    assert got[1] == (102, 2.0)
    assert got[2] == (101, 1.0)
    assert got[3] == (None, None)
    assert got[4] == (None, None)
    assert len(got) == 4  # left-preserving


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "aaa"), (1, "aaa"), (2, "bbb")], "doc_id BIGINT, text STRING"
    )
    out = {r.content_md5: r.doc_id for r in exact_dedup(df, "text", "doc_id").collect()}
    assert sorted(out.values()) == [1, 2]


def test_shingles_short_text(spark):
    df = spark.createDataFrame([("ab",)], "text STRING")
    rows = df.select(shingles("text", 5).alias("sh")).collect()
    assert rows[0].sh == ["ab"]  # shorter than k -> single truncated shingle


def test_approx_count_distinct_tolerance(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    exact = li.select("l_orderkey").distinct().count()
    approx = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("a")
    ).collect()[0].a
    assert abs(approx - exact) / exact < 0.05


def test_approx_quantile_tolerance(spark, sf_dir, duck):
    o = table(spark, sf_dir, "orders")
    approx = o.agg(F.percentile_approx("o_totalprice", 0.5, 10000).alias("p")).collect()[0].p
    exact = duck.execute("SELECT quantile_cont(o_totalprice, 0.5) q FROM orders").fetchone()[0]
    assert abs(approx - exact) / exact < 0.05


@pytest.mark.slow
def test_minhash_recall_vs_exact_jaccard(spark, duck, sf_dir):
    """Property: LSH candidate pairs recover >=90% of true pairs with
    exact 5-shingle Jaccard >= 0.6."""
    true_pairs = set(
        map(
            tuple,
            duck.execute(
                """
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(length(text) - 4, 1)),
                   i -> substr(text, i, 5))) AS s
          FROM documents
        )
        SELECT a.doc_id, b.doc_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.6
        """
            ).fetchall(),
        )
    )
    got = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(table(spark, sf_dir, "documents")).collect()
    }
    if not true_pairs:
        pytest.skip("no true near-dup pairs at this SF")
    recall = len(true_pairs & got) / len(true_pairs)
    assert recall >= 0.9, f"recall {recall:.2f} over {len(true_pairs)} true pairs"


def test_connected_components_fixpoint(spark):
    """Hand graph: {1-2, 2-3} one component, {10-11} another, chain
    {20-21, 21-22, 22-23} a third (diameter > 1 forces iteration),
    and node 30 with only a self-loop, which is its own component.
    Then {41-46, 43-42, 44-46, 43-44} alone: its first round leaves
    node 43 under two roots while no root is a child, so a fixpoint
    test that checks only the latter stops there and mislabels 42,
    43 and 44."""
    from dags_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (30, 30)],
        "id_a BIGINT, id_b BIGINT",
    )
    got = {
        (r.id, r.component) for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
        (30, 30),
    }
    two_roots = spark.createDataFrame(
        [(41, 46), (43, 42), (44, 46), (43, 44)], "id_a BIGINT, id_b BIGINT"
    )
    got = {(r.id, r.component) for r in connected_components(two_roots).collect()}
    assert got == {(n, 41) for n in (41, 42, 43, 44, 46)}


def test_asof_forward_picks_earliest_at_or_after(spark):
    from dags_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100), (1, 205), (2, 50)], "k INT, ts INT")
    right = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (1, 300, "c"), (2, 10, "d")],
        "k INT, ts INT, payload STRING",
    )
    out = {
        (r.k, r.ts, r.p)
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            right_payload={"payload": "p"}, direction="forward",
        ).collect()
    }
    # equal ts matches (1,100)->a; (1,205) skips b, takes c; (2,50) has
    # no right row at-or-after -> null
    assert out == {(1, 100, "a"), (1, 205, "c"), (2, 50, None)}


def test_binned_band_join_matches_naive(spark):
    """Binned rewrite produces every |Δ|<=band pair exactly once,
    including band-boundary and bin-boundary pairs."""
    from dags_spark.operators.rangejoin import binned_band_join

    left = spark.createDataFrame(
        [(i, v) for i, v in enumerate([0, 4, 5, 6, 9, 10, 14, 100, -3, -11])],
        "lid long, x long",
    )
    right = spark.createDataFrame(
        [(i, v) for i, v in enumerate([0, 5, 10, 15, 99, 105, -7, -10])],
        "rid long, y long",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in binned_band_join(left, right, "x", "y", band=5).collect()
    )
    naive = sorted(
        (r.lid, r.rid)
        for r in left.crossJoin(right).filter("abs(x - y) <= 5").collect()
    )
    assert got == naive
    assert len(got) == len(set(got))  # exactly once, no dup pairs


def test_hierarchical_rollup_day_equals_direct(spark):
    """Day level derived from hourly partials == day computed directly
    from raw rows (algebraic re-aggregation exactness)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dags_spark.operators.hypertable import hierarchical_rollup

    rows = [
        (
            dt.datetime(2024, 1, 1) + dt.timedelta(hours=h, minutes=m),
            "a" if h % 2 else "b",
            (h * 60 + m) % 7,
        )
        for h in range(0, 30, 3)
        for m in (0, 14, 59)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, k string, v long")
    out = hierarchical_rollup(
        df, "ts", ["k"],
        {"n": ("n", ""), "s": ("sum", "v"), "mx": ("max", "v")},
        ["hour", "day"],
    )
    got_day = {
        (r.bucket, r.k): (r.n, r.s, r.mx)
        for r in out.filter("grain = 'day'").collect()
    }
    direct = {
        (r.bucket, r.k): (r.n, r.s, r.mx)
        for r in df.groupBy(
            F.date_trunc("day", "ts").alias("bucket"), F.col("k")
        )
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    assert got_day == direct
    # hour level covers the same totals
    n_hour = out.filter("grain = 'hour'").agg(F.sum("n")).first()[0]
    assert n_hour == len(rows)


def test_global_cumsum_matches_single_window(spark):
    """Two-phase __pid cumsum == the naive global window, for
    partition counts below, at, and above the row count, with gaps
    in the order key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dags_spark.operators.trainprep import global_cumsum

    rows = [(k, (k * 7919) % 13 + 1) for k in range(0, 300, 3)]  # gaps
    df = spark.createDataFrame(rows, "k long, w long")
    naive = {
        r.k: r.c
        for r in df.withColumn(
            "c",
            F.coalesce(
                F.sum("w").over(
                    Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        ).collect()
    }
    for n_parts in (1, 7, 64, 1000):
        got = {
            r.k: r.cum_before
            for r in global_cumsum(df, "k", "w", n_parts).collect()
        }
        assert got == naive, f"n_partitions={n_parts}"


def test_assign_split_covers_and_validates(spark):
    from dags_spark.operators.trainprep import assign_split

    df = spark.createDataFrame([(i,) for i in range(500)], "id long")
    out = assign_split(df, "id", [("train", 250), ("valid", 253), ("test", 256)])
    counts = {r.split: r.n for r in out.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    assert sum(counts.values()) == 500
    assert counts.get("train", 0) > 400  # ~97.7%
    import pytest as _pytest

    with _pytest.raises(ValueError):
        assign_split(df, "id", [("train", 200)])


def test_contaminated_docs_counts_shared_grams(spark):
    from dags_spark.operators.trainprep import contaminated_docs

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox sleeps"),      # shares 2 grams
            (2, "a totally different document x"),  # clean
            (3, "xy zz"),                           # shorter than n -> no grams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_shared_grams for r in contaminated_docs(corpus, bench).collect()}
    assert got == {1: 2}


def test_binned_band_join_property(spark):
    """Randomized property check (fixed seeds): binned rewrite == naive
    cross-join filter for assorted bands and value ranges, including
    negatives and clustered duplicates."""
    import random

    from dags_spark.operators.rangejoin import binned_band_join

    for seed, band in [(1, 1), (2, 3), (3, 17), (4, 250)]:
        rng = random.Random(seed)
        xs = [rng.randint(-500, 500) for _ in range(120)]
        ys = [rng.randint(-500, 500) for _ in range(90)]
        ys += ys[:10]  # duplicate right values
        left = spark.createDataFrame(list(enumerate(xs)), "lid long, x long")
        right = spark.createDataFrame(list(enumerate(ys)), "rid long, y long")
        got = sorted(
            (r.lid, r.rid)
            for r in binned_band_join(left, right, "x", "y", band=band).collect()
        )
        naive = sorted(
            (r.lid, r.rid)
            for r in left.crossJoin(right)
            .filter(f"abs(x - y) <= {band}")
            .collect()
        )
        assert got == naive, f"seed={seed} band={band}"


def test_sink_sized_files_writes_bounded_count(spark, sf_dir, tmp_path):
    """repartitionByRange(4) must produce exactly 4 data files."""
    import glob
    import os

    out = str(tmp_path / "sized")
    li = table(spark, sf_dir, "lineitem")
    (
        li.repartitionByRange(4, "l_orderkey", "l_linenumber")
        .write.mode("overwrite")
        .parquet(out)
    )
    files = [f for f in glob.glob(os.path.join(out, "*.parquet"))]
    assert len(files) == 4
    assert spark.read.parquet(out).count() == li.count()


def test_hll_sketch_estimates_within_5pct(spark, sf_dir):
    """The HLL rows-key has no SQL oracle; pin its accuracy here:
    every per-type estimate (and the merged ALL row) within 5% of the
    exact distinct count."""
    from dags_spark.registry import all_specs

    est = {
        r["event_type"]: r["approx_users"]
        for r in all_specs()["agg_hll_sketch_union"].fn(spark, sf_dir).collect()
    }
    ev = table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = ev.select("user_id").distinct().count()
    assert set(est) == set(exact)
    for k, e in exact.items():
        assert abs(est[k] - e) <= max(1, 0.05 * e), (k, est[k], e)


def test_read_events_warns_and_repins_non_utc_zone(spark, sf_dir):
    """Reading events under an explicit non-UTC session zone must warn
    about the session-wide UTC repin (not silently shift timestamps),
    and the values must come back identical to a UTC-session read."""
    import warnings

    from dags_spark import io as dio

    baseline = {
        (r.event_id, r.ts)
        for r in table(spark, sf_dir, "events").select("event_id", "ts").collect()
    }

    dio._TABLE_CACHE.clear()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            ev = table(spark, sf_dir, "events")
            assert any("repins spark.sql.session.timeZone" in str(w.message) for w in caught)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        got = {(r.event_id, r.ts) for r in ev.select("event_id", "ts").collect()}
        assert got == baseline
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        dio._TABLE_CACHE.clear()


def test_session_window_exact_gap_merges(spark):
    """Boundary convention pin (empirical): Spark's session_window
    MERGES an event arriving EXACTLY gap after the previous one (its
    window end is inclusive of the next start), so the
    win_session_native oracle must use a STRICT > gap comparison in
    its island construction — a >= would split this case and
    hash-diverge on round-timestamp data."""
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, base),
            (1, base + dt.timedelta(minutes=30)),  # exactly gap after
            (1, base + dt.timedelta(minutes=61)),  # strictly beyond gap
        ],
        "user_id BIGINT, ts TIMESTAMP",
    )
    native = (
        df.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(native) == 2, f"expected 2 sessions, got {native}"
    assert sorted(r["n"] for r in native) == [1, 2]


def test_blocked_pairs_per_block_topk_prunes_and_is_lossless(spark):
    """Round-6 directive 2: the per_block_topk prune provably
    ENGAGES (kernel emits exactly k pair rows per saturated block —
    the bench-path shape) and a global top-k over the pruned stream
    equals the global top-k over all pairs."""
    import random

    from pyspark.sql import functions as F

    from dags_spark.operators.similarity import blocked_pairs

    rng = random.Random(7)
    rows = [
        (b * 100 + i, [rng.uniform(-1, 1) for _ in range(8)], f"blk{b}")
        for b in range(3)
        for i in range(30)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label STRING"
    )
    k = 25
    pruned = blocked_pairs(emb, per_block_topk=k)
    # 30 rows/block -> 435 pairs/block >> k: every block saturates
    assert pruned.count() == 3 * k
    full = blocked_pairs(emb)
    assert full.count() == 3 * (30 * 29 // 2)
    top_pruned = pruned.orderBy(
        F.col("sim").desc(), "id_a", "id_b"
    ).limit(k).collect()
    top_full = full.orderBy(
        F.col("sim").desc(), "id_a", "id_b"
    ).limit(k).collect()
    assert top_pruned == top_full


def test_qoi_roundtrip_and_compression():
    """The QOI encoder/decoder must roundtrip bit-exactly AND the
    fixture pattern must actually COMPRESS (i.e. the decoder is
    exercised through RUN/DIFF/LUMA chunks, not a wall of literal
    RGB ops) — otherwise the multimodal_qoi_decode key would only
    certify the trivial path."""
    from dags_spark.operators.multimodal import (
        decode_qoi_pixels,
        encode_qoi_pattern,
    )

    for (w, h) in [(1, 1), (5, 3), (27, 17), (26, 1), (64, 48)]:
        buf = encode_qoi_pattern(w, h)
        ww, hh, px = decode_qoi_pixels(buf)
        assert (ww, hh) == (w, h)
        i = 0
        for y in range(h):
            for x in range(w):
                exp = (
                    (x // 3 * 5 + y * 17) % 256,
                    (x // 3 * 11 + y * 3) % 256,
                    (x // 3 * 7 + y * 13) % 256,
                )
                assert px[i] == exp, (w, h, x, y)
                i += 1
    big = encode_qoi_pattern(64, 48)
    assert len(big) < 0.5 * 64 * 48 * 3, len(big)


def test_tga_decoder_rejects_unsupported():
    from dags_spark.operators.multimodal import (
        decode_tga_pixels,
        encode_tga_pattern,
    )
    import pytest as _pytest

    buf = bytearray(encode_tga_pattern(4, 4))
    buf[2] = 10  # RLE true-color — not supported, must fail loudly
    with _pytest.raises(ValueError):
        decode_tga_pixels(bytes(buf))
    # bottom-up order (descriptor bit 5 clear) must flip rows
    buf2 = bytearray(encode_tga_pattern(3, 2))
    buf2[17] = 0x00
    _, _, img = decode_tga_pixels(bytes(buf2))
    # encoded top-down: file row 0 is image y=0; read bottom-up it
    # must come back as the LAST image row.
    assert img[1][0] == ((0 * 3 + 0 * 19) % 256, (0 * 13 + 0 * 5) % 256, (0 * 9 + 0 * 11) % 256)


def test_png_roundtrip_filters_and_crc():
    """PNG decode must reproduce the synthesis pattern exactly across
    ALL five scanline filter types (the encoder cycles them by row
    and every fixture image is >= 5 rows), and must REJECT corrupted
    containers rather than decode garbage."""
    import pytest

    from dags_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png_pattern,
    )

    for seed in (0, 7, 123, 999, 4444):
        w, h = 1 + seed % 23, 5 + seed % 13
        buf = encode_png_pattern(w, h, seed)
        gw, gh, px = decode_png_pixels(buf)
        assert (gw, gh) == (w, h) and len(px) == w * h
        i = 0
        for y in range(h):
            for x in range(w):
                assert px[i] == (
                    (seed * 7 + x * 3 + y * 11) % 256,
                    (seed * 13 + x * 5 + y * 2) % 256,
                    (seed * 3 + x * 9 + y * 7) % 256,
                ), (seed, x, y)
                i += 1
    # flip one IDAT byte -> CRC must trip
    buf = bytearray(encode_png_pattern(9, 8, 42))
    idat_at = buf.find(b"IDAT")
    buf[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png_pixels(bytes(buf))
    with pytest.raises(ValueError, match="signature"):
        decode_png_pixels(b"not a png at all")


def test_srt_parser_rejects_malformed():
    import pytest

    from dags_spark.operators.multimodal import encode_srt_pattern, parse_srt

    good = encode_srt_pattern(42)
    cues = parse_srt(good)
    assert cues[0][0] == 1 and all(c[2] > c[1] for c in cues)
    with pytest.raises(ValueError, match="timecode"):
        parse_srt(good.replace(" --> ", " -> ", 1))
    with pytest.raises(ValueError, match="non-sequential"):
        parse_srt(good.replace("1\n00:", "9\n00:", 1))
    with pytest.raises(ValueError, match="short cue"):
        parse_srt("1\n00:00:00,000 --> 00:00:01,000")


def test_delete_mor_lifecycle(spark):
    """MOR deletes: sidecar commit leaves data files in place, read
    applies the mask, appends carry DVs forward, compaction
    materializes them and drops the sidecars, and prior versions
    still time-travel to the undeleted rows."""
    from dags_spark.tablelog import tmp_table

    t = tmp_table("dags_dv_test_")
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    v1 = t.write(df.repartition(2), "append")
    keys = spark.range(0, 100, 10).selectExpr("id AS k")
    v2 = t.delete_mor(spark, keys, ["k"])
    snap = t.snapshot()
    assert snap["files"] == t.snapshot(v1)["files"]  # untouched
    assert len(snap["dvs"]) == 1
    assert t.read(spark).count() == 90
    # time travel to v1 still sees all rows
    assert t.read(spark, version=v1).count() == 100
    # append carries the DV mask forward
    t.write(spark.range(100, 110).selectExpr("id AS k", "id * 2 AS v"), "append")
    assert t.read(spark).count() == 100  # 90 + 10 new
    assert t.snapshot().get("dvs")
    # compact materializes
    t.compact(spark, target_files=1)
    final = t.snapshot()
    assert not final.get("dvs")
    assert t.read(spark).count() == 100
    assert v2 == v1 + 1


def test_avro_container_roundtrip_deterministic():
    """Pure-Python Avro codec: value fidelity across every supported
    type, byte-determinism, both codecs, empty container."""
    from dags_spark.operators.avroio import read_container, write_container

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"], "default": None},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "boolean"},
            {"name": "b", "type": "bytes"},
            {"name": "a", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
        ],
    }
    recs = [
        {
            "k": i - 500,  # negative longs exercise zigzag
            "s": None if i % 3 == 0 else f"s{i}é",
            "d": i * 0.1,  # non-representable doubles must be bit-exact
            "f": bool(i % 2),
            "b": bytes([i % 256]),
            "a": list(range(i % 4)),
            "m": {"x": str(i)} if i % 5 else {},
        }
        for i in range(1000)
    ]
    data = write_container(recs, schema, block_records=128)
    assert data == write_container(recs, schema, block_records=128)
    _, out = read_container(data)
    assert out == recs
    _, out_null = read_container(write_container(recs, schema, codec="null"))
    assert out_null == recs
    assert read_container(write_container([], schema))[1] == []


def test_avro_schema_resolution_rules():
    """Reader-schema resolution: name match, writer-only drop, reader
    default fill, int->long promotion; missing+no-default raises."""
    import pytest as _pytest

    from dags_spark.operators.avroio import read_container, write_container

    writer = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "v", "type": "int"},
            {"name": "gone", "type": "string"},
        ],
    }
    reader = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "v", "type": "long"},
            {"name": "added", "type": "string", "default": "dflt"},
        ],
    }
    data = write_container([{"k": 1, "v": 2, "gone": "x"}], writer)
    _, out = read_container(data, reader_schema=reader)
    assert out == [{"k": 1, "v": 2, "added": "dflt"}]
    bad = dict(reader, fields=reader["fields"][:2] + [{"name": "nodefault", "type": "string"}])
    with _pytest.raises(ValueError, match="no default"):
        read_container(data, reader_schema=bad)


def test_avro_interop_with_jvm_library(spark, tmp_path):
    """Spec certification: the official Apache Avro JVM library
    (avro-1.12.1.jar on Spark's classpath) reads our containers and
    we read its (deflate) output — both directions value-exact."""
    import json

    from dags_spark.operators.avroio import read_container, write_container

    jvm = spark._jvm
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"], "default": None},
            {"name": "d", "type": "double"},
        ],
    }
    recs = [
        {"k": i, "s": None if i % 3 == 0 else f"s{i}", "d": i * 0.3} for i in range(200)
    ]
    ours = tmp_path / "ours.avro"
    ours.write_bytes(write_container(recs, schema))

    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(str(ours)), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    got = []
    while reader.hasNext():
        r = reader.next()
        s = r.get("s")
        got.append({"k": r.get("k"), "s": None if s is None else str(s), "d": r.get("d")})
    reader.close()
    assert got == recs

    sch = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    theirs = tmp_path / "theirs.avro"
    writer.create(sch, jvm.java.io.File(str(theirs)))
    for r in recs:
        jrec = jvm.org.apache.avro.generic.GenericData.Record(sch)
        for k, v in r.items():
            jrec.put(k, v)
        writer.append(jrec)
    writer.close()
    _, out = read_container(theirs.read_bytes())
    assert out == recs


def test_mp4_box_walker_and_integrity():
    """ISO BMFF codec: build -> parse fidelity (duration, fixed-point
    dims, run-length stts, stsz totals), stco landing inside mdat,
    and corruption detection (truncation raises; stsz/mdat mismatch
    flips sizes_ok)."""
    import struct

    import pytest as _pytest

    from dags_spark.operators.isobmff import build_mp4, parse_mp4

    mp4 = build_mp4(
        track_id=9,
        timescale=600,
        sample_durations=[40, 40, 20, 20, 20],
        sample_sizes=[30, 31, 32, 33, 34],
        width=1280,
        height=720,
    )
    meta = parse_mp4(mp4)
    assert meta["brand"] == "isom"
    assert (meta["timescale"], meta["duration"]) == (600, 140)
    trk = meta["tracks"][0]
    assert (trk["track_id"], trk["width"], trk["height"]) == (9, 1280, 720)
    assert (trk["n_samples"], trk["stts_duration"], trk["sample_bytes"]) == (5, 140, 160)
    assert meta["sizes_ok"]

    with _pytest.raises(ValueError, match="bad box size"):
        parse_mp4(mp4[:-10])

    # grow the recorded size of sample 0 by one byte: boxes still
    # parse, but sum(stsz) no longer matches the mdat payload
    stsz_at = mp4.index(b"stsz")
    first_size_at = stsz_at + 4 + 4 + 8  # type, ver/flags, fixed+count
    bad = bytearray(mp4)
    bad[first_size_at : first_size_at + 4] = struct.pack(">I", 31)
    assert not parse_mp4(bytes(bad))["sizes_ok"]


def test_jpeg_codec_roundtrip_properties():
    """Baseline JPEG: deterministic encode, bounded lossy error on
    smooth content, padding path for non-multiple-of-8 dims, real
    compression, and non-baseline/garbage rejection."""
    import numpy as np
    import pytest as _pytest

    from dags_spark.operators.jpegcodec import (
        decode_jpeg_pixels,
        encode_jpeg_pixels,
        pattern_rgb,
    )

    img = pattern_rgb(24, 16, seed=3)
    data = encode_jpeg_pixels(img, quality=85)
    assert data == encode_jpeg_pixels(img, quality=85)
    assert len(data) < img.size  # beats raw RGB on smooth content
    out = decode_jpeg_pixels(data)
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 16

    odd = pattern_rgb(21, 13, seed=9)
    oout = decode_jpeg_pixels(encode_jpeg_pixels(odd, quality=90))
    assert oout.shape == odd.shape
    assert np.abs(oout.astype(int) - odd.astype(int)).max() <= 16

    with _pytest.raises(ValueError, match="no SOI"):
        decode_jpeg_pixels(b"\x00\x01\x02")
    # progressive SOF2 must be rejected, not misdecoded
    prog = bytearray(data)
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    with _pytest.raises(ValueError, match="non-baseline"):
        decode_jpeg_pixels(bytes(prog))


def test_jpeg_interop_with_jvm_imageio(spark, tmp_path):
    """Codec certification against the JVM's javax.imageio, both
    directions: ImageIO decodes our 4:4:4 files within +/-2 of our
    own decoder (T.81 allows per-implementation IDCT rounding), and
    ImageIO's 4:2:0 output decodes through us within the looser
    bound the chroma-upsampling filter difference implies."""
    import numpy as np

    from dags_spark.operators.jpegcodec import (
        decode_jpeg_pixels,
        encode_jpeg_pixels,
        pattern_rgb,
    )

    jvm = spark._jvm
    img = pattern_rgb(32, 24, seed=5)
    ours_path = tmp_path / "ours.jpg"
    ours_path.write_bytes(encode_jpeg_pixels(img, quality=85))

    bimg = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(str(ours_path)))
    assert (bimg.getWidth(), bimg.getHeight()) == (32, 24)
    iio = np.zeros((24, 32, 3), dtype=int)
    for y in range(24):
        for x in range(32):
            p = bimg.getRGB(x, y)
            iio[y, x] = [(p >> 16) & 255, (p >> 8) & 255, p & 255]
    ours = decode_jpeg_pixels(ours_path.read_bytes()).astype(int)
    assert np.abs(iio - ours).max() <= 2
    assert np.abs(iio - img.astype(int)).max() <= 16

    b2 = jvm.java.awt.image.BufferedImage(
        32, 24, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for y in range(24):
        for x in range(32):
            r, g, b = (int(v) for v in img[y, x])
            b2.setRGB(x, y, (r << 16) | (g << 8) | b)
    theirs_path = tmp_path / "theirs.jpg"
    jvm.javax.imageio.ImageIO.write(b2, "jpg", jvm.java.io.File(str(theirs_path)))
    theirs = decode_jpeg_pixels(theirs_path.read_bytes()).astype(int)
    assert theirs.shape == (24, 32, 3)
    assert np.abs(theirs - img.astype(int)).max() <= 48
    assert np.abs(theirs - img.astype(int)).mean() <= 8


def test_ebml_webm_walker_and_integrity():
    """EBML codec: VINT framing (ids keep the marker, sizes strip
    it), header/track/cluster fidelity, block byte accounting net of
    SimpleBlock headers, float duration, truncation rejection."""
    import pytest as _pytest

    from dags_spark.operators.ebml import build_webm, parse_webm

    w = build_webm(
        track_number=3,
        codec_id="V_VP9",
        width=640,
        height=360,
        timescale_ns=1_000_000,
        duration_ticks=4000.0,
        cluster_block_sizes=[[100, 50], [75], [20, 5, 30]],
    )
    m = parse_webm(w)
    assert m["doc_type"] == "webm"
    assert (m["timescale_ns"], m["duration_ticks"]) == (1_000_000, 4000.0)
    assert m["tracks"] == [
        {"number": 3, "codec": "V_VP9", "width": 640, "height": 360}
    ]
    assert (m["n_clusters"], m["n_blocks"], m["block_bytes"]) == (3, 6, 280)

    with _pytest.raises(ValueError, match="truncated element"):
        parse_webm(w[:-5])

    # a VINT size wider than minimal must still parse (spec-legal):
    # rewrite DocType's 1-byte size 0x84 as the 2-byte form 0x4004
    at = w.index(b"\x42\x82") + 2
    assert w[at] == 0x84
    legal = w[:at] + b"\x40\x04" + w[at + 1 :]
    # outer sizes now disagree by one byte -> only check it walks the
    # header; rebuild instead with a padded header element
    from dags_spark.operators.ebml import EBML_ID, el, walk_ebml

    hdr = el(0x4282, b"webm")
    padded = bytes([hdr[0], hdr[1], 0x40, hdr[2] - 0x80]) + hdr[3:]
    doc = el(EBML_ID, padded)
    ids = [eid for eid, _, _ in walk_ebml(doc, 5, len(doc))]
    assert ids == [0x4282]
    del legal


def test_blocked_pairs_tiled_topk_matches_fold_path(spark):
    """per_block_topk over blocks past max_block_rows (the tiled-GEMM
    prune, which ignores the cap) must yield the same per-label top-40
    under (sim desc, id_a, id_b) as the unpruned all-pairs output,
    where every pair's sim is the exact fold."""
    import math

    import pytest as _pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dags_spark.operators.similarity import blocked_pairs

    rows = []
    for i in range(600):
        # smooth irrational-step pattern: no duplicate vectors, no
        # structured sim ties
        v = [math.sin(i * 1.7 + j * 0.9) + 0.01 * i for j in range(16)]
        rows.append((i, "L" if i % 2 else "R", v))
    df = spark.createDataFrame(rows, "vec_id INT, label STRING, embedding ARRAY<DOUBLE>")

    def top40(pairs):
        w = Window.partitionBy("label").orderBy(F.col("sim").desc(), "id_a", "id_b")
        ranked = pairs.withColumn("r", F.row_number().over(w)).filter("r <= 40")
        return sorted((r.label, r.id_a, r.id_b, r.sim) for r in ranked.collect())

    pruned = blocked_pairs(df, per_block_topk=40, max_block_rows=128)
    full = blocked_pairs(df, max_block_rows=8192)
    assert full.count() == 2 * (300 * 299 // 2)
    got = top40(pruned)
    assert len(got) == 80 and got == top40(full)

    # all-pairs consumers (no topk) must still refuse over-cap blocks
    with _pytest.raises(Exception, match="max_block_rows"):
        blocked_pairs(df, max_block_rows=128).collect()


def test_connected_components_star_matches_propagation(spark):
    """Large-star/small-star CC must reach the (id -> min id)
    fixpoint of a union-find reference on (a) a seeded random graph
    with several components and (b) a 400-node PATH — the
    adversarial-diameter case star contraction exists for (label
    propagation would need 400 rounds there; the star rounds are
    capped at 30 and must still converge). With the cap at 2 rounds
    the path has no fixpoint, and the operator must raise rather
    than return a partial labelling."""
    from dags_spark.operators.dedup import connected_components

    def comp_map(df):
        return {r.id: r.component for r in df.collect()}

    # (a) deterministic pseudo-random graph: 3 disjoint blobs + loners
    edges = []
    for base in (0, 1000, 2000):
        for i in range(60):
            a = base + (i * 17) % 60
            b = base + (i * 31 + 7) % 60
            if a != b:
                edges.append((a, b))
    rand_df = spark.createDataFrame(edges, "id_a long, id_b long")
    star = comp_map(connected_components(rand_df))
    assert star == union_find_components(edges) and star, (
        "random-graph fixpoint diverged from union-find"
    )

    # (b) the long path: 0-1-2-...-400
    path_df = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "id_a long, id_b long"
    )
    star_p = comp_map(connected_components(path_df))
    assert set(star_p.values()) == {0}, "path did not contract to root 0"
    assert len(star_p) == 401
    with pytest.raises(RuntimeError, match="no fixpoint after 2 rounds"):
        connected_components(path_df, max_iter=2)


def test_blocked_pairs_per_query_topk_lossless_and_bounded(spark):
    """per_query_topk must (a) emit <= ~k rows per query out of the
    kernel instead of O(block) — the round-9 shuffle-volume fix for
    sim_knn_per_query — and (b) leave the downstream per-query
    row_number top-k EXACTLY what the unpruned pair stream yields."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dags_spark.operators.similarity import blocked_pairs

    k = 5
    rows = []
    for i in range(120):
        v = [math.sin(i * 1.3 + j * 0.7) + 0.02 * i for j in range(8)]
        rows.append((i, "L" if i % 3 else "R", v))
    df = spark.createDataFrame(
        rows, "vec_id INT, label STRING, embedding ARRAY<DOUBLE>"
    )

    pruned = blocked_pairs(df, symmetric=True, per_query_topk=k)
    # kernel output is <= k + margin rows per query; with smooth
    # non-tied sims the margin admits nobody, so exactly k (or the
    # whole block when it is smaller than k).
    per_q = pruned.groupBy("id_a").agg(F.count(F.lit(1)).alias("n")).collect()
    assert per_q and all(r.n <= k for r in per_q)

    def knn(pairs):
        w = Window.partitionBy("id_a").orderBy(F.col("sim").desc(), "id_b")
        return sorted(
            (r.id_a, r.id_b, r.rnk, r.sim)
            for r in pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .collect()
        )

    full = blocked_pairs(df, symmetric=True)
    assert knn(pruned) == knn(full)


def test_gif_lzw_codec_roundtrip():
    """GIF LZW layer: encode->decode identity on adversarial streams
    (long single-color runs exercising cScSc + dictionary-overflow
    clears), full-file roundtrip, truncation rejection."""
    import pytest as _pytest

    from dags_spark.operators.giflzw import (
        decode_gif_pixels,
        encode_gif_pixels,
        lzw_decode,
        lzw_encode,
    )

    for idx in (
        [0] * 5000,
        [i % 4 for i in range(10000)],
        [(i * i) % 3 for i in range(4097)],
        [1],
        [],
    ):
        assert lzw_decode(lzw_encode(idx, 2), 2) == idx

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    frames = [[(p * 7 + f) % 4 for p in range(16 * 8)] for f in range(3)]
    gif = encode_gif_pixels(16, 8, pal, frames)
    assert gif == encode_gif_pixels(16, 8, pal, frames)
    d = decode_gif_pixels(gif)
    assert (d["width"], d["height"]) == (16, 8)
    assert d["palette"][:4] == pal
    assert d["frames"] == frames

    with _pytest.raises(ValueError, match="truncated|trailer|unknown"):
        decode_gif_pixels(gif[:-4])


def test_gif_interop_with_jvm_imageio(spark, tmp_path):
    """LZW is lossless, so parity with the JVM GIF reader is
    BIT-EXACT: every pixel of every frame, palette-mapped, must
    match our decoder's output."""
    from dags_spark.operators.giflzw import encode_gif_pixels

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    frames = [[(p * 7 + f) % 4 for p in range(16 * 8)] for f in range(2)]
    path = tmp_path / "t.gif"
    path.write_bytes(encode_gif_pixels(16, 8, pal, frames))

    jvm = spark._jvm
    stream = jvm.javax.imageio.ImageIO.createImageInputStream(
        jvm.java.io.File(str(path))
    )
    reader = jvm.javax.imageio.ImageIO.getImageReaders(stream).next()
    reader.setInput(stream)
    assert reader.getNumImages(True) == 2
    for f in range(2):
        img = reader.read(f)
        for y in range(8):
            for x in range(16):
                p = img.getRGB(x, y)
                got = ((p >> 16) & 255, (p >> 8) & 255, p & 255)
                assert got == pal[frames[f][y * 16 + x]], (f, x, y)


def test_png_codec_roundtrip_and_rejections():
    """PNG is lossless: encode->decode is exact for every colour
    type, every scanline filter (the default cycles all five), and
    across the deliberate two-chunk IDAT split. Corruption fails
    loud and typed, same contract as the JPEG/GIF codecs."""
    import pytest as _pytest

    from dags_spark.operators.pngcodec import (
        decode_png_pixels,
        encode_png_pixels,
    )

    def pattern(w, h, ch, seed):
        return [
            bytes((x * 3 + y * 7 + c * 11 + seed) % 256
                  for x in range(w) for c in range(ch))
            for y in range(h)
        ]

    for ct, ch in ((0, 1), (2, 3), (6, 4)):
        rows = pattern(9, 7, ch, seed=ct)
        dec = decode_png_pixels(encode_png_pixels(9, 7, rows, color_type=ct))
        assert (dec["width"], dec["height"], dec["color_type"]) == (9, 7, ct)
        assert dec["rows"] == rows

    # every filter type individually (a decoder with one broken
    # filter passes the cycling default only by luck)
    rows = pattern(16, 4, 3, seed=9)
    for f in range(5):
        dec = decode_png_pixels(
            encode_png_pixels(16, 4, rows, filters=[f] * 4)
        )
        assert dec["rows"] == rows, f"filter {f}"

    good = encode_png_pixels(6, 5, pattern(6, 5, 3, seed=1))
    cases = {
        "bad signature": b"Z" + good[1:],
        "CRC mismatch": good[:20] + bytes([good[20] ^ 1]) + good[21:],
        "truncated": good[:-8],
    }
    for name, bad in cases.items():
        with _pytest.raises(ValueError):
            decode_png_pixels(bad)
    # interlace / palette / 16-bit rejected explicitly
    import struct as _struct
    import zlib as _zlib

    def chunk(tag, payload):
        return (_struct.pack(">I", len(payload)) + tag + payload
                + _struct.pack(">I", _zlib.crc32(tag + payload) & 0xFFFFFFFF))

    sig = good[:8]
    for ihdr in (
        _struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1),   # Adam7
        _struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0),  # 16-bit
        _struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0),   # palette
    ):
        bad = (sig + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", _zlib.compress(b"\x00" * 13))
               + chunk(b"IEND", b""))
        with _pytest.raises(ValueError):
            decode_png_pixels(bad)


def test_png_interop_with_jvm_imageio(spark, tmp_path):
    """PNG is lossless, so parity with the JVM PNG reader is
    BIT-EXACT in both directions: ImageIO reproduces every pixel of
    our all-five-filter files, and an ImageIO-written PNG decodes
    through us pixel-identically."""
    from dags_spark.operators.pngcodec import (
        decode_png_pixels,
        encode_png_pixels,
    )

    w, h = 21, 13
    rows = [
        bytes(v for x in range(w)
              for v in ((x * 3 + y * 7) % 256, (x * 5 + y * 2) % 256,
                        (x + y * 11) % 256))
        for y in range(h)
    ]
    path = tmp_path / "ours.png"
    path.write_bytes(encode_png_pixels(w, h, rows))

    jvm = spark._jvm
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(str(path)))
    assert (img.getWidth(), img.getHeight()) == (w, h)
    for y in range(h):
        for x in range(w):
            p = img.getRGB(x, y)
            got = ((p >> 16) & 255, (p >> 8) & 255, p & 255)
            want = tuple(rows[y][x * 3 : x * 3 + 3])
            assert got == want, (x, y)

    b2 = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for y in range(h):
        for x in range(w):
            r, g, b = rows[y][x * 3 : x * 3 + 3]
            b2.setRGB(x, y, (r << 16) | (g << 8) | b)
    theirs_path = tmp_path / "theirs.png"
    jvm.javax.imageio.ImageIO.write(
        b2, "png", jvm.java.io.File(str(theirs_path))
    )
    dec = decode_png_pixels(theirs_path.read_bytes())
    assert (dec["width"], dec["height"]) == (w, h)
    if dec["color_type"] == 2:
        got_rows = dec["rows"]
    else:  # ImageIO may write RGBA; strip alpha
        got_rows = [
            bytes(v for x in range(w) for v in r[x * 4 : x * 4 + 3])
            for r in dec["rows"]
        ]
    assert got_rows == rows


def test_adpcm_parity_with_audioop_and_container():
    """IMA ADPCM core certified BIT-EXACT against CPython's audioop
    C implementation in both directions (same nibble stream from
    lin2adpcm, same samples from adpcm2lin, same carried state);
    the WAV 0x0011 container round-trips with exact block headers
    and loud typed failures."""
    import math
    import struct
    import warnings

    import pytest as _pytest

    from dags_spark.operators.adpcm import (
        decode_wav_adpcm,
        encode_wav_adpcm,
        ima_decode,
        ima_encode,
        pack_nibbles,
        unpack_nibbles,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    n = 2000
    samples = [
        int(8000 * math.sin(i / 20.0)) + ((i * 37) % 100) - 50
        for i in range(n)
    ]
    raw = b"".join(struct.pack("<h", s) for s in samples)

    frag, state = audioop.lin2adpcm(raw, 2, None)
    nibs, pred, idx = ima_encode(samples, 0, 0)
    assert pack_nibbles(nibs, low_first=False) == frag
    assert state == (pred, idx)

    dec_theirs, _ = audioop.adpcm2lin(frag, 2, None)
    dec_ours, _, _ = ima_decode(unpack_nibbles(frag, low_first=False), 0, 0)
    assert [
        struct.unpack_from("<h", dec_theirs, 2 * i)[0] for i in range(n)
    ] == dec_ours

    wav = encode_wav_adpcm(samples, 16000, samples_per_block=505)
    out = decode_wav_adpcm(wav)
    assert out["n_samples"] == n
    assert out["sample_rate"] == 16000
    # block headers carry sample 0 of each block EXACTLY
    for b in range(0, n, 505):
        assert out["samples"][b] == max(-32768, min(32767, samples[b]))

    with _pytest.raises(ValueError):
        decode_wav_adpcm(b"RIFX" + wav[4:])
    with _pytest.raises(ValueError):
        decode_wav_adpcm(wav[:40])
    with _pytest.raises(ValueError):
        encode_wav_adpcm(samples, 16000, samples_per_block=4)  # even
    # wrong format tag fails loudly
    from dags_spark.operators.multimodal import encode_wav_pattern

    with _pytest.raises(ValueError):
        decode_wav_adpcm(encode_wav_pattern(64, 8000))


# ---------------------------------------------------------- round 9

def test_pcap_roundtrip_and_truncation():
    """Both endiannesses round-trip; every truncation class raises a
    typed ValueError (the from-spec codec contract)."""
    import pytest

    from dags_spark.operators.pcapio import read_pcap, write_pcap

    pkts = [
        (1700000000, 123456, b"\x01\x02\x03\x04"),
        (1700000001, 999999, bytes(range(64))),
    ]
    for be in (False, True):
        blob = write_pcap(pkts, big_endian=be)
        cap = read_pcap(blob)
        assert cap["big_endian"] is be
        assert [(t, u, o) for t, u, o, _ in cap["packets"]] == [
            (t, u, len(p)) for t, u, p in pkts
        ]
        assert [d for *_x, d in cap["packets"]] == [p for *_y, p in pkts]
        # swapped-magic file parsed on the "wrong" machine still reads
        # identically — the byte-order mark does its job
        assert read_pcap(blob)["packets"] == cap["packets"]
    blob = write_pcap(pkts)
    with pytest.raises(ValueError, match="truncated global"):
        read_pcap(blob[:20])
    with pytest.raises(ValueError, match="truncated record header"):
        read_pcap(blob[: 24 + 8])
    with pytest.raises(ValueError, match="truncated packet data"):
        read_pcap(blob[: 24 + 16 + 2])
    with pytest.raises(ValueError, match="bad magic"):
        read_pcap(b"\x00" * 24)
    # snaplen truncates the CAPTURED bytes but keeps orig_len honest
    cap = read_pcap(write_pcap([(1, 0, bytes(100))], snaplen=10))
    ts, us, orig, data = cap["packets"][0]
    assert orig == 100 and len(data) == 10
    # ts_sec outside uint32 fails the typed-ValueError contract too
    # (round-10 ADVICE fix: used to escape as struct.error)
    with pytest.raises(ValueError, match="ts_sec"):
        write_pcap([(-1, 0, b"x")])
    with pytest.raises(ValueError, match="ts_sec"):
        write_pcap([(2**32, 0, b"x")])
    write_pcap([(2**32 - 1, 0, b"x")])  # boundary stays accepted


def test_mbox_roundtrip_quoting_and_errors():
    """mboxrd quoting is reversible for bodies containing 'From ' and
    '>From ' lines; framing and header folding survive; malformed
    input raises typed ValueError."""
    import pytest

    from dags_spark.operators.mboxio import read_mbox, write_mbox

    body = "From the top\nplain line\n>From quoted already\n>>From deeper\nend"
    msgs = [
        (
            "a@x",
            [("Subject", "one"), ("X-Long", "first part")],
            body,
        ),
        ("b@y", [("Subject", "two")], "short"),
    ]
    blob = write_mbox(msgs)
    got = read_mbox(blob)
    assert len(got) == 2
    assert got[0]["sender"] == "a@x"
    assert got[0]["body"] == body  # mboxrd: lossless round-trip
    assert got[1]["body"] == "short"
    # header continuation folding
    folded = b"From c@z Thu Jan  1 00:00:00 1970\nSubject: a\n very long\n\nbody\n\n"
    m = read_mbox(folded)[0]
    assert dict(m["headers"])["Subject"] == "a very long"
    with pytest.raises(ValueError, match="postmark"):
        read_mbox(b"not a mailbox\n")
    with pytest.raises(ValueError, match="malformed header"):
        read_mbox(b"From a@x now\nbadheader\n\nbody\n\n")
