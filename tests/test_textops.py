"""Unit tests for textops / simhash / multimodal / ANN operators:
tiny literal frames for semantics, plus the ANN recall property test
against exact kNN (slow)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from dags_spark.io import table
from dags_spark.operators.multimodal import attach_binary, decode_features
from dags_spark.operators.simhash import simhash, simhash_band_pairs
from dags_spark.operators.similarity import (
    MAX_BLOCK_ROWS,
    ann_lsh_topk,
    blocked_pairs,
    dot,
    exact_topk,
    with_norm,
)
from dags_spark.operators.textops import (
    langid_predict,
    quality_score,
    rolling_fingerprint,
    token_counts,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, lang, "unit", len(t)) for i, (t, lang) in enumerate(rows)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )


def test_token_counts_regex_vs_ws(spark):
    d = _docs(spark, [("hello world 42!", "en"), ("one", "en")])
    got = {r.doc_id: r for r in token_counts(d).collect()}
    assert got[0].ws_tokens == 3
    assert got[0].re_tokens == 4  # hello / world / 42 / !
    assert got[0].n_chars_measured == 15
    assert got[1].ws_tokens == 1 and got[1].re_tokens == 1


def test_quality_score_components(spark):
    d = _docs(spark, [("the cat sat on a mat", "en")])
    r = quality_score(d).collect()[0]
    # 6 tokens; stopwords: the, on?, a -> STOPWORDS has the/a/of/to/in/and/is/an
    # here: "the", "a" -> 2/6; short (<=2): on, a -> 2/6; punct: 0
    assert r.stop_ratio == pytest.approx(2 / 6, abs=1e-6)
    assert r.short_ratio == pytest.approx(2 / 6, abs=1e-6)
    assert r.punct_ratio == 0.0
    assert r.quality == pytest.approx(1 - 0.5 * 2 / 6 - 0.3 * 2 / 6, abs=1e-6)


def test_langid_separates_disjoint_vocab(spark):
    rows = [
        ("der hund und die katze", "de"),
        ("die katze und der vogel", "de"),
        ("the dog and the cat", "en"),
        ("the cat and the bird", "en"),
    ]
    out = {r.doc_id: r.pred_lang for r in langid_predict(_docs(spark, rows)).collect()}
    assert out == {0: "de", 1: "de", 2: "en", 3: "en"}


def test_rolling_fingerprint_matches_python(spark):
    txt = "hello world"
    expect = 0
    for ch in txt:
        expect = (expect * 31 + ord(ch)) % 1_000_000_007
    d = _docs(spark, [(txt, "en")])
    assert rolling_fingerprint(d).collect()[0].fingerprint == expect


def test_simhash_identical_docs_zero_hamming(spark):
    rows = [
        ("spark makes big data small again and again", "en"),
        ("spark makes big data small again and again", "en"),  # dup of 0
        ("completely different words entirely here now", "en"),
    ]
    sig = simhash(_docs(spark, rows))
    sigs = {r.doc_id: r.simhash32 for r in sig.collect()}
    assert sigs[0] == sigs[1]
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_band_pairs(sig).collect()}
    assert pairs.get((0, 1)) == 0


def test_multimodal_decode_features(spark):
    d = _docs(spark, [("abc", "en"), ("", "en")])
    feats = {r.doc_id: r for r in decode_features(attach_binary(d)).collect()}
    assert feats[0].n_bytes == 3
    assert feats[0].first_byte == ord("a")
    assert feats[0].content_md5 == hashlib.md5(b"abc").hexdigest()
    assert feats[0].format == "text/plain"
    assert feats[1].n_bytes == 0 and feats[1].first_byte == -1


def test_sniff_image_parses_all_encoders():
    from dags_spark.operators.multimodal import (
        encode_bmp,
        encode_gif,
        encode_jpeg,
        encode_png,
        sniff_image,
    )

    for enc, fmt in [
        (encode_png, "png"),
        (encode_bmp, "bmp"),
        (encode_gif, "gif"),
        (encode_jpeg, "jpeg"),
    ]:
        assert sniff_image(enc(31, 23)) == (fmt, 31, 23), fmt
        assert sniff_image(enc(1, 1)) == (fmt, 1, 1), fmt
    # large dims cross byte boundaries in every width field
    assert sniff_image(encode_png(70000, 300)) == ("png", 70000, 300)
    assert sniff_image(encode_gif(65535, 2)) == ("gif", 65535, 2)
    assert sniff_image(encode_jpeg(4096, 8191)) == ("jpeg", 4096, 8191)


def test_sniff_image_edge_cases():
    import struct

    from dags_spark.operators.multimodal import (
        encode_bmp,
        encode_jpeg,
        sniff_image,
    )

    assert sniff_image(b"") == ("unknown", -1, -1)
    assert sniff_image(b"not an image at all") == ("unknown", -1, -1)
    # truncated PNG signature
    assert sniff_image(b"\x89PNG\r\n\x1a\n\x00\x00") == ("unknown", -1, -1)
    # top-down BMP stores negative height; parser reports magnitude
    bmp = bytearray(encode_bmp(7, 5))
    bmp[22:26] = struct.pack("<i", -5)
    assert sniff_image(bytes(bmp)) == ("bmp", 7, 5)
    # JPEG with an extra APPn segment before SOF0 still parses
    jpg = encode_jpeg(12, 34)
    extra = b"\xff\xe1" + struct.pack(">H", 8) + b"Exif\x00\x00"
    assert sniff_image(jpg[:2] + extra + jpg[2:]) == ("jpeg", 12, 34)
    # JPEG truncated before any SOF marker
    assert sniff_image(jpg[:6]) == ("unknown", -1, -1)


def test_image_meta_distributed_pipeline(spark):
    from dags_spark.operators.multimodal import attach_fake_images, image_meta

    docs = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    got = {r.doc_id: r for r in image_meta(attach_fake_images(docs)).collect()}
    fmts = ["png", "bmp", "gif", "jpeg"]
    assert len(got) == 50
    for i in range(50):
        r = got[i]
        assert (r.format, r.width, r.height) == (
            fmts[i % 4],
            1 + i % 31,
            1 + i % 23,
        ), i


@pytest.mark.slow
def test_ann_lsh_recall_vs_exact(spark, sf_dir):
    """Sign-LSH kNN (16 tables x 6 bits, multiprobe) must recover >=60%
    of exact global top-10 neighborhoods on the fixture embeddings.
    ``n_bits`` is passed so the LSH body runs: self-sized, a corpus
    this small takes the exact path."""
    emb = table(spark, sf_dir, "embeddings")
    got = {(r.query_id, r.neighbor_id) for r in ann_lsh_topk(emb, n_bits=6, k=10).collect()}
    want = {(r.query_id, r.neighbor_id) for r in exact_topk(emb, k=10).collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.6, f"ANN recall {recall:.3f} below 0.6"


def test_ann_lsh_topk_is_exact_below_block_cap(spark, sf_dir):
    """At or below MAX_BLOCK_ROWS vectors, self-sized ann_lsh_topk is
    the exact per-query top-10, sim and rnk included: compared with
    every ordered pair scored by the JVM cosine expression of the LSH
    verify step, ranked in pandas by (sim desc, neighbor id)."""
    emb = table(spark, sf_dir, "embeddings")
    assert emb.count() <= MAX_BLOCK_ROWS
    got = ann_lsh_topk(emb, k=10).toPandas()

    v = with_norm(emb.select("vec_id", "embedding"), "embedding")
    a = v.select(F.col("vec_id").alias("id_a"), F.col("vec_d").alias("va"), F.col("vnorm").alias("na"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("vec_d").alias("vb"), F.col("vnorm").alias("nb"))
    sim = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    pairs = (
        a.crossJoin(b).filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim")).toPandas()
        .sort_values(["id_a", "sim", "id_b"], ascending=[True, False, True])
    )
    top = pairs.groupby("id_a").head(10).copy()
    top["rnk"] = top.groupby("id_a").cumcount() + 1
    want = {tuple(r) for r in top.itertuples(index=False)}
    assert len(got) == len(want)
    assert {tuple(r) for r in got.itertuples(index=False)} == want


def test_ann_lsh_topk_above_block_cap_plans_lsh(spark, monkeypatch):
    """One row over MAX_BLOCK_ROWS, self-sized ann_lsh_topk still plans
    the sign-LSH body: the bucket_codes UDF and the (tbl, bucket)
    candidate join, with no pair kernel. Plan only: the coded-table pin
    is stubbed so nothing runs but the sizing count."""
    import re

    emb = spark.range(MAX_BLOCK_ROWS + 1).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (j + 1)).cast("float") for j in range(64)]).alias("embedding"),
    )
    monkeypatch.setattr(type(emb), "localCheckpoint", lambda self, eager=True: self)
    plan = ann_lsh_topk(emb, k=10)._jdf.queryExecution().optimizedPlan().toString()
    assert "bucket_codes(" in plan
    assert re.search(r"Join Inner, .*\(tbl#\d+ = tbl#\d+\).*\(bucket#\d+L = bucket#\d+L\)", plan)
    assert "FlatMapGroupsInPandas" not in plan


def test_ngram_jaccard_exact_pairs(spark):
    from dags_spark.operators.dedup import token_ngram_jaccard_pairs

    rows = [
        ("a b c d e f", "en"),      # grams: abc bcd cde def
        ("a b c d e x", "en"),      # grams: abc bcd cde dex -> inter 3, union 5 -> 0.6
        ("z z z q q q", "en"),      # disjoint
        ("a b", "en"),              # too short -> no grams, excluded
    ]
    out = {(r.id_a, r.id_b): r.jaccard for r in
           token_ngram_jaccard_pairs(_docs(spark, rows), threshold=0.5).collect()}
    assert out == {(0, 1): 0.6}


def test_ngram_jaccard_df_ceiling_recall(spark, sf_dir):
    """Posting-list pruning (df ceiling) must keep every >=0.5 pair the
    unpruned run finds on the fixture corpus: a gram common enough to be
    pruned cannot by itself carry a pair over any useful threshold."""
    from dags_spark.operators.dedup import token_ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents")
    unpruned = {
        (r.id_a, r.id_b)
        for r in token_ngram_jaccard_pairs(docs, max_df=None).collect()
    }
    pruned = {
        (r.id_a, r.id_b)
        for r in token_ngram_jaccard_pairs(docs, max_df=1000).collect()
    }
    assert unpruned, "fixture should produce at least one near-dup pair"
    recall = len(pruned & unpruned) / len(unpruned)
    assert recall == 1.0, f"df-ceiling lost pairs: recall {recall:.3f}"


def test_ngram_jaccard_df_ceiling_prunes_hot_grams(spark):
    """A stop-gram present in every doc must not connect otherwise
    dissimilar docs once pruned below the ceiling."""
    from dags_spark.operators.dedup import token_ngram_jaccard_pairs

    # every doc shares the 'the the the' gram; only 0/1 truly overlap
    rows = [
        ("the the the a b c d", "en"),
        ("the the the a b c x", "en"),
        ("the the the p q r s", "en"),
        ("the the the t u v w", "en"),
    ]
    d = _docs(spark, rows)
    with_hot = {
        (r.id_a, r.id_b)
        for r in token_ngram_jaccard_pairs(d, threshold=0.1, max_df=None).collect()
    }
    pruned = {
        (r.id_a, r.id_b)
        for r in token_ngram_jaccard_pairs(d, threshold=0.1, max_df=3).collect()
    }
    assert (2, 3) in with_hot          # connected only via the stop-gram
    assert (2, 3) not in pruned        # pruning cuts the spurious pair
    assert (0, 1) in pruned            # genuine overlap survives


def test_blocked_pairs_hot_block_guard(spark):
    """A block exceeding max_block_rows must fail loudly, not run the
    O(n^2) kernel — for every selection except per_block_topk, unless
    the caller lifts the cap."""
    import pytest as _pytest

    rows = [(i, [float(i), 1.0], "hot") for i in range(20)]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label STRING"
    )
    with _pytest.raises(Exception, match="max_block_rows"):
        blocked_pairs(emb, max_block_rows=10).collect()
    # a cosine threshold selection is no exception
    with _pytest.raises(Exception, match="max_block_rows"):
        blocked_pairs(emb, threshold=0.5, max_block_rows=10).collect()
    # same data passes when the guard is sized for it
    assert blocked_pairs(emb, max_block_rows=32).count() == 20 * 19 // 2
    # the L2 threshold runs over-cap blocks when the cap is lifted:
    # points (i, 1) are |i - j| apart, so 19 neighbours are <= 1.0
    l2 = blocked_pairs(emb, metric="l2", threshold=1.0, max_block_rows=None)
    assert l2.filter("l2 <= 1.0").count() == 19
    # combinations no caller uses are rejected while the plan is built
    for bad in ({"symmetric": True, "per_block_topk": 5}, {"per_query_topk": 5}):
        with _pytest.raises(ValueError, match="blocked_pairs"):
            blocked_pairs(emb, **bad)


@pytest.mark.slow
def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    """IVF-flat kNN (16 cells, 10 probes, 2 Lloyd refinement passes)
    must recover >=85% of exact global top-10 neighborhoods on the
    fixture embeddings (measured 0.871; sampled-centroid baseline
    without refinement sat at 0.727)."""
    from dags_spark.operators.similarity import ann_ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    got = {(r.query_id, r.neighbor_id) for r in ann_ivf_topk(emb, k=10).collect()}
    want = {(r.query_id, r.neighbor_id) for r in exact_topk(emb, k=10).collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.85, f"IVF recall {recall:.3f} below 0.85"


def test_winnow_guarantee_and_pruning(spark):
    """Winnowing promise: two docs sharing a substring >= w+k-1 chars
    share at least one fingerprint; unrelated docs share none."""
    from dags_spark.operators.dedup import winnow_overlap_pairs

    shared = "the quick brown fox jumps over the lazy dog again and again!"
    a = "PREFIX-A " + shared + " SUFFIX-AAAA more filler text here to pad"
    b = "other start " + shared + " completely different ending words"
    c = "z y x w v u t s r q p o n m l k j i h g f e d c b a " * 3
    docs = spark.createDataFrame(
        [(0, a, "en", "u", len(a)), (1, b, "en", "u", len(b)), (2, c, "en", "u", len(c))],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_overlap_pairs(docs, min_shared=1).collect()
    }
    assert (0, 1) in got, "shared >=44-char substring must be detected"
    assert (0, 2) not in got and (1, 2) not in got


@pytest.mark.slow
def test_ann_keys_deterministic_across_runs(spark, sf_dir):
    """The ANN keys are rows-only (no oracle hash), so the global
    determinism sweep skips them — pin double-run determinism here
    explicitly: the numpy cell kernel (IVF) and bucketed pairing
    (LSH) must return identical rows run-to-run (tie handling at the
    kth value, quantized Lloyd means, fixed-seed hyperplanes)."""
    from dags_spark.registry import all_specs

    specs = all_specs()
    for key in ("sim_ann_ivf_topk", "sim_ann_lsh_topk", "sim_ann_pq_topk",
                "sim_ann_ivfpq_topk"):
        fn = specs[key].fn
        a = {tuple(r) for r in fn(spark, sf_dir).collect()}
        b = {tuple(r) for r in fn(spark, sf_dir).collect()}
        assert a == b, f"{key} differs across runs"


@pytest.mark.slow
def test_ann_pq_recall_vs_exact(spark, sf_dir):
    """PQ-ADC kNN (16 subspaces x 32 codes, 5x overfetch, exact
    re-rank) must recover >=90% of exact within-label top-3
    neighborhoods on the fixture embeddings (measured 0.949; random
    vectors are PQ's hardest case)."""
    from dags_spark.operators.similarity import ann_pq_topk, rank_topk

    emb = table(spark, sf_dir, "embeddings")
    got = {
        (r.query_id, r.neighbor_id) for r in ann_pq_topk(emb, k=3).collect()
    }
    exact = rank_topk(blocked_pairs(emb, symmetric=True), 3)
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.9, f"PQ recall {recall:.3f} below 0.9"


@pytest.mark.slow
def test_ann_ivfpq_recall_vs_exact(spark, sf_dir):
    """IVF-PQ composition (coarse cells + in-cell ADC preselect +
    exact re-rank of the 5x overfetch) must stay within a point of
    exact-scoring IVF: >=80% of exact global top-10 recovered
    (measured 0.869 vs IVF's 0.871)."""
    from dags_spark.operators.similarity import ann_ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    got = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(emb, k=10, pq=(16, 32, 5)).collect()
    }
    want = {(r.query_id, r.neighbor_id) for r in exact_topk(emb, k=10).collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.8, f"IVF-PQ recall {recall:.3f} below 0.8"


def test_ivf_cell_count_sublinear():
    """The IVF coarse quantizer must stay model-sized at any corpus
    scale: sqrt growth with a hard cap, never linear in N (the old
    ceil(N/128) rule put 8M centroids on the driver at 1e9 vectors).
    This is the no-collect-scales-with-N guarantee for the ANN keys:
    every driver-resident structure in ann_ivf_topk (seed sample,
    Lloyd per-cell means, broadcast centroids) is O(ivf_cell_count)."""
    import math

    from dags_spark.operators.similarity import ivf_cell_count

    assert ivf_cell_count(500) == 16       # fixture pin (sf0.001/0.01)
    assert ivf_cell_count(2000) == 32      # sf0.1
    assert ivf_cell_count(10**9) == 22361  # sqrt growth: ~11 MB model
    assert ivf_cell_count(10**13) == 65536 # hard cap
    prev = 16
    for n in (10**4, 10**6, 10**8, 10**10):
        c = ivf_cell_count(n)
        assert prev <= c <= 65536
        assert c <= 2 * math.isqrt(n) + 16  # sublinear envelope
        prev = c


def test_ivf_seed_sample_plan_is_take_ordered(spark, sf_dir):
    """Seed-centroid sampling must compile to TakeOrderedAndProject
    (per-partition top-n + single bounded merge), never a global
    range-partitioned sort — the plan-level proof that the seed
    collect is O(n_cells), not O(N)."""
    from dags_spark.operators.similarity import md5_sample

    emb = table(spark, sf_dir, "embeddings")
    plan = (
        md5_sample(emb, "vec_id", ["vec_id", "embedding"], 16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_warc_parse_roundtrip_and_digest():
    """WARC codec: multi-record parse, header fidelity, payload
    slicing by Content-Length, sha1 digest verification, and
    detection of a corrupted body."""
    from dags_spark.operators.warc import build_response_record, parse_warc

    recs = b"".join(
        build_response_record(
            uri=f"http://x.example/doc/{i}",
            record_id=f"urn:example:{i}",
            date="2026-01-01T00:00:00Z",
            html=f"<html><body><p>doc {i} &amp; more</p></body></html>",
        )
        for i in range(5)
    )
    out = parse_warc(recs)
    assert len(out) == 5
    for i, r in enumerate(out):
        assert r["warc-type"] == "response"
        assert r["warc-target-uri"].endswith(f"/doc/{i}")
        assert r["http_status"] == 200
        assert r["digest_ok"] is True
        assert f"doc {i} &amp; more".encode() in r["body"]

    # flip one payload byte: Content-Length slicing still works but
    # the recomputed sha1 must disagree with the recorded digest
    corrupt = bytearray(recs)
    body_at = recs.index(b"doc 3")
    corrupt[body_at] ^= 0xFF
    bad = parse_warc(bytes(corrupt))
    assert [r["digest_ok"] for r in bad] == [True, True, True, False, True]

    # non-WARC bytes are rejected, not misparsed
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bad WARC version"):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n\r\n\r\n")
