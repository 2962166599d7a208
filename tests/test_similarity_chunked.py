"""Chunk-pair split of blocked_pairs: the chunked kernel must be
output-equivalent to the unchunked one at the consumer level, for
both metrics; the L2 threshold must keep every pair its rounded
filter passes at the margin edge; and the masked-diagonal cut must
never resurrect self-pairs (the k-th edge when a tile holds fewer
than k real pairs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dags_spark.operators.similarity import blocked_pairs


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _topk(df, k=100):
    return (
        df.orderBy(F.col("sim").desc(), "id_a", "id_b")
        .limit(k)
        .toPandas()
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("m", [2, 5])
def test_chunked_topk_equals_unchunked(emb, m):
    base = _topk(blocked_pairs(emb, per_block_topk=100))
    chunked = _topk(blocked_pairs(emb, per_block_topk=100, n_chunks=m))
    assert base.equals(chunked)


@pytest.mark.parametrize(
    "metric, t, m",
    [
        pytest.param("cosine", 0.4, 3, id="cosine-3"),
        pytest.param("l2", 1.2, 2, id="l2-2"),
        pytest.param("l2", 1.2, 3, id="l2-3"),
    ],
)
def test_chunked_threshold_identical_pair_set(emb, metric, t, m):
    col = "sim" if metric == "cosine" else "l2"
    passes = F.col(col) >= t if metric == "cosine" else F.col(col) <= t

    def pair_set(n_chunks):
        out = blocked_pairs(emb, metric=metric, threshold=t, n_chunks=n_chunks)
        return (
            out.filter(passes)
            .toPandas()
            .sort_values(["id_a", "id_b"])
            .reset_index(drop=True)
        )

    base = pair_set(None)
    assert len(base)
    assert base.equals(pair_set(m))


def test_l2_threshold_margin_edge(spark):
    """Pairs at float32 distances 1.2-3e-7, 1.2+4e-7 and 1.2+6e-7:
    the first two round (6dp HALF_UP) to 1.2 and must pass the
    consumer's ``l2 <= 1.2`` filter, the third rounds to 1.200001 and
    must not. The pairs sit far from the origin so the GEMM identity
    ||a||^2 + ||b||^2 - 2ab cancels large terms at the cut."""
    import numpy as np

    rows = []
    for i, d in enumerate((1.2 - 3e-7, 1.2 + 4e-7, 1.2 + 6e-7)):
        a = np.zeros(8, dtype=np.float32)
        a[1], a[2] = 4.0, 100.0 * (i + 1)
        b = a.copy()
        b[0] = np.float32(d)
        assert abs(float(np.linalg.norm(b.astype(np.float64) - a)) - d) < 5e-8
        rows += [(2 * i, "x", a.tolist()), (2 * i + 1, "x", b.tolist())]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    out = blocked_pairs(df, metric="l2", threshold=1.2, max_block_rows=None)
    got = {(r.id_a, r.id_b): r.l2 for r in out.filter(F.col("l2") <= 1.2).collect()}
    assert got == {(0, 1): 1.2, (2, 3): 1.2}


def test_no_self_pairs_when_tiles_smaller_than_k(spark):
    """Chunked tiny blocks: every (c,c) tile holds far fewer than k
    pairs, so the per-tile k-th cut lands on a mask cell — the
    regression this pins is those cells surviving the cut and coming
    back from the exact recompute as sim=1.0 self-pairs."""
    rows = [(i, "x", [float((i * 7 + j) % 5) for j in range(8)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    out = blocked_pairs(
        df, per_block_topk=100, n_chunks=4
    ).toPandas()
    assert (out["id_a"] != out["id_b"]).all()
    # 12 vectors -> 66 unordered pairs, all emitted (k > pairs)
    assert len(out.drop_duplicates(["id_a", "id_b"])) == 66


def test_adaptive_chunks_gate(spark, emb):
    """Round 11: the chunk split is gated on corpus size. Small corpora
    (sf0.1's 2k vectors) must stay one-task-per-block (m=1 — the r10
    unconditional split was the round's only code-linked bench
    regression); corpora past ~64k estimated rows chunk at
    isqrt(defaultParallelism)."""
    import math

    from dags_spark.operators.similarity import adaptive_chunks

    # sf0.1 embeddings: ~0.8 MB -> ~3k estimated rows -> no chunking
    assert adaptive_chunks(emb) == 1
    # a scan whose optimizer stats exceed the gate must chunk: union
    # the scan until est rows (sizeInBytes/256) clears 8*8192
    big = emb
    for _ in range(7):  # 2^7 = 128x -> ~100 MB stats
        big = big.union(big)
    expected = max(1, math.isqrt(spark.sparkContext.defaultParallelism))
    assert adaptive_chunks(big) == expected
