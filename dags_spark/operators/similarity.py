"""Vector similarity operators over ArrayType(FloatType) embeddings.

Exact cosine via JVM-side higher-order functions: elements are cast
to double BEFORE any arithmetic (float math then widening would drift
vs the DuckDB oracle), dot products run through ``zip_with`` +
``aggregate`` (sequential, whole-stage-codegen'd — no Python
boundary), and similarities are rounded to 6dp for cross-engine
hashing.

Scale path: the label column is the blocking key — candidate pairs
are generated per label block (an equi-join, shuffle on label), never
all-pairs. For 100 TB you swap `label` for an IVF/LSH bucket id
produced upstream (see operators.dedup for the LSH machinery) and
this same pairing code applies; norms are precomputed once per vector
so each pair costs one fused dot product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ivf_cell_count(n: int) -> int:
    """Sublinear coarse-quantizer sizing: ~sqrt(N/2) cells, clamped to
    [16, 65536]. The sqrt rule is the standard IVF sizing (cells and
    cell occupancy grow together, so probe work is O(sqrt(N)) either
    way); the cap bounds the trained model absolutely. The centroid
    table is the only thing the driver ever holds, so its footprint is
    O(min(sqrt(N), 65536) * dim) — ~11 MB at a billion 64-dim vectors,
    model-sized regardless of corpus scale. (The earlier ceil(N/128)
    rule grew the model LINEARLY with the corpus: 8M centroids at 1e9
    vectors — a driver-bound design, replaced by this.)"""
    import math

    return max(16, min(65536, math.ceil(math.sqrt(max(int(n), 1) / 2))))


def md5_sample(df: DataFrame, id_col: str, cols: list[str], n: int) -> DataFrame:
    """Deterministic uniform sample: the ``n`` rows with smallest
    md5(id). orderBy+limit compiles to TakeOrderedAndProject (per-
    partition top-n, then a single n-row merge on the driver) — NOT a
    global sort — so the sample is bounded-cost at any corpus size.
    Asserted by test_ivf_seed_sample_plan_is_take_ordered."""
    return (
        df.select(*cols)
        .withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(n)
    )


# Largest group the within-block pair kernel runs by default (the
# blocked_pairs hot-block guard); ann_lsh_topk answers exactly at or
# below it.
MAX_BLOCK_ROWS = 8192


def adaptive_chunks(df: DataFrame, max_block_rows: int = MAX_BLOCK_ROWS) -> int:
    """Scale-gated chunk count for ``blocked_pairs(n_chunks=...)``.

    Round 10 derived ``n_chunks = isqrt(defaultParallelism)``
    UNCONDITIONALLY, which at local[32] turned a 2,000-vector corpus
    into 150 Python kernel tasks plus a 5x explode of the vector
    column into the shuffle — the only code-linked bench regression
    of that round (driver q6 0.281 -> 0.764 s, and inversely scaled:
    faster at 8 cores than 32). The chunk split only pays when the
    per-block GEMM dominates task scheduling + the m-way shuffle
    duplication, i.e. on big corpora.

    Gate (driver-side, NO job — the bench times plan build): the
    optimizer's scan statistic ``sizeInBytes`` (= file bytes for a
    parquet scan) estimates corpus rows at a deliberately LOW
    ~256 B/row (the fixture measures ~400 B/row: 64xfloat32 + id +
    label + metadata), overestimating rows so the gate errs toward
    chunking, which is always lossless (see blocked_pairs). Chunk
    only when the corpus exceeds 8*max_block_rows estimated rows —
    below that, even spread over just 8 blocks no block reaches the
    hot-block cap and one-task-per-block kernels finish in
    milliseconds; above it (the sf10/sf100 tiers: 200k/2M vectors)
    blocks are 10k+ rows and the split keeps all cores busy (the
    round-10 sf100 3x win, 1234 -> 411 s). Stats lookup failure falls
    back to chunking ON — at unknown scale the bounded-parallelism
    failure mode (9/32 cores for the whole kernel stage) costs more
    than the small-corpus overhead."""
    import math

    spark = df.sparkSession
    m = max(1, math.isqrt(spark.sparkContext.defaultParallelism))
    if m <= 1:
        return 1
    try:
        est_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        est_rows = est_bytes // 256
    except Exception:
        return m
    return m if est_rows > 8 * max_block_rows else 1


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def with_norm(df: DataFrame, vec_col: str, out_vec: str = "vec_d", out_norm: str = "vnorm") -> DataFrame:
    """Precompute the double-cast vector and its L2 norm once per row."""
    d = as_double(F.col(vec_col))
    return df.withColumn(out_vec, d).withColumn(out_norm, norm(F.col(out_vec)))


def chunk_pairs(emb: DataFrame, id_col: str, m: int) -> DataFrame:
    """Attach the chunk-pair grouping columns of ``blocked_pairs``:
    ``__ck`` is the row's chunk (xxhash64 of its id, mod m) and the
    row is copied once into each of the m unordered chunk pairs
    ``(__ca, __cb)`` that contain ``__ck``. Group (c, c) then holds
    chunk c alone and runs its triangle; group (ca, cb), ca < cb, runs
    the bipartite cross. Every unordered pair of a block lands in
    exactly one group, at the cost of shuffling the row m times."""
    ck = F.pmod(F.xxhash64(F.col(id_col)), F.lit(m)).cast("int")
    sides = [
        F.struct(
            F.least("__ck", F.lit(x)).alias("__ca"),
            F.greatest("__ck", F.lit(x)).alias("__cb"),
        )
        for x in range(m)
    ]
    return emb.withColumn("__ck", ck).select("*", F.inline(F.array(*sides)))


def _metric(name: str):
    """The pair metric of ``blocked_pairs``: its GEMM score (higher is
    closer for both), its exact sequential fold, its GEMM and exact
    margin floors for a cut t, and its output column. Built inside a
    function so the kernel closure pickles it by value: Python workers
    never need to import this package."""

    def fold(m: np.ndarray, ia: np.ndarray, ib: np.ndarray, term) -> np.ndarray:
        """Sequential fold of term(a_i, b_i) over dimensions, vectorized
        over pairs — the left-to-right order of F.aggregate and DuckDB
        list_sum, so every sum is bit-identical to the oracle's."""
        acc = np.zeros(len(ia))
        for i in range(m.shape[1]):
            acc = acc + term(m[ia, i], m[ib, i])
        return acc

    class Cosine:
        """GEMM over unit rows; exact = dot fold over the product of
        the fold norms."""

        col, sign = "sim", 1.0

        def __init__(self, m: np.ndarray):
            self.m = m
            idx = np.arange(len(m))
            self.norms = np.sqrt(fold(m, idx, idx, np.multiply))
            self.unit = m / self.norms[:, None]

        def gemm(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
            return self.unit[a] @ self.unit[b].T

        def exact(self, ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
            return fold(self.m, ia, ib, np.multiply) / (self.norms[ia] * self.norms[ib])

        @staticmethod
        def gemm_floor(t):
            return t - 1.01e-6

        @staticmethod
        def exact_floor(t):
            return t - 1e-6

    class L2:
        """Score = negated distance. GEMM on ||a||^2 + ||b||^2 - 2ab;
        exact = one sqrt of the squared-difference fold."""

        col, sign = "l2", -1.0

        def __init__(self, m: np.ndarray):
            self.m = m
            self.sq = np.einsum("ij,ij->i", m, m)

        def gemm(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
            m = self.m
            return -(self.sq[a][:, None] + self.sq[b][None, :] - 2.0 * (m[a] @ m[b].T))

        def exact(self, ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
            return -np.sqrt(fold(self.m, ia, ib, lambda x, y: np.square(x - y)))

        @staticmethod
        def gemm_floor(t):
            return -((t + 1e-6) ** 2 + 1e-9)

        @staticmethod
        def exact_floor(t):
            return -(t + 1.01e-6)

    return {"cosine": Cosine, "l2": L2}[name]


_TILE = 2048


def blocked_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    metric: str = "cosine",
    symmetric: bool = False,
    max_block_rows: int | None = MAX_BLOCK_ROWS,
    threshold: float | None = None,
    per_block_topk: int | None = None,
    per_query_topk: int | None = None,
    n_chunks: int | None = None,
    round_dp: int | None = 6,
) -> DataFrame:
    """Exact same-block vector pairs — columns: id_a, id_b,
    <block_col>, and ``sim`` (cosine) or ``l2`` (Euclidean distance),
    rounded JVM-side to ``round_dp`` places (``F.round`` HALF_UP ==
    DuckDB ROUND). ``round_dp=None`` emits the raw doubles for
    consumers that quantize on their own finer lattice.

    Execution: one ``applyInPandas`` numpy kernel per block (or
    chunk-pair group). Candidates are chosen on tiled float64 GEMM
    scores (2048-wide tiles, bounded memory at any block size); the
    survivors are recomputed with the exact sequential fold the
    oracle uses (loop over dimensions, vectorize over pairs; each
    float32 product is exact in float64), and every final decision
    is taken on those exact values — so each emitted double is
    bit-identical to DuckDB's ``list_sum``. Internally both metrics
    score "higher is closer" (L2 is negated).

    Axes — every combination below runs one tile loop, one keep rule
    (``score >= floor``) and one exact re-rank:

    metric: ``"cosine"`` or ``"l2"``. Each metric has a GEMM floor
    and an exact floor for a cut t:

    - cosine: GEMM ``t - 1.01e-6``, exact ``t - 1e-6``. A sim can
      round (6dp HALF_UP moves a value by <= 5e-7) to >= t only if
      raw >= t - 5e-7, inside the exact floor; the GEMM score differs
      from the fold by < ~1e-13 (same 64 exact products, normalized
      inputs), so the extra 1e-8 keeps every pair the exact cut keeps.
    - l2: GEMM ``-((t + 1e-6)^2 + 1e-9)`` on the negated squared
      distance, exact ``-(t + 1.01e-6)`` on the negated distance. A
      pair rounds to ``l2 <= t`` only if raw l2 <= t + 5e-7; the
      1e-9 slack on d^2 dwarfs the < ~1e-10 gap between the GEMM
      identity and the difference fold.

    selection (at most one of):

    - none: every pair (GEMM cut keeps all).
    - ``threshold=t``: cosine keeps sim >= t, l2 keeps l2 <= t, each
      down to its metric's floors; the consumer's filter on the
      rounded values still decides, so the result is identical while
      the Arrow transfer carries only the matches.
    - ``per_block_topk=k`` (cosine, unordered): each group keeps its
      k best pairs plus every pair within the floor of the k-th. A
      globally top-k pair is top-k in its own block (and chunk-pair
      group) under the same total order, and two pairs can swap
      6dp-rounded order only when their raw sims differ by < 1e-6 —
      so a consumer's global rounded top-k over the pruned stream
      equals its top-k over all pairs.
    - ``per_query_topk=k`` (cosine, ``symmetric=True``): the same cut
      per query row (id_a), for per-query kNN consumers.

    The margins also cover ``round_dp=None`` consumers, which quantize
    at 1e-9 or 1e-12: two rows can swap quantized order only when
    their raw values differ by less than that quantum.

    pairing: unordered pairs (id_a < id_b) within the group — the
    block's upper triangle, or, when the group carries ``__ca !=
    __cb`` (see ``chunk_pairs``), the bipartite pairs between rows
    with ``__ck == __ca`` and rows with ``__ck == __cb``.
    ``symmetric=True`` emits both directions of every pair instead.
    ``n_chunks=m > 1`` splits each block into m(m+1)/2 chunk-pair
    groups so kernel parallelism is not bounded by the number of
    blocks; every pair lands in one group, so thresholds are
    unchanged and per-group top-k is a superset of the block top-k.
    Derive m from ``adaptive_chunks``. Callers may also attach the
    ``__ck/__ca/__cb`` columns themselves to pair two sides of a
    block (sim_label_separation's cross-label pairs).

    Pairs whose score is NaN (a zero vector under cosine) are never
    emitted. Combinations no caller needs raise at plan build.

    Hot-block guard: unless the selection is ``per_block_topk``
    (whose output stays ~k rows per group at any size), a group over
    ``max_block_rows`` raises with sub-bucketing advice instead of
    silently running an O(n^2) kernel on a skewed block key.
    ``max_block_rows=None`` lifts the cap.
    """
    met_cls = _metric(metric)
    if (n_chunks or 1) > 1:
        emb = chunk_pairs(emb.select(id_col, block_col, vec_col), id_col, n_chunks)
    chunked = "__ca" in emb.columns
    picked = [x for x in (threshold, per_block_topk, per_query_topk) if x is not None]
    for bad, why in (
        (len(picked) > 1, "pick one of threshold, per_block_topk, per_query_topk"),
        (symmetric and per_block_topk is not None, "per_block_topk ranks unordered pairs"),
        (per_query_topk is not None and not symmetric, "per_query_topk needs symmetric=True"),
        (metric == "l2" and picked and threshold is None, "metric='l2' has no top-k selection"),
        (symmetric and chunked, "symmetric pairs cannot be chunked"),
    ):
        if bad:
            raise ValueError(f"blocked_pairs: {why}")
    k = per_block_topk or per_query_topk
    id_type = emb.schema[id_col].dataType.simpleString()
    blk_type = emb.schema[block_col].dataType.simpleString()
    out_schema = (
        f"id_a {id_type}, id_b {id_type}, {block_col} {blk_type}, {met_cls.col} double"
    )

    def floor(x: np.ndarray, metric_floor) -> np.ndarray | float:
        """Keep floor for scores x (2-D: rows are queries): the
        threshold, or the k-th best score over all of x
        (per_block_topk) or per row (per_query_topk), lowered by the
        metric's margin. -inf (keep all) while there are <= k scores;
        NaN mask cells sort last and never pass."""
        if threshold is not None:
            return metric_floor(threshold)
        if per_block_topk is not None:
            x = x.reshape(-1)
        if k is None or x.shape[-1] <= k:
            return -np.inf
        kth = -np.partition(-x, k - 1, axis=-1)[..., k - 1 : k]
        return np.fmax(metric_floor(kth), -np.inf)

    def tiles(pdf: pd.DataFrame):
        """(rows, cols, masked cells) GEMM tiles of one group's pairing."""
        a = b = np.arange(len(pdf))
        if "__ca" in pdf.columns and pdf["__ca"].iat[0] != pdf["__cb"].iat[0]:
            ck = pdf["__ck"].to_numpy()
            a = np.flatnonzero(ck == pdf["__ca"].iat[0])
            b = np.flatnonzero(ck == pdf["__cb"].iat[0])
        for i0 in range(0, len(a), _TILE):
            rows = a[i0 : i0 + _TILE]
            if symmetric:  # whole rows: the per-query cut sees every neighbour
                yield rows, b, (np.arange(len(rows)), rows)
                continue
            for j0 in range(i0 if a is b else 0, len(b), _TILE):
                cols = b[j0 : j0 + _TILE]
                diag = a is b and i0 == j0  # mask the diagonal + lower triangle
                yield rows, cols, np.tril_indices(len(rows), 0, len(cols)) if diag else None

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        if max_block_rows is not None and n > max_block_rows and per_block_topk is None:
            raise ValueError(
                f"blocked_pairs: block {pdf[block_col].iloc[0]!r} has {n} rows "
                f"(> max_block_rows={max_block_rows}); the within-block kernel "
                f"is O(n^2) — split hot blocks upstream (sub-bucket on an LSH "
                f"band / finer IVF cells) or raise max_block_rows explicitly. "
                f"(Unordered top-k consumers scale past the cap automatically "
                f"via the tiled-GEMM path.)"
            )
        met = met_cls(np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]))
        ia_l, ib_l, g_l = [np.empty(0, np.intp)], [np.empty(0, np.intp)], [np.empty(0)]
        for rows, cols, masked in tiles(pdf):
            s = met.gemm(rows, cols)
            if masked is not None:
                s[masked] = np.nan
            # cut the raw tile first; indices are built for survivors only
            keep = np.flatnonzero(s >= floor(s, met.gemm_floor))
            qi, j = np.divmod(keep, len(cols))
            ia_l.append(rows[qi])
            ib_l.append(cols[j])
            g_l.append(s.ravel()[keep])
        ia, ib, g = np.concatenate(ia_l), np.concatenate(ib_l), np.concatenate(g_l)
        if per_block_topk is not None:  # the group's GEMM cut across tiles
            keep = np.flatnonzero(g >= floor(g, met.gemm_floor))
            ia, ib = ia[keep], ib[keep]
        if not symmetric:  # index order == id order on the sorted frame
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        x = met.exact(ia, ib)
        if per_query_topk is None:
            cut = floor(x, met.exact_floor)
        else:  # floor() per query, whose survivor counts differ
            o = np.lexsort((-x, ia))
            ia, ib, x = ia[o], ib[o], x[o]
            lo, hi = np.searchsorted(ia, ia), np.searchsorted(ia, ia, "right")
            kth = x[np.minimum(lo + k - 1, len(x) - 1)]
            cut = np.where(hi - lo > k, met.exact_floor(kth), -np.inf)
        keep = np.flatnonzero(x >= cut)
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                block_col: pdf[block_col].iloc[0],
                met_cls.col: met_cls.sign * x[keep],
            }
        )

    keys = [block_col] + (["__ca", "__cb"] if chunked else [])
    cols = [id_col, block_col, vec_col] + (["__ck", "__ca", "__cb"] if chunked else [])
    pairs = emb.select(*cols).groupBy(*keys).applyInPandas(kernel, schema=out_schema)
    col = met_cls.col
    val = F.col(col) if round_dp is None else F.round(col, round_dp)
    return pairs.select("id_a", "id_b", block_col, val.alias(col))


def rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (id_a, id_b, sim) candidates, ties broken by
    the smaller id_b: columns query_id, neighbor_id, sim, rnk."""
    w = Window.partitionBy("id_a").orderBy(F.col("sim").desc(), F.col("id_b"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id"), "sim", "rnk")
    )


def exact_topk(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", k: int = 10
) -> DataFrame:
    """Exact per-query cosine top-k over the whole corpus, run as ONE
    ``blocked_pairs(symmetric=True, per_query_topk=k)`` block, so the
    corpus must fit the kernel's ``MAX_BLOCK_ROWS`` cap. Same columns
    as ``ann_lsh_topk``; ``sim`` is the sequential fold the JVM path
    computes, rounded to 6 dp."""
    one = emb.select(id_col, vec_col, F.lit(0).alias("__blk"))
    pairs = blocked_pairs(one, id_col, vec_col, "__blk", symmetric=True, per_query_topk=k)
    return rank_topk(pairs, k)


def ann_lsh_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 16,
    n_bits: int | None = None,
    k: int = 10,
    multiprobe: bool = True,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Approximate k-NN via random-hyperplane (sign-LSH) bucketing —
    the scale path when label blocks (or any exact partitioner) are
    unavailable.

    Exact below the one-block cap: with ``n_bits=None`` the operator
    counts the corpus anyway, and when it holds at most
    ``MAX_BLOCK_ROWS`` vectors it returns ``exact_topk`` instead of
    building the index — an exact answer is a valid ANN answer
    (recall 1.0), same columns, ``sim`` the same 6-dp fold. At these
    sizes the sign-LSH candidates cover most pairs and are verified
    with JVM array dot products, so the one GEMM block wins. Measured
    warm, best of 3, 4 vCPUs, generator seed 7:

    ======== ======== ========== ===============
    vectors  LSH      exact      LSH recall@10
    ======== ======== ========== ===============
    500      2.21 s   0.33 s     0.987
    2000     8.39 s   0.45 s     0.959
    5000     15.85 s  0.98 s     0.791
    8000     40.81 s  1.82 s     0.812
    ======== ======== ========== ===============

    Above the cap, or whenever ``n_bits`` is passed, the LSH body runs:

    1. ``n_tables`` independent ``n_bits``-bit sign-LSH codes per
       vector, computed in ONE Arrow-batched pandas UDF (a numpy
       matmul against fixed seeded hyperplanes — the realistic way to
       run projections at scale; 64 JVM-side literal dot products per
       row would bloat codegen instead).
    2. candidate pairs = query probes ⋈ index codes on (table,
       bucket) — an equi-join, ~linear in corpus size. With
       ``multiprobe`` the query side also probes each bucket's
       radius-1 Hamming neighbors (bit flips, JVM-side XOR), lifting
       per-table collision odds from p^b to ~p^b + b·p^(b-1)(1-p)
       without extra tables — the standard multi-probe LSH
       memory/recall trade.
    3. exact cosine on candidates (JVM-side), row_number top-k per
       query. Approximate by design -> rows check + recall property
       test vs exact kNN.

    Tuning for scale: recall is set by (n_tables, n_bits, multiprobe)
    against the corpus' similarity profile; bucket count (2^n_bits)
    must grow with corpus size so candidate sets stay ~constant —
    with a FIXED bit width, average occupancy n/2^bits grows linearly
    and candidate count grows ~n² (measured: 23s @5k, 208s @20k on
    the 20x near-dup stress tier). ``n_bits=None`` (default)
    therefore self-sizes to ceil(log2(n / 16)) clamped to [6, 16] —
    ~16 vectors per bucket at any corpus size, the FAISS-style
    heuristic — at the cost of one metadata-cheap count() job (the
    same count that picks the exact path).

    Hot-bucket ceiling (``max_bucket``, the LSH twin of the minhash
    ceiling in operators/dedup.py): a (table, bucket) cell holding a
    large fraction of the corpus — mass near-duplication, or a
    degenerate projection — contributes O(cell²) candidate pairs by
    itself and funnels them through one join partition. Cells over
    the ceiling are dropped via a broadcast anti-join BEFORE pairing;
    with 16 independent tables (+multiprobe) a true neighbor pair
    still collides elsewhere with high probability, so recall
    degrades gracefully while the worst-case join cost stays bounded
    at n_tables * max_bucket² (the 20x near-dup stress tier in
    tools/scale_smoke.py pins exactly this regime).
    """
    import math as _math
    import random as _random

    from pyspark.sql.types import ArrayType, LongType

    if n_bits is None:
        n_vec = emb.count()
        if n_vec <= MAX_BLOCK_ROWS:
            return exact_topk(emb, id_col, vec_col, k)
        n_bits = min(16, max(6, _math.ceil(_math.log2(max(n_vec, 2) / 16))))

    rng = _random.Random(42)
    planes = np.array(
        [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_tables * n_bits)]
    )  # (tables*bits, dim), fixed seed -> deterministic
    weights = (1 << np.arange(n_bits)).astype("int64")

    @F.pandas_udf(ArrayType(LongType()))
    def bucket_codes(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        bits = (m @ planes.T) > 0  # (batch, tables*bits)
        bits = bits.reshape(len(m), n_tables, n_bits)
        codes = (bits * weights).sum(axis=2)  # (batch, tables)
        return pd.Series(list(codes))

    base = with_norm(emb.select(id_col, vec_col), vec_col)
    # Round 11 (guide §2.4/§5, the winnow_overlap_pairs treatment):
    # the coded table feeds THREE consumers — the hot-bucket census,
    # the probe side and the index side of the candidate join — and
    # without lineage pinning Catalyst re-evaluated the whole
    # scan -> projection -> sign-LSH UDF subtree for each (6 parquet
    # scans / 6 ArrowEvalPython nodes in the round-11 before-plan).
    # localCheckpoint is INTRA-RUN only: one row per vector
    # (vec_d, vnorm, codes), recomputed from parquet every invocation.
    coded = base.withColumn(
        "codes", bucket_codes(as_double(F.col(vec_col)))
    ).localCheckpoint()
    buckets = coded.select(
        id_col, "vec_d", "vnorm", F.posexplode("codes").alias("tbl", "bucket")
    )
    if max_bucket is not None:
        hot = (
            buckets.groupBy("tbl", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("tbl", "bucket")
        )
        buckets = buckets.join(F.broadcast(hot), ["tbl", "bucket"], "left_anti")
    # Spread candidate generation across the cluster explicitly: the
    # downstream equi-join is CPU-bound (one 64-dim exact cosine per
    # candidate), not byte-bound, so when the scan arrives in few
    # partitions (one parquet file) — or the index side broadcasts —
    # the whole pairing would otherwise run in those few map tasks.
    # Same rationale as the pre-verify repartition in operators/dedup.
    n_parts = int(
        emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    buckets = buckets.repartition(n_parts, "tbl", "bucket")
    if multiprobe:
        probes = F.array(
            F.col("bucket"), *[F.expr(f"bucket ^ {1 << j}") for j in range(n_bits)]
        )
        a_src = buckets.select(
            id_col, "vec_d", "vnorm", "tbl", F.explode(probes).alias("bucket")
        )
    else:
        a_src = buckets
    a = a_src.select(
        F.col(id_col).alias("id_a"), F.col("vec_d").alias("_va"),
        F.col("vnorm").alias("_na"), "tbl", "bucket",
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), F.col("vec_d").alias("_vb"),
        F.col("vnorm").alias("_nb"), "tbl", "bucket",
    )
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6).alias("sim"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return rank_topk(cand, k)


# DuckDB oracle fragments mirroring the exact same arithmetic.
SQL_VEC_D = "list_transform({v}, x -> CAST(x AS DOUBLE))"
SQL_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"
)
SQL_NORM = "sqrt(list_sum(list_transform({a}, x -> x * x)))"


def _lloyd_refine(
    emb: DataFrame,
    cents: "np.ndarray",
    vec_col: str,
    iters: int,
) -> "np.ndarray":
    """Fixed-iteration spherical k-means refinement of IVF centroids,
    computed DISTRIBUTIVELY and DETERMINISTICALLY:

    - assignment: one numpy matmul per Arrow batch against the current
      centroids (same kernel as query probing);
    - update: per-(cell, dim) means via posexplode + hash-agg, with
      components quantized FLOOR(x*1e8) to BIGINT so the partial sums
      are exact under any shuffle/aggregation order (float addition is
      non-associative; quantized integer addition is not) — the same
      trick the exact vector-centroid keys use;
    - only n_cells packed array rows (the (n_cells × dim) aggregate)
      ever reach the driver, the same model-sized footprint as the
      fitted centroids themselves — and n_cells is sublinear in the
      corpus (ivf_cell_count). Empty cells keep their previous
      centroid.
    """
    from pyspark.sql.types import IntegerType

    def make_nearest_cell(cur: "np.ndarray"):
        @F.pandas_udf(IntegerType())
        def nearest_cell(vecs: pd.Series) -> pd.Series:
            m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            m = m / np.sqrt((m * m).sum(axis=1, keepdims=True))
            sims = m @ cur.T
            return pd.Series(np.argmax(sims, axis=1).astype("int32"))

        return nearest_cell

    for _ in range(iters):
        nearest_cell = make_nearest_cell(cents)

        # two-stage distributed reduce: exact quantized per-(cell,dim)
        # partial sums, then per-cell packing into one array row — so
        # exactly n_cells MODEL rows reach the driver, never a
        # row-scale or dim-exploded result.
        stats = (
            with_norm(emb, vec_col)
            .select(
                nearest_cell(F.col(vec_col)).alias("cell"),
                F.posexplode(
                    F.transform("vec_d", lambda x: x / F.col("vnorm"))
                ).alias("pos", "v"),
            )
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.floor(F.col("v") * 1e8).cast("long")).alias("qs"),
                F.count(F.lit(1)).alias("n"),
            )
            .groupBy("cell")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("pos", "qs", "n"))
                ).alias("dims")
            )
            .collect()
        )
        new = cents.copy()
        for r in stats:
            vec = np.zeros(cents.shape[1])
            for d in r["dims"]:
                vec[d["pos"]] = (d["qs"] / 1e8) / d["n"]
            nrm = np.sqrt((vec * vec).sum())
            if nrm > 0:
                new[r["cell"]] = vec / nrm
        cents = new
    return cents


def ann_ivf_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    n_probe: int = 10,
    k: int = 10,
    lloyd_iters: int = 2,
    max_cell: int = 4096,
    pq: tuple[int, int, int] | None = None,
) -> DataFrame:
    """Approximate kNN via IVF-flat: a data-adaptive coarse quantizer
    (vs ann_lsh_topk's data-oblivious hyperplanes).

    1. initial centroids = the ``n_cells`` vectors with smallest
       ``md5(vec_id)`` — a deterministic uniform sample — then
       ``lloyd_iters`` fixed spherical-k-means refinement passes
       (_lloyd_refine: distributed assignment + exact quantized
       per-cell means, deterministic by construction). Centroids are
       collected to the driver and broadcast — constant-size
       (cells × dim), the one legitimate collect in this module, same
       pattern as shipping a fitted ML model.
    2. every vector is assigned to its nearest centroid by cosine
       (one numpy matmul per Arrow batch); queries additionally probe
       their ``n_probe`` nearest cells.
    3. scoring runs as ONE numpy matmul PER CELL inside
       applyInPandas — the classic IVF-flat kernel (queries x index
       members of the cell, BLAS-vectorized, chunked so no
       intermediate exceeds ~128 MB), emitting per-(query, cell)
       top-k; a global window then takes top-k per query. A JVM-side
       per-pair zip_with cosine was ~100x slower at stress scale —
       same lesson as blocked_pairs' kernel.

    Scale levers, all bounded:
    - ``n_cells=None`` self-sizes SUBLINEARLY to ~sqrt(N/2) cells,
      clamped to [16, 65536] (ivf_cell_count; the fixture keeps its
      pinned 16-cell config) — the standard IVF rule: cells and cell
      occupancy grow together as sqrt(N). The trained model (the only
      driver-resident state: seed sample, Lloyd per-cell means,
      broadcast centroids) is therefore O(min(sqrt(N), cap) * dim) —
      ~11 MB at 1e9 64-dim vectors — instead of the linear ceil(N/128)
      it once was; one metadata-cheap count() job to size it.
    - hot cells (skewed quantizer) are SUB-SPLIT, not dropped: a cell
      with more than ``max_cell`` members shards by hash(id) and
      queries probe every shard — correctness preserved, worst-case
      matmul bounded at max_cell x queries-chunk.
    - index side lives in exactly one (cell, shard), so a candidate
      pair forms exactly once: no dropDuplicates shuffle at all.

    Measured exact-top-10 recall on the fixture's RANDOM 64-dim
    vectors (the hardest case — no cluster structure): sampled
    centroids @8 probes 0.73; +2 Lloyd iters 0.79; +2 Lloyd iters
    @10 probes 0.87 (the defaults). On real clustered embeddings the
    same refinement reaches that recall at a much smaller probe
    fraction. Approximate by design -> rows check + recall property
    test (threshold 0.85).
    """
    from pyspark.sql.types import ArrayType, IntegerType

    if n_cells is None:
        n_cells = ivf_cell_count(emb.count())

    cent_rows = md5_sample(emb, id_col, [id_col, vec_col], n_cells).collect()
    cents = np.array([np.asarray(r[vec_col], dtype=np.float64) for r in cent_rows])
    cents = cents / np.sqrt((cents * cents).sum(axis=1, keepdims=True))
    if lloyd_iters > 0:
        cents = _lloyd_refine(
            emb.select(id_col, vec_col), cents, vec_col, lloyd_iters
        )
    n_probe = min(n_probe, len(cents))

    # Optional IVF-PQ composition (the faiss IVFPQ shape): PQ
    # codebooks trained on the same deterministic sample; inside each
    # cell the scoring kernel preselects via ADC lookup tables over
    # 16-byte codes and only the overfetch*k survivors get the exact
    # matmul — the memory/computation profile a billion-vector index
    # actually runs.
    cb = None
    if pq is not None:
        pq_m, pq_k, pq_overfetch = pq
        cb = _train_pq_codebooks(
            emb, id_col, vec_col, pq_m, pq_k, train_size=256, train_iters=3
        )

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        m = m / np.sqrt((m * m).sum(axis=1, keepdims=True))
        sims = m @ cents.T  # (batch, n_cells)
        order = np.argsort(-sims, axis=1, kind="stable")
        return pd.Series(list(order[:, :n_probe].astype("int32")))

    coded = emb.select(id_col, vec_col).withColumn(
        "cells", probe_cells(F.col(vec_col))
    )
    index_side = coded.select(
        F.lit("i").alias("role"), F.col(id_col).alias("id"), vec_col,
        F.element_at("cells", 1).alias("cell"),
    )
    query_side = coded.select(
        F.lit("q").alias("role"), F.col(id_col).alias("id"), vec_col,
        F.explode("cells").alias("cell"),
    )

    # hot-cell sub-split: shard count per cell from index occupancy
    splits = (
        index_side.groupBy("cell")
        .agg(F.ceil(F.count(F.lit(1)) / max_cell).cast("int").alias("s"))
    )
    idx_sharded = index_side.join(F.broadcast(splits), "cell").withColumn(
        "shard", F.pmod(F.xxhash64("id"), F.col("s")).cast("int")
    )
    qry_sharded = (
        query_side.join(F.broadcast(splits), "cell")
        .withColumn("shard", F.explode(F.sequence(F.lit(0), F.col("s") - 1)))
        .withColumn("shard", F.col("shard").cast("int"))
    )
    both = idx_sharded.select("role", "id", vec_col, "cell", "shard").unionByName(
        qry_sharded.select("role", "id", vec_col, "cell", "shard")
    )

    def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        idx = pdf[pdf["role"] == "i"]
        qry = pdf[pdf["role"] == "q"]
        if idx.empty or qry.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        # deterministic member order -> deterministic tie handling
        idx = idx.sort_values("id", kind="mergesort")
        qry = qry.sort_values("id", kind="mergesort")
        mat_i_raw = np.array([np.asarray(v, dtype=np.float64) for v in idx[vec_col]])
        mat_i = mat_i_raw / np.sqrt((mat_i_raw * mat_i_raw).sum(axis=1, keepdims=True))
        ids_i = idx["id"].to_numpy()
        codes_i = None
        if cb is not None:
            n_i, dsub = len(mat_i_raw), cb.shape[2]
            subs_i = mat_i_raw.reshape(n_i, cb.shape[0], dsub)
            codes_i = np.empty((n_i, cb.shape[0]), dtype=np.int64)
            for m in range(cb.shape[0]):
                d2 = ((subs_i[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
                codes_i[:, m] = d2.argmin(1)
        out_a, out_b, out_s = [], [], []
        chunk = max(1, (128 << 20) // (8 * max(len(idx), 1)))
        for lo in range(0, len(qry), chunk):
            qc = qry.iloc[lo : lo + chunk]
            mat_q_raw = np.array([np.asarray(v, dtype=np.float64) for v in qc[vec_col]])
            mat_q = mat_q_raw / np.sqrt((mat_q_raw * mat_q_raw).sum(axis=1, keepdims=True))
            ids_q = qc["id"].to_numpy()
            if cb is not None:
                # ADC preselect: (q, M, K) LUTs gathered over index codes
                subs_q = mat_q_raw.reshape(len(mat_q_raw), cb.shape[0], cb.shape[2])
                luts = ((subs_q[:, :, None, :] - cb[None]) ** 2).sum(-1)
                adc = np.zeros((len(mat_q_raw), len(ids_i)))
                for m in range(cb.shape[0]):
                    adc += luts[:, m, codes_i[:, m]]
                sims = None
            else:
                sims = np.round(mat_q @ mat_i.T, 6)  # (q_chunk, n_idx)
            for r in range(len(qc)):
                if cb is not None:
                    keep_mask = ids_i != ids_q[r]
                    keep_idx = np.nonzero(keep_mask)[0]
                    n_over = min(pq_overfetch * k, len(keep_idx))
                    pre = keep_idx[
                        np.lexsort((ids_i[keep_idx], adc[r, keep_idx]))[:n_over]
                    ]
                    cand_ids = ids_i[pre]
                    cand_sims = np.round(mat_i[pre] @ mat_q[r], 6)
                else:
                    row = sims[r]
                    keep = ids_i != ids_q[r]
                    cand_ids, cand_sims = ids_i[keep], row[keep]
                if len(cand_ids) > k:
                    # deterministic top-k under ties: everything above
                    # the kth similarity, then smallest ids AT it
                    # (argpartition's pick among equal sims is not
                    # stable across runs/layouts)
                    nsims = -cand_sims
                    kth = np.partition(nsims, k - 1)[k - 1]
                    strict = np.nonzero(nsims < kth)[0]
                    tied = np.nonzero(nsims == kth)[0]
                    tied = tied[np.argsort(cand_ids[tied], kind="stable")]
                    sel = np.concatenate([strict, tied[: k - len(strict)]])
                else:
                    sel = np.arange(len(cand_ids))
                order = sorted(sel, key=lambda j: (-cand_sims[j], cand_ids[j]))
                out_a.extend([ids_q[r]] * len(order))
                out_b.extend(cand_ids[j] for j in order)
                out_s.extend(cand_sims[j] for j in order)
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "sim": out_s}).astype(
            {"id_a": "int64", "id_b": "int64", "sim": "float64"}
        )

    cand = both.groupBy("cell", "shard").applyInPandas(
        cell_kernel, schema="id_a BIGINT, id_b BIGINT, sim DOUBLE"
    )

    return rank_topk(cand, k)


def _train_pq_codebooks(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m_subspaces: int,
    k_codes: int,
    train_size: int,
    train_iters: int,
) -> "np.ndarray":
    """Train per-subspace PQ codebooks on a deterministic md5-ordered
    sample (constant-size driver work — shipping a fitted model, same
    pattern as the IVF centroids). Returns (M, K, dim/M)."""
    sample_rows = md5_sample(emb, id_col, [id_col, vec_col], train_size).collect()
    sample = np.array(
        [np.asarray(r[vec_col], dtype=np.float64) for r in sample_rows]
    )
    dim = sample.shape[1]
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by {m_subspaces} subspaces")
    dsub = dim // m_subspaces
    codebooks = []
    for m in range(m_subspaces):
        sub = sample[:, m * dsub : (m + 1) * dsub]
        cents = sub[:k_codes].copy()
        for _ in range(train_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(k_codes):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(0)
        codebooks.append(cents)
    return np.stack(codebooks)


def ann_pq_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    m_subspaces: int = 16,
    k_codes: int = 32,
    k: int = 3,
    overfetch: int = 5,
    train_size: int = 256,
    train_iters: int = 3,
) -> DataFrame:
    """Approximate kNN via PRODUCT QUANTIZATION + asymmetric distance
    (ADC) with exact re-rank — the memory-side ANN technique: each
    vector compresses to ``m_subspaces`` one-byte codes (16 bytes vs
    256 for raw float32x64 — the compression that lets a billion-
    vector index fit in RAM), queries score candidates through a
    per-query (subspace x centroid) lookup table, and the
    ``overfetch*k`` ADC survivors get exact-cosine re-ranked.

    Deterministic end to end:
    - training sample = the ``train_size`` vectors with smallest
      md5(id) (uniform, engine-independent); codebooks = fixed
      ``train_iters`` Lloyd passes per subspace on the driver — the
      sample is constant-size, so this is the one legitimate collect
      (shipping a fitted model, same pattern as IVF's centroids);
    - ADC ties break on candidate id (stable lexsort), re-rank ties on
      (-sim, id).

    Scale: blocks (= label here; IVF cell / LSH bucket in a composed
    index) score independently inside one applyInPandas kernel —
    encode + LUT-gather + re-rank per block, numpy-vectorized; only
    (query, neighbor, sim) rows leave the executor. Measured recall@3
    vs exact on the fixture's RANDOM 64-dim vectors (hardest case):
    0.949 at 16x32 codes with 5x overfetch (pinned >= 0.9 in
    tests/test_textops.py).
    """
    import pandas as pd

    cb = _train_pq_codebooks(
        emb, id_col, vec_col, m_subspaces, k_codes, train_size, train_iters
    )
    dsub = cb.shape[2]

    n_over = overfetch * k

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        n = len(X)
        if n < 2:
            return pd.DataFrame(
                columns=["query_id", "neighbor_id", "sim", "rank"]
            ).astype({"query_id": "int64", "neighbor_id": "int64",
                      "sim": "float64", "rank": "int32"})
        subs = X.reshape(n, m_subspaces, dsub)
        # encode: nearest codebook entry per subspace (vectorized)
        codes = np.empty((n, m_subspaces), dtype=np.int64)
        for m in range(m_subspaces):
            d2 = ((subs[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
            codes[:, m] = d2.argmin(1)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
        out = []
        for qi in range(n):
            # per-query LUT: (M, K) squared distances to each centroid
            lut = ((subs[qi, :, None, :] - cb) ** 2).sum(-1)
            adc = lut[np.arange(m_subspaces)[None, :], codes].sum(1)
            adc[qi] = np.inf
            take = min(n_over, n - 1)
            cand = np.lexsort((ids, adc))[:take]  # ADC asc, id tiebreak
            sims = Xn[cand] @ Xn[qi]
            order = np.lexsort((ids[cand], -sims))[:k]
            for r, oi in enumerate(order):
                out.append(
                    (int(ids[qi]), int(ids[cand[oi]]), float(sims[oi]), r + 1)
                )
        return pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "sim", "rank"]
        )

    return (
        emb.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(
            per_block,
            schema="query_id BIGINT, neighbor_id BIGINT, sim DOUBLE, rank INT",
        )
    )
