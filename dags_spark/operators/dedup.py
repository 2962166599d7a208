"""Document deduplication operators.

- exact_dedup: hash-groupBy keep-min-id (one shuffle on the content
  fingerprint, never on the full text).
- latest_by_key: the reference library's signature accumulate +
  dedupe-by-natural-key semantic — row_number()=1 over the key
  ordered by recency.
- minhash_near_dup_pairs: MinHash+LSH near-duplicate candidate pairs
  over character shingles (spark.ml MinHashLSH: banding keeps the
  candidate set ~linear instead of O(n²) — the 100 TB scale path).

All shingling happens JVM-side via SQL higher-order functions; the
only Python involvement is plan construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the minimum-id row per identical content value.

    Aggregating min(id) over md5(content) shuffles only (hash, id)
    pairs — at 100 TB the text column never crosses the wire.
    """
    fp = F.md5(F.col(content_col)).alias("content_md5")
    return df.select(fp, F.col(id_col)).groupBy("content_md5").agg(
        F.min(id_col).alias(id_col)
    )


def latest_by_key(
    df: DataFrame, keys: list[str], order_by: list, keep: int = 1
) -> DataFrame:
    """Latest row per natural key — `unique_on` + recency semantics."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= keep)
        .drop("__rn")
    )


def shingles(text_col: str, k: int = 5) -> F.Column:
    """Character k-shingles as a distinct array (JVM-side lambda)."""
    return F.array_distinct(
        F.expr(f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
               f"i -> substring({text_col}, i, {k}))")
    )


# MinHash permutation family: h_i(shingle) = xxhash64(shingle, i).
# Salting the hash input with the permutation index gives independent
# 64-bit hash functions without any overflow-prone affine arithmetic
# (Spark 4 runs ANSI mode — wrap-around multiply would throw).


def _mh_expr(i: int) -> F.Column:
    return F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"mh{i}")


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    jaccard_threshold: float = 0.6,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_bucket: int | None = 200,
) -> DataFrame:
    """Near-duplicate pairs via hand-rolled MinHash + LSH banding,
    verified with exact Jaccard — entirely JVM-side (no MLlib, no
    Python UDFs):

      1. explode k-shingles, hash each with xxhash64 (one shuffle:
         groupBy doc computes all ``num_hashes`` signature mins in a
         single pass);
      2. band signatures (b = num_hashes / rows_per_band); same
         (band_id, band_hash) bucket -> candidate pair. With b=8, r=2
         a true Jaccard-0.6 pair is bucketed with p = 1-(1-0.6²)⁸ ≈
         0.97, and candidates stay ~linear in corpus size — the
         O(n²)-avoidance that matters at 100 TB;
      3. verify candidates with exact Jaccard on the shingle arrays
         (array_intersect/union sizes), keep >= threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b, exact jaccard.

    Round 11 (guide §2.4/§5, the winnow_overlap_pairs treatment): the
    shingle table feeds THREE consumers — the signature pass and both
    sides of the exact-Jaccard verify join — and without lineage
    pinning Catalyst re-evaluated the scan -> repartition -> shingle
    transform per consumer (4 parquet scans in the round-11
    before-plan). It is now localCheckpoint'd: INTRA-RUN only, one
    shingle array per doc, recomputed from parquet every invocation;
    the executor-memory blocks are released by the ContextCleaner
    when the plan is garbage-collected, so no unpersist bookkeeping
    (the problem the old opt-in ``cache_shingles`` flag had — that
    flag is gone, lineage pinning is now unconditional).
    """
    # Repartition BEFORE the CPU-bound shingle transform: a documents
    # table is bytes-per-thousand-rows small, so the file-size splitter
    # gives it 1-2 partitions and everything downstream (signature agg,
    # candidate verify with array_intersect over every candidate pair)
    # runs on one core — measured 430 s -> ~20 s at sf0.1 (the fixture's
    # tiny vocabulary makes shingle sets collide, so the verify stage
    # carries real candidate volume; same at 100 TB with boilerplate).
    # Filter on the CHEAP precondition (non-empty text), never on
    # size(sh): a post-hoc filter over the shingle array gets pushed
    # through the repartition into the scan, where Catalyst re-evaluates
    # the whole shingle transform for every doc on the scan's single
    # input partition (the token_ngrams lesson; here it was the 60 s
    # single-task stage the scale smoke caught at sf0.1).
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    sh = (
        docs.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .repartition(n_parts)
        .select(F.col(id_col), shingles(text_col, k).alias("sh"))
        .localCheckpoint()
    )

    exploded = sh.select(id_col, F.explode("sh").alias("shingle"))
    sig = exploded.groupBy(id_col).agg(*[_mh_expr(i) for i in range(num_hashes)])

    n_bands = num_hashes // rows_per_band
    bands = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.xxhash64(
                            *[
                                F.col(f"mh{bi * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")

    # Hot-bucket ceiling — the LSH twin of the stop-gram/df ceiling:
    # a (band_id, band_hash) bucket holding thousands of docs is a
    # degenerate collision cluster (tiny-vocab fixtures here;
    # boilerplate at 100 TB), and its members are overwhelmingly NOT
    # similar — but it alone contributes O(bucket²) candidate pairs,
    # each paying an exact-Jaccard verify. Dropping buckets over the
    # ceiling removed a 1913-doc bucket at sf0.1 and cut this operator
    # 491 s -> ~25 s with recall intact: a true pair lands in ~3 of
    # the 8 bands in expectation, so losing one degenerate bucket
    # almost never loses the pair (recall property test pins >= 0.9).
    if max_bucket is not None:
        hot = (
            bands.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("band_id", "band_hash")
        )
        bands = bands.join(F.broadcast(hot), ["band_id", "band_hash"], "left_anti")

    a = bands.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
    b = bands.select(F.col(id_col).alias("id_b"), "band_id", "band_hash")
    candidates = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # AQE coalesces the (byte-tiny) candidate list to one partition,
    # but each verify row costs an array_intersect over ~10^3-element
    # shingle sets — CPU-bound, not byte-bound. Spread the verify
    # explicitly so the exact-Jaccard stage uses the cluster.
    candidates = candidates.repartition(n_parts, "id_a")

    # SHUFFLE_HASH hints: row-count stats make the shingle table look
    # broadcastable, but its payload is the full shingle arrays —
    # megabytes per thousand docs. Broadcasting it serializes the build
    # on one task (the last singleton the scale smoke flagged) and at
    # 100 TB would broadcast the corpus. Shuffling both sides on the id
    # keeps the verify fully parallel.
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")).hint(
        "SHUFFLE_HASH"
    )
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")).hint(
        "SHUFFLE_HASH"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def token_ngrams(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, g) with g = distinct token n-grams per doc.

    The token array is materialized in its own projection FIRST: a
    one-shot `slice(split(text), i, n)` inside the transform lambda
    re-splits the full text once per gram — O(tokens^2) work per doc
    that Catalyst does not CSE away (measured 5x slower on the 5k-doc
    fixture). Against a named array column the split runs once.

    The input is repartitioned to the session's default parallelism
    before the CPU-bound shingling: a documents table is few bytes of
    parquet per thousand rows, so the file-size-based splitter gives
    it 1-2 partitions and the explode would otherwise run on one core
    (true at 100 TB, too — doc tables are row-heavy, byte-light).

    Short docs (< n tokens) are filtered out BEFORE the gram
    transform, not mapped to an empty array and filtered after: a
    post-hoc ``filter(size(g) > 0)`` gets pushed through the
    projection by substituting the full transform expression into the
    predicate, so Catalyst evaluates the gram array once for the
    filter and again for the output — measured 4x slower on the 5k-doc
    fixture. Round 10: the short-doc predicate itself no longer
    touches the token array either — ``filter(size(__toks) >= n)``
    was getting pushed through the repartition by substituting the
    split into the predicate (visible in the round-10 before-plan:
    ``Filter size(split(text)) >= 3`` below the Exchange), i.e. every
    doc was fully tokenized a second time on the scan side of the
    shuffle. The token count of a single-space split is just
    spaces+1, so the filter is now pure length arithmetic on the raw
    text (identical integers, no array), sits before the repartition,
    and also ships fewer rows through it. Grams are built by direct
    element indexing (``t[i-1] || ' ' || t[i] ...``) rather than
    ``concat_ws(slice(...))`` — no per-position array copy (~2x).
    """
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    c = F.col(text_col)
    n_tok = F.length(c) - F.length(F.replace(c, F.lit(" "), F.lit(""))) + F.lit(1)
    toks = (
        docs.filter(n_tok >= n)
        .repartition(n_parts)
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    )
    gram = " || ' ' || ".join(f"__toks[i + {j}]" for j in range(-1, n - 1))
    grams = F.array_distinct(
        F.expr(f"transform(sequence(1, size(__toks) - {n - 1}), i -> {gram})")
    )
    return toks.select(F.col(id_col), grams.alias("g"))


def token_ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    metric: str = "jaccard",
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted-index join
    (hash-checkable, unlike the probabilistic MinHash path):

      1. distinct token n-grams per doc (JVM higher-order fns);
      2. posting-list pruning: grams appearing in more than ``max_df``
         docs (default 1000) are dropped from every doc's gram set —
         see below;
      3. candidate pairs = docs sharing >= 1 surviving n-gram — a self
         equi-join on the exploded posting list, so cost is
         sum(df(g)^2) over kept n-grams, not O(docs^2); the shared-gram
         COUNT(*) per pair IS the intersection size;
      4. jaccard = inter / (|A| + |B| - inter) over the PRUNED gram
         sets, one double division, round 6dp.

    The df ceiling is the 100 TB safety valve: hot "stop-grams"
    dominate sum(df^2) (one gram in 1M docs alone contributes 10^12
    join rows), and a pair sharing ONLY ultra-common grams is below
    any useful threshold anyway. The hot-gram list (df > ceiling) is
    tiny by construction, so it is removed with a broadcast anti-join
    — no extra shuffle of the posting list, and the pruning is fully
    deterministic (mirrorable in the SQL oracle). ``max_df=None``
    disables pruning; minhash_near_dup_pairs is the probabilistic
    alternative when even pruned posting lists explode.
    """
    sh = token_ngrams(docs, id_col, text_col, n)
    ex = sh.select(id_col, F.explode("g").alias("s"))
    if max_df is not None:
        hot = (
            ex.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("s")
        )
        ex = ex.join(F.broadcast(hot), "s", "left_anti")
    a = ex.select(F.col(id_col).alias("id_a"), "s")
    b = ex.select(F.col(id_col).alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    # sizes over the PRUNED posting list (grams per doc are already
    # distinct, so the count is the pruned set size).
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_g"))
    la = sizes.select(F.col(id_col).alias("id_a"), F.col("n_g").alias("na"))
    lb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_g").alias("nb"))
    # metric="jaccard": symmetric  i / (|A| u |B|).
    # metric="containment": i / min(|A|, |B|) — the asymmetric measure
    # that catches doc-in-doc inclusion (quotes, boilerplate wrappers)
    # which symmetric Jaccard dilutes below threshold when the host
    # document is much larger than the embedded one.
    if metric == "jaccard":
        score = F.col("i").cast("double") / (
            F.col("na") + F.col("nb") - F.col("i")
        )
    elif metric == "containment":
        score = F.col("i").cast("double") / F.least("na", "nb")
    else:  # pragma: no cover
        raise ValueError(f"unknown metric {metric!r}")
    return (
        inter.join(la, "id_a")
        .join(lb, "id_b")
        .withColumn(metric, F.round(score, 6))
        .filter(F.col(metric) >= threshold)
        .select("id_a", "id_b", metric)
    )


# --- deterministic banded MinHash ------------------------------------
# Engine-portable MinHash: the gram hash is built from md5 hex nibbles
# (instr/substr/md5 evaluate identically in Spark and DuckDB), and the
# k hash functions are pinned affine maps (a_i*h + b_i) mod p in exact
# BIGINT arithmetic — so the signatures, bands, and candidate pairs
# are bit-identical across engines and hash-checkable, unlike the
# spark.ml MinHashLSH path (minhash_near_dup_pairs) whose hash family
# is library-internal.

MINHASH_P = 1_000_000_007
# (a, b) pairs; a ~ 1.8e8 so a*h fits int64 for 32-bit gram hashes.
MINHASH_COEFFS = [
    (179424673, 7),
    (179425457, 101),
    (179425819, 1009),
    (179426321, 10007),
    (179426549, 100003),
    (179428399, 1000003),
    (179428429, 10000019),
    (179431357, 100000007),
]


def hex32_sql(col: str) -> str:
    """32-bit BIGINT from the first 8 hex nibbles of an md5-hex string
    expression — identical SQL text runs in Spark and DuckDB. Keep the
    md5 in a named binding when folding many positions: this expression
    references ``col`` 8 times."""
    # BIGINT nibbles: the weighted sum tops out at 2^32-1, past INT32
    # (Spark ANSI mode and DuckDB both trap the overflow otherwise).
    return (
        "("
        + " + ".join(
            f"cast(instr('0123456789abcdef', substr({col}, {p}, 1)) - 1 as bigint)"
            f" * {16 ** (p - 1)}"
            for p in range(1, 9)
        )
        + ")"
    )


def gram_hash_sql(col: str = "s") -> str:
    """32-bit integer hash of a string via md5 hex nibbles (engine-
    portable; see hex32_sql)."""
    return hex32_sql(f"md5({col})")


def minhash_banded_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    rows_per_band: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs via deterministic banded MinHash.

    1. distinct token n-grams per doc (JVM higher-order fns);
    2. 8 MinHash signature values per doc (one hash-agg pass: 8
       partial MINs, map-side combined);
    3. banding: 2 bands of 4 rows — docs agreeing on ALL values of
       any band become a candidate pair. Each band join is an
       equi-join on the 4 signature columns, so cost is sum over
       band-buckets of bucket², never O(docs²) — the LSH scale
       property, here with exact reproducible arithmetic.

    Returns (id_a, id_b, n_bands) with id_a < id_b.
    """
    ex = (
        token_ngrams(docs, id_col, text_col, n)
        .select(id_col, F.explode("g").alias("s"))
        .withColumn("h", F.expr(gram_hash_sql("s")))
    )
    sig = ex.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"m{i + 1}")
            for i, (a, b) in enumerate(MINHASH_COEFFS)
        ]
    )
    # One (doc, band) row per band via explode, then ONE self-equi-join
    # on (band_id, 4 signature values). Both join inputs are the same
    # subplan, so Spark's ReuseExchange evaluates the shingle+signature
    # pipeline once — a per-band join loop would recompute it 2x per
    # band (measured 2.4x slower at sf0.1).
    n_bands = len(MINHASH_COEFFS) // rows_per_band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("b"),
                *[
                    F.col(f"m{band * rows_per_band + j + 1}").alias(f"v{j + 1}")
                    for j in range(rows_per_band)
                ],
            )
            for band in range(n_bands)
        ]
    )
    vcols = [f"v{j + 1}" for j in range(rows_per_band)]
    bands = sig.select(F.col(id_col), F.explode(band_structs).alias("bd")).select(
        id_col, "bd.b", *[f"bd.{v}" for v in vcols]
    )
    a = bands.select(F.col(id_col).alias("id_a"), "b", *vcols)
    b = bands.select(F.col(id_col).alias("id_b"), "b", *vcols)
    return (
        a.join(b, ["b", *vcols])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 30
) -> DataFrame:
    """Connected components over an undirected pair list via
    alternating LARGE-STAR / SMALL-STAR contractions
    (Kiveris/Lattanzi/Mirrokni/Rastogi/Vassilvitskii, "Connected
    Components in MapReduce and Beyond", ACM SoCC 2014 — public
    algorithm). This is the dedup-clustering step that turns near-dup
    PAIRS into dedup GROUPS (keep one doc per component). The round
    count is O(log^2 n) INDEPENDENT OF GRAPH DIAMETER: a path graph of
    length 10^6 takes ~40 rounds, so pathological chains (log-style
    data, linked update sequences) survive at 100 TB.

    large-star(u): every neighbor v > u re-attaches to
    m = min(N(u) ∪ {u}); small-star over (max,min)-directed edges:
    every smaller neighbor and u itself attach to m. Each step is one
    groupBy + join (distributed, no driver graph), lineage truncated
    per round with localCheckpoint; the fixpoint is a star forest
    rooted at each component's minimum id, recognized in the round
    that produces it. Raises if ``max_iter``
    rounds pass without a fixpoint rather than return a partial
    labelling.

    Returns (id, component) for every pair endpoint — self-loop-only
    nodes included — with component = min id of the component, a
    deterministic fixpoint, so the result is engine-checkable.
    """

    def large_star(e: DataFrame) -> DataFrame:
        und = (
            e.select("u", "v")
            .union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
        )
        mins = (
            und.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        return (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        d = (
            e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        nbrs = d.join(mins, "u")
        return (
            nbrs.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .distinct()
        )

    def is_star_forest(e: DataFrame) -> bool:
        """Every edge's u has exactly one v, and no v is any edge's u:
        each component is one star rooted at its minimum, which both
        contractions map to itself. One job, in the round that built
        it. ("No v is a u" alone is not enough: a round can leave a
        node with two roots, e.g. {(3, 1), (3, 2), (4, 2), (6, 1)}.)"""
        deg = (
            e.select(F.col("u").alias("n"), F.lit(1).alias("out"), F.lit(0).alias("in_"))
            .union(e.select("v", F.lit(0), F.lit(1)))
            .groupBy("n")
            .agg(F.sum("out").alias("out"), F.max("in_").alias("in_"))
        )
        return deg.filter(
            (F.col("out") > 1) | ((F.col("out") > 0) & (F.col("in_") > 0))
        ).isEmpty()

    ends = (
        pairs.select(
            F.col(id_a).cast("long").alias("u"),
            F.col(id_b).cast("long").alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )
    edges = ends.filter(F.col("u") != F.col("v"))
    for _ in range(max_iter):
        edges = small_star(large_star(edges)).localCheckpoint()
        if is_star_forest(edges):
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds"
        )
    nodes = ends.select(F.col("u").alias("id")).union(ends.select("v")).distinct()
    forest = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return nodes.join(forest, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


# --- winnowing fingerprints (exact substring-overlap dedup) ----------
# Document fingerprinting via winnowing (Schleimer, Wilkerson, Aiken,
# SIGMOD 2003, public): hash every k-char gram, slide a window of w
# consecutive gram hashes, keep each window's MINIMUM hash. Any shared
# substring of length >= w + k - 1 between two docs is GUARANTEED to
# produce at least one shared fingerprint — the exact-substring-overlap
# detector used for training-data contamination and boilerplate dedup,
# at ~1/w the fingerprint density of full k-gram shingling.


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 25,
) -> DataFrame:
    """(id, fps array) — distinct winnowing fingerprints per doc
    (ascending; consumers treat fps as a set).

    Round 10 (guide §4.2): a pandas-iterator kernel — hashlib md5 per
    gram position, one numpy C-level sliding-window min over the
    w-slices — replacing the interpreted JVM transform/slice/array_min
    chain whose O(len·w) array-min work ran ~6x slower per pass (the
    8-nibble hex fold alone cost more than every Python md5). The
    integers are unchanged: md5 of the UTF-8 bytes of each k-char
    (code-point) gram, fingerprint = sum(nibble[p] * 16^p) over the
    first 8 hex nibbles == int(hexdigest[:8][::-1], 16), window min
    per w-slice, distinct. The round-robin repartition gives the
    kernel cluster-wide parallelism (scale-adaptive, same pattern as
    the minhash pipeline); the shuffle ships only (id, text). Docs
    shorter than k + w - 1 chars have no complete window and are
    excluded (they cannot share a >= w+k-1 substring).
    """

    def _fps(batches):  # noqa: ANN001, ANN202 — pandas-iterator kernel
        import hashlib

        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            out_ids, out_fps = [], []
            for doc_id, text in zip(
                pdf[id_col].tolist(), pdf[text_col].tolist()
            ):
                n = len(text) - k + 1
                h = np.fromiter(
                    (
                        int(
                            hashlib.md5(
                                text[i : i + k].encode("utf-8")
                            ).hexdigest()[:8][::-1],
                            16,
                        )
                        for i in range(n)
                    ),
                    dtype=np.int64,
                    count=n,
                )
                mins = sliding_window_view(h, w).min(axis=1)
                out_ids.append(doc_id)
                out_fps.append(np.unique(mins))
            if out_ids:
                yield pd.DataFrame({id_col: out_ids, "fps": out_fps})

    spark = docs.sparkSession
    return (
        docs.filter(F.length(text_col) >= k + w - 1)
        .select(id_col, text_col)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(_fps, f"{id_col} BIGINT, fps ARRAY<BIGINT>")
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 25,
    min_shared: int = 3,
    max_df: int | None = 1000,
) -> DataFrame:
    """Doc pairs sharing >= min_shared winnowing fingerprints —
    candidate exact-substring overlaps (plagiarism / contamination /
    boilerplate detection), with the same posting-list shape as
    token_ngram_jaccard_pairs: explode fingerprints, broadcast-anti-
    join away hot fingerprints (df > max_df — a fingerprint in
    thousands of docs is boilerplate, not signal, and dominates the
    sum(df^2) join cost at 100 TB), self equi-join, count per pair.

    Returns (id_a, id_b, n_shared) with id_a < id_b.
    """
    fp = winnow_fingerprints(docs, id_col, text_col, k, w)
    # Materialize the postings once: the committed plan re-ran the
    # whole fingerprint pass for the df census AND for each side of
    # the self-join (3 corpus passes per query — round-10 measured
    # 26 s of which one pass was ~8 s). Intra-run only: recomputed
    # from the parquet input on every invocation.
    ex = fp.select(id_col, F.explode("fps").alias("fp")).localCheckpoint()
    if max_df is not None:
        hot = (
            ex.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("fp")
        )
        ex = ex.join(F.broadcast(hot), "fp", "left_anti")
    a = ex.select(F.col(id_col).alias("id_a"), "fp")
    b = ex.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
