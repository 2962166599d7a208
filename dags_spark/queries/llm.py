"""SURVEY §2.11 — LLM-data operators (the north-star surface).

Dedup, similarity search, text analysis, and the multimodal join —
each formulated as joins/windows/aggregations (no driver-side loops,
no collect), so the same plans scale to a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import table
from ..operators.dedup import (
    exact_dedup,
    latest_by_key,
    minhash_near_dup_pairs,
    token_ngram_jaccard_pairs,
)
from ..operators.multimodal import attach_binary, decode_features
from ..operators.simhash import simhash, simhash_band_pairs, simhash_sql_fragments
from ..operators.similarity import (
    SQL_DOT,
    SQL_NORM,
    SQL_VEC_D,
    adaptive_chunks,
    ann_lsh_topk,
    blocked_pairs,
    rank_topk,
)
from ..registry import register


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_md5, min(doc_id) AS doc_id
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep min doc_id per identical text (shuffles only
    the md5 fingerprint, not the text)."""
    return exact_dedup(table(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "dedup_latest_by_key",
    oracle="""
SELECT event_id, user_id, event_type, ts, value
FROM (
  SELECT event_id, user_id, event_type, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def dedup_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's accumulate+dedupe-by-natural-key semantic:
    latest event per (user_id, event_type)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    return latest_by_key(
        ev,
        keys=["user_id", "event_type"],
        order_by=[F.col("ts").desc(), F.col("event_id").desc()],
    )


@register("dedup_fuzzy_minhash", oracle=None, check="rows", prop_tests=("tests/test_operators.py::test_minhash_recall_vs_exact_jaccard", "tests/test_plans.py::test_minhash_band_join_no_cartesian"))
def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs, est. Jaccard >= 0.6 on
    5-char shingles (approximate by design -> rows check; the property
    test asserts recall vs the exact Jaccard join)."""
    return minhash_near_dup_pairs(table(spark, sf_dir, "documents"))


_PAIR_SQL_COMMON = f"""
WITH v AS (
  SELECT vec_id, label, {SQL_VEC_D.format(v='embedding')} AS e,
         {SQL_NORM.format(a=SQL_VEC_D.format(v='embedding'))} AS n
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       ROUND({SQL_DOT.format(a='a.e', b='b.e')} / (a.n * b.n), 6) AS sim
FROM v a JOIN v b ON a.label = b.label AND a.vec_id {{op}} b.vec_id
"""


@register(
    "sim_search_topk",
    oracle=_PAIR_SQL_COMMON.format(op="<")
    + "ORDER BY sim DESC, id_a, id_b LIMIT 100",
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 most-similar same-label embedding pairs by exact cosine
    (label-blocked join -> TakeOrderedAndProject; no all-pairs).
    per_block_topk prunes to each label's 100 best INSIDE the Arrow
    kernel — provably lossless for a global top-100 (a globally
    ranked pair is top-100 in its own block under the same total
    order), and it cuts the kernel's Arrow output from O(block^2)
    pair rows to 100 per label (20M -> 1k rows at sf1)."""
    # Chunk-pair split (round 10): block count == label count, so the
    # kernel stage ran at most ~10 tasks regardless of cluster size.
    # m = isqrt(parallelism) gives ~m(m+1)/2 groups per block —
    # enough unordered chunk pairs to cover the cores at any scale
    # (local[32] -> m=5 -> 15 groups/block; 1000 cores -> m=31 ->
    # 496/block) while the vector column is duplicated only m times.
    # Lossless for this consumer: every group emits its own top-100
    # plus rounding-margin ties, a superset of the block top-100, and
    # the global orderBy/limit below trims to the identical rows
    # (oracle-verified at sf0.001/0.01/0.1 and vs the sf10 tier).
    # Round 11: gated on corpus size (adaptive_chunks) — unconditional
    # chunking turned 2k sf0.1 vectors into 150 kernel tasks + a 5x
    # vector-column explode (driver q6 0.28 -> 0.76 s, r10's only
    # code-linked bench regression); small corpora now keep
    # one-task-per-label, the sf10/sf100 tiers keep the split.
    emb = table(spark, sf_dir, "embeddings")
    pairs = blocked_pairs(emb, per_block_topk=100, n_chunks=adaptive_chunks(emb))
    return pairs.orderBy(
        F.col("sim").desc(), F.col("id_a"), F.col("id_b")
    ).limit(100)


@register(
    "sim_knn_per_query",
    oracle="""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         sqrt(list_sum(list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x))) AS n
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i])) / (a.n * b.n), 6) AS sim
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id != b.vec_id
)
SELECT query_id, neighbor_id, sim, rnk FROM (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM pairs
) WHERE rnk <= 10
""",
)
def sim_knn_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10 nearest neighbors per vector within its label block.
    per_query_topk prunes each query to its ~10 best INSIDE the
    Arrow kernel (lossless vs the window's rounded-sim order via the
    1e-6 boundary margin — see blocked_pairs), so the shuffle+window
    below ranks ~10 rows per vector instead of the O(block^2) pair
    stream the round-8 shape emitted; the row_number then only
    assigns ranks and trims margin survivors."""
    pairs = blocked_pairs(
        table(spark, sf_dir, "embeddings"), symmetric=True, per_query_topk=10
    )
    return rank_topk(pairs, 10)


@register(
    "text_tokenize_tf",
    oracle="""
SELECT token, COUNT(*) AS tf FROM (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
) GROUP BY token
""",
)
def text_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency table (explode -> hash agg)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@register(
    "text_tfidf",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token,
       ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
FROM tf JOIN df USING (token) CROSS JOIN n
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf per (doc, token); formula pinned: tf * ln(N / df).

    df-table is tiny (vocab-sized) -> broadcast back onto tf; N joins
    as a broadcast scalar. No collect anywhere."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


@register(
    "text_ngrams",
    oracle="""
SELECT lang, bigram, COUNT(*) AS n FROM (
  SELECT lang,
         unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
                               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bigram
  FROM documents
) GROUP BY lang, bigram
""",
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram counts per language (zip_with over the token array —
    JVM-side, no UDF)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # zip_with pads the shorter side with null -> concat_ws drops the
    # null, leaving a trailing 1-token "bigram"; filter to real pairs.
    return (
        d.select("lang", F.explode(bigrams).alias("bigram"))
        .filter(F.col("bigram").contains(" "))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_stats",
    oracle="""
WITH tok AS (
  SELECT lang, source, unnest(string_split(text, ' ')) AS token FROM documents
),
base AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
  FROM documents GROUP BY lang, source
),
toks AS (
  SELECT lang, source, COUNT(DISTINCT token) AS n_distinct_tokens
  FROM tok GROUP BY lang, source
)
SELECT base.lang, base.source, n_docs, avg_chars, n_distinct_tokens
FROM base JOIN toks ON base.lang = toks.lang AND base.source = toks.source
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source): doc count, avg length, distinct vocab."""
    d = table(spark, sf_dir, "documents")
    base = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )
    toks = (
        d.select("lang", "source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "source")
        .agg(F.countDistinct("token").alias("n_distinct_tokens"))
    )
    return base.join(toks, ["lang", "source"])


@register(
    "multimodal_join",
    oracle="""
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(label) AS BIGINT) AS label_sum
FROM documents JOIN embeddings ON doc_id = vec_id
WHERE label < 5
GROUP BY lang
""",
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⋈ embeddings into a typed struct column {text, lang,
    embedding}, filtered by label — scalar projection for hashing."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    joined = (
        d.join(e, d.doc_id == e.vec_id)
        .withColumn("doc", F.struct("text", "lang", "embedding"))
        .filter(F.col("label") < 5)
    )
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("label").cast("long").alias("label_sum"),
    )


# --- SimHash fingerprints + banded near-dup pairs --------------------

_SH_VOTES, _SH_FOLD = simhash_sql_fragments(div_op="//")
_SIMHASH_CTE = f"""
WITH tok AS (
  SELECT doc_id, md5(t) AS h FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
  )
),
votes AS (SELECT doc_id, {', '.join(_SH_VOTES)} FROM tok GROUP BY doc_id),
sig AS (SELECT doc_id, {_SH_FOLD} AS simhash32 FROM votes)
"""


@register("text_simhash", oracle=_SIMHASH_CTE + "SELECT doc_id, simhash32 FROM sig")
def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (md5-nibble token hashes -> 32
    SUM votes with map-side partial agg -> sign fold); the md5-nibble
    arithmetic makes the fingerprint engine-portable, so it
    hash-checks exactly."""
    return simhash(table(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_CTE
    + """,
bands AS (
  SELECT doc_id, simhash32, 0 AS band_id, simhash32 % 65536 AS bv FROM sig
  UNION ALL
  SELECT doc_id, simhash32, 1 AS band_id, simhash32 // 65536 AS bv FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash32 AS sh_a, b.simhash32 AS sh_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 6
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 16-bit band blocking (equi-join, never
    all-pairs) then Hamming <= 6 on the full 32-bit signature. The
    band condition is part of the pinned semantics, so the oracle
    encodes it too and the result hash-checks exactly."""
    return simhash_band_pairs(simhash(table(spark, sf_dir, "documents")))


# --- Multimodal: binary payload decode via mapInPandas ---------------


@register(
    "multimodal_decode",
    oracle="""
SELECT doc_id, 'text/plain' AS format,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(CASE WHEN length(text) = 0 THEN -1 ELSE ascii(text) END AS INT)
         AS first_byte,
       md5(text) AS content_md5
FROM documents
""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: text -> BinaryType payload + typed meta
    struct, then Arrow-batched mapInPandas feature extraction
    (deterministic byte-level fake standing in for the absent image
    codec — the schema/batching/partition plumbing is the real path).
    """
    return decode_features(attach_binary(table(spark, sf_dir, "documents")))


@register(
    "multimodal_image_meta",
    oracle="""
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                       WHEN 2 THEN 'gif' ELSE 'jpeg' END AS format,
       CAST(1 + doc_id % 31 AS INT) AS width,
       CAST(1 + doc_id % 23 AS INT) AS height
FROM documents
""",
)
def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image metadata without any codec library: per document a
    structurally-valid PNG/BMP/GIF/JPEG payload is built (correct
    CRC32s / segment lengths, dimensions derived from doc_id), then a
    second mapInPandas stage parses the actual container headers —
    PNG IHDR, BMP info header, GIF screen descriptor, JPEG SOFn after
    a real segment walk (operators/multimodal.py sniff_image). The
    oracle recomputes the dimensions arithmetically, so any header
    mis-parse hash-fails. Both stages are Arrow-batched and preserve
    partitioning; at 100 TB this is the pattern for metadata backfill
    over parquet binary columns — no shuffle, no Python-row path."""
    from ..operators.multimodal import attach_fake_images, image_meta

    return image_meta(attach_fake_images(table(spark, sf_dir, "documents")))


# --- ANN: sign-LSH bucketed approximate kNN --------------------------


@register("sim_ann_lsh_topk", oracle=None, check="rows", prop_tests=("tests/test_textops.py::test_ann_lsh_recall_vs_exact", "tests/test_textops.py::test_ann_keys_deterministic_across_runs"))
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine kNN per vector through ``ann_lsh_topk`` with a
    self-sized ``n_bits``: exact (one ``blocked_pairs`` block) while
    the corpus fits ``MAX_BLOCK_ROWS``, else random-hyperplane LSH
    (16 tables, ~16 vectors per bucket) with an exact cosine re-rank.
    Approximate by design -> rows check; the recall property test
    compares the LSH body against exact kNN."""
    return ann_lsh_topk(table(spark, sf_dir, "embeddings"), k=10)


# --- Exact n-gram Jaccard + embedding-cosine near-dup ----------------


# Shared gram-pair CTE chain (token 3-gram Jaccard >= 0.5) — used by
# dedup_ngram_jaccard and as the edge list for connected components.
_NGRAM_PAIRS_CTES = """
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS g
  FROM documents
),
ex0 AS (SELECT doc_id, unnest(g) AS s FROM sh),
hot AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) > 1000),
ex AS (SELECT doc_id, s FROM ex0 ANTI JOIN hot USING (s)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_g FROM ex GROUP BY doc_id),
pairs AS (
  SELECT id_a, id_b, jaccard FROM (
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / (la.n_g + lb.n_g - i), 6) AS jaccard
    FROM inter
      JOIN sizes la ON id_a = la.doc_id
      JOIN sizes lb ON id_b = lb.doc_id
  ) WHERE jaccard >= 0.5
)"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"WITH {_NGRAM_PAIRS_CTES}\nSELECT id_a, id_b, jaccard FROM pairs",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT token-3-gram Jaccard near-dup pairs (>= 0.5) via
    inverted-index join — the deterministic, hash-checked counterpart
    of dedup_fuzzy_minhash."""
    return token_ngram_jaccard_pairs(table(spark, sf_dir, "documents"))


@register(
    "dedup_embedding_cosine",
    oracle=_PAIR_SQL_COMMON.format(op="<") + "WHERE ROUND({d} / (a.n * b.n), 6) >= 0.4".format(
        d="list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i]))"
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: same-label blocked exact
    cosine >= threshold (0.4 exercises the path on the random fixture
    vectors; real near-dup corpora use ~0.95). Same Arrow kernel as
    sim_search_topk; at scale swap label blocking for LSH/IVF buckets."""
    # threshold pushes the cut into the Arrow kernel: only pairs that
    # can pass the rounded filter below are emitted (raw >= 0.4 - 1e-6),
    # so the Arrow transfer carries the matches instead of O(block^2)
    # rows; the filter on the rounded sims still decides.
    pairs = blocked_pairs(table(spark, sf_dir, "embeddings"), threshold=0.4)
    return pairs.filter(F.col("sim") >= 0.4).select("id_a", "id_b", "label", "sim")


@register("sim_ann_ivf_topk", oracle=None, check="rows", prop_tests=("tests/test_textops.py::test_ann_ivf_recall_vs_exact",))
def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN via IVF-flat: deterministic sampled centroids
    (coarse quantizer), nearest-cell assignment, 4-cell probing, exact
    cosine re-rank top-10. The data-adaptive companion to the LSH
    path; approximate by design -> rows check + recall property test."""
    from ..operators.similarity import ann_ivf_topk

    return ann_ivf_topk(table(spark, sf_dir, "embeddings"), k=10)


def _minhash_oracle() -> str:
    from ..operators.dedup import MINHASH_COEFFS, MINHASH_P, gram_hash_sql

    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS m{i + 1}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    def band_join(cols: list[str]) -> str:
        on = " AND ".join(f"a.{c} = b.{c}" for c in cols)
        return (
            f"SELECT a.doc_id AS id_a, b.doc_id AS id_b\n"
            f"  FROM m a JOIN m b ON {on} AND a.doc_id < b.doc_id"
        )
    b1 = band_join(["m1", "m2", "m3", "m4"])
    b2 = band_join(["m5", "m6", "m7", "m8"])
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS g
  FROM documents
),
ex AS (SELECT doc_id, unnest(g) AS s FROM sh),
hs AS (SELECT doc_id, {gram_hash_sql('s')} AS h FROM ex),
m AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id),
c AS (
  {b1}
  UNION ALL
  {b2}
)
SELECT id_a, id_b, COUNT(*) AS n_bands FROM c GROUP BY id_a, id_b
"""


@register("dedup_minhash_banded", oracle=_minhash_oracle())
def dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic banded MinHash near-dup candidates: md5-nibble
    gram hashes + pinned affine hash family + 2x4 banding — the
    hash-checked, engine-reproducible counterpart of
    dedup_fuzzy_minhash (whose spark.ml hash family is opaque).
    Banding keeps candidate generation ~linear in corpus size; at
    100 TB the band join IS the shuffle, on 4-int keys, never text."""
    from ..operators.dedup import minhash_banded_pairs

    return minhash_banded_pairs(table(spark, sf_dir, "documents"))


@register(
    "agg_vector_centroid",
    oracle="""
WITH x AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings
)
SELECT label, pos,
       CAST(SUM(q) AS DOUBLE) / 1000000.0 / COUNT(*) AS centroid
FROM x GROUP BY label, pos
""",
)
def agg_vector_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, elementwise.

    Floats are quantized to 1e-6 (FLOOR — no rounding-mode ambiguity)
    and summed as BIGINT, so the mean is exact and order-independent:
    the same trick the money aggregates use, applied to vectors. One
    hash-agg over (label, pos) — at 100 TB this is the map-side-
    combinable formulation (vs collecting vectors per label).
    """
    e = table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("v").cast("double") * 1_000_000).cast("bigint")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(q).cast("double") / F.lit(1_000_000.0) / F.count(F.lit(1))).alias(
                "centroid"
            )
        )
    )


@register(
    "dedup_connected_components",
    oracle=f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES},
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach (s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT s AS doc_id, LEAST(s, MIN(d)) AS component_id
FROM reach GROUP BY s
""",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: near-dup PAIRS (exact 3-gram Jaccard >= 0.5)
    -> dedup GROUPS via the connected-components operator (component
    id = min reachable doc_id; keep that doc, drop the rest).

    Each large-star/small-star round is a distributed groupBy+join
    with lineage truncated by localCheckpoint; the round count is
    O(log^2 n) whatever the graph diameter. The oracle reaches the
    same fixpoint with a recursive CTE — fine at fixture scale, while
    the Spark formulation is the one that survives a 100 TB pair
    graph.
    """
    from ..operators.dedup import connected_components

    pairs = token_ngram_jaccard_pairs(table(spark, sf_dir, "documents"))
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("component").alias("component_id")
    )


@register(
    "dedup_components_largestar",
    oracle=f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES},
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach (s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT s AS doc_id, LEAST(s, MIN(d)) AS component_id
FROM reach GROUP BY s
""",
    tags=("dedup", "scale", "iterative"),
)
def dedup_components_largestar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering on the SAME near-dup pair graph as
    dedup_connected_components, named for the algorithm behind it:
    alternating large-star / small-star contractions (ACM SoCC 2014,
    public — see operators/dedup.py:connected_components), whose round
    count is O(log^2 n) independent of graph diameter, so it also
    survives a pathological chain (10^6-link update sequences) at
    100 TB. Both keys run the one operator and hash to the identical
    fixpoint. tests/test_operators.py additionally checks it against
    a union-find reference on a random graph AND contracts a 400-node
    path (the adversarial-diameter case the fixture cannot
    produce)."""
    from ..operators.dedup import connected_components

    pairs = token_ngram_jaccard_pairs(table(spark, sf_dir, "documents"))
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("component").alias("component_id")
    )


@register(
    "split_time_embargo",
    oracle="""
WITH labeled AS (
  SELECT user_id,
         CASE WHEN ts < TIMESTAMP '2024-01-19' THEN 'train'
              WHEN ts >= TIMESTAMP '2024-01-22' THEN 'test'
              ELSE 'embargo' END AS split
  FROM events
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM labeled GROUP BY split
""",
    tags=("trainprep", "split"),
)
def split_time_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL train/test split with an EMBARGO gap — the
    leakage-safe split for time-dependent data (finance, user
    behavior): train strictly before cutoff-minus-embargo, test
    strictly from the cutoff, and the embargo window in between
    EXCLUDED from both, so features computed with lookback windows
    (rolling aggregates ending at train time) can never overlap the
    test period — the purged/embargoed split from the financial-ML
    literature, and the temporal sibling of split_leakage_safe's
    group-holdout. Pure scan-local CASE + one hash-agg; at 100 TB
    the label costs nothing and the split is reproducible from the
    timestamp alone (no RNG, no state)."""
    ev = table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-22").cast("timestamp")
    embargo_start = F.lit("2024-01-19").cast("timestamp")
    split = (
        F.when(F.col("ts") < embargo_start, "train")
        .when(F.col("ts") >= cutoff, "test")
        .otherwise("embargo")
    )
    return (
        ev.select(split.alias("split"), "user_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@register(
    "sample_downweight_duplicates",
    oracle="""
WITH c AS (
  SELECT doc_id,
         md5(array_to_string(
           list_slice(string_split(lower(text), ' '), 1, 3), ' ')) AS ck
  FROM documents
),
s AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY ck) AS cluster_size FROM c
)
SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(ROUND(1000000000.0 / cluster_size, 0) AS BIGINT) AS weight_ppb
FROM s
""",
    tags=("trainprep", "dedup"),
)
def sample_downweight_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATE-AWARE SAMPLING WEIGHTS: instead of dropping
    near-duplicates, keep every copy but weight each document by the
    INVERSE of its cluster size, so a boilerplate template repeated
    10^4 times contributes one document's worth of gradient — the
    soft-dedup alternative the data-mixing literature uses when hard
    dedup would distort the source distribution. Clusters here key
    on the opening 3-token template (the shared-boilerplate shape);
    any cluster id plugs in (minhash component, URL canonical form).
    Weights are emitted as exact ppb BIGINTs (round(1e9/n)) so the
    hash check is bit-stable. One hash window over the cluster key —
    cluster-grain shuffle only, no pair enumeration, no collect."""
    d = table(spark, sf_dir, "documents")
    ck = F.md5(
        F.concat_ws(" ", F.slice(F.split(F.lower("text"), " "), 1, 3))
    )
    w = Window.partitionBy("ck")
    return (
        d.select("doc_id", ck.alias("ck"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .select(
            "doc_id",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.round(F.lit(1000000000.0) / F.col("cluster_size"), 0)
            .cast("bigint")
            .alias("weight_ppb"),
        )
    )


@register(
    "agg_embedding_quantize",
    oracle="""
WITH v AS (
  SELECT label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
s AS (
  SELECT label,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale, e
  FROM v
),
err AS (
  SELECT label, scale,
         list_sum(list_transform(e, x -> abs(x - ROUND(x / scale, 0) * scale)))
           / len(e) AS verr
  FROM s WHERE scale > 0
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(CAST(ROUND(scale * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*)
         AS avg_scale,
       CAST(SUM(CAST(ROUND(verr * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*)
         AS avg_abs_err
FROM err GROUP BY label
""",
)
def agg_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit per label: per-vector scale
    (max|x|/127), mean |dequant error|, averaged per label.

    This is the 100 TB shuffle-bytes lever: an int8 embedding column
    moves 4x fewer bytes through every exchange than float32 (16x vs
    float64), and this operator quantifies the recall-relevant error
    budget before a pipeline commits to it. Per-vector math is one
    JVM-side higher-order fold; the per-label average uses the exact
    nano-quantized BIGINT sum (order-independent -> hash-stable).
    """
    emb = table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(e, F.abs)) / F.lit(127.0)
    verr = (
        F.aggregate(
            F.transform(
                F.col("__e"),
                lambda x: F.abs(
                    x - F.round(x / F.col("__scale"), 0) * F.col("__scale")
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size("__e")
    )
    per_vec = (
        emb.select("label", e.alias("__e"), scale.alias("__scale"))
        .filter(F.col("__scale") > 0)
        .select("label", "__scale", verr.alias("__verr"))
    )
    nano = lambda c: F.sum(F.round(c * F.lit(1e9), 0).cast("bigint"))  # noqa: E731
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (nano(F.col("__scale")).cast("double") / F.lit(1e9) / F.count(F.lit(1))).alias(
            "avg_scale"
        ),
        (nano(F.col("__verr")).cast("double") / F.lit(1e9) / F.count(F.lit(1))).alias(
            "avg_abs_err"
        ),
    )


@register(
    "sim_pairwise_l2",
    oracle="""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       ROUND(sqrt(list_sum(list_transform(generate_series(1, len(a.e)),
             i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i])))), 6) AS l2
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(sqrt(list_sum(list_transform(generate_series(1, len(a.e)),
      i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i])))), 6) <= 1.2
""",
)
def sim_pairwise_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close pairs by exact Euclidean distance within label blocks
    (l2 <= 1.2 on the random fixture; real corpora tune the radius).
    The metric-space companion to dedup_embedding_cosine: same
    blocked shape, sequential-fold arithmetic identical to the
    oracle's list_sum, so the raw doubles hash-match.

    Candidates come from blocked_pairs' L2 metric: a tiled-GEMM
    prefilter (||a-b||^2 = ||a||^2+||b||^2-2ab, margin-cut at the
    threshold), survivors recomputed with the exact difference fold,
    so the emitted doubles are the oracle's and the Arrow transfer is
    the matches, not O(block^2). The rounded filter below takes the
    final decision. max_block_rows=None: the output is the matches,
    so blocks past the cap run (the sf10/sf100 tier labels do)."""
    emb = table(spark, sf_dir, "embeddings")
    pairs = blocked_pairs(
        emb,
        metric="l2",
        threshold=1.2,
        max_block_rows=None,
        n_chunks=adaptive_chunks(emb),
    )
    return pairs.select("id_a", "id_b", "label", "l2").filter(
        F.col("l2") <= 1.2
    )


def _winnow_oracle(k: int = 20, w: int = 25, min_shared: int = 3, max_df: int = 1000) -> str:
    from ..operators.dedup import hex32_sql

    return f"""
WITH h AS (
  SELECT doc_id,
         list_transform(
           list_transform(generate_series(1, length(text) - {k - 1}),
                          i -> md5(substr(text, i, {k}))),
           m -> {hex32_sql('m')}) AS hs
  FROM documents WHERE length(text) >= {k + w - 1}
),
fp AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(hs) - {w - 1}),
             i -> list_min(hs[i:i+{w - 1}]))) AS fps
  FROM h
),
ex0 AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
hot AS (SELECT fp FROM ex0 GROUP BY fp HAVING COUNT(*) > {max_df}),
ex AS (SELECT doc_id, fp FROM ex0 ANTI JOIN hot USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}
"""


@register("dedup_winnow_substring", oracle=_winnow_oracle())
def dedup_winnow_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-overlap candidates via winnowing fingerprints
    (Schleimer et al., SIGMOD 2003): min-hash-per-window selection
    guarantees any shared run >= w+k-1 chars (44 here) yields a shared
    fingerprint. The contamination/boilerplate detector of the dedup
    family — posting-list join with a broadcast-anti-joined df ceiling,
    ~1/w the index size of full shingling."""
    from ..operators.dedup import winnow_overlap_pairs

    return winnow_overlap_pairs(table(spark, sf_dir, "documents"))


# --- training-set preparation (operators/trainprep.py) ---------------

def _md5_byte_sql(key_expr: str) -> str:
    from ..operators.trainprep import MD5_BYTE

    return MD5_BYTE(key_expr)


@register(
    "split_assign_hash",
    oracle=f"""
SELECT doc_id, source,
       CASE WHEN {_md5_byte_sql('doc_id')} < 250 THEN 'train'
            WHEN {_md5_byte_sql('doc_id')} < 253 THEN 'valid'
            ELSE 'test' END AS split
FROM documents
""",
    tags=("trainprep",),
)
def split_assign_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment (~97.7/1.2/1.2) from
    the first md5 byte of doc_id — a pure function of the key, so the
    split is stable across engines, retries, and corpus appends
    (no RNG, no global sort, no shuffle; evaluates at the scan)."""
    from ..operators.trainprep import assign_split

    return assign_split(
        table(spark, sf_dir, "documents").select("doc_id", "source"),
        "doc_id",
        [("train", 250), ("valid", 253), ("test", 256)],
    )


@register(
    "mix_sources_weighted",
    oracle=f"""
SELECT doc_id, source
FROM documents
WHERE {_md5_byte_sql('doc_id')} * (1 + CAST(substr(source, 4) AS BIGINT) % 4) < 256
""",
    tags=("trainprep",),
)
def mix_sources_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing: keep each doc with per-source rate
    1/(1 + src_num % 4) — i.e. sources cycle through 100/50/33/25 %
    sampling weights — decided by the doc's own hash byte. This is the
    deterministic form of dataset-mixture reweighting: a scan-level
    filter, reproducible under retries, no shuffle."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    from ..operators.trainprep import MD5_BYTE

    return d.filter(
        F.expr(f"{MD5_BYTE('doc_id')} * (1 + CAST(substr(source, 4) AS BIGINT) % 4) < 256")
    )


@register(
    "decontaminate_ngram",
    oracle="""
WITH g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i+1] || ' ' ||
                string_split(text, ' ')[i+2]))) AS gram
  FROM documents
),
bench AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
)
SELECT doc_id, COUNT(*) AS n_shared_grams
FROM g JOIN bench USING (gram)
WHERE doc_id % 97 <> 0
GROUP BY doc_id
""",
    tags=("trainprep",),
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any distinct
    token 3-gram with the 'benchmark' subset (doc_id % 97 = 0 stands
    in for an eval set), with shared-gram counts. Benchmark grams are
    distinct'd and BROADCAST (eval sets are tiny); the corpus explodes
    grams once and streams through a single inner join + hash-agg —
    never doc x doc. Production n=13; fixture docs are ~50 tokens, so
    n=3 exercises the same plan."""
    from ..operators.trainprep import contaminated_docs

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contaminated_docs(corpus, bench, n=3)


@register(
    "pack_sequences_greedy",
    oracle="""
SELECT doc_id, n_tokens,
       CAST(cum_before // 512 AS BIGINT) AS seq_id,
       CAST(cum_before % 512 AS BIGINT) AS seq_offset
FROM (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         COALESCE(SUM(len(string_split(text, ' '))) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM documents
)
""",
    tags=("trainprep", "scale"),
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: documents laid end-to-end in
    doc_id order, cut into 512-token sequences; each doc gets the
    sequence id and offset of its start. The global running sum uses
    the two-phase __pid rewrite (operators/trainprep.py:global_cumsum)
    — range-partition on doc_id, parallel per-partition windows + a
    one-row-per-shuffle-partition offset table cumsum'd alone and
    broadcast back — bit-identical to the oracle's single window
    without its single-partition bottleneck."""
    from ..operators.trainprep import pack_sequences

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return pack_sequences(
        d, order_col="doc_id", weight_col="n_tokens", seq_len=512, n_partitions=32
    )


@register(
    "vec_normalize_stats",
    oracle=f"""
WITH v AS (
  SELECT vec_id, label, {SQL_VEC_D.format(v='embedding')} AS e FROM embeddings
)
SELECT vec_id, label,
       len(e) AS dim,
       ROUND({SQL_NORM.format(a='e')}, 6) AS l2_norm,
       ROUND(list_sum(e) / NULLIF({SQL_NORM.format(a='e')}, 0.0), 6) AS unit_sum
FROM v
""",
    tags=("vector", "trainprep"),
)
def vec_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalization audit per embedding — the unit-norm pre-step
    cosine retrieval and centroid training assume: vector dim, L2
    norm, and the normalized element sum (a scalar checksum of the
    normalized vector, emitted instead of the array for driver
    hashability). Left-to-right `aggregate` folds mirror DuckDB's
    list_sum fold order so doubles are bit-identical; narrow
    projection, no shuffle."""
    emb = table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sumsq = F.aggregate(e, F.lit(0.0), lambda a, x: a + x * x)
    s = F.aggregate(e, F.lit(0.0), lambda a, x: a + x)
    norm = F.sqrt(sumsq)
    return emb.select(
        "vec_id",
        "label",
        F.size(e).cast("long").alias("dim"),
        F.round(norm, 6).alias("l2_norm"),
        F.round(s / F.nullif(norm, F.lit(0.0)), 6).alias("unit_sum"),
    )


_EMB_EDGE_SQL = (
    _PAIR_SQL_COMMON.format(op="<")
    + "WHERE ROUND({d} / (a.n * b.n), 6) >= 0.4".format(
        d="list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i]))"
    )
)


@register(
    "dedup_embedding_components",
    oracle=f"""
WITH RECURSIVE epairs AS ({_EMB_EDGE_SQL}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM epairs
  UNION ALL
  SELECT id_b, id_a FROM epairs
),
reach (s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT s AS vec_id, LEAST(s, MIN(d)) AS component_id
FROM reach GROUP BY s
""",
    tags=("dedup", "semantic"),
)
def dedup_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup clustering end-to-end: embedding-cosine near-dup
    edges (same Arrow kernel as dedup_embedding_cosine, >= 0.4) fed
    into distributed connected components — vectors collapse into
    semantic groups, keep min vec_id per group. This is the
    SemDeDup-style pipeline shape: candidate edges from blocked exact
    cosine (LSH/IVF buckets at scale), clusters from the iterative
    components operator, every round a groupBy+join with
    localCheckpoint lineage truncation."""
    from ..operators.dedup import connected_components

    pairs = blocked_pairs(table(spark, sf_dir, "embeddings"), threshold=0.4).filter(
        F.col("sim") >= 0.4
    )
    return connected_components(
        pairs.select("id_a", "id_b")
    ).select(F.col("id").alias("vec_id"), F.col("component").alias("component_id"))


@register(
    "dedup_prefix_cluster",
    oracle="""
SELECT md5(substr(text, 1, 40)) AS prefix_md5,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keep_doc_id,
       string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id) AS member_ids
FROM documents
GROUP BY md5(substr(text, 1, 40))
HAVING COUNT(*) > 1
""",
    tags=("dedup", "trainprep"),
)
def dedup_prefix_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-key near-dup clustering: docs sharing their first 40
    chars (the fixture's seeded near-dup population, FIXTURES.md)
    grouped into clusters, keeping the min doc_id as canonical and
    emitting the sorted member list as a scalar '|' join (arrays
    break the driver canonicalizer). Shuffles only (md5(prefix),
    doc_id) — never the text — so the exchange stays narrow at
    100 TB; this is the cheap first pass before MinHash earns its
    keep on the remainder."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.substring("text", 1, 40)).alias("prefix_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                "|",
            ).alias("member_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "sample_token_budget",
    oracle="""
SELECT doc_id, source, n_tokens, cum_before
FROM (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS cum_before
  FROM (SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents)
) WHERE cum_before < 2000
""",
    tags=("trainprep", "sample"),
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling: per source, take docs in doc_id order
    until a 2000-token budget fills — the mixture-capping step of a
    pretraining data recipe (cap each source, keep selection
    deterministic and resumable). The exclusive running sum is one
    window per source partition — naturally parallel; no global
    window. A doc straddling the budget boundary is kept (its start
    offset is inside budget), matching how packing consumes it."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return docs.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).filter(F.col("cum_before") < 2000)


@register(
    "dedup_url_canonical",
    oracle="""
WITH u AS (
  SELECT doc_id,
         'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
           || source || '.example.com/p/' || (doc_id % 50)
           || (CASE WHEN doc_id % 2 = 0 THEN '?utm=x' ELSE '' END) AS url
  FROM documents
)
SELECT lower(regexp_replace(regexp_extract(url, '^https?://([^/]+)', 1), '^www[.]', ''))
         || regexp_extract(url, '^https?://[^/]+([^?]*)', 1) AS canonical_url,
       COUNT(*) AS n_variants,
       MIN(doc_id) AS keep_doc_id
FROM u
GROUP BY 1
""",
    tags=("dedup", "web", "trainprep"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonical dedup — the CommonCrawl-style first pass: strip
    scheme, leading www. and the query string, lowercase the host,
    then keep one doc per canonical page (min doc_id) with the
    variant count. Synthetic URLs are built in-query from
    (source, doc_id % 50) so www/utm variants of the same page
    genuinely collide (fixture docs carry no URLs). Scan-local regex
    + one hash-agg on the canonical key; the canonical map is what a
    recrawl dedup at 100 TB shuffles instead of page bodies."""
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com/p/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm=x")).otherwise(F.lit("")),
    )
    u = docs.select("doc_id", url.alias("url"))
    canonical = F.concat(
        F.lower(
            F.regexp_replace(
                F.regexp_extract("url", "^https?://([^/]+)", 1), "^www[.]", ""
            )
        ),
        F.regexp_extract("url", "^https?://[^/]+([^?]*)", 1),
    )
    return u.groupBy(canonical.alias("canonical_url")).agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.min("doc_id").alias("keep_doc_id"),
    )


@register(
    "sim_centroid_outliers",
    oracle="""
WITH x AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings
),
c AS (
  SELECT label, pos, CAST(SUM(q) AS DOUBLE) / 1000000.0 / COUNT(*) AS cv
  FROM x GROUP BY label, pos
),
carr AS (SELECT label, list(cv ORDER BY pos) AS c FROM c GROUP BY label),
v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
d AS (
  SELECT vec_id, v.label AS label,
         ROUND(list_sum(list_transform(generate_series(1, len(e)),
                        i -> (e[i] - c[i]) * (e[i] - c[i]))), 6) AS dist2
  FROM v JOIN carr ON v.label = carr.label
)
SELECT label, vec_id, dist2
FROM (
  SELECT label, vec_id, dist2,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id) AS rn
  FROM d
) WHERE rn <= 3
""",
    tags=("vector", "dq", "trainprep"),
)
def sim_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier audit: the 3 vectors farthest (squared L2)
    from their own label centroid — the mislabeled/garbage-vector
    screen run before centroid training. Centroids use the exact
    quantized-BIGINT sums of agg_vector_centroid (order-independent),
    then broadcast back (label-count rows) for a scan-local distance
    fold; ranking happens on the 6-dp ROUNDED distance so both
    engines cut identical top-3 sets (vec_id tie-break). No shuffle
    touches the vectors except the one posexplode agg."""
    e = table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("v").cast("double") * 1_000_000).cast("bigint")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(q).cast("double") / F.lit(1_000_000.0) / F.count(F.lit(1))).alias(
                "cv"
            )
        )
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s.cv
        ).alias("c")
    )
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dist2 = F.round(
        F.aggregate(
            F.zip_with(ed, F.col("c"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    )
    d = e.join(F.broadcast(carr), "label").select(
        "label", "vec_id", dist2.alias("dist2")
    )
    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(), F.col("vec_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", "dist2")
    )


@register(
    "text_perplexity_proxy",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
tot AS (SELECT COUNT(*) AS total FROM tok),
q AS (
  SELECT t.doc_id,
         CAST(FLOOR(ROUND(-ln(CAST(tf.tf AS DOUBLE) / tot.total), 9) * 1000000) AS BIGINT) AS sq
  FROM tok t JOIN tf USING (token) CROSS JOIN tot
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(CAST(SUM(sq) AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS avg_surprisal_nats
FROM q GROUP BY doc_id
""",
    tags=("text", "quality", "trainprep"),
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (perplexity proxy): mean per-token
    surprisal -ln p(token) under the corpus's own unigram model — the
    statistical upgrade of heuristic quality scoring (gibberish and
    boilerplate both drift from typical surprisal). Per-token
    surprisal is quantized FLOOR(x*1e6) to micro-nats and summed as
    BIGINT, so the per-doc mean is exact and shuffle-order-free; the
    tf table is vocab-sized and broadcasts, the total is a 1-row
    broadcast scalar. Two hash-aggs + one broadcast join — at 100 TB
    the heavy exchange is the (doc_id) agg, which is the same
    cardinality as the corpus scan."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    tot = tok.agg(F.count(F.lit(1)).alias("total"))
    # round to 9 guard digits before FLOOR: JVM and libm ln may differ
    # by 1 ulp, and an ulp landing on a quantization boundary would
    # flip the micro-nat integer cross-engine.
    sq = F.floor(
        F.round(
            -F.log(F.col("tf").cast("double") / F.col("total")), 9
        )
        * 1_000_000
    ).cast("bigint")
    return (
        tok.join(F.broadcast(tf), "token")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", sq.alias("sq"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("sq").cast("double") / F.lit(1_000_000.0) / F.count(F.lit(1)),
                6,
            ).alias("avg_surprisal_nats"),
        )
    )


# BM25 contribution per (doc, term), quantized to exact micro-units.
# The arithmetic text is shared verbatim between F.expr and the DuckDB
# oracle so both engines execute the identical double expression tree
# before the FLOOR quantization (k1=1.2, b=0.75; idf is the BM25+
# log((N-df+.5)/(df+.5)+1) variant, positive for any df). ROUND to 9
# guard digits first: a 1-ulp ln() divergence on a quantization
# boundary would otherwise flip the BIGINT cross-engine.
_BM25_Q = (
    "CAST(FLOOR(ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
    " * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"
    ", 9) * 1000000) AS BIGINT)"
)
_BM25_TERMS = "'table', 'scan', 'merge'"


@register(
    "text_bm25_score",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok
  WHERE token IN ({_BM25_TERMS}) GROUP BY doc_id, token
),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
contrib AS (
  SELECT tf.doc_id, {_BM25_Q} AS q
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id,
       COUNT(*) AS n_matched_terms,
       ROUND(CAST(SUM(q) AS DOUBLE) / 1000000.0, 6) AS bm25
FROM contrib GROUP BY doc_id
""",
    tags=("text", "retrieval"),
)
def text_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75, BM25+ idf) of every
    document against the query {table, scan, merge} — the classic
    sparse-retrieval ranking tf-idf graduates to. Corpus stats
    (N, avgdl) are a 1-row broadcast; df is query-term sized; per-term
    contributions run through the IDENTICAL expression text in both
    engines and are quantized to micro-unit BIGINTs before the per-doc
    sum, so the score is exact regardless of shuffle order. At 100 TB
    the only wide exchange is the (doc, term) tf agg, which is
    match-sized, not corpus-sized."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size(F.split("text", " "))).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    terms = [t.strip().strip("'") for t in _BM25_TERMS.split(",")]
    tf = (
        tok.filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(_BM25_Q).alias("q"))
    )
    return contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matched_terms"),
        F.round(F.sum("q").cast("double") / F.lit(1_000_000.0), 6).alias("bm25"),
    )


@register(
    "dedup_apply_keep",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY md5(substr(text, 1, 40))
                            ORDER BY doc_id) AS rn
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
FROM ranked WHERE rn = 1
GROUP BY source
""",
    tags=("dedup", "trainprep"),
)
def dedup_apply_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup APPLIED, not just detected: keep the canonical (min
    doc_id) member of every 40-char-prefix cluster, drop the rest,
    and report the per-source kept corpus (doc + token counts) — the
    deliverable a training pipeline actually consumes after the
    cluster pass. One window on the cluster key + one hash-agg; only
    (md5, ids, counts) shuffle, never text."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.md5(F.substring("text", 1, 40)).alias("__pfx"),
    )
    w = Window.partitionBy("__pfx").orderBy("doc_id")
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
    )


@register(
    "dedup_levenshtein_verify",
    oracle="""
WITH c AS (
  SELECT md5(substr(text, 1, 40)) AS pfx, doc_id, text
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
  FROM c a JOIN c b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(levenshtein(ta, tb) AS BIGINT) AS edit_dist,
       ROUND(1.0 - CAST(levenshtein(ta, tb) AS DOUBLE)
                 / greatest(length(ta), length(tb), 1), 6) AS sim_ratio
FROM pairs
""",
    tags=("dedup", "fuzzy"),
)
def dedup_levenshtein_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance VERIFY pass over blocked candidates: Levenshtein
    distance + normalized similarity for pairs sharing a 40-char
    prefix — the precise (O(len²) per pair) check that runs ONLY on
    candidates a cheap blocking pass produced, never all-pairs. Both
    engines evaluate the same native levenshtein; the prefix block
    bounds pair count, which is the entire scale story of
    fuzzy-matching at 100 TB: blocking generates, edit distance
    adjudicates."""
    docs = table(spark, sf_dir, "documents").select(
        F.md5(F.substring("text", 1, 40)).alias("pfx"), "doc_id", "text"
    )
    a = docs.select(
        "pfx", F.col("doc_id").alias("id_a"), F.col("text").alias("ta")
    )
    b = docs.select(
        "pfx", F.col("doc_id").alias("id_b"), F.col("text").alias("tb")
    )
    pairs = a.join(b, "pfx").filter(F.col("id_a") < F.col("id_b"))
    dist = F.levenshtein("ta", "tb").cast("long")
    return pairs.select(
        "id_a",
        "id_b",
        dist.alias("edit_dist"),
        # greatest(..., 1): two empty texts share the empty-prefix
        # block; without the clamp 0/0 -> NaN diverges cross-engine.
        F.round(
            1.0
            - dist.cast("double")
            / F.greatest(F.length("ta"), F.length("tb"), F.lit(1)),
            6,
        ).alias("sim_ratio"),
    )


@register(
    "dedup_semantic_keep",
    oracle=f"""
WITH RECURSIVE epairs AS ({_EMB_EDGE_SQL}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM epairs
  UNION ALL
  SELECT id_b, id_a FROM epairs
),
reach (s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
comp AS (SELECT s AS vec_id, LEAST(s, MIN(d)) AS cid FROM reach GROUP BY s),
dropped AS (SELECT vec_id FROM comp WHERE cid < vec_id)
SELECT label,
       COUNT(*) AS n_total,
       CAST(COUNT(*) FILTER (WHERE vec_id NOT IN (SELECT vec_id FROM dropped))
            AS BIGINT) AS n_kept
FROM embeddings GROUP BY label
""",
    tags=("dedup", "semantic", "trainprep"),
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup APPLIED (the SemDeDup deliverable): canonical
    (min vec_id) members of every cosine-similarity component are
    kept, the rest dropped, reported per label as kept/total counts.
    The component labeling is the same connected-components operator
    as dedup_embedding_components; the drop set (components' non-
    canonical members) is near-dup-population sized, so it broadcasts
    into an anti-join against the full collection — the corpus never
    shuffles for the subtraction."""
    from ..operators.dedup import connected_components

    emb = table(spark, sf_dir, "embeddings")
    pairs = blocked_pairs(emb, threshold=0.4).filter(F.col("sim") >= 0.4)
    comp = connected_components(pairs.select("id_a", "id_b"))
    dropped = comp.filter(F.col("component") < F.col("id")).select(
        F.col("id").alias("vec_id")
    )
    kept_flag = F.when(F.col("__dropped").isNull(), 1).otherwise(0)
    return (
        emb.join(
            F.broadcast(dropped.withColumn("__dropped", F.lit(1))),
            "vec_id",
            "left",
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept_flag).cast("bigint").alias("n_kept"),
        )
    )


@register(
    "dedup_normalized_exact",
    oracle="""
WITH norm AS (
  SELECT doc_id, source,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
           ' +', ' ', 'g')) AS ntext
  FROM documents
),
ranked AS (
  SELECT doc_id, source, md5(ntext) AS fp,
         ROW_NUMBER() OVER (PARTITION BY md5(ntext) ORDER BY doc_id) AS rn
  FROM norm
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COUNT(DISTINCT fp) AS n_distinct_norm
FROM ranked
GROUP BY source
""",
    tags=("dedup", "trainprep"),
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup (round 4): case-fold, strip
    punctuation, collapse whitespace, THEN fingerprint — catches the
    re-encoded/re-formatted duplicates plain byte-exact dedup misses
    (the first pass of every web-corpus pipeline, before any fuzzy
    stage). The normalization is scan-local regex; only (md5, ids)
    shuffle, never text; one window on the fingerprint + one
    hash-agg. The regex text is shared semantics with the oracle, so
    both engines must normalize identically."""
    d = table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        "source",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "),
                " +",
                " ",
            )
        ).alias("ntext"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    ranked = norm.select(
        "doc_id", "source", F.md5("ntext").alias("fp")
    ).withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.countDistinct("fp").alias("n_distinct_norm"),
    )


@register(
    "sample_temperature_mix",
    oracle="""
WITH per_src AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
         CAST(FLOOR(ROUND(pow(CAST(SUM(n_chars) AS DOUBLE), 0.7), 9) * 1000000)
              AS BIGINT) AS r
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(r) AS rs FROM per_src)
SELECT source, n_docs, n_chars_total,
       ROUND(CAST(r AS DOUBLE) / CAST(rs AS DOUBLE), 6) AS mix_weight,
       CAST(FLOOR(CAST(r AS DOUBLE) / CAST(rs AS DOUBLE) * 100000.0) AS BIGINT)
         AS target_docs
FROM per_src, tot
ORDER BY source
""",
    tags=("trainprep",),
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (round 4): the standard
    multi-source LLM-data rebalancer — sample source i proportional
    to size^alpha (alpha = 0.7), which upsamples small sources and
    flattens head-heavy corpora; outputs each source's weight and its
    document budget out of a 100k-doc target.

    One hash-agg sizes every source (by total chars, the token
    proxy); pow() runs per GROUP (tiny), is guard-rounded to 9 digits
    and quantized to BIGINT micro-units BEFORE the total — a 1-ulp
    pow() divergence between JVM and libm cannot flip the integer,
    and the integer total is shuffle-order-free where a double sum of
    raw pow values would re-associate. The 1-row total broadcasts
    back (scalar-subquery pattern). Scale: everything after the
    first agg is |sources|-sized."""
    d = table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
    )
    per_src = per_src.withColumn(
        "r",
        F.floor(
            F.round(F.pow(F.col("n_chars_total").cast("double"), 0.7), 9)
            * 1_000_000
        ).cast("bigint"),
    )
    tot = per_src.agg(F.sum("r").alias("rs"))
    w = F.col("r").cast("double") / F.col("rs").cast("double")
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars_total",
            F.round(w, 6).alias("mix_weight"),
            F.floor(w * F.lit(100000.0)).cast("bigint").alias("target_docs"),
        )
        .orderBy("source")
    )


@register(
    "sim_matryoshka_overlap",
    oracle=f"""
WITH v AS (
  SELECT vec_id, label,
         {SQL_VEC_D.format(v='embedding')} AS e,
         {SQL_VEC_D.format(v='embedding[1:16]')} AS et,
         {SQL_NORM.format(a=SQL_VEC_D.format(v='embedding'))} AS n,
         {SQL_NORM.format(a=SQL_VEC_D.format(v='embedding[1:16]'))} AS nt
  FROM embeddings
),
qs AS (
  SELECT * FROM (
    SELECT v.*, ROW_NUMBER() OVER (PARTITION BY label
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS qrn
    FROM v
  ) WHERE qrn <= 64
),
pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS cid, a.label AS label,
         {SQL_DOT.format(a='a.e', b='b.e')} / (a.n * b.n) AS sim_full,
         {SQL_DOT.format(a='a.et', b='b.et')} / (a.nt * b.nt) AS sim_trunc
  FROM qs a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id
),
rf AS (
  SELECT label, qid, cid,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_full DESC, cid) AS r
  FROM pairs
),
rt AS (
  SELECT qid, cid,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_trunc DESC, cid) AS r
  FROM pairs
),
ov AS (
  SELECT f.label, f.qid,
         SUM(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END) AS n_common
  FROM (SELECT * FROM rf WHERE r <= 3) f
  LEFT JOIN (SELECT * FROM rt WHERE r <= 3) t
    ON f.qid = t.qid AND f.cid = t.cid
  GROUP BY f.label, f.qid
)
SELECT label,
       COUNT(*) AS n_queries,
       ROUND(CAST(SUM(n_common) AS DOUBLE) / (3.0 * COUNT(*)), 6)
         AS recall_at_3,
       CAST(MIN(n_common) AS INTEGER) AS min_common
FROM ov GROUP BY label ORDER BY label
""",
    tags=("similarity",),
)
def sim_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/truncated-dimension retrieval audit: how much of
    each exact top-3 neighbor set survives when cosine runs on only
    the first 16 of 64 dims — the measurement behind MRL-style
    dimension-reduction rollouts (serve short vectors, verify recall
    before cutting storage 4x).

    Both rankings share one label-blocked pair DEFINITION (never
    all-pairs): full and truncated similarities sit in the same
    projection, and each ranking branch gets WindowGroupLimit
    map-side top-k pruning before its qid exchange. Catalyst
    evaluates the pair branch once per ranking (different window
    sort keys block exchange reuse); if the pair join dominated at
    scale you would materialize pairs once via write_bucketed and
    rank twice from the bucketed copy. Dot products are sequential
    JVM fold / list_sum over identical operand order, so sims are
    bit-identical cross-engine and the DESC/cid tie-broken top-3 row
    sets agree exactly. At scale, label = IVF/LSH bucket id and the
    truncated variant is the cheap pre-rank whose quality this query
    certifies.

    Audit-sample cap (the scale guard): a recall audit doesn't need
    every vector as a query — the QUERY side is capped at 64 per
    block (deterministic md5-order row_number; candidates stay the
    FULL block), so pair cost is 64·|block| per block, linear in the
    corpus, instead of |block|² — the 20x stress tier went quadratic
    without it. Fixture blocks (~50) sit under the cap, so results
    are unchanged there; the oracle mirrors the same capped CTE."""
    from ..operators.similarity import as_double, dot, norm

    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        as_double(F.col("embedding")).alias("e"),
        as_double(F.slice("embedding", 1, 16)).alias("et"),
    ).select(
        "*",
        norm(F.col("e")).alias("n"),
        norm(F.col("et")).alias("nt"),
    )
    wq = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    q_sample = (
        v.withColumn("qrn", F.row_number().over(wq))
        .filter(F.col("qrn") <= 64)
        .drop("qrn")
    )
    a, b = q_sample.alias("a"), v.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("qid"),
        F.col("b.vec_id").alias("cid"),
        F.col("a.label").alias("label"),
        (dot(F.col("a.e"), F.col("b.e")) / (F.col("a.n") * F.col("b.n"))).alias(
            "sim_full"
        ),
        (
            dot(F.col("a.et"), F.col("b.et")) / (F.col("a.nt") * F.col("b.nt"))
        ).alias("sim_trunc"),
    )
    wf = Window.partitionBy("qid").orderBy(F.col("sim_full").desc(), F.col("cid"))
    wt = Window.partitionBy("qid").orderBy(F.col("sim_trunc").desc(), F.col("cid"))
    rf = (
        pairs.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= 3)
        .select("label", "qid", "cid")
    )
    rt = (
        pairs.withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= 3)
        .select("qid", "cid", F.lit(1).alias("m"))
    )
    ov = (
        rf.join(rt, ["qid", "cid"], "left")
        .groupBy("label", "qid")
        .agg(F.sum(F.coalesce("m", F.lit(0))).alias("n_common"))
    )
    return (
        ov.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(
                F.sum("n_common").cast("double") / (3.0 * F.count(F.lit(1))), 6
            ).alias("recall_at_3"),
            F.min("n_common").cast("int").alias("min_common"),
        )
        .orderBy("label")
    )


@register(
    "multimodal_resize_bmp",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         1 + doc_id % 31 AS in_w,
         1 + doc_id % 23 AS in_h
  FROM documents WHERE doc_id % 4 = 1
),
px AS (
  SELECT doc_id, in_w, in_h,
         (x.x * in_w) // 8 AS sx,
         (y.y * in_h) // 6 AS sy
  FROM dims
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) x
  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS y) y
)
SELECT doc_id, in_w, in_h,
       CAST(8 AS BIGINT) AS out_w, CAST(6 AS BIGINT) AS out_h,
       CAST(SUM((sx * 7 + sy * 13) % 256
                + 256 * ((sx * 11 + sy * 3) % 256)
                + 65536 * ((sx * 5 + sy * 17) % 256)) AS BIGINT) AS checksum
FROM px
GROUP BY doc_id, in_w, in_h
""",
    tags=("multimodal",),
)
def multimodal_resize_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, no codec library: 24-bit BMPs (the
    uncompressed format — byte layout IS the spec) are generated with
    a closed-form pixel pattern, decoded, nearest-neighbor resampled
    to 8x6, RE-ENCODED, then re-decoded for the checksum — all in
    pure Python inside one mapInPandas kernel, Arrow-batched. The
    oracle recomputes the resampled checksum arithmetically from the
    pattern + the floor(dst*in/out) mapping, so the hash certifies
    genuine pixel decode/resample/encode work cross-engine.
    Compressed formats (PNG/JPEG) still gate their pixel path behind
    the PIL probe — only their header parse is native.

    Scale: payloads never leave the executor; one input row -> one
    output row of atomic stats. doc_id % 4 = 1 selects the BMP slice
    of the fixture's format cycle (operators/multimodal.py
    attach_fake_images)."""
    from ..operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp_pattern,
        resize_bmp_nearest,
        sniff_image,
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            rows = []
            for i in ids:
                payload = encode_bmp_pattern(1 + i % 31, 1 + i % 23)
                in_fmt, in_w, in_h = sniff_image(payload)
                resized = resize_bmp_nearest(payload, 8, 6)
                out_fmt, out_w, out_h = sniff_image(resized)
                assert (in_fmt, out_fmt) == ("bmp", "bmp")
                _, _, img = decode_bmp_pixels(resized)
                cks = sum(
                    b + 256 * g + 65536 * r for row in img for (b, g, r) in row
                )
                rows.append((i, in_w, in_h, out_w, out_h, cks))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "in_w", "in_h", "out_w", "out_h", "checksum",
                ],
            )

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 1)
    return d.select("doc_id").mapInPandas(
        batches,
        schema=(
            "doc_id BIGINT, in_w BIGINT, in_h BIGINT, "
            "out_w BIGINT, out_h BIGINT, checksum BIGINT"
        ),
    )


@register(
    "multimodal_audio_wav",
    oracle="""
WITH docs4 AS (
  SELECT doc_id,
         200 + (doc_id % 7) * 50 AS n_samples,
         8000 + (doc_id % 3) * 4000 AS sample_rate
  FROM documents WHERE doc_id % 4 = 2
),
s AS (
  SELECT doc_id, n_samples, sample_rate,
         abs(((i.i * 2654435761) % 65536) - 32768) AS a
  FROM docs4
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(0, n_samples - 1)) AS i
  ) i
)
SELECT doc_id,
       CAST(sample_rate AS BIGINT) AS sample_rate,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(n_samples * 1000 // sample_rate AS BIGINT) AS duration_ms,
       CAST(SUM(a) AS BIGINT) AS sum_abs
FROM s
GROUP BY doc_id, sample_rate, n_samples
""",
    tags=("multimodal",),
)
def multimodal_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio parse + feature extraction, no codec library: PCM
    WAV is audio's uncompressed format (like BMP for images) — the
    RIFF chunk walk, fmt/data parsing, and 16-bit sample decode are
    pure byte work. Each doc gets a closed-form-sampled WAV
    (generated AND parsed inside one Arrow mapInPandas kernel), and
    the extracted features (rate, count, duration, sum of |sample|)
    must match the oracle's arithmetic recomputation — certifying a
    genuine RIFF decode path. Compressed audio (mp3/ogg) would gate
    behind a codec probe exactly like PIL for images.

    Scale: payloads never leave the executor; one row in, one
    feature row out; doc_id % 4 = 2 is this key's slice of the
    fixture's media-format cycle."""
    from ..operators.multimodal import encode_wav_pattern, parse_wav

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                n = 200 + (i % 7) * 50
                rate = 8000 + (i % 3) * 4000
                got_rate, chans, bits, samples = parse_wav(
                    encode_wav_pattern(n, rate)
                )
                assert (got_rate, chans, bits, len(samples)) == (rate, 1, 16, n)
                rows.append(
                    (
                        i,
                        got_rate,
                        len(samples),
                        len(samples) * 1000 // got_rate,
                        sum(abs(s) for s in samples),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_samples", "duration_ms",
                    "sum_abs",
                ],
            )

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 2)
    return d.select("doc_id").mapInPandas(
        batches,
        schema=(
            "doc_id BIGINT, sample_rate BIGINT, n_samples BIGINT, "
            "duration_ms BIGINT, sum_abs BIGINT"
        ),
    )


@register(
    "multimodal_video_y4m",
    oracle="""
WITH docs4 AS (
  SELECT doc_id,
         2 * (1 + doc_id % 5) AS w,
         2 * (1 + doc_id % 4) AS h,
         4 + doc_id % 5 AS n_frames
  FROM documents WHERE doc_id % 4 = 3
),
frames AS (
  SELECT doc_id, w, h, f.f AS frame_idx
  FROM docs4
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(0, n_frames - 1)) AS f
  ) f
  WHERE f.f % 2 = 0
),
px AS (
  SELECT doc_id, w, h, frame_idx,
         (x.x * 3 + y.y * 5 + frame_idx * 7) % 256 AS luma
  FROM frames
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) x
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(SUM(luma) AS BIGINT) AS y_checksum
FROM px
GROUP BY doc_id, frame_idx, w, h
""",
    tags=("multimodal",),
)
def multimodal_video_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling, no ffmpeg: YUV4MPEG2 is video's
    uncompressed container — a text header plus FRAME-delimited raw
    4:2:0 planes — so the stream walk and luma-plane extraction are
    pure byte work. Each doc gets a closed-form multi-frame Y4M;
    every 2nd frame is sampled (one input row -> many frame rows,
    the fan-out shape of frame extraction) and each kept frame's
    luma checksum must match the oracle's arithmetic recomputation.
    Compressed containers (mp4/webm) keep the ffmpeg stub.

    Scale: frame fan-out happens executor-side in the Arrow kernel;
    at real scale you'd repartition by payload size first so batches
    stay balanced. doc_id % 4 = 3 is this key's media-cycle slice."""
    from ..operators.multimodal import encode_y4m_pattern, sample_y4m_frames

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                w, h = 2 * (1 + i % 5), 2 * (1 + i % 4)
                buf = encode_y4m_pattern(w, h, 4 + i % 5)
                for idx, gw, gh, cks in sample_y4m_frames(buf, 2):
                    rows.append((i, idx, gw, gh, cks))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height", "y_checksum"],
            )

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 3)
    return d.select("doc_id").mapInPandas(
        batches,
        schema=(
            "doc_id BIGINT, frame_idx BIGINT, width BIGINT, "
            "height BIGINT, y_checksum BIGINT"
        ),
    )


@register(
    "dedup_ngram_containment",
    oracle="""
WITH
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS g
  FROM documents
),
ex0 AS (SELECT doc_id, unnest(g) AS s FROM sh),
hot AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) > 1000),
ex AS (SELECT doc_id, s FROM ex0 ANTI JOIN hot USING (s)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_g FROM ex GROUP BY doc_id)
SELECT id_a, id_b, containment FROM (
  SELECT id_a, id_b,
         ROUND(CAST(i AS DOUBLE) / LEAST(la.n_g, lb.n_g), 6) AS containment
  FROM inter
    JOIN sizes la ON id_a = la.doc_id
    JOIN sizes lb ON id_b = lb.doc_id
) WHERE containment >= 0.8
""",
    tags=("dedup",),
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup pairs (>= 0.8): the asymmetric measure
    i / min(|A|, |B|) that catches doc-in-doc inclusion — a short
    document quoted wholesale inside a much larger one scores ~1.0
    here while its symmetric Jaccard (diluted by the host's extra
    grams) stays far below any dedup threshold. The standard
    complement to Jaccard in corpus dedup (and the measure behind
    suffix-array-style substring dedup decisions).

    Same inverted-index plan as dedup_ngram_jaccard — posting-list
    equi-join with the broadcast hot-gram ceiling — only the final
    scan-local score projection differs."""
    return token_ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), threshold=0.8, metric="containment"
    )


@register("sim_ann_pq_topk", oracle=None, check="rows", prop_tests=("tests/test_textops.py::test_ann_pq_recall_vs_exact",))
def sim_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN via product quantization (16 subspaces x 32
    codes = 16 bytes/vector — the RAM-side compression that IVF/LSH
    lack) + per-query ADC lookup tables + exact re-rank of the 5x
    overfetch; measured recall@3 0.949 on the fixture's random
    vectors, pinned >= 0.9 by test. Approximate by design -> rows
    check; determinism pinned by the double-run test (stable
    lexsort tie-breaks, fixed Lloyd codebooks from an md5-ordered
    constant-size sample). See operators/similarity.ann_pq_topk for
    the scale story (per-block kernels, model-sized collect only)."""
    from ..operators.similarity import ann_pq_topk

    return ann_pq_topk(table(spark, sf_dir, "embeddings"))


@register(
    "split_group_holdout",
    oracle=f"""
SELECT doc_id, source,
       CASE WHEN {_md5_byte_sql('source')} < 204 THEN 'train'
            WHEN {_md5_byte_sql('source')} < 230 THEN 'valid'
            ELSE 'test' END AS split
FROM documents
""",
    tags=("trainprep",),
)
def split_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware train/valid/test split: the coin is flipped on the
    SOURCE, not the document, so every document of a source lands in
    the same split — the leakage guard doc-level splitting
    (split_assign_hash) cannot give: near-duplicate documents inside
    one source can otherwise straddle train and test and inflate
    eval. ~80/10/10 by source; same scan-level deterministic-hash
    filter, reproducible under retries, no shuffle, no RNG state."""
    from ..operators.trainprep import MD5_BYTE

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    byte = F.expr(MD5_BYTE("source"))
    return d.select(
        "doc_id",
        "source",
        F.when(byte < 204, "train")
        .when(byte < 230, "valid")
        .otherwise("test")
        .alias("split"),
    )


@register("sim_ann_ivfpq_topk", oracle=None, check="rows", prop_tests=("tests/test_textops.py::test_ann_ivfpq_recall_vs_exact",))
def sim_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index — the production billion-vector shape
    (faiss IVFPQ): the IVF coarse quantizer routes queries to
    probed cells, and INSIDE each cell the kernel preselects via
    16-byte PQ codes + per-query ADC lookup tables, running the
    exact matmul only on the 5x overfetch survivors. Same recall as
    exact-scoring IVF on the fixture (0.869 vs 0.871 @10) at a
    fraction of the in-cell compute/memory — the composition is what
    survives 100 TB, where raw vectors don't fit executor RAM but
    codes do. Approximate by design -> rows check + recall >= 0.8
    pytest + double-run determinism."""
    from ..operators.similarity import ann_ivf_topk

    return ann_ivf_topk(
        table(spark, sf_dir, "embeddings"), k=10, pq=(16, 32, 5)
    )


@register(
    "embedding_pca_power",
    oracle="""
WITH q0 AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings
),
q AS (
  SELECT vec_id, pos,
         q + ((vec_id % 21) - 10) * 3 * (pos + 1) AS q
  FROM q0
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
sums AS (SELECT pos, CAST(SUM(q) AS BIGINT) AS s FROM q GROUP BY pos),
s2 AS (
  SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS s2
  FROM q a JOIN q b ON a.vec_id = b.vec_id
  GROUP BY a.pos, b.pos
),
m AS (
  -- HUGEINT: |M| grows as n^2 (n = corpus vector count) so BIGINT
  -- products here have only ~2x headroom at 10x fixture scale; the
  -- 128-bit lane keeps the scatter matrix and every matvec term
  -- exact to n ~ 1e16 vectors.
  SELECT i, j,
         CAST((SELECT n FROM nn) AS HUGEINT) * s2.s2
           - CAST(si.s AS HUGEINT) * sj.s AS m
  FROM s2 JOIN sums si ON si.pos = s2.i JOIN sums sj ON sj.pos = s2.j
),
v0 AS (SELECT DISTINCT pos AS j, CAST(1000 AS BIGINT) AS v FROM q),
w1 AS (SELECT m.i, SUM(m.m * v0.v) AS w
       FROM m JOIN v0 ON v0.j = m.j GROUP BY m.i),
x1 AS (SELECT GREATEST(MAX(ABS(w // 65536)), 1) AS vmax FROM w1),
v1 AS (SELECT i AS j, CAST(((w // 65536) * 1000) // (SELECT vmax FROM x1) AS BIGINT) AS v
          FROM w1),
w2 AS (SELECT m.i, SUM(m.m * v1.v) AS w
       FROM m JOIN v1 ON v1.j = m.j GROUP BY m.i),
x2 AS (SELECT GREATEST(MAX(ABS(w // 65536)), 1) AS vmax FROM w2),
v2 AS (SELECT i AS j, CAST(((w // 65536) * 1000) // (SELECT vmax FROM x2) AS BIGINT) AS v
          FROM w2),
w3 AS (SELECT m.i, SUM(m.m * v2.v) AS w
       FROM m JOIN v2 ON v2.j = m.j GROUP BY m.i),
x3 AS (SELECT GREATEST(MAX(ABS(w // 65536)), 1) AS vmax FROM w3),
v3 AS (SELECT i AS j, CAST(((w // 65536) * 1000) // (SELECT vmax FROM x3) AS BIGINT) AS v
          FROM w3)
SELECT CAST(j AS INTEGER) AS pos, CAST(v AS BIGINT) AS pc1_scaled
FROM v3
""",
    tags=("similarity", "ml"),
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, first principal component by POWER ITERATION
    in exact integer arithmetic — the linear-algebra primitive behind
    embedding whitening, drift monitoring, and matryoshka dimension
    audits. Phase 1 (the only corpus-scale work) builds the exact
    64x64 scatter matrix in ONE pass shape: coordinates quantize to
    milli-units (FLOOR, BIGINT), the second-moment table S[i,j] comes
    from per-task integer outer products (a pandas-iterator kernel
    folds q.T @ q over its Arrow batches and emits d^2+d+1 partial
    rows per task; round 10 — the round-9 posexplode + vec_id
    self-join shuffled |V| x d^2 product rows into the same
    aggregate), and the centered scatter M = n*S - s_i*s_j is pure
    integer algebra in a 128-bit lane (Spark DECIMAL(38,0) / DuckDB
    HUGEINT): |M| grows as n^2 (|q|<=578 so |M| <= n^2*578^2), which
    outgrows int64 around 10x fixture scale — the wide lane keeps
    scatter + matvec exact to n ~ 1e16 vectors, erroring loudly
    under ANSI beyond that instead of wrapping. Phase 2
    iterates v' = M.v twice on CONSTANT-SIZE tables (M is d^2 = 4096
    rows, v is d rows, broadcast): after each matvec the vector
    renormalizes to scale 1000 by truncating integer division
    (Spark `div` == DuckDB `//`, both truncate toward zero), so
    every intermediate is exactly reproducible cross-engine — no
    libm, no doubles, no collect. The oracle replays the identical
    recurrence CTE-for-CTE. CONVERGENCE is real, not nominal: the
    fixture's random embeddings have spectral gap ~1.01 (no fixed
    iteration count converges), so the query plants a deterministic
    zero-mean rank-1 spike (coefficient (vec_id%21-10)*3, direction
    = the index ramp) giving gap ~1e3 — three iterations then land
    exactly on the dominant eigenvector (cos = 1.0 vs a float eigh,
    pinned in tests/test_property.py) instead of merely replaying
    arithmetic. At 100 TB only phase 1 grows; for d
    where d^2 rows stop being 'tiny', switch phase 2 to the IVF
    centroid pattern (constant-size driver-side eigensolve)."""
    e = table(spark, sf_dir, "embeddings")

    def _moments(batches):  # noqa: ANN001, ANN202 — pandas-iterator kernel
        import numpy as np
        import pandas as pd

        d = 0
        s2_acc = s_acc = None
        n_rows = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vid = pdf["vec_id"].to_numpy().astype(np.int64)
            if s2_acc is None:
                d = x.shape[1]
                s2_acc = np.zeros((d, d), dtype=np.int64)
                s_acc = np.zeros(d, dtype=np.int64)
            # exactly the engines' integer: FLOOR(double(x) * 1000) is
            # the same IEEE multiply+floor; fmod truncates toward zero
            # like Spark/DuckDB % (vec_ids are non-negative anyway)
            spike = (np.fmod(vid, 21) - 10)[:, None] * (
                3 * (np.arange(d, dtype=np.int64) + 1)
            )[None, :]
            q = np.floor(x * 1000.0).astype(np.int64) + spike
            s2_acc += q.T @ q  # int64 matmul: exact
            s_acc += q.sum(axis=0)
            n_rows += len(pdf)
        if n_rows == 0:
            return
        di = np.arange(d, dtype=np.int32)
        yield pd.DataFrame(
            {
                "i": np.concatenate([np.repeat(di, d), di, [-1]]).astype(np.int32),
                "j": np.concatenate(
                    [np.tile(di, d), np.full(d, -1, np.int32), [-1]]
                ).astype(np.int32),
                "val": np.concatenate(
                    [s2_acc.ravel(), s_acc, np.array([n_rows], np.int64)]
                ),
            }
        )

    # One Arrow pass emits d^2 + d + 1 partial rows per TASK (second
    # moments, first moments, count) — same BIGINTs the old
    # posexplode + vec_id self-join produced by shuffling |V| x d^2
    # product rows into the s2 hash aggregate. Per-task partials are
    # strictly smaller than the global sums the old plan already
    # carried in BIGINT, so the overflow headroom is unchanged.
    part = e.select("vec_id", "embedding").mapInPandas(
        _moments, "i INT, j INT, val BIGINT"
    )
    # Materialize the partials (d^2+d+1 rows per task) so the THREE
    # moment aggregates and every phase-2 matvec iteration read this
    # micro-table instead of re-running the corpus pass — the round-9
    # plan re-executed its |V| x d^2 self-join once per downstream
    # consumer (~7 corpus passes per query). Intra-run only: computed
    # from the parquet input on every invocation.
    part = part.localCheckpoint()
    nn = part.filter("i = -1 AND j = -1").agg(F.sum("val").alias("n"))
    sums = part.filter("i >= 0 AND j = -1").groupBy(
        F.col("i").alias("pos")
    ).agg(F.sum("val").alias("s"))
    s2 = part.filter("j >= 0").groupBy("i", "j").agg(F.sum("val").alias("s2"))
    si = sums.select(F.col("pos").alias("i"), F.col("s").alias("si"))
    sj = sums.select(F.col("pos").alias("j"), F.col("s").alias("sj"))
    # DECIMAL(38,0) lane for the scatter matrix + matvec (oracle:
    # HUGEINT): |M| grows as n^2, so the BIGINT version had only ~2x
    # headroom at 10x fixture scale — 128-bit accumulation keeps the
    # recurrence exact (and loudly checked under ANSI) to n ~ 1e16.
    m = (
        s2.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            (
                F.col("n").cast("decimal(38,0)") * F.col("s2")
                - F.col("si").cast("decimal(38,0)") * F.col("sj")
            ).alias("m"),
        )
    )
    v = sums.select(
        F.col("pos").alias("j"), F.lit(1000).cast("bigint").alias("v")
    )
    for _ in range(3):
        w = (
            m.join(F.broadcast(v), "j")
            .groupBy(F.col("i"))
            .agg(F.sum(F.col("m") * F.col("v")).alias("w"))
        )
        # pre-shrink before the x1000 renorm with a truncating div
        # (identical in Spark `div` and DuckDB `//`, both toward
        # zero); the post-shrink value is back in comfortable int64
        # range, so the renormalized vector stays BIGINT.
        ws = w.selectExpr("i", "CAST(w div 65536 AS BIGINT) AS ws")
        vmax = ws.agg(
            F.greatest(F.max(F.abs("ws")), F.lit(1).cast("bigint")).alias("vmax")
        )
        v = ws.crossJoin(F.broadcast(vmax)).selectExpr(
            "i AS j", "(ws * 1000) div vmax AS v"
        )
    return v.select(
        F.col("j").cast("int").alias("pos"),
        F.col("v").cast("bigint").alias("pc1_scaled"),
    )


def _spec_oracle(name: str) -> str:
    """Lift an earlier registration's oracle text verbatim so a
    composite evaluation key scores EXACTLY the pipelines the
    individual keys check (one source of truth; a drift in either
    pipeline's oracle changes this key too — by design)."""
    from ..registry import _REGISTRY

    return _REGISTRY[name].oracle


@register(
    "dedup_eval_banding_pr",
    oracle=f"""
WITH cand AS ({{banded}}),
truth AS ({{jaccard}}),
tp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tp
  FROM cand JOIN truth USING (id_a, id_b)
),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth)
SELECT n_cand, n_truth, n_tp,
       ROUND(CAST(n_tp AS DOUBLE) / n_cand, 6) AS precision_at,
       ROUND(CAST(n_tp AS DOUBLE) / n_truth, 6) AS recall_at
FROM tp CROSS JOIN nc CROSS JOIN nt
""".replace(
        # plain .replace, NOT str.format: a lifted component oracle
        # may legally contain literal braces (regex quantifiers like
        # {2,}, struct literals) which would make .format raise at
        # import time for the whole package.
        "{banded}", _spec_oracle("dedup_minhash_banded")
    ).replace("{jaccard}", _spec_oracle("dedup_ngram_jaccard")),
    tags=("dedup", "eval"),
)
def dedup_eval_banding_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation QUALITY EVALUATION built into the engine:
    precision/recall of the deterministic banded-MinHash candidate
    pass (dedup_minhash_banded) against the exact token-3-gram
    Jaccard >= 0.5 truth set (dedup_ngram_jaccard) — the measurement
    a pipeline owner runs before trusting a blocking config at 100 TB
    (bands/rows trade recall against candidate volume; this key puts
    the tradeoff under the hash check instead of in a notebook). Both
    pipelines run EXACTLY as their individual keys define them — the
    oracle lifts those keys' SQL verbatim as CTEs, so truth here can
    never drift from what the components check. Join cost: candidate
    and truth sets are near-dup-sized (hundreds of pairs), trivially
    joinable; the heavy work is the two underlying passes, each
    already bounded (banding buckets / posting-list df ceiling)."""
    from ..operators.dedup import (
        minhash_banded_pairs,
        token_ngram_jaccard_pairs,
    )

    d = table(spark, sf_dir, "documents")
    cand = minhash_banded_pairs(d).select("id_a", "id_b")
    truth = token_ngram_jaccard_pairs(d).select("id_a", "id_b")
    tp = cand.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_tp")
    )
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        tp.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nt))
        .select(
            "n_cand",
            "n_truth",
            "n_tp",
            F.round(F.col("n_tp").cast("double") / F.col("n_cand"), 6).alias(
                "precision_at"
            ),
            F.round(F.col("n_tp").cast("double") / F.col("n_truth"), 6).alias(
                "recall_at"
            ),
        )
    )


@register(
    "dedup_exact_sharded",
    oracle="""
WITH raw AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 0
),
keep AS (
  SELECT text, MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM raw GROUP BY text
)
SELECT CAST(keep_id AS BIGINT) AS keep_id, n_copies,
       CAST(length(text) AS BIGINT) AS n_chars
FROM keep
""",
    tags=("dedup", "scale"),
)
def dedup_exact_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARD-THEN-MERGE exact dedup == global dedup, as a checked
    key: the corpus splits into two hash-shards, each shard dedups
    independently (keep min doc_id + copy count), survivors union
    and dedup AGAIN with counts SUMMED — and the result must equal
    one global pass, because (min, sum-of-counts) is an associative
    commutative monoid over the fingerprint key. This is the
    algebra that makes 100 TB dedup schedulable at all (per-day /
    per-crawl shards dedup near their data, only survivors travel
    to the merge); keeping it under the hash check means a refactor
    that breaks associativity (e.g. keeping first-seen instead of
    min) fails loudly. Shards are md5-derived (not doc_id ranges) so
    duplicates deliberately STRADDLE shards and the merge pass has
    real work. Shuffle: fingerprints + ids only, never text bodies
    twice."""
    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    # the fixture has no exact duplicates at small SFs — re-emit every
    # 25th doc under a shifted id so duplicate fingerprints exist (and
    # straddle shards) at every scale the driver checks.
    dup = base.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    d = base.unionByName(dup).select(
        "doc_id", "text", F.md5("text").alias("fp")
    )
    # shard on the DOC ID hash, never the text fingerprint: identical
    # texts must be able to land in different shards, or the merge
    # pass is vacuous and the associativity claim untested.
    shard = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            *"01234567"
        ),
        0,
    ).otherwise(1)
    parts = []
    for s_id in (0, 1):
        parts.append(
            d.filter(shard == s_id)
            .groupBy("fp")
            .agg(
                F.min("doc_id").alias("keep_id"),
                F.count(F.lit(1)).alias("n_copies"),
                F.min(F.length("text")).alias("n_chars"),
            )
        )
    merged = (
        parts[0]
        .unionByName(parts[1])
        .groupBy("fp")
        .agg(
            F.min("keep_id").alias("keep_id"),
            F.sum("n_copies").alias("n_copies"),
            F.min("n_chars").alias("n_chars"),
        )
    )
    return merged.select(
        F.col("keep_id").cast("bigint").alias("keep_id"),
        "n_copies",
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


@register(
    "dedup_cross_source_matrix",
    oracle="""
WITH raw AS (
  SELECT source, text FROM documents
  UNION ALL
  SELECT 'mirror_' || source, text FROM documents WHERE doc_id % 25 = 0
),
fp AS (
  SELECT DISTINCT source, md5(text) AS fp FROM raw
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared_texts
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, shared_texts FROM pairs
""",
    tags=("dedup", "dq"),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE duplication matrix — which crawls/feeds overlap:
    for every source pair, how many distinct texts they share
    (dedup_exact removes duplicates; this key tells you WHERE they
    come from, the input to dropping or down-weighting a redundant
    source entirely). Per-source distinct fingerprints first (text
    bodies never shuffle — md5 only), then a self-equi-join on the
    fingerprint: cost is sum over fingerprint-buckets of
    sources-sharing², bounded by duplicate volume, never
    |sources|²·|corpus|. The upper triangle (source_a < source_b)
    keeps the matrix half and the key deterministic."""
    d = table(spark, sf_dir, "documents")
    # the fixture has no cross-source duplicate texts at small SFs —
    # mirror every 25th doc into a sibling source in-query so the
    # join/triangle/count logic is exercised (and hash-checked) at
    # every scale, not just ones with organic duplication.
    mirrored = d.filter(F.col("doc_id") % 25 == 0).select(
        F.concat(F.lit("mirror_"), F.col("source")).alias("source"),
        "text",
    )
    fp = (
        d.select("source", "text")
        .unionByName(mirrored)
        .select("source", F.md5("text").alias("fp"))
        .distinct()
    )
    a = fp.select(F.col("source").alias("source_a"), "fp")
    b = fp.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_texts"))
    )


@register(
    "multimodal_phash_dedup",
    oracle="""
WITH docs AS (
  SELECT doc_id, doc_id % 7 AS cls, (doc_id * 37) % 50 AS off
  FROM documents WHERE doc_id % 3 = 0
),
grid AS (
  SELECT doc_id, cls, off,
         x.x AS x, y.y AS y,
         (x.x * (9 + cls)) // 8 AS sx,
         (y.y * (7 + cls)) // 8 AS sy
  FROM docs
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) x
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
),
gray AS (
  SELECT doc_id, x, y,
         ((sx * 7 + sy * 13) % 97 + (sx * 11 + sy * 3) % 97
          + (sx * 5 + sy * 17) % 97) // 3 + off AS g
  FROM grid
),
tot AS (
  SELECT doc_id, CAST(SUM(g) AS BIGINT) AS total FROM gray GROUP BY doc_id
),
bits AS (
  SELECT gray.doc_id,
         string_agg(CASE WHEN g * 64 > total THEN '1' ELSE '0' END, ''
                    ORDER BY y, x) AS ahash
  FROM gray JOIN tot ON tot.doc_id = gray.doc_id
  GROUP BY gray.doc_id
)
SELECT ahash,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id
FROM bits GROUP BY ahash
""",
    tags=("multimodal", "dedup"),
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL-HASH image dedup on the REAL pixel pipeline — the
    image twin of text near-dup: every selected doc gets a 24-bit
    BMP (one of 7 base patterns at class-specific dimensions, plus a
    per-doc BRIGHTNESS offset), and the kernel does the honest work
    end-to-end in one Arrow mapInPandas pass: encode -> decode ->
    nearest-neighbor resize to 8x8 -> decode -> average-hash (gray
    vs mean, strict >, 64 bits as a bitstring). aHash's defining
    property is what the key proves: a uniform brightness shift
    moves every gray AND the mean by the same amount, so
    brightness-variants of one image collapse to IDENTICAL hashes
    (the pattern keeps channels < 256 so the shift never saturates),
    while different base patterns land in different groups — exact
    dedup on the hash IS the blocking pass, with zero pairwise
    work. The oracle recomputes every hash arithmetically from the
    closed-form pattern through the same floor resize mapping.
    Scale: payloads never leave the executor, the shuffle carries
    64-bit hashes; production swaps the grouping for a Hamming
    band-join (dedup_simhash_pairs machinery) when near-misses
    matter."""
    from ..operators.multimodal import (
        _bmp_file,
        decode_bmp_pixels,
        resize_bmp_nearest,
    )

    d = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    ).select("doc_id")

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                cls, off = int(i) % 7, (int(i) * 37) % 50
                w, h = 9 + cls, 7 + cls
                px_rows = [
                    bytes(
                        v
                        for x in range(w)
                        for v in (
                            (x * 7 + y * 13) % 97 + off,
                            (x * 11 + y * 3) % 97 + off,
                            (x * 5 + y * 17) % 97 + off,
                        )
                    )
                    for y in range(h)
                ]
                small = resize_bmp_nearest(_bmp_file(w, h, px_rows), 8, 8)
                _, _, img = decode_bmp_pixels(small)
                gray = [
                    (b + g + r) // 3 for row in img for (b, g, r) in row
                ]
                total = sum(gray)
                ahash = "".join(
                    "1" if g * 64 > total else "0" for g in gray
                )
                rows.append((int(i), ahash))
            yield pd.DataFrame(rows, columns=["doc_id", "ahash"])

    hashed = d.mapInPandas(batches, "doc_id BIGINT, ahash STRING")
    return hashed.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("keep_id"),
    )


@register(
    "pipeline_trainprep_end2end",
    oracle="""
WITH norm AS (
  SELECT doc_id, source, n_chars,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
           ' +', ' ', 'g')) AS ntext
  FROM documents
),
gated AS (
  SELECT * FROM norm
  WHERE n_chars >= 120 AND len(string_split(ntext, ' ')) >= 20
),
deduped AS (
  SELECT doc_id, source, ntext FROM (
    SELECT doc_id, source, ntext,
           ROW_NUMBER() OVER (PARTITION BY md5(ntext) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
bench_grams AS (
  SELECT DISTINCT gram FROM (
    SELECT unnest(list_transform(
             generate_series(1, len(string_split(ntext, ' ')) - 2),
             i -> string_split(ntext, ' ')[i] || ' ' ||
                  string_split(ntext, ' ')[i+1] || ' ' ||
                  string_split(ntext, ' ')[i+2])) AS gram
    FROM deduped WHERE doc_id % 97 = 0
  )
),
contaminated AS (
  SELECT DISTINCT d.doc_id FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             generate_series(1, len(string_split(ntext, ' ')) - 2),
             i -> string_split(ntext, ' ')[i] || ' ' ||
                  string_split(ntext, ' ')[i+1] || ' ' ||
                  string_split(ntext, ' ')[i+2]))) AS gram
    FROM deduped WHERE doc_id % 97 <> 0
  ) d JOIN bench_grams b ON b.gram = d.gram
),
clean AS (
  SELECT deduped.* FROM deduped
  WHERE doc_id % 97 <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
split AS (
  SELECT *,
         CASE
           WHEN instr('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 13
             THEN 'train'
           WHEN instr('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 15
             THEN 'valid'
           ELSE 'test'
         END AS split
  FROM clean
)
SELECT split, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(ntext, ' '))) AS BIGINT) AS n_tokens
FROM split GROUP BY split, source
""",
    tags=("trainprep", "pipeline", "composite"),
)
def pipeline_trainprep_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE composite: the north-star training-data pipeline
    end-to-end in ONE lazy plan — normalize (case-fold / strip
    punctuation / collapse runs) -> quality gate (length + token
    floor) -> normalized exact dedup (fingerprint window, keep min
    id) -> benchmark decontamination (docs sharing any distinct
    3-gram with the held-out eval slice drop; eval grams DISTINCT +
    broadcast, never doc x doc) -> hash split assignment
    (~81/12.5/6 by first md5 nibble) -> per-(split, source) corpus
    accounting. Every stage is the same logic its standalone key
    checks (text_normalize, dedup_normalized_exact,
    decontaminate_ngram, split_assign_hash) — this key proves they
    COMPOSE: the normalize/gate stages fuse onto the scan, the dedup
    window is the one text-body shuffle, and the deduped snapshot
    is materialized ONCE (localCheckpoint — the in-session stand-in
    for the between-stage parquet write a production pipeline does)
    so the three downstream consumers read it instead of recomputing
    the chain; the decontamination join is gram-keyed with the eval
    side broadcast. The oracle replays the identical pipeline as one
    CTE chain. This is the query a user of the engine actually
    ships."""
    d = table(spark, sf_dir, "documents")
    ntext = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "),
            " +",
            " ",
        )
    )
    norm = d.select("doc_id", "source", "n_chars", ntext.alias("ntext"))
    toks = F.split("ntext", " ")
    gated = norm.filter(
        (F.col("n_chars") >= 120) & (F.size(toks) >= 20)
    )
    w = Window.partitionBy(F.md5("ntext")).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        # materialize the cleaned snapshot ONCE: three consumers
        # (eval grams, corpus grams, final accounting) would each
        # recompute the scan+normalize+dedup chain — Catalyst does
        # not share subplans across DataFrame branches. This is the
        # between-stages snapshot a real pipeline writes anyway
        # (graph layer: materialize=True); localCheckpoint is its
        # in-session equivalent (precedent:
        # dedup_connected_components).
        .localCheckpoint()
    )
    # distinct 3-grams via an index transform; Spark's sequence(1, 0)
    # counts DOWN (operators/trainprep.py documents the trap), so
    # short docs need the explicit empty-array guard
    tri = F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.expr(
                "transform(sequence(1, size(split(ntext, ' ')) - 2),"
                " i -> concat_ws(' ', element_at(split(ntext, ' '), i),"
                " element_at(split(ntext, ' '), i + 1),"
                " element_at(split(ntext, ' '), i + 2)))"
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    eval_side = deduped.filter(F.col("doc_id") % 97 == 0)
    corpus = deduped.filter(F.col("doc_id") % 97 != 0)
    bench_grams = (
        eval_side.select(F.explode(tri).alias("gram")).distinct()
    )
    contaminated = (
        corpus.select("doc_id", F.explode(tri).alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    clean = corpus.join(contaminated, "doc_id", "left_anti")
    from ..operators.trainprep import assign_split

    # same helper (and hash) split_assign_hash checks: nibble<13 ==
    # byte<208, nibble<15 == byte<240
    split = assign_split(
        clean, "doc_id", [("train", 208), ("valid", 240), ("test", 256)]
    )
    return split.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).cast("bigint").alias("n_tokens"),
    )


@register(
    "multimodal_wav_features",
    oracle="""
WITH specs AS (
  SELECT doc_id,
         200 + (doc_id % 7) * 50 AS n_samples
  FROM documents WHERE doc_id % 4 = 2
),
samples AS (
  SELECT doc_id, i.i AS i,
         ((i.i * 2654435761) % 65536) - 32768 AS s
  FROM specs
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(0, n_samples - 1)) AS i
  ) i
),
lagged AS (
  SELECT doc_id, s,
         LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev_s
  FROM samples
)
SELECT doc_id,
       CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
       CAST(MAX(ABS(s)) AS BIGINT) AS peak,
       CAST(SUM(CASE WHEN prev_s IS NOT NULL
                      AND (s >= 0) <> (prev_s >= 0) THEN 1 ELSE 0 END)
            AS BIGINT) AS zero_crossings
FROM lagged GROUP BY doc_id
""",
    tags=("multimodal", "audio"),
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio SIGNAL FEATURES from real PCM decode — the feature-
    extraction stage after multimodal_audio_wav's container parse
    (that key proves the RIFF walk; this computes what an audio
    quality filter actually consumes): per clip, energy Σs², peak
    amplitude, and the zero-crossing rate numerator — ZCR separates
    voiced/tonal content from noise and silence, energy gates
    clipping and dead air; all three are EXACT integers over the
    decoded 16-bit samples, so the hash certifies genuine sample
    arithmetic (the oracle recomputes from the generator's closed
    form through the same sign convention, s >= 0). One Arrow
    mapInPandas pass; payloads never leave the executor, one row of
    scalars out per clip."""
    from ..operators.multimodal import encode_wav_pattern, parse_wav

    d = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 2
    ).select("doc_id")

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                n = 200 + int(i) % 7 * 50
                payload = encode_wav_pattern(n, 8000 + int(i) % 3 * 4000)
                _, _, _, samples = parse_wav(payload)
                energy = sum(s * s for s in samples)
                peak = max(abs(s) for s in samples)
                zc = sum(
                    1
                    for a, b in zip(samples, samples[1:])
                    if (a >= 0) != (b >= 0)
                )
                rows.append((int(i), energy, peak, zc))
            yield pd.DataFrame(
                rows, columns=["doc_id", "energy", "peak", "zero_crossings"]
            )

    return d.mapInPandas(
        batches,
        "doc_id BIGINT, energy BIGINT, peak BIGINT, zero_crossings BIGINT",
    )


@register(
    "multimodal_video_scene_cut",
    oracle="""
WITH specs AS (
  SELECT doc_id,
         2 * (1 + doc_id % 5) AS w,
         2 * (1 + doc_id % 4) AS h,
         4 + doc_id % 5 AS n_frames,
         2 + doc_id % 2 AS cut_every
  FROM documents WHERE doc_id % 4 = 3
),
pairs AS (
  SELECT doc_id, w, h, cut_every, f.f AS from_frame,
         f.f // cut_every AS scene_a,
         (f.f + 1) // cut_every AS scene_b
  FROM specs
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(0, n_frames - 2)) AS f
  ) f
),
px AS (
  SELECT doc_id, w, h, from_frame, scene_a <> scene_b AS crosses,
         (x.x * 3 + y.y * 5 + scene_a * 91) % 256 AS base
  FROM pairs
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) x
  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y
)
SELECT doc_id, CAST(from_frame AS BIGINT) AS from_frame,
       CAST(SUM(CASE WHEN NOT crosses THEN 0
                     WHEN base < 165 THEN 91 ELSE 165 END) AS BIGINT)
         AS diff_sum,
       SUM(CASE WHEN NOT crosses THEN 0
                WHEN base < 165 THEN 91 ELSE 165 END) > 10 * w * h
         AS is_cut
FROM px GROUP BY doc_id, from_frame, w, h
""",
    tags=("multimodal", "video"),
)
def multimodal_video_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video SCENE-CUT detection over real decoded frames — the
    shot-boundary pass a video curation pipeline runs before
    sampling keyframes (multimodal_video_y4m samples every n-th
    frame blindly; cut detection samples where content CHANGES):
    every consecutive frame pair's summed absolute luma difference,
    flagged as a cut when the mean per-pixel change exceeds 10
    (integer cross-multiplication — no division). The clips have
    real SCENE structure (encode_y4m_scenes: static shots with a
    hard luma jump every 2-3 frames — the content model where cut
    detection is meaningful; the smooth-drift generator never
    produces one), so within-scene pairs flag False and boundary
    pairs True — both outcomes carry real mass. The kernel decodes
    EVERY frame's actual luma plane (y4m_luma_planes) and
    differences real bytes; the oracle recomputes each |Δ| from the
    scene closed form (the +91 scene step wraps mod 256: |Δ| = 165
    exactly when base ≥ 165). One Arrow pass, frame pairs out."""
    from ..operators.multimodal import encode_y4m_scenes, y4m_luma_planes

    d = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 3
    ).select("doc_id")

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                w = 2 * (1 + int(i) % 5)
                h = 2 * (1 + int(i) % 4)
                nf = 4 + int(i) % 5
                ce = 2 + int(i) % 2
                planes = y4m_luma_planes(encode_y4m_scenes(w, h, nf, ce))
                for (fa, _, _, ya), (fb, _, _, yb) in zip(
                    planes, planes[1:]
                ):
                    diff = sum(abs(a - b) for a, b in zip(ya, yb))
                    rows.append(
                        (int(i), fa, diff, diff > 10 * w * h)
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "from_frame", "diff_sum", "is_cut"],
            )

    return d.mapInPandas(
        batches,
        "doc_id BIGINT, from_frame BIGINT, diff_sum BIGINT, is_cut BOOLEAN",
    )


@register(
    "sample_class_balanced",
    oracle="""
WITH sized AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
),
cap AS (SELECT MIN(n) AS k FROM sized),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR) || ':bal1'),
                                     doc_id) AS rk
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
FROM ranked CROSS JOIN cap
WHERE rk <= cap.k
GROUP BY lang
""",
    tags=("trainprep", "sample"),
)
def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-BALANCED downsampling: every language keeps exactly
    min-class-count documents, chosen by salted-hash rank WITHIN the
    class — the deterministic fix for skewed training mixes (a 90/10
    corpus becomes 50/50 by downsampling the majority, never by
    duplicating the minority). The per-class rank is a window over
    the class key (shuffle = one partition-by-lang exchange; no
    global sort), the cap is a 1-row broadcast, and the draw is the
    same fixed-permutation property as sample_reservoir_hash: stable
    under appends WITHIN the kept prefix, identical across engines/
    retries, re-salt for an independent draw. Checked output pins
    both the exact per-class count AND which ids were kept (id sum)
    — a biased tie-break or a wrong rank frame fails the hash."""
    d = table(spark, sf_dir, "documents")
    sized = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    cap = sized.agg(F.min("n").alias("k"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":bal1"))),
        F.col("doc_id"),
    )
    ranked = d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
    return (
        ranked.crossJoin(F.broadcast(cap))
        .filter(F.col("rk") <= F.col("k"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("kept_id_sum"),
        )
    )


@register(
    "multimodal_bmp_histogram",
    oracle="""
WITH docs AS (
  SELECT doc_id, 1 + doc_id % 31 AS w, 1 + doc_id % 23 AS h
  FROM documents WHERE doc_id % 4 = 1
),
xs AS (SELECT unnest(generate_series(0, 30)) AS x),
ys AS (SELECT unnest(generate_series(0, 22)) AS y),
px AS (
  SELECT d.doc_id,
         ((x * 5 + y * 17) % 256) * 299
           + ((x * 11 + y * 3) % 256) * 587
           + ((x * 7 + y * 13) % 256) * 114 AS luma_k
  FROM docs d, xs, ys
  WHERE xs.x < d.w AND ys.y < d.h
)
SELECT doc_id,
       CAST((luma_k // 1000) // 32 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_px
FROM px GROUP BY doc_id, bucket
""",
    tags=("multimodal",),
)
def multimodal_bmp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUMINANCE HISTOGRAM from REAL pixel decode — the image-quality
    feature extractor (exposure/contrast screens, near-black frame
    filters) run the way a 100 TB image corpus must: the binary
    payload is decoded INSIDE an Arrow mapInPandas kernel (pure-
    Python 24-bit BMP walk — no codec library), integer BT.601 luma
    (299R+587G+114B, truncating /1000) buckets into 8 bins of 32,
    and only the (doc_id, bucket, count) rows leave the executor —
    payload bytes never shuffle. The oracle recomputes every bucket
    count ARITHMETICALLY from the closed-form pixel pattern (the
    multimodal_resize_bmp contract), so the hash certifies genuine
    decode + per-pixel arithmetic, not just plumbing. One kernel
    pass, one hash-agg."""
    from ..operators.multimodal import decode_bmp_pixels, encode_bmp_pattern

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 1)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            out: dict[tuple[int, int], int] = {}
            for i in pdf["doc_id"].astype("int64"):
                payload = encode_bmp_pattern(1 + i % 31, 1 + i % 23)
                _, _, img = decode_bmp_pixels(payload)
                for row in img:
                    for (b, g, r) in row:
                        luma = (r * 299 + g * 587 + b * 114) // 1000
                        key = (int(i), luma // 32)
                        out[key] = out.get(key, 0) + 1
            yield pd.DataFrame(
                [(k[0], k[1], n) for k, n in out.items()],
                columns=["doc_id", "bucket", "n_px"],
            )

    return d.select("doc_id").mapInPandas(
        kernel, "doc_id BIGINT, bucket BIGINT, n_px BIGINT"
    )


@register(
    "split_leakage_safe",
    oracle="""
WITH clustered AS (
  SELECT doc_id, lang, md5(text) AS cluster_key FROM documents
),
assigned AS (
  SELECT doc_id, lang, cluster_key,
         CASE WHEN (instr('0123456789abcdef',
                          substr(md5(cluster_key || ':split'), 1, 1)) - 1) < 13
                THEN 'train'
              WHEN (instr('0123456789abcdef',
                          substr(md5(cluster_key || ':split'), 1, 1)) - 1) < 14
                THEN 'val'
              ELSE 'test' END AS split
  FROM clustered
),
leak AS (
  SELECT cluster_key FROM assigned
  GROUP BY cluster_key HAVING COUNT(DISTINCT split) > 1
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT cluster_key) AS BIGINT) AS n_clusters,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM leak) AS n_leaky_clusters
FROM assigned GROUP BY split
""",
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test SPLIT — the assignment unit is the
    DUPLICATE CLUSTER, not the document: every doc's cluster key is
    its content fingerprint (md5(text) — exact-dup cluster id;
    near-dup pipelines substitute the connected-component id, same
    algebra), and the split decision hashes the CLUSTER key into
    13/1/2-of-16 buckets (~81/6/13%). Two copies of one text can
    therefore NEVER straddle train and test — the leakage the naive
    per-doc random split commits constantly and the checked
    n_leaky_clusters column proves impossible BY CONSTRUCTION
    (0 leaky clusters, verified in-query, not assumed). Assignment
    is a deterministic salted-hash bucket — reproducible across
    runs, engines, and cluster sizes, no RNG state to ship. One
    scan + channel-sized aggs; at 100 TB the split column computes
    scan-local and writes as a partition key."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5("text").alias("cluster_key")
    )
    nib = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.concat(F.col("cluster_key"), F.lit(":split"))), 1, 1),
        )
        - 1
    )
    assigned = docs.withColumn(
        "split",
        F.when(nib < 13, "train").when(nib < 14, "val").otherwise("test"),
    )
    leak = (
        assigned.groupBy("cluster_key")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .agg(F.count(F.lit(1)).alias("n_leaky_clusters"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_key").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leak))
    )


@register(
    "embedding_quantize_int8",
    oracle=f"""
WITH v AS (
  SELECT vec_id, label, {SQL_VEC_D.format(v='embedding')} AS e
  FROM embeddings WHERE vec_id % 5 = 0
),
scaled AS (
  SELECT vec_id, label, e,
         GREATEST(list_max(list_transform(e, x -> abs(x))), 1e-30) AS amax
  FROM v
),
q AS (
  SELECT vec_id, label, e, amax,
         list_transform(e, x -> CAST(ROUND(127.0 * x / amax, 0) AS BIGINT))
           AS q8
  FROM scaled
),
err AS (
  SELECT vec_id, label, amax, q8,
         list_max(list_transform(generate_series(1, len(e)),
           i -> abs(e[i] - CAST(q8[i] AS DOUBLE) * amax / 127.0))) AS max_err
  FROM q
)
SELECT vec_id, label,
       array_to_string(q8, ',') AS q8_csv,
       ROUND(amax, 6) AS amax,
       ROUND(max_err, 6) AS max_abs_err,
       (max_err <= amax / 127.0 * 0.5000001) AS within_bound
FROM err
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 EMBEDDING QUANTIZATION — the 4x storage/bandwidth cut
    every vector store at 100 TB takes: per-vector symmetric absmax
    scaling (q = round(127*x/amax)), with the reconstruction error
    certified IN-QUERY — max|x - q*amax/127| must sit within the
    half-step bound amax/254 for every vector (within_bound, checked
    true row-for-row, with an epsilon factor absorbing the one-ulp
    slack of the divide). The hash pins every quantized code —
    serialized to a CSV string (q8_csv) because the external driver's
    canonicalizer hashes only atomic cells (plan-lint rule) — plus
    the rounded scale and error. Pure array lambdas in
    whole-stage codegen, scan-local, no shuffle: the quantizer is a
    map over the corpus; downstream ANN kernels dot int8 codes and
    rescale by amax_a*amax_b/16129 — same algebra, 4x less I/O."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    e = F.transform("embedding", lambda x: x.cast("double"))
    scaled = emb.select(
        "vec_id",
        "label",
        e.alias("e"),
        F.greatest(
            F.array_max(F.transform(e, lambda x: F.abs(x))), F.lit(1e-30)
        ).alias("amax"),
    )
    q = scaled.withColumn(
        "q8",
        F.transform(
            "e",
            lambda x: F.round(127.0 * x / F.col("amax"), 0).cast("bigint"),
        ),
    )
    err = q.withColumn(
        "max_err",
        F.array_max(
            F.zip_with(
                "e",
                "q8",
                lambda x, c: F.abs(x - c.cast("double") * F.col("amax") / 127.0),
            )
        ),
    )
    return err.select(
        "vec_id",
        "label",
        F.array_join("q8", ",").alias("q8_csv"),
        F.round("amax", 6).alias("amax"),
        F.round("max_err", 6).alias("max_abs_err"),
        (F.col("max_err") <= F.col("amax") / 127.0 * 0.5000001).alias(
            "within_bound"
        ),
    )


@register(
    "sim_rank_fusion_rrf",
    oracle="""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         md5(text) AS fp
  FROM documents
),
rank_a AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS r
  FROM base
),
rank_b AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY fp ASC, doc_id) AS r
  FROM base
),
fused AS (
  SELECT a.doc_id,
         CAST(ROUND(1000000.0 / (60 + a.r), 0) AS BIGINT)
           + CAST(ROUND(1000000.0 / (60 + b.r), 0) AS BIGINT) AS rrf_u,
         a.r AS rank_a, b.r AS rank_b
  FROM rank_a a JOIN rank_b b USING (doc_id)
)
SELECT doc_id, rank_a, rank_b, rrf_u,
       ROW_NUMBER() OVER (ORDER BY rrf_u DESC, doc_id) AS fused_rank
FROM fused
QUALIFY fused_rank <= 50
""",
)
def sim_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL RANK FUSION (RRF, k=60) — the standard
    hybrid-retrieval combiner (BM25 ∪ dense): two independent
    rankings fuse by sum of 1/(k + rank), needing NO score
    calibration between systems because only RANKS enter. Here the
    two rankers are deterministic corpus orderings (token count;
    content fingerprint — standing in for lexical and dense scores,
    which are themselves pinned by text_bm25_score/sim_search_topk);
    each RRF term is quantized to integer micro-units BEFORE the sum
    (the order-free rule), the fused top-50 re-ranked with a doc_id
    tie-break. Round 8: all three total orders (the two source
    rankings and the fused re-rank) run on the two-pass global_rank
    — at 100 TB each source ranking is doc-grain, so a
    single-partition rank window was the one non-plan in this key —
    and the fusion join stays a doc-keyed equi-join. (In production
    each source arrives pre-cut to its own top-N, which bounds
    everything; this key deliberately ranks the FULL corpus to prove
    the unbounded path is still exchange-parallel.)"""
    from ..operators.scale import global_rank  # noqa: PLC0415

    base = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    ra = global_rank(
        base, [F.col("n_tokens").desc(), F.col("doc_id").asc()],
        rank_col="rank_a",
    ).select("doc_id", F.col("rank_a").cast("int").alias("rank_a"))
    rb = global_rank(
        base, [F.col("fp").asc(), F.col("doc_id").asc()], rank_col="rank_b"
    ).select("doc_id", F.col("rank_b").cast("int").alias("rank_b"))
    term = lambda r: F.round(1000000.0 / (60 + F.col(r)), 0).cast("bigint")
    fused = ra.join(rb, "doc_id").select(
        "doc_id",
        "rank_a",
        "rank_b",
        (term("rank_a") + term("rank_b")).alias("rrf_u"),
    )
    return global_rank(
        fused, [F.col("rrf_u").desc(), F.col("doc_id").asc()],
        rank_col="fused_rank",
    ).filter(F.col("fused_rank") <= 50).select(
        "doc_id", "rank_a", "rank_b", "rrf_u",
        F.col("fused_rank").cast("int").alias("fused_rank"),
    )


@register(
    "multimodal_ppm_decode",
    oracle="""
WITH docs AS (
  SELECT doc_id, 1 + doc_id % 17 AS w, 1 + doc_id % 13 AS h
  FROM documents WHERE doc_id % 4 = 2
),
xs AS (SELECT unnest(generate_series(0, 16)) AS x),
ys AS (SELECT unnest(generate_series(0, 12)) AS y),
px AS (
  SELECT d.doc_id, d.w, d.h,
         (x * 3 + y * 7) % 256 AS r,
         (x * 13 + y) % 256 AS g,
         (x + y * 11) % 256 AS b
  FROM docs d, xs, ys
  WHERE xs.x < d.w AND ys.y < d.h
)
SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id, w, h
""",
    tags=("multimodal",),
)
def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NETPBM P6 (PPM) DECODE — the third real uncompressed raster
    container after BMP and Y4M, and the one with a genuinely
    textual header: magic, then whitespace-separated width/height/
    maxval tokens with '#' comments legal BETWEEN ANY TOKENS, then a
    single whitespace byte, then raw RGB. The kernel runs the full
    header grammar (the fixture plants a comment line precisely so a
    lazy magic-line split mis-parses), validates maxval and payload
    length, and reduces each image to exact integer channel sums
    inside one Arrow mapInPandas pass — per-pixel work on every
    byte, with only (doc_id, dims, sums) ever leaving the executor.
    The oracle recomputes the sums arithmetically from the closed-
    form pixel pattern, so the hash certifies the parser + decode
    loop end-to-end. Same 100 TB shape as every multimodal kernel
    here: payloads stay put, stats shuffle."""
    from ..operators.multimodal import decode_ppm, encode_ppm_pattern

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 2)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                payload = encode_ppm_pattern(1 + i % 17, 1 + i % 13)
                w, h, _, body = decode_ppm(payload)
                sr = sg = sb = 0
                for p in range(0, len(body), 3):
                    sr += body[p]
                    sg += body[p + 1]
                    sb += body[p + 2]
                rows.append((int(i), w, h, w * h, sr, sg, sb))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "w", "h", "n_px", "sum_r", "sum_g", "sum_b"],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, w BIGINT, h BIGINT, n_px BIGINT, "
        "sum_r BIGINT, sum_g BIGINT, sum_b BIGINT",
    )


@register(
    "multimodal_mulaw_decode",
    oracle="""
WITH docs AS (
  SELECT doc_id, 50 + doc_id % 100 AS n
  FROM documents WHERE doc_id % 4 = 3
),
idx AS (SELECT unnest(generate_series(0, 149)) AS i),
samples AS (
  SELECT d.doc_id, d.n,
         (d.doc_id * 7 + idx.i * 13) % 256 AS u
  FROM docs d JOIN idx ON idx.i < d.n
),
dec AS (
  SELECT doc_id, n,
         CASE WHEN ((255 - u) & 128) <> 0
              THEN 132 - ((((255 - u) & 15) << 3) + 132
                          << (((255 - u) & 112) >> 4))
              ELSE ((((255 - u) & 15) << 3) + 132
                    << (((255 - u) & 112) >> 4)) - 132
         END AS lin
  FROM samples
)
SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
       CAST(SUM(lin) AS BIGINT) AS sum_lin,
       CAST(SUM(ABS(lin)) AS BIGINT) AS sum_abs,
       CAST(MAX(ABS(lin)) AS BIGINT) AS max_abs
FROM dec GROUP BY doc_id
""",
    tags=("multimodal",),
)
def multimodal_mulaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 mu-LAW DECODE — a REAL audio codec (the 8-bit companded
    telephony format), decoded with the exact CCITT reference
    algebra: invert the code byte, rebuild magnitude as
    ((mantissa<<3)+132)<<exponent, subtract the 132 bias, negate on
    the sign bit. The kernel materializes each doc's deterministic
    byte payload and decodes it vectorized in numpy inside one Arrow
    mapInPandas pass; only (doc_id, n, exact integer stats) leave
    the executor. The oracle replays the identical bit-level algebra
    in SQL over the closed-form byte pattern, so the hash certifies
    the decoder sample-for-sample. Unlike the WAV keys (PCM16
    containers) this pins a genuine COMPANDED codec — nonlinear
    8-bit -> 14-bit expansion — entirely in integer ops."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 3)

    def kernel(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                n = 50 + int(i) % 100
                payload = bytes((int(i) * 7 + j * 13) % 256 for j in range(n))
                u = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                u2 = 255 - u
                t = (((u2 & 15) << 3) + 132) << ((u2 & 112) >> 4)
                lin = np.where((u2 & 128) != 0, 132 - t, t - 132)
                rows.append(
                    (
                        int(i),
                        n,
                        int(lin.sum()),
                        int(np.abs(lin).sum()),
                        int(np.abs(lin).max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_samples", "sum_lin", "sum_abs", "max_abs"],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, n_samples BIGINT, sum_lin BIGINT, "
        "sum_abs BIGINT, max_abs BIGINT",
    )


# ---- MMR diversified retrieval -------------------------------------
# Both engines compute cosine as the SAME left-to-right sequential
# fold over the 64 components (Spark `aggregate`, DuckDB list_reduce
# over a prepended 0.0) with every element cast to DOUBLE first, so
# the accumulated double is bit-identical; quantizing it to a BIGINT
# (1e12 scale) then makes the greedy argmax pure integer logic — the
# selection cascade cannot diverge on a float ulp.

_MMR_K = 5
_MMR_POOL = 20

_MMR_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
    "(acc, v) -> acc + v)"
)


def _mmr_cos_q_sql(a: str, b: str, na: str, nb: str) -> str:
    """Quantized cosine given PRECOMPUTED per-vector norms — each
    norm is the sqrt of the same sequential self-fold, computed once
    per vector instead of once per pair (3x less fold work; the
    divide sees the identical doubles either way)."""
    dot = _MMR_DOT_SQL.format(a=a, b=b)
    return (
        f"CAST(ROUND(({dot}) / ({na} * {nb}) "
        f"* 1000000000000.0, 0) AS BIGINT)"
    )


def _mmr_oracle() -> str:
    _mmr_dot_self = _MMR_DOT_SQL.format(a="embedding", b="embedding")
    steps = []
    for i in range(2, _MMR_K + 1):
        steps.append(f"""
scored{i} AS (
  SELECT t.qid, t.cid, t.rel_q, t.rel_q - MAX(p.sim_q) AS score_q
  FROM top_pool t
  JOIN pairs p ON p.qid = t.qid AND p.a = t.cid
  JOIN selected{i - 1} s ON s.qid = p.qid AND s.cid = p.b
  WHERE NOT EXISTS (SELECT 1 FROM selected{i - 1} x
                    WHERE x.qid = t.qid AND x.cid = t.cid)
  GROUP BY t.qid, t.cid, t.rel_q
),
sel{i} AS (
  SELECT qid, cid, rel_q, score_q, {i} AS step FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY score_q DESC, cid) AS rn
    FROM scored{i}
  ) WHERE rn = 1
),
selected{i} AS (SELECT qid, cid FROM selected{i - 1}
                UNION ALL SELECT qid, cid FROM sel{i})""")
    unions = "\nUNION ALL\n".join(
        f"SELECT qid, cid, step, rel_q, score_q FROM sel{i}"
        for i in range(1, _MMR_K + 1)
    )
    return f"""
WITH normed AS MATERIALIZED (
  SELECT vec_id, embedding,
         SQRT({_mmr_dot_self}) AS nrm
  FROM embeddings
),
q AS MATERIALIZED (
  SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM normed
  WHERE vec_id % 100 = 0
),
rel AS MATERIALIZED (
  SELECT q.qid, e.vec_id AS cid, e.embedding AS ce, e.nrm AS cn,
         {_mmr_cos_q_sql("q.qe", "e.embedding", "q.qn", "e.nrm")} AS rel_q
  FROM q JOIN normed e ON e.vec_id <> q.qid
),
top_pool AS MATERIALIZED (
  SELECT qid, cid, ce, cn, rel_q FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY rel_q DESC, cid) AS rn
    FROM rel
  ) WHERE rn <= {_MMR_POOL}
),
pairs AS MATERIALIZED (
  SELECT a.qid, a.cid AS a, b.cid AS b,
         {_mmr_cos_q_sql("a.ce", "b.ce", "a.cn", "b.cn")} AS sim_q
  FROM top_pool a JOIN top_pool b
    ON a.qid = b.qid AND a.cid <> b.cid
),
sel1 AS (
  SELECT qid, cid, rel_q, rel_q AS score_q, 1 AS step FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY rel_q DESC, cid) AS rn
    FROM top_pool
  ) WHERE rn = 1
),
selected1 AS (SELECT qid, cid FROM sel1),
{",".join(steps)}
SELECT qid, cid, CAST(step AS INTEGER) AS step, rel_q, score_q
FROM ({unions})
"""


@register("sim_mmr_diversify", oracle=_mmr_oracle())
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE — the diversified-retrieval
    selector RAG pipelines run after ANN: greedily pick k=5 results
    where each pick maximizes relevance MINUS its worst redundancy
    against what's already picked (lambda = 0.5, so the argmax of
    rel - max_sim — the /2 is rank-invariant and dropped). The
    greedy cascade is exact and cross-engine stable because every
    cosine is quantized to a BIGINT before any comparison (see the
    module comment on the shared sequential fold); selection is then
    pure integer argmax with vec_id tie-breaks, unrolled into k
    joined steps on both engines. Scale: relevance is one
    broadcast-queries x corpus pass; the candidate POOL (top-20 per
    query) bounds the pairwise redundancy matrix at 20x20 per query
    — the standard re-rank-the-shortlist shape, so corpus size only
    touches the first (embarrassingly parallel) stage."""
    e = table(spark, sf_dir, "embeddings")

    def dot_fold(a: str, b: str):
        return F.expr(
            f"aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE), "
            f"(acc, i) -> acc + CAST(element_at({a}, i) AS DOUBLE) "
            f"* CAST(element_at({b}, i) AS DOUBLE))"
        )

    def cos_q(a: str, b: str, na: str, nb: str):
        return F.round(
            dot_fold(a, b) / (F.col(na) * F.col(nb)) * 1000000000000.0, 0
        ).cast("bigint")

    normed = e.select(
        "vec_id", "embedding", F.sqrt(dot_fold("embedding", "embedding")).alias("nrm")
    )
    q = normed.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    rel = (
        F.broadcast(q)
        .join(normed, normed.vec_id != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
            F.col("nrm").alias("cn"),
            cos_q("qe", "embedding", "qn", "nrm").alias("rel_q"),
        )
    )
    w_rel = Window.partitionBy("qid").orderBy(F.col("rel_q").desc(), "cid")
    pool = (
        rel.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= _MMR_POOL)
        .drop("rn")
    )
    # fully re-aliased sides: pairs is a pool self-join, and the later
    # cogroup-by-qid trips Spark's ambiguous-self-join check otherwise
    a_side = pool.select(
        F.col("qid").alias("a_qid"),
        F.col("cid").alias("a"),
        F.col("ce").alias("ae"),
        F.col("cn").alias("an"),
    )
    b_side = pool.select(
        F.col("qid").alias("b_qid"),
        F.col("cid").alias("b"),
        F.col("ce").alias("be"),
        F.col("cn").alias("bn"),
    )
    pairs = (
        a_side.join(
            b_side,
            (F.col("b_qid") == F.col("a_qid")) & (F.col("b") != F.col("a")),
        )
        .select(
            F.col("a_qid").alias("qid"),
            "a",
            "b",
            cos_q("ae", "be", "an", "bn").alias("sim_q"),
        )
    )

    # Greedy selection: one Arrow cogroup kernel per query over its
    # 20-row pool + 400-row redundancy matrix — all-integer argmax,
    # so it is exactly the oracle's unrolled-CTE cascade. One shuffle
    # by qid; k Catalyst stages would cost ~20 scheduling rounds for
    # the same model-sized work.
    def greedy(pool_pdf, pairs_pdf):
        import pandas as pd

        rows = []
        if len(pool_pdf) == 0:
            return pd.DataFrame(
                rows, columns=["qid", "cid", "step", "rel_q", "score_q"]
            )
        qid = int(pool_pdf["qid"].iloc[0])
        cand = {
            int(r.cid): int(r.rel_q) for r in pool_pdf.itertuples(index=False)
        }
        sim = {
            (int(r.a), int(r.b)): int(r.sim_q)
            for r in pairs_pdf.itertuples(index=False)
        }
        # step 1: max rel, tie -> min cid
        first = min(cand, key=lambda c: (-cand[c], c))
        sel = [first]
        rows.append((qid, first, 1, cand[first], cand[first]))
        for step in range(2, _MMR_K + 1):
            best = None
            for c, rel_q in cand.items():
                if c in sel:
                    continue
                score = rel_q - max(sim[(c, x)] for x in sel)
                if best is None or (-score, c) < (-best[1], best[0]):
                    best = (c, score)
            sel.append(best[0])
            rows.append((qid, best[0], step, cand[best[0]], best[1]))
        return pd.DataFrame(
            rows, columns=["qid", "cid", "step", "rel_q", "score_q"]
        )

    return (
        pool.select("qid", "cid", "rel_q")
        .groupBy("qid")
        .cogroup(pairs.groupBy("qid"))
        .applyInPandas(
            greedy,
            "qid BIGINT, cid BIGINT, step INT, rel_q BIGINT, score_q BIGINT",
        )
    )


@register(
    "multimodal_gif_frames",
    oracle="""
WITH docs AS (
  SELECT doc_id, 1 + doc_id % 7 AS n_frames
  FROM documents WHERE doc_id % 4 = 1
),
idx AS (SELECT unnest(generate_series(0, 6)) AS i),
frames AS (
  SELECT d.doc_id, d.n_frames,
         (d.doc_id + idx.i * 31) % 200 + 1 AS payload
  FROM docs d JOIN idx ON idx.i < d.n_frames
)
SELECT doc_id, CAST(8 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h,
       CAST(MAX(n_frames) AS BIGINT) AS n_frames,
       CAST(SUM(payload) AS BIGINT) AS data_bytes
FROM frames GROUP BY doc_id
""",
    tags=("multimodal",),
)
def multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF CONTAINER WALK — beyond the header peek the image-meta
    key does: the kernel traverses the full GIF89a block grammar
    (global color table sizing from the packed flag, extension
    blocks, per-frame image descriptors + local-table flags, the
    LZW sub-block CHAINS with their length-prefixed framing) and
    reduces each animation to (dims, frame count, compressed
    payload bytes). Frame counting through sub-block chains is
    exactly how a real pipeline sizes animated assets WITHOUT
    decoding them (LZW decode stays behind the codec gate). The
    oracle replays the generator's closed form, so the hash pins
    every block boundary. Arrow mapInPandas; payloads never leave
    the executor."""
    from ..operators.multimodal import encode_gif_frames, walk_gif

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 1)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                w, h, frames, data_bytes = walk_gif(encode_gif_frames(int(i)))
                rows.append((int(i), w, h, frames, data_bytes))
            yield pd.DataFrame(
                rows, columns=["doc_id", "w", "h", "n_frames", "data_bytes"]
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, w BIGINT, h BIGINT, n_frames BIGINT, data_bytes BIGINT",
    )


@register(
    "sim_knn_hubness",
    oracle=f"""
WITH normed AS MATERIALIZED (
  SELECT vec_id, label, embedding,
         SQRT({_MMR_DOT_SQL.format(a="embedding", b="embedding")}) AS nrm
  FROM embeddings
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {{cos}} AS cos_q
  FROM normed a JOIN normed b
    ON a.label = b.label AND a.vec_id <> b.vec_id
),
knn AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY cos_q DESC, dst) AS rn
    FROM pairs
  ) WHERE rn <= 5
),
indeg AS (
  SELECT dst AS vec_id, CAST(COUNT(*) AS BIGINT) AS in_degree
  FROM knn GROUP BY dst
)
SELECT n.vec_id, n.label,
       COALESCE(i.in_degree, 0) AS in_degree,
       COALESCE(i.in_degree, 0) > 15 AS is_hub
FROM normed n LEFT JOIN indeg i ON n.vec_id = i.vec_id
""".replace("{cos}", _mmr_cos_q_sql("a.embedding", "b.embedding",
                                    "a.nrm", "b.nrm")),
)
def sim_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUBNESS DIAGNOSTIC of the embedding space — the reverse-kNN
    in-degree: how often each vector appears in OTHER vectors'
    top-5. High-dimensional spaces concentrate neighbors onto a few
    'hub' points (in-degree >> k), which silently poisons both ANN
    recall and dedup clustering — this is the standard health check
    run before trusting either. kNN candidates are LABEL-BLOCKED
    (the corpus's cell structure — one co-partitioned self-join,
    never global all-pairs), cosines are the quantized-BIGINT
    sequential fold shared with sim_mmr_diversify (bit-identical
    cross-engine, so rank cuts cannot diverge), and the in-degree
    is one count shuffle. Vectors nobody selects report 0 — the
    anti-hubs, equally diagnostic.

    Round 11 (guide §4.2): the label-blocked self-join evaluated a
    64-element interpreted JVM fold per PAIR (~400k folds at sf0.1,
    each materializing element_at gathers). Candidates now come from
    blocked_pairs' symmetric per-query GEMM kernel (per_query_topk=5,
    round_dp=None for the raw exact-fold doubles), which emits each
    query's ~5 best plus 1e-6-margin ties — a superset of the
    quantized top-5, since two pairs can swap cos_q (1e-12 lattice)
    order only when their raw sims differ by < 1e-12 << the margin.
    The quantization, row_number cut, in-degree count and left join
    are unchanged JVM-side, so emitted values are bit-identical
    (the kernel's sequential fold is the same arithmetic as the old
    dot_fold — oracle-verified at sf0.001/0.01/0.1)."""
    e = table(spark, sf_dir, "embeddings")
    pairs = blocked_pairs(
        e, symmetric=True, per_query_topk=5, round_dp=None
    ).select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        F.round(F.col("sim") * 1000000000000.0, 0).cast("bigint").alias("cos_q"),
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_q").desc(), "dst")
    knn = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("src", "dst")
    )
    indeg = knn.groupBy(F.col("dst").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_degree")
    )
    return e.select("vec_id", "label").join(indeg, "vec_id", "left").select(
        "vec_id",
        "label",
        F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        (F.coalesce("in_degree", F.lit(0)) > 15).alias("is_hub"),
    )


@register(
    "multimodal_tga_decode",
    oracle="""
WITH docs AS (
  SELECT doc_id, 1 + doc_id % 29 AS w, 1 + doc_id % 19 AS h
  FROM documents WHERE doc_id % 4 = 2
),
xs AS (SELECT unnest(generate_series(0, 28)) AS x),
ys AS (SELECT unnest(generate_series(0, 18)) AS y),
px AS (
  SELECT d.doc_id, d.w, d.h,
         (x * 9 + y * 11) % 256 AS r,
         (x * 13 + y * 5) % 256 AS g,
         (x * 3 + y * 19) % 256 AS b
  FROM docs d, xs, ys
  WHERE xs.x < d.w AND ys.y < d.h
)
SELECT doc_id,
       CAST(MAX(w) AS BIGINT) AS width,
       CAST(MAX(h) AS BIGINT) AS height,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
""",
    tags=("multimodal",),
)
def multimodal_tga_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TGA (Targa) CONTAINER DECODE — a third real uncompressed
    image walk next to BMP and PPM, and deliberately a DIFFERENT
    container contract: TGA is top-down when descriptor bit 5 is
    set and has NO row padding, where BMP is bottom-up with 4-byte
    row stride — a decoder that pattern-matches BMP conventions
    reads rows upside down or sheared, and the arithmetic oracle
    catches it per channel. Payloads are synthesized and decoded
    entirely INSIDE the Arrow mapInPandas kernel
    (operators/multimodal.py encode_tga_pattern/decode_tga_pixels —
    pure byte walks, no codec library); only (doc_id, dims, channel
    sums) leave the executor. The oracle recomputes every channel
    sum in closed form from the pixel pattern, so the hash certifies
    genuine per-pixel decode, not plumbing."""
    from ..operators.multimodal import decode_tga_pixels, encode_tga_pattern

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 2)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                payload = encode_tga_pattern(1 + int(i) % 29, 1 + int(i) % 19)
                w, h, img = decode_tga_pixels(payload)
                sr = sg = sb = 0
                for row in img:
                    for (b, g, r) in row:
                        sr += r
                        sg += g
                        sb += b
                rows.append((int(i), w, h, w * h, sr, sg, sb))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "n_px",
                    "sum_r",
                    "sum_g",
                    "sum_b",
                ],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, width BIGINT, height BIGINT, n_px BIGINT,"
        " sum_r BIGINT, sum_g BIGINT, sum_b BIGINT",
    )


@register(
    "train_contrastive_pairs",
    oracle="""
WITH docs AS (
  SELECT doc_id, lang,
         instr('0123456789abcdef',
               substr(md5(CAST(doc_id AS VARCHAR) || ':batch'), 1, 1)) - 1
           AS batch
  FROM documents
),
pos AS (
  SELECT doc_id, lang, batch,
         LEAD(doc_id) OVER (PARTITION BY batch, lang ORDER BY doc_id)
           AS positive_id
  FROM docs
),
reps AS (
  SELECT batch, lang, MIN(doc_id) AS rep FROM docs GROUP BY batch, lang
),
negs AS (
  SELECT p.doc_id, r.rep,
         ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY r.rep) AS rn
  FROM pos p JOIN reps r ON p.batch = r.batch AND p.lang <> r.lang
),
neg2 AS (
  SELECT doc_id,
         MIN(CASE WHEN rn = 1 THEN rep END) AS neg1_id,
         MIN(CASE WHEN rn = 2 THEN rep END) AS neg2_id
  FROM negs GROUP BY doc_id
)
SELECT p.doc_id AS anchor_id, p.lang, p.batch,
       p.positive_id, n.neg1_id, n.neg2_id
FROM pos p JOIN neg2 n ON p.doc_id = n.doc_id
WHERE p.positive_id IS NOT NULL
  AND n.neg1_id IS NOT NULL AND n.neg2_id IS NOT NULL
""",
)
def train_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRASTIVE TRAINING PAIR MINING — the (anchor, positive,
    negatives) triplet builder behind embedding-model training data:
    docs are sharded into deterministic hash BATCHES (the in-batch-
    negatives regime — at scale a batch is what fits one training
    step, and pairing stays batch-local so NOTHING all-pairs ever
    materializes); the positive is the next same-lang doc in batch
    order (a stand-in for the near-dup/same-cluster positive of a
    production miner — swap in the minhash component id unchanged);
    the two hard negatives are the smallest representatives of
    OTHER langs in the same batch. Every choice is a hash or a MIN —
    no RNG, reproducible across engines and runs. Plan: one batch
    hash-agg for representatives + a batch-keyed equi-join + one
    window per (batch, lang); shuffles scale with batches, not
    pairs^2."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (
            F.expr(
                "instr('0123456789abcdef',"
                " substr(md5(CAST(doc_id AS STRING) || ':batch'), 1, 1)) - 1"
            )
        ).alias("batch"),
    )
    w_pos = Window.partitionBy("batch", "lang").orderBy("doc_id")
    pos = d.select(
        "doc_id", "lang", "batch", F.lead("doc_id").over(w_pos).alias("positive_id")
    )
    reps = d.groupBy("batch", "lang").agg(F.min("doc_id").alias("rep"))
    j = pos.join(
        reps.withColumnRenamed("lang", "r_lang"),
        on="batch",
    ).filter(F.col("lang") != F.col("r_lang"))
    w_rn = Window.partitionBy("doc_id").orderBy("rep")
    ranked = j.select("doc_id", "rep", F.row_number().over(w_rn).alias("rn"))
    neg2 = ranked.groupBy("doc_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("rep"))).alias("neg1_id"),
        F.min(F.when(F.col("rn") == 2, F.col("rep"))).alias("neg2_id"),
    )
    return (
        pos.join(neg2, "doc_id")
        .filter(
            F.col("positive_id").isNotNull()
            & F.col("neg1_id").isNotNull()
            & F.col("neg2_id").isNotNull()
        )
        .select(
            F.col("doc_id").alias("anchor_id"),
            "lang",
            "batch",
            "positive_id",
            "neg1_id",
            "neg2_id",
        )
    )


@register(
    "multimodal_qoi_decode",
    oracle="""
WITH docs AS (
  SELECT doc_id, 1 + doc_id % 27 AS w, 1 + doc_id % 17 AS h
  FROM documents WHERE doc_id % 4 = 3
),
xs AS (SELECT unnest(generate_series(0, 26)) AS x),
ys AS (SELECT unnest(generate_series(0, 16)) AS y),
px AS (
  SELECT d.doc_id, d.w, d.h,
         ((x // 3) * 5 + y * 17) % 256 AS r,
         ((x // 3) * 11 + y * 3) % 256 AS g,
         ((x // 3) * 7 + y * 13) % 256 AS b
  FROM docs d, xs, ys
  WHERE xs.x < d.w AND ys.y < d.h
)
SELECT doc_id,
       CAST(MAX(w) AS BIGINT) AS width,
       CAST(MAX(h) AS BIGINT) AS height,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
""",
    tags=("multimodal",),
)
def multimodal_qoi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QOI DECODE — a real COMPRESSED image codec walked in-kernel,
    upgrading the multimodal family beyond uncompressed containers
    (BMP/TGA/PPM/Y4M): QOI (public-domain one-page spec) compresses
    with run-length chunks, a 64-slot seen-pixel index, and 2-/8-bit
    delta chunks, and the pure-Python decoder
    (operators/multimodal.py decode_qoi_pixels) must replay all five
    op codes statefully to reconstruct pixels — the fixture pattern
    encodes to ~0.35x raw, so most pixels flow through RUN/DIFF/LUMA
    paths, not the trivial RGB one (tests/test_operators.py pins the
    ratio and the exact roundtrip). Payloads are synthesized +
    decoded inside the Arrow mapInPandas kernel; only channel sums
    leave the executor, and the oracle recomputes them in closed
    form — the hash certifies genuine entropy-decode state
    machinery, not plumbing."""
    from ..operators.multimodal import decode_qoi_pixels, encode_qoi_pattern

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 3)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                payload = encode_qoi_pattern(1 + int(i) % 27, 1 + int(i) % 17)
                w, h, px = decode_qoi_pixels(payload)
                sr = sum(p[0] for p in px)
                sg = sum(p[1] for p in px)
                sb = sum(p[2] for p in px)
                rows.append((int(i), w, h, w * h, sr, sg, sb))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "n_px",
                    "sum_r",
                    "sum_g",
                    "sum_b",
                ],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, width BIGINT, height BIGINT, n_px BIGINT,"
        " sum_r BIGINT, sum_g BIGINT, sum_b BIGINT",
    )


@register(
    "sample_importance_weights",
    oracle="""
WITH scored AS (
  SELECT doc_id, source, n_chars,
         LEAST(1.0, 0.2 + CAST(n_chars AS DOUBLE) / 400.0) AS p_keep,
         (instr('0123456789abcdef',
                substr(md5(CAST(doc_id AS VARCHAR) || ':imp'), 1, 1)) - 1)
           / 16.0
         + (instr('0123456789abcdef',
                  substr(md5(CAST(doc_id AS VARCHAR) || ':imp'), 2, 1)) - 1)
           / 256.0 AS u
  FROM documents
),
kept AS (
  SELECT source,
         CAST(ROUND(1000000000.0 / p_keep, 0) AS BIGINT) AS w_q
  FROM scored WHERE u < p_keep
),
tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total FROM documents
  GROUP BY source
)
SELECT t.source, t.n_total,
       CAST(COUNT(k.w_q) AS BIGINT) AS n_kept,
       ROUND(CAST(COALESCE(SUM(k.w_q), 0) AS DOUBLE) / 1000000000.0, 6)
         AS ht_estimate
FROM tot t LEFT JOIN kept k ON t.source = k.source
GROUP BY t.source, t.n_total
""",
)
def sample_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPORTANCE SAMPLING with correction weights — the quality-
    weighted downsampler a training-data pipeline uses when it wants
    MORE long/high-quality documents without biasing downstream
    statistics: each doc keeps with probability p(doc) (here a
    length ramp, 0.2..1.0), the accept decision is a DETERMINISTIC
    hash-uniform (two md5 hex digits -> u in [0,1), no RNG state —
    reproducible across engines, runs, and partitionings), and every
    survivor carries weight 1/p QUANTIZED to a 1e-9 BIGINT lane so
    the weight sum is exact integer arithmetic (shuffle-order-free),
    not a float accumulation. The output validates the estimator
    IN-QUERY: the Horvitz-Thompson sum of weights per source must
    land near the true row count (the unbiasedness identity
    E[sum 1/p] = N), so the key hash-pins both the sample AND the
    statistical contract. Scan-local arithmetic, one hash-agg."""
    d = table(spark, sf_dir, "documents")
    p_keep = F.least(
        F.lit(1.0), 0.2 + F.col("n_chars").cast("double") / 400.0
    )
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":imp")))
    u = (
        (F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1) / 16.0
        + (F.instr(F.lit("0123456789abcdef"), F.substring(h, 2, 1)) - 1)
        / 256.0
    )
    scored = d.select(
        "source", p_keep.alias("p_keep"), u.alias("u")
    )
    kept = scored.filter(F.col("u") < F.col("p_keep")).select(
        "source",
        F.round(1000000000.0 / F.col("p_keep"), 0).cast("bigint").alias("w_q"),
    )
    tot = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    j = tot.join(kept, "source", "left")
    return j.groupBy("source", "n_total").agg(
        F.count("w_q").cast("bigint").alias("n_kept"),
        F.round(
            F.coalesce(F.sum("w_q"), F.lit(0)).cast("double") / 1000000000.0,
            6,
        ).alias("ht_estimate"),
    )


@register(
    "pack_shards_balanced",
    oracle="""
WITH ranked AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
  FROM documents
),
assigned AS (
  SELECT doc_id, n_chars, rk % 8 AS shard FROM ranked
),
shards AS (
  SELECT shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM assigned GROUP BY shard
),
grand AS (
  SELECT CAST(SUM(total_chars) AS BIGINT) AS all_chars FROM shards
)
SELECT shard, n_docs, total_chars,
       ROUND(CAST(total_chars AS DOUBLE)
             / (CAST(all_chars AS DOUBLE) / 8.0), 6) AS balance_ratio
FROM shards CROSS JOIN grand
""",
)
def pack_shards_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BALANCED SHARD PACKING — the "write K equal training shards"
    step after dedup/filtering: size-sorted round-robin (rank docs
    by size desc, shard = rank mod K) is the classic LPT-style
    heuristic that bounds shard skew to one document's size — and
    unlike greedy bin packing (pack_sequences_greedy fills a TOKEN
    BUDGET per sequence), this op targets a FIXED SHARD COUNT with
    minimal spread, which is what a K-way training job wants. The
    output reports each shard's balance ratio (total/ideal), the
    skew certificate a dataloader audits before a run. The global
    size rank (round 8) runs on the two-pass global_rank —
    range-partitioned local ranks + a partition-count offset table,
    never a doc-grain single-partition window — and the grand-total
    is a 1-row broadcast cross. Deterministic: ties break on
    doc_id. Lint-clean with no waiver."""
    from ..operators.scale import global_rank  # noqa: PLC0415

    d = table(spark, sf_dir, "documents")
    assigned = global_rank(
        d.select("doc_id", "n_chars"),
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        rank_col="__rnk",
    ).select(
        "doc_id", "n_chars", ((F.col("__rnk") - 1) % 8).alias("shard")
    )
    shards = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    grand = shards.agg(
        F.sum("total_chars").cast("bigint").alias("all_chars")
    )
    return shards.crossJoin(F.broadcast(grand)).select(
        "shard",
        "n_docs",
        "total_chars",
        F.round(
            F.col("total_chars").cast("double")
            / (F.col("all_chars").cast("double") / 8.0),
            6,
        ).alias("balance_ratio"),
    )


@register(
    "multimodal_tiff_endian",
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'big' ELSE 'little' END AS endian,
       CAST(64 + doc_id % 512 AS BIGINT) AS width,
       CAST(48 + doc_id % 384 AS BIGINT) AS height,
       CAST(8 AS BIGINT) AS bits_per_sample,
       CAST(3 AS BIGINT) AS samples_per_pixel
FROM documents WHERE doc_id % 5 = 0
""",
    tags=("multimodal",),
)
def multimodal_tiff_endian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF IFD WALK honoring BYTE ORDER — TIFF is the container
    where endianness is DATA (II little vs MM big in the first two
    bytes), and the classic parser bug is reading the tag table
    little-endian regardless (SHORT values sit in the FIRST two
    bytes of the 4-byte value slot in FILE order, so a naive reader
    returns width*256 on MM files — loudly wrong here, silently
    wrong in production metadata pipelines). Half the fixture
    payloads are written big-endian, half little
    (operators/multimodal.py encode_tiff_header/decode_tiff_tags),
    decoded inside the Arrow kernel; the oracle recomputes every
    tag from the synthesis formula, so the hash certifies the
    byte-order branch on both paths. Scan-local kernel, no shuffle
    of payload bytes."""
    from ..operators.multimodal import decode_tiff_tags, encode_tiff_header

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                big = i % 2 == 0
                buf = encode_tiff_header(64 + i % 512, 48 + i % 384, big)
                t = decode_tiff_tags(buf)
                rows.append(
                    (
                        i,
                        "big" if big else "little",
                        t[256],
                        t[257],
                        t[258],
                        t[277],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "endian",
                    "width",
                    "height",
                    "bits_per_sample",
                    "samples_per_pixel",
                ],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, endian STRING, width BIGINT, height BIGINT,"
        " bits_per_sample BIGINT, samples_per_pixel BIGINT",
    )


@register(
    "train_epoch_shuffle",
    oracle="""
WITH epochs AS (
  SELECT unnest(generate_series(0, 2)) AS epoch
),
ordered AS (
  SELECT e.epoch, d.doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.epoch
           ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':epoch:'
                        || CAST(e.epoch AS VARCHAR)), d.doc_id
         ) - 1 AS position
  FROM documents d CROSS JOIN epochs e
)
SELECT epoch, doc_id, position
FROM ordered WHERE position < 20
""",
)
def train_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-EPOCH DETERMINISTIC SHUFFLE — training-data ordering
    done the reproducible way: epoch E's permutation is the sort
    order of md5(doc_id || epoch) (doc_id tiebreak), so every
    re-run, every engine, and every worker sees the SAME order for
    the same epoch and a DIFFERENT order across epochs — no RNG
    state to checkpoint, no seed-plus-partition coupling (the
    classic irreproducibility bug when Spark's rand() re-executes a
    stage). The key certifies the first 20 positions of 3 epochs.
    At scale the same hash IS the shard-then-shuffle key: sort by
    (hash prefix -> shard, hash) and the permutation distributes
    with no global sort — the range-partitioned sort here is the
    single-machine rendering of that."""
    d = table(spark, sf_dir, "documents")
    epochs = spark.range(3).select(F.col("id").cast("int").alias("epoch"))
    j = d.select("doc_id").crossJoin(F.broadcast(epochs))
    h = F.md5(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":epoch:"),
            F.col("epoch").cast("string"),
        )
    )
    w = Window.partitionBy("epoch").orderBy(h, F.col("doc_id"))
    ordered = j.select(
        "epoch", "doc_id", (F.row_number().over(w) - 1).alias("position")
    )
    return ordered.filter(F.col("position") < 20)


@register(
    "train_curriculum_buckets",
    oracle="""
WITH scored AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
           / len(string_split(text, ' ')) AS difficulty
  FROM documents
),
cum AS (
  SELECT doc_id, toks, difficulty,
         CAST(COALESCE(SUM(toks) OVER (
           ORDER BY difficulty, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before,
         CAST(SUM(toks) OVER () AS BIGINT) AS total
  FROM scored
)
SELECT cum_before * 5 // total AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS tokens,
       ROUND(MIN(difficulty), 6) AS min_difficulty,
       ROUND(MAX(difficulty), 6) AS max_difficulty
FROM cum GROUP BY bucket
""",
    tags=("train", "documents"),
)
def train_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM STAGING — order the corpus easy-to-hard by a
    difficulty score (mean word length — the cheap proxy curricula
    actually start with) and cut it into 5 stages of EQUAL TOKEN
    BUDGET, not equal document count: bucket = floor(5 *
    tokens_before / total_tokens), all exact integer arithmetic on
    a (difficulty, doc_id)-pinned total order, so stage boundaries
    are deterministic and a long doc never straddles stages. The
    per-doc score is one exact-ratio double; the global running sum
    runs as the two-pass rewrite FOR REAL: global_rank pins the
    (difficulty, doc_id) total order into an integer rank, and
    global_cumsum turns that rank into an exclusive token cumsum via
    per-partition windows + a broadcast __pid offset table — no
    single-partition sort at any scale. The 1-row token total
    broadcast-crosses back (scalar-subquery shape)."""
    from ..operators.scale import global_rank
    from ..operators.trainprep import global_cumsum

    d = table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("bigint")
    scored = d.select(
        "doc_id",
        toks.alias("toks"),
        (
            (F.length("text") - (toks - 1)).cast("double") / toks
        ).alias("difficulty"),
    )
    ranked = global_rank(
        scored,
        [F.col("difficulty").asc(), F.col("doc_id").asc()],
        rank_col="__rn",
    )
    cumd = global_cumsum(ranked, "__rn", "toks", n_partitions=32)
    tot = scored.agg(F.sum("toks").cast("bigint").alias("total"))
    cum = cumd.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "toks",
        "difficulty",
        F.col("cum_before").cast("bigint").alias("cum_before"),
        "total",
    )
    return (
        cum.selectExpr("*", "cum_before * 5 div total AS bucket")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("tokens"),
            F.round(F.min("difficulty"), 6).alias("min_difficulty"),
            F.round(F.max("difficulty"), 6).alias("max_difficulty"),
        )
    )


@register(
    "multimodal_png_decode",
    oracle="""
WITH docs AS (
  SELECT doc_id, 1 + doc_id % 23 AS w, 5 + doc_id % 13 AS h
  FROM documents WHERE doc_id % 4 = 1
),
xs AS (SELECT unnest(generate_series(0, 22)) AS x),
ys AS (SELECT unnest(generate_series(0, 17)) AS y),
px AS (
  SELECT d.doc_id, d.w, d.h,
         (d.doc_id * 7 + x * 3 + y * 11) % 256 AS r,
         (d.doc_id * 13 + x * 5 + y * 2) % 256 AS g,
         (d.doc_id * 3 + x * 9 + y * 7) % 256 AS b
  FROM docs d, xs, ys
  WHERE xs.x < d.w AND ys.y < d.h
)
SELECT doc_id,
       CAST(MAX(w) AS BIGINT) AS width,
       CAST(MAX(h) AS BIGINT) AS height,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
""",
    tags=("multimodal",),
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG DECODE — the DEFLATE-compressed container format itself,
    completing the codec ladder (raw BMP/PPM/TGA -> entropy-coded
    QOI -> zlib+filtered PNG): the in-kernel decoder
    (operators/multimodal.py decode_png_pixels) walks chunks with
    CRC-32 verification, inflates the IDAT stream with stdlib zlib,
    and reverses ALL FIVE scanline filters (the fixture cycles
    None/Sub/Up/Average/Paeth by row, and every image is >= 5 rows
    tall so no filter path goes untested). Payloads synthesize and
    decode inside one Arrow mapInPandas batch; only channel sums
    leave the executor, and the oracle recomputes them in closed
    form from the pattern — so a hash match certifies real inflate +
    filter-reconstruction machinery. At 100 TB this is the canonical
    binary-column shape: opaque bytes in, typed metadata out, no
    driver involvement."""
    from ..operators.multimodal import decode_png_pixels, encode_png_pattern

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 1)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                payload = encode_png_pattern(1 + i % 23, 5 + i % 13, i)
                w, h, px = decode_png_pixels(payload)
                rows.append(
                    (
                        i,
                        w,
                        h,
                        w * h,
                        sum(p[0] for p in px),
                        sum(p[1] for p in px),
                        sum(p[2] for p in px),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "n_px",
                    "sum_r",
                    "sum_g",
                    "sum_b",
                ],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, width BIGINT, height BIGINT, n_px BIGINT,"
        " sum_r BIGINT, sum_g BIGINT, sum_b BIGINT",
    )


@register(
    "multimodal_srt_parse",
    oracle="""
WITH docs AS (
  SELECT doc_id, 3 + doc_id % 8 AS n FROM documents WHERE doc_id % 4 = 2
),
cues AS (
  SELECT d.doc_id, d.n, i.i,
         i.i * 4000 + (d.doc_id * 37 + i.i * 13) % 2000 AS start_ms,
         800 + (d.doc_id * 11 + i.i * 7) % 2400 AS dur_ms,
         10 + (d.doc_id + i.i * 3) % 30 AS n_chars
  FROM docs d
  JOIN (SELECT unnest(generate_series(0, 10)) AS i) i ON i.i < d.n
),
flagged AS (
  SELECT doc_id, n, i, start_ms, dur_ms, n_chars,
         CASE WHEN i + 1 < n
                   AND start_ms + dur_ms >
                       (i + 1) * 4000 + (doc_id * 37 + (i + 1) * 13) % 2000
              THEN 1 ELSE 0 END AS overlaps_next
  FROM cues
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_cues,
       CAST(SUM(dur_ms) AS BIGINT) AS total_dur_ms,
       CAST(SUM(overlaps_next) AS BIGINT) AS n_overlaps,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM flagged GROUP BY doc_id
""",
    tags=("multimodal", "text"),
)
def multimodal_srt_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBTITLE (SRT) PARSE + QC — the text-structured container of
    the video world: per document a deterministic SubRip file is
    synthesized and then FULLY parsed in-kernel
    (operators/multimodal.py parse_srt: block split, strict
    HH:MM:SS,mmm timecode regex, sequential-index and positive-
    duration validation that RAISES on malformed cues), emitting the
    QC stats a captioning pipeline gates on — cue count, total
    caption time, OVERLAPPING-cue count (a long cue running into
    the next — real subtitle lint), and caption characters. The
    oracle recomputes all four in closed form from the synthesis
    formula, so the hash certifies the timecode arithmetic and
    overlap scan, not string plumbing. Arrow mapInPandas batch;
    only grid-sized stats leave the executor."""
    from ..operators.multimodal import encode_srt_pattern, parse_srt

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 2)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                cues = parse_srt(encode_srt_pattern(i))
                n_over = sum(
                    1
                    for a, b in zip(cues, cues[1:])
                    if a[2] > b[1]
                )
                rows.append(
                    (
                        i,
                        len(cues),
                        sum(c[2] - c[1] for c in cues),
                        n_over,
                        sum(len(c[3]) for c in cues),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_cues",
                    "total_dur_ms",
                    "n_overlaps",
                    "total_chars",
                ],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, n_cues BIGINT, total_dur_ms BIGINT,"
        " n_overlaps BIGINT, total_chars BIGINT",
    )


@register(
    "sim_label_separation",
    oracle="""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
normed AS (
  SELECT vec_id, label, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
  FROM v
),
within AS (
  SELECT a.label,
         CAST(FLOOR(ROUND(
           list_sum(list_transform(generate_series(1, len(a.e)),
                                   i -> a.e[i] * b.e[i]))
             / (a.nrm * b.nrm), 9) * 1000000000) AS BIGINT) AS cos_nano
  FROM normed a JOIN normed b
    ON a.label = b.label AND a.vec_id < b.vec_id
),
cross_p AS (
  SELECT a.label,
         CAST(FLOOR(ROUND(
           list_sum(list_transform(generate_series(1, len(a.e)),
                                   i -> a.e[i] * b.e[i]))
             / (a.nrm * b.nrm), 9) * 1000000000) AS BIGINT) AS cos_nano
  FROM normed a JOIN normed b
    ON b.label = (a.label + 1) % 10 AND a.vec_id % 5 = b.vec_id % 5
),
w AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_within,
         CAST(SUM(cos_nano) AS BIGINT) AS s_within
  FROM within GROUP BY label
),
c AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_cross,
         CAST(SUM(cos_nano) AS BIGINT) AS s_cross
  FROM cross_p GROUP BY label
)
SELECT w.label, w.n_within, c.n_cross,
       ROUND(CAST(w.s_within AS DOUBLE) / w.n_within / 1000000000.0, 6)
         AS mean_within_cos,
       ROUND(CAST(c.s_cross AS DOUBLE) / c.n_cross / 1000000000.0, 6)
         AS mean_cross_cos,
       ROUND(CAST(w.s_within AS DOUBLE) / w.n_within / 1000000000.0
             - CAST(c.s_cross AS DOUBLE) / c.n_cross / 1000000000.0, 6)
         AS separation
FROM w JOIN c ON w.label = c.label
""",
    tags=("similarity", "embeddings", "eval"),
)
def sim_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE LABEL SEPARATION — the eval that tells you
    whether an embedding is worth indexing BEFORE building the ANN:
    per label, the mean cosine of within-label pairs minus the mean
    cosine of cross-label pairs (to the cyclically-next label,
    residue-blocked so the pair count stays bounded); positive
    separation is the geometric precondition for every clustering
    and kNN key downstream. Pair cosines are sequential-fold dot
    products over normalized vectors, quantized to nano-units per
    pair before the label means (the standard lane). Both pair sets
    are BLOCKED equi-joins — within by label, cross by residue —
    never all-pairs.

    Raw cosines come from the blocked_pairs Arrow kernel
    (round_dp=None — this key quantizes on its own 1e-9 lattice):
    the within set is the kernel's all-pairs triangle per label, the
    cross set its bipartite pairing — block key (label-edge,
    residue), the two labels as the __ca/__cb chunk sides. The
    kernel's sequential fold is the oracle's list_sum arithmetic, so
    the floor(round(.,9)*1e9) quantization below sees bit-identical
    doubles (oracle-verified at sf0.001/0.01/0.1); pair ORDER within
    a pair is irrelevant (cosine is symmetric, the label comes from
    the block key)."""
    emb = table(spark, sf_dir, "embeddings")
    cos_nano = F.floor(F.round(F.col("sim"), 9) * 1000000000).cast("bigint")

    within = blocked_pairs(emb, round_dp=None).select(
        F.col("label"), cos_nano.alias("cos_nano")
    )

    # cross pairs (label l) x (label (l+1)%10), matching vec_id%5
    # residue: one bipartite kernel group per (edge l, residue) block.
    base = emb.select("vec_id", "label", "embedding")
    a_side = base.select(
        "vec_id", "label", "embedding",
        F.col("label").alias("__edge"), F.lit(0).alias("__ck"),
    )
    b_side = base.select(
        "vec_id", "label", "embedding",
        ((F.col("label") + 9) % 10).alias("__edge"), F.lit(1).alias("__ck"),
    )
    frame = (
        a_side.unionByName(b_side)
        .select(
            "vec_id",
            "embedding",
            "__ck",
            (F.col("__edge") * 5 + F.col("vec_id") % 5).cast("int").alias("__blk"),
        )
        .withColumn("__ca", F.lit(0))
        .withColumn("__cb", F.lit(1))
    )
    cross = blocked_pairs(frame, block_col="__blk", round_dp=None).select(
        (F.col("__blk") / 5).cast("int").alias("label"),
        cos_nano.alias("cos_nano"),
    )
    w = within.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_within"),
        F.sum("cos_nano").cast("bigint").alias("s_within"),
    )
    c = cross.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cross"),
        F.sum("cos_nano").cast("bigint").alias("s_cross"),
    )
    mw = F.col("s_within").cast("double") / F.col("n_within") / 1000000000.0
    mc = F.col("s_cross").cast("double") / F.col("n_cross") / 1000000000.0
    return w.join(c, "label").select(
        "label",
        "n_within",
        "n_cross",
        F.round(mw, 6).alias("mean_within_cos"),
        F.round(mc, 6).alias("mean_cross_cos"),
        F.round(mw - mc, 6).alias("separation"),
    )


@register(
    "multimodal_mp4_meta",
    oracle="""
SELECT doc_id, 'isom' AS brand,
       CAST(1 + doc_id % 7 AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(generate_series(0, doc_id % 7),
            i -> 20 + ((doc_id + i) % 3) * 10)) AS BIGINT) AS duration,
       CAST(list_sum(list_transform(generate_series(0, doc_id % 7),
            i -> 10 + ((doc_id * 7 + i * 13) % 50))) AS BIGINT)
         AS sample_bytes,
       CAST(320 + (doc_id % 4) * 160 AS BIGINT) AS width,
       CAST(240 + (doc_id % 3) * 120 AS BIGINT) AS height,
       TRUE AS sizes_ok
FROM documents
WHERE doc_id % 4 = 2
""",
)
def multimodal_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 CONTAINER metadata extraction (ISO BMFF box grammar,
    operators/isobmff.py): the mp4/webm *codec* payloads need ffmpeg
    (absent — probe in CHECKLOG), but duration filters, frame-sample
    planning, and corrupt-file triage over a video corpus only need
    the container tables, and those are a public length-prefixed box
    grammar walked byte-level here. Each doc synthesizes a valid
    single-track mp4 (ftyp/moov/trak/stbl/mdat with run-length stts,
    per-sample stsz, absolute stco) and the parser must recover the
    movie duration, track dims (16.16 fixed point), sample count and
    byte totals, and verify sum(stsz) == mdat payload with every
    chunk offset inside mdat (sizes_ok — the oracle pins it TRUE).
    In-kernel synth+parse, closed-form oracle: the hash certifies the
    box walker, not plumbing."""
    from ..operators.isobmff import build_mp4, parse_mp4

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 2)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                n = 1 + i % 7
                mp4 = build_mp4(
                    track_id=i % 100 + 1,
                    timescale=600,
                    sample_durations=[20 + ((i + k) % 3) * 10 for k in range(n)],
                    sample_sizes=[10 + ((i * 7 + k * 13) % 50) for k in range(n)],
                    width=320 + (i % 4) * 160,
                    height=240 + (i % 3) * 120,
                )
                meta = parse_mp4(mp4)
                trk = meta["tracks"][0]
                rows.append(
                    (
                        i,
                        meta["brand"],
                        trk["n_samples"],
                        meta["duration"],
                        trk["sample_bytes"],
                        trk["width"],
                        trk["height"],
                        meta["sizes_ok"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "brand", "n_samples", "duration",
                    "sample_bytes", "width", "height", "sizes_ok",
                ],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, brand STRING, n_samples BIGINT, duration BIGINT,"
        " sample_bytes BIGINT, width BIGINT, height BIGINT, sizes_ok BOOLEAN",
    )


@register(
    "multimodal_jpeg_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(16 + (doc_id % 3) * 8 AS BIGINT) AS width,
       CAST(16 + (doc_id % 2) * 8 AS BIGINT) AS height,
       CAST((16 + (doc_id % 3) * 8) * (16 + (doc_id % 2) * 8) AS BIGINT)
         AS n_px,
       TRUE AS within_tol
FROM documents
WHERE doc_id % 4 = 3
""",
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG ENCODE + DECODE, from-spec (ITU-T T.81,
    operators/jpegcodec.py) — the compressed-image pixel path the
    multimodal family previously stubbed behind the absent-PIL probe.
    Per doc a deterministic smooth RGB pattern is Huffman/DCT
    round-tripped at a doc-varying quality (80-94) inside the Arrow
    kernel; within_tol pins max per-sample |decoded - original| <= 16
    (measured worst 10 across the corpus — lossy-codec error, not
    slack: a mis-decoded MCU is off by hundreds). The codec itself is
    certified against the JVM's javax.imageio in BOTH directions in
    tests/test_operators.py, so the kernel exercised here is the same
    machinery a mainstream decoder agrees with. The hash certifies
    entropy coding, DCT quantization, and color transform end to end;
    only closed-form dims and the tolerance verdict leave the
    executor."""
    import numpy as np

    from ..operators.jpegcodec import (
        decode_jpeg_pixels,
        encode_jpeg_pixels,
        pattern_rgb,
    )

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 3)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                w = 16 + (i % 3) * 8
                h = 16 + (i % 2) * 8
                img = pattern_rgb(w, h, seed=i)
                out = decode_jpeg_pixels(
                    encode_jpeg_pixels(img, quality=80 + i % 15)
                )
                err = int(np.abs(out.astype(int) - img.astype(int)).max())
                rows.append((i, w, h, w * h, err <= 16))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "n_px", "within_tol"]
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, width BIGINT, height BIGINT, n_px BIGINT,"
        " within_tol BOOLEAN",
    )


@register(
    "multimodal_webm_meta",
    oracle="""
SELECT doc_id, 'webm' AS doc_type, 'V_VP9' AS codec,
       CAST(1 + doc_id % 9 AS BIGINT) AS track_number,
       CAST(320 + (doc_id % 5) * 64 AS BIGINT) AS width,
       CAST(180 + (doc_id % 4) * 90 AS BIGINT) AS height,
       CAST(1 + doc_id % 4 AS BIGINT) AS n_clusters,
       CAST((1 + doc_id % 4) * (1 + doc_id % 3) AS BIGINT) AS n_blocks,
       CAST(list_sum(list_transform(
              generate_series(0, (1 + doc_id % 4) * (1 + doc_id % 3) - 1),
              i -> 40 + ((doc_id * 11 + i * 17) % 60))) AS BIGINT)
         AS block_bytes
FROM documents
WHERE doc_id % 5 = 0
""",
)
def multimodal_webm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebM / Matroska CONTAINER metadata extraction (EBML grammar,
    RFC 8794 — operators/ebml.py), closing the container half of the
    webm gap the way multimodal_mp4_meta closes mp4: VP9/AV1 PIXEL
    decode needs ffmpeg (absent), but corpus triage, duration
    filters and block accounting only need the element tree. Each
    doc synthesizes a valid single-track WebM (EBML header, Info
    timescale + float duration, TrackEntry with codec id and pixel
    dims, clusters of SimpleBlocks) and the parser walks VINT-framed
    elements recovering doc type, track metadata, and per-block
    payload byte totals net of block headers — all pinned closed-form
    by the oracle. Truncated elements raise rather than misparse."""
    from ..operators.ebml import build_webm, parse_webm

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                n_clusters = 1 + i % 4
                per_cluster = 1 + i % 3
                sizes, k = [], 0
                for _c in range(n_clusters):
                    row = []
                    for _b in range(per_cluster):
                        row.append(40 + ((i * 11 + k * 17) % 60))
                        k += 1
                    sizes.append(row)
                m = parse_webm(
                    build_webm(
                        track_number=1 + i % 9,
                        codec_id="V_VP9",
                        width=320 + (i % 5) * 64,
                        height=180 + (i % 4) * 90,
                        timescale_ns=1_000_000,
                        duration_ticks=float(n_clusters * 1000),
                        cluster_block_sizes=sizes,
                    )
                )
                trk = m["tracks"][0]
                rows.append(
                    (
                        i, m["doc_type"], trk["codec"], trk["number"],
                        trk["width"], trk["height"], m["n_clusters"],
                        m["n_blocks"], m["block_bytes"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "doc_type", "codec", "track_number", "width",
                    "height", "n_clusters", "n_blocks", "block_bytes",
                ],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, doc_type STRING, codec STRING, track_number BIGINT,"
        " width BIGINT, height BIGINT, n_clusters BIGINT, n_blocks BIGINT,"
        " block_bytes BIGINT",
    )


@register(
    "multimodal_gif_lzw_decode",
    oracle="""
SELECT doc_id,
       CAST(12 + (doc_id % 3) * 4 AS BIGINT) AS width,
       CAST(8 AS BIGINT) AS height,
       CAST(1 + doc_id % 3 AS BIGINT) AS n_frames,
       CAST(list_sum(list_transform(generate_series(0, doc_id % 3),
         f -> list_sum(list_transform(
                generate_series(0, (12 + (doc_id % 3) * 4) * 8 - 1),
                p -> (p * 7 + f + doc_id) % 4)))) AS BIGINT) AS idx_sum,
       CAST(list_sum(list_transform(generate_series(0, doc_id % 3),
         f -> list_sum(list_transform(
                generate_series(0, (12 + (doc_id % 3) * 4) * 8 - 1),
                p -> ([255, 0, 0, 10])[((p * 7 + f + doc_id) % 4) + 1]))))
         AS BIGINT) AS r_sum
FROM documents
WHERE doc_id % 5 = 1
""",
)
def multimodal_gif_lzw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF PIXEL decode with real LZW (operators/giflzw.py) — the
    step beyond multimodal_gif_frames' container walk, and the last
    image format whose pixel path was still behind the absent-PIL
    gate: variable-width LZW codes packed LSB-first across sub-block
    chains, clear/EOI handling, dictionary growth to 4096 with
    clear-reset, the cScSc just-added-code case. Each doc encodes a
    multi-frame paletted animation and decodes it back in-kernel;
    idx_sum pins the decompressed index stream and r_sum pins the
    palette lookup (a decoder that reads the color table at the
    wrong offset fails r_sum while idx_sum stays green). LZW is
    lossless, so the codec is also certified BIT-EXACT against the
    JVM's javax.imageio GIF reader in tests/test_operators.py —
    unlike the JPEG bound, any single-pixel difference is a failure
    there. Only closed-form sums leave the executor."""
    from ..operators.giflzw import decode_gif_pixels, encode_gif_pixels

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 1)
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                w = 12 + (i % 3) * 4
                h = 8
                frames = [
                    [(p * 7 + f + i) % 4 for p in range(w * h)]
                    for f in range(1 + i % 3)
                ]
                dec = decode_gif_pixels(encode_gif_pixels(w, h, palette, frames))
                idx_sum = sum(sum(fr) for fr in dec["frames"])
                r_sum = sum(
                    dec["palette"][x][0] for fr in dec["frames"] for x in fr
                )
                rows.append(
                    (i, dec["width"], dec["height"], len(dec["frames"]),
                     idx_sum, r_sum)
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "n_frames", "idx_sum", "r_sum"],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, width BIGINT, height BIGINT, n_frames BIGINT,"
        " idx_sum BIGINT, r_sum BIGINT",
    )


@register(
    "multimodal_png_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(8 + (doc_id % 4) * 4 AS BIGINT) AS width,
       CAST(6 AS BIGINT) AS height,
       CAST(list_sum(list_transform(
         generate_series(0, (8 + (doc_id % 4) * 4) * 6 - 1),
         p -> ((p % (8 + (doc_id % 4) * 4)) * 3
               + (p // (8 + (doc_id % 4) * 4)) * 7 + doc_id) % 256))
         AS BIGINT) AS r_sum,
       CAST(list_sum(list_transform(
         generate_series(0, (8 + (doc_id % 4) * 4) * 6 - 1),
         p -> ((p % (8 + (doc_id % 4) * 4)) * 5
               + (p // (8 + (doc_id % 4) * 4)) * 2 + 2 * doc_id) % 256))
         AS BIGINT) AS g_sum,
       CAST(list_sum(list_transform(
         generate_series(0, (8 + (doc_id % 4) * 4) * 6 - 1),
         p -> ((p % (8 + (doc_id % 4) * 4))
               + (p // (8 + (doc_id % 4) * 4)) * 11 + 3 * doc_id) % 256))
         AS BIGINT) AS b_sum
FROM documents
WHERE doc_id % 5 = 2
""",
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG WRITE + READ-BACK, from-spec (W3C PNG; stdlib zlib DEFLATE
    — operators/pngcodec.py): the layered step above
    multimodal_png_decode, which pins the READ side over a pattern
    synthesizer. This key exercises a full arbitrary-pixel WRITER —
    any caller-supplied scanlines, greyscale/RGB/RGBA colour types,
    per-scanline filter selection cycling ALL FIVE spec filters
    (None/Sub/Up/Average/Paeth — a codec that botches any one filter
    or the Paeth tie-break fails the channel sums), and an IDAT
    stream deliberately split across two chunks (spec §5.6: chunk
    boundaries carry no semantics) — then decodes its own output
    in-kernel and emits per-channel pixel sums the oracle recomputes
    arithmetically. PNG is lossless, so the codec is additionally
    certified BIT-EXACT against the JVM's javax.imageio PNG reader
    in BOTH directions in tests/test_operators.py (same contract as
    the JPEG/GIF codecs). Only closed-form dims and sums leave the
    executor."""
    from ..operators.pngcodec import decode_png_pixels, encode_png_pixels

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 2)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                w = 8 + (i % 4) * 4
                h = 6
                img = [
                    bytes(
                        v
                        for x in range(w)
                        for v in (
                            (x * 3 + y * 7 + i) % 256,
                            (x * 5 + y * 2 + 2 * i) % 256,
                            (x + y * 11 + 3 * i) % 256,
                        )
                    )
                    for y in range(h)
                ]
                dec = decode_png_pixels(encode_png_pixels(w, h, img))
                assert dec["rows"] == img  # lossless: exact or die
                r_sum = sum(sum(r[0::3]) for r in dec["rows"])
                g_sum = sum(sum(r[1::3]) for r in dec["rows"])
                b_sum = sum(sum(r[2::3]) for r in dec["rows"])
                rows.append(
                    (i, dec["width"], dec["height"], r_sum, g_sum, b_sum)
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "r_sum", "g_sum", "b_sum"],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, width BIGINT, height BIGINT, r_sum BIGINT,"
        " g_sum BIGINT, b_sum BIGINT",
    )


@register(
    "multimodal_adpcm_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(600 + (doc_id % 5) * 100 AS BIGINT) AS n_samples,
       CAST((600 + (doc_id % 5) * 100 + 128) // 129 AS BIGINT) AS n_blocks,
       CAST(((600 + (doc_id % 5) * 100 + 128) // 129) * 68 AS BIGINT)
         AS data_bytes,
       CAST(list_sum(list_transform(
         list_filter(generate_series(0, 20),
                     b -> b * 129 < 600 + (doc_id % 5) * 100),
         b -> abs((b * 129 * (32 + (doc_id % 4) * 16)
                   + (doc_id * 997) % 16384) % 16384 - 8192) - 4096))
         AS BIGINT) AS first_sample_sum,
       TRUE AS within_tol
FROM documents
WHERE doc_id % 4 = 2
""",
)
def multimodal_adpcm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA ADPCM audio ENCODE + DECODE, from-spec (operators/
    adpcm.py) — the audio matrix's first genuinely COMPRESSED,
    STATEFUL codec (beyond mulaw companding and raw PCM): 16-bit
    samples become 4-bit codes against an adaptive step predictor,
    framed as a real mono wFormatTag=0x0011 WAV whose blocks each
    re-sync the predictor in a 4-byte header — the seekable layout
    that lets a 100 TB audio corpus split at block boundaries. Each
    doc synthesizes a closed-form triangle waveform, encodes at
    129 samples/block, decodes back in-kernel and emits: exact block
    accounting (n_blocks/data_bytes — closed form), the sum of each
    block's header-carried first sample (EXACT by construction, so
    the oracle recomputes it arithmetically — a decoder reading
    headers at the wrong offset fails it), and within_tol pinning
    max |decoded - original| <= 256 (measured worst 136 across the
    corpus — adaptive-quantizer error, not slack: a mis-decoded
    block drifts by thousands). The core codec is certified
    BIT-EXACT against CPython's audioop.lin2adpcm/adpcm2lin C
    implementation in both directions in tests/test_operators.py.
    Only closed-form counts and the tolerance verdict leave the
    executor."""
    from ..operators.adpcm import decode_wav_adpcm, encode_wav_adpcm

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 2)

    def kernel(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                n = 600 + (i % 5) * 100
                slope = 32 + (i % 4) * 16
                phase = (i * 997) % 16384
                s = [
                    abs((k * slope + phase) % 16384 - 8192) - 4096
                    for k in range(n)
                ]
                out = decode_wav_adpcm(
                    encode_wav_adpcm(s, 16000, samples_per_block=129)
                )
                assert out["n_samples"] == n
                n_blocks = (n + 128) // 129
                fss = sum(out["samples"][b * 129] for b in range(n_blocks))
                tol_ok = max(
                    abs(a - b) for a, b in zip(out["samples"], s)
                ) <= 256
                rows.append((i, n, n_blocks, n_blocks * 68, fss, tol_ok))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "n_blocks", "data_bytes",
                    "first_sample_sum", "within_tol",
                ],
            )

    return d.select("doc_id").mapInPandas(
        kernel,
        "doc_id BIGINT, n_samples BIGINT, n_blocks BIGINT,"
        " data_bytes BIGINT, first_sample_sum BIGINT, within_tol BOOLEAN",
    )


@register(
    "multimodal_midi_meta",
    oracle="""
WITH d AS (SELECT doc_id, 1 + doc_id % 8 AS n FROM documents)
SELECT d.doc_id,
  CAST(d.n AS BIGINT) AS note_on_count,
  CAST(COUNT(DISTINCT (d.doc_id*7 + 5*g.k) % 128) AS BIGINT)
    AS distinct_pitches,
  CAST(COUNT(DISTINCT g.k % 3) AS BIGINT) AS distinct_channels,
  CAST(SUM(10 + g.k % 13) + d.n AS BIGINT) AS total_ticks,
  CAST(SUM((d.doc_id*7 + 5*g.k) % 128) AS BIGINT) AS pitch_sum
FROM d, LATERAL (SELECT UNNEST(range(d.n)) AS k) g
GROUP BY d.doc_id, d.n
""",
    tags=("multimodal",),
)
def multimodal_midi_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard MIDI File metadata extraction, container implemented
    from the MMA SMF 1.0 spec (operators/midi.py) — the music-
    interchange sibling of the MP4/WebM/WAV container walkers. Each
    document deterministically becomes a format-0 SMF (notes derived
    from doc_id; deltas exercise the spec's BIG-endian VLQ — the
    mirror image of protobuf's LSB-first varint — and every second
    note-off rides RUNNING STATUS, the classic parser trap), and the
    kernel then parses those BYTES back: header fields, track walk,
    meta/sysex skipping, note-on counting with the
    velocity-0-is-note-off rule. The oracle recomputes every feature
    relationally from the same derivation, so the parse is
    value-certified per row, not just shape-checked. At 100 TB this
    is the decode-to-features shape: binary column in, fixed-width
    feature row out, no driver involvement."""
    import pandas as pd  # noqa: PLC0415

    from ..operators.midi import build_smf, parse_smf  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def _kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 1 + doc_id % 8
                notes = [
                    (10 + (k % 13), k % 3, (doc_id * 7 + 5 * k) % 128,
                     64 + (k % 32))
                    for k in range(n)
                ]
                meta = parse_smf(build_smf(notes))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "note_on_count": meta["note_on_count"],
                        "distinct_pitches": meta["distinct_pitches"],
                        "distinct_channels": meta["distinct_channels"],
                        "total_ticks": meta["total_ticks"],
                        "pitch_sum": meta["pitch_sum"],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return docs.mapInPandas(
        _kernel,
        "doc_id bigint, note_on_count bigint, distinct_pitches bigint, "
        "distinct_channels bigint, total_ticks bigint, pitch_sum bigint",
    )


@register(
    "multimodal_ico_meta",
    oracle="""
WITH d AS (SELECT doc_id, 1 + doc_id % 4 AS cnt FROM documents),
e AS (
  SELECT d.doc_id, d.cnt, g.k,
         1 + (d.doc_id * 5 + 17 * g.k) % 256 AS w,
         1 + (d.doc_id * 3 + 29 * g.k) % 256 AS h,
         CASE g.k % 5 WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 2 THEN 8
                      WHEN 3 THEN 24 ELSE 32 END AS bpp,
         10 + (d.doc_id + g.k) % 50 AS nb
  FROM d, LATERAL (SELECT UNNEST(range(d.cnt)) AS k) g
)
SELECT doc_id,
       CAST(MAX(cnt) AS BIGINT) AS n_images,
       CAST(MAX(w) AS BIGINT) AS max_width,
       CAST(MAX(h) AS BIGINT) AS max_height,
       CAST(SUM(nb) AS BIGINT) AS payload_bytes,
       CAST(COUNT(DISTINCT bpp) AS BIGINT) AS distinct_bpp
FROM e GROUP BY doc_id
""",
    tags=("multimodal",),
)
def multimodal_ico_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICO icon-directory metadata, container implemented from the
    public ICONDIR/ICONDIRENTRY layout (operators/binmeta.py). The
    spec trap under test: a 256-pixel width/height is stored as BYTE
    ZERO — the fixture derivation lands on 256 for some (doc_id, k),
    and a parser that reads the raw byte under-reports exactly those
    icons, which the relational max in the oracle catches. Same
    decode-to-features shape as the other container walkers: binary
    in, fixed-width feature row out, inside an Arrow kernel."""
    import pandas as pd  # noqa: PLC0415

    from ..operators.binmeta import build_ico, parse_ico  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").select("doc_id")
    bpps = [1, 4, 8, 24, 32]

    def _kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                entries = [
                    (
                        1 + (doc_id * 5 + 17 * k) % 256,
                        1 + (doc_id * 3 + 29 * k) % 256,
                        bpps[k % 5],
                        10 + (doc_id + k) % 50,
                    )
                    for k in range(1 + doc_id % 4)
                ]
                meta = parse_ico(build_ico(entries))
                rows.append({"doc_id": doc_id, **meta})
            if rows:
                yield pd.DataFrame(rows)

    return docs.mapInPandas(
        _kernel,
        "doc_id bigint, n_images bigint, max_width bigint, "
        "max_height bigint, payload_bytes bigint, distinct_bpp bigint",
    )


@register(
    "multimodal_id3_tags",
    oracle="""
SELECT doc_id,
       CAST(3 AS BIGINT) AS n_frames,
       CAST(2 + (doc_id % 7) + length(CAST(doc_id AS VARCHAR))
            + 1 + length(CAST(doc_id % 100 AS VARCHAR))
            + 100 + doc_id % 300 AS BIGINT) AS payload_bytes,
       't' || repeat('x', CAST(doc_id % 7 AS INTEGER))
           || CAST(doc_id AS VARCHAR) AS title,
       CAST(doc_id % 100 AS VARCHAR) AS track
FROM documents
""",
    tags=("multimodal",),
)
def multimodal_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2.4 tag walk, implemented from the public informal spec
    (operators/binmeta.py). The trap under test is the SYNCSAFE
    integer — tag and frame sizes are 4 bytes of 7 bits each so no
    0xFF can alias an MPEG frame sync; reading them as plain
    big-endian u32 is correct for sizes <= 127 and silently corrupt
    beyond. The fixture's COMM frame is 100..399 bytes, so EVERY row
    exercises the multi-byte form and a plain-u32 parser cannot
    hash-match. Text frames carry the $03 UTF-8 encoding byte; the
    oracle recomputes the title/track strings and byte counts
    relationally from doc_id."""
    import pandas as pd  # noqa: PLC0415

    from ..operators.binmeta import build_id3v2, parse_id3v2  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def _kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                title = "t" + "x" * (doc_id % 7) + str(doc_id)
                track = str(doc_id % 100)
                tag = build_id3v2(
                    [
                        ("TIT2", b"\x03" + title.encode()),
                        ("TRCK", b"\x03" + track.encode()),
                        ("COMM", bytes((doc_id + i) % 251
                                       for i in range(100 + doc_id % 300))),
                    ]
                )
                meta = parse_id3v2(tag)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_frames": meta["n_frames"],
                        "payload_bytes": meta["payload_bytes"],
                        "title": meta["texts"]["TIT2"],
                        "track": meta["texts"]["TRCK"],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return docs.mapInPandas(
        _kernel,
        "doc_id bigint, n_frames bigint, payload_bytes bigint, "
        "title string, track string",
    )


@register(
    "multimodal_aiff_meta",
    oracle="""
SELECT doc_id,
       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
       CAST(10 + doc_id % 50 AS BIGINT) AS sample_frames,
       CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END
            AS BIGINT) AS sample_size,
       CAST(CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 11025
            WHEN 2 THEN 16000 WHEN 3 THEN 22050 ELSE 44100 END
            AS DOUBLE) AS sample_rate,
       CAST((10 + doc_id % 50) * (1 + doc_id % 2)
            * (CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END
               // 8) AS BIGINT) AS ssnd_bytes
FROM documents
""",
    tags=("multimodal",),
)
def multimodal_aiff_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIFF COMM/SSND chunk walk, implemented from the public IFF +
    AIFF-1.3 layout (operators/binmeta.py). The spec workout is the
    80-BIT IEEE 754 EXTENDED float that carries the sample rate —
    sign + 15-bit biased exponent + 64-bit mantissa with an EXPLICIT
    integer bit, the only mainstream container field in that format;
    both the encoder and decoder are built from the bit layout and
    the five standard audio rates must round-trip bit-exactly into
    the oracle's DOUBLE column (any mantissa-shift bug lands on a
    wrong rate, not a fuzzy one). Chunk padding follows the IFF
    even-offset rule."""
    import pandas as pd  # noqa: PLC0415

    from ..operators.binmeta import build_aiff, parse_aiff  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").select("doc_id")
    rates = [8000.0, 11025.0, 16000.0, 22050.0, 44100.0]
    sizes = [8, 16, 24]

    def _kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                meta = parse_aiff(
                    build_aiff(
                        channels=1 + doc_id % 2,
                        frames=10 + doc_id % 50,
                        sample_size=sizes[doc_id % 3],
                        rate=rates[doc_id % 5],
                    )
                )
                rows.append({"doc_id": doc_id, **meta})
            if rows:
                yield pd.DataFrame(rows)

    return docs.mapInPandas(
        _kernel,
        "doc_id bigint, channels bigint, sample_frames bigint, "
        "sample_size bigint, sample_rate double, ssnd_bytes bigint",
    )


@register(
    "sim_hamming_binary_topk",
    oracle="""
WITH packed AS (
  SELECT e.vec_id,
    CAST(SUM(CASE WHEN g.i < 32 AND e.embedding[g.i + 1] > 0
             THEN (CAST(1 AS BIGINT) << g.i) ELSE 0 END) AS BIGINT) AS w0,
    CAST(SUM(CASE WHEN g.i >= 32 AND e.embedding[g.i + 1] > 0
             THEN (CAST(1 AS BIGINT) << (g.i - 32)) ELSE 0 END) AS BIGINT)
      AS w1
  FROM embeddings e, LATERAL (SELECT UNNEST(range(64)) AS i) g
  GROUP BY e.vec_id
),
q AS (SELECT * FROM packed ORDER BY vec_id LIMIT 8),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         CAST(bit_count(xor(q.w0, c.w0))
              + bit_count(xor(q.w1, c.w1)) AS BIGINT) AS hamming
  FROM q, packed c WHERE c.vec_id <> q.vec_id
),
ranked AS (
  SELECT q_id, cand_id, hamming,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY hamming, cand_id) AS rnk
  FROM scored
)
SELECT q_id, cand_id, hamming, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 10
""",
    tags=("similarity", "embeddings"),
)
def sim_hamming_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-QUANTIZED embedding search: sign-binarize each 64-dim
    vector into two packed 32-bit words (1 bit per dimension — a 32x
    memory cut vs float32, THE trick modern retrieval stacks use to
    keep billion-vector indexes in RAM) and rank candidates by
    HAMMING distance, computed entirely JVM-side as
    bit_count(w_q XOR w_c) — two XORs + two popcounts per pair, no
    floats, no UDF. Packing is one higher-order-function expression
    (zip_with + aggregate) inside whole-stage codegen; sign(cos) bit
    agreement approximates angular similarity (the SimHash identity,
    dedup_simhash_pairs' cousin on the retrieval side — this key is
    the cheap PREFILTER whose survivors sim_search_topk's exact
    kernel reranks). The query side is a TakeOrdered(8) — provably
    bounded in the plan, so the scoring product is broadcast-scale
    by structure, while the candidate side streams: exactly the
    brute-force-over-binary shape a 100 TB corpus runs per query
    batch. Top-10 per query, integer-exact and fully deterministic
    (hamming, cand_id) order."""
    emb = table(spark, sf_dir, "embeddings")

    def word(off: int) -> F.Column:
        return F.expr(
            f"aggregate(zip_with(slice(embedding, {off + 1}, 32), "
            f"sequence(0, 31), (e, i) -> IF(e > 0D, "
            f"shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    packed = emb.select(
        "vec_id", word(0).alias("w0"), word(32).alias("w1")
    )
    q = (
        packed.orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("w0").alias("qw0"),
            F.col("w1").alias("qw1"),
        )
    )
    scored = (
        packed.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand_id"),
            (
                F.bit_count(F.expr("w0 ^ qw0"))
                + F.bit_count(F.expr("w1 ^ qw1"))
            )
            .cast("bigint")
            .alias("hamming"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("hamming", "cand_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
    )


@register(
    "multimodal_flac_meta",
    oracle="""
WITH d AS (
  SELECT doc_id,
         8000 * (1 + doc_id % 6) AS sample_rate,
         1 + doc_id % 2 AS channels,
         CASE WHEN doc_id % 3 = 0 THEN 16 WHEN doc_id % 3 = 1 THEN 24
              ELSE 8 END AS bits_per_sample,
         1000 + (doc_id * 37) % 90000 AS total_samples
  FROM documents WHERE doc_id % 2 = 1
)
SELECT doc_id,
       CAST(sample_rate AS BIGINT) AS sample_rate,
       CAST(channels AS BIGINT) AS channels,
       CAST(bits_per_sample AS BIGINT) AS bits_per_sample,
       CAST(total_samples AS BIGINT) AS total_samples,
       CAST((total_samples * 1000000) // sample_rate AS BIGINT)
         AS duration_us,
       CAST(3 AS BIGINT) AS n_blocks,
       'doc ' || CAST(doc_id AS VARCHAR) AS title
FROM d
""",
    tags=("multimodal",),
)
def multimodal_flac_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC metadata extraction, container implemented from the
    xiph.org spec (operators/flacmeta.py) — the lossless-audio
    sibling of the WAV/µ-law/ADPCM keys and the audio counterpart of
    the MP4/WebM walkers. Each document deterministically becomes a
    metadata-only FLAC stream (STREAMINFO's byte-straddling
    20/3/5/36-bit pack, a VORBIS_COMMENT block — the format's one
    LITTLE-endian island — and a terminal PADDING block), and the
    same Arrow kernel parses the BYTES back: block walk with the
    last-block flag, both endiannesses, bit unpacking, tag
    extraction. Every output value is recomputed relationally by the
    oracle, so the codec is value-certified per row. Compressed
    FRAME decode needs a codec library absent here (probe recorded —
    same boundary as VP9/H.264 for the video walkers)."""
    import pandas as pd  # noqa: PLC0415

    from ..operators.flacmeta import build_flac_meta, parse_flac_meta  # noqa: PLC0415

    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id")
    )

    def _kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                blob = build_flac_meta(
                    sample_rate=8000 * (1 + doc_id % 6),
                    channels=1 + doc_id % 2,
                    bits_per_sample={0: 16, 1: 24, 2: 8}[doc_id % 3],
                    total_samples=1000 + (doc_id * 37) % 90000,
                    comments=[("TITLE", f"doc {doc_id}")],
                )
                m = parse_flac_meta(blob)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "sample_rate": m["sample_rate"],
                        "channels": m["channels"],
                        "bits_per_sample": m["bits_per_sample"],
                        "total_samples": m["total_samples"],
                        "n_blocks": m["n_blocks"],
                        "title": m["comments"]["title"],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    parsed = docs.mapInPandas(
        _kernel,
        "doc_id bigint, sample_rate bigint, channels bigint, "
        "bits_per_sample bigint, total_samples bigint, "
        "n_blocks bigint, title string",
    )
    # duration as EXACT integer microseconds (BIGINT floor-div) — the
    # house determinism rule; a rounded double ratio tie-breaks
    # differently across engines on repr boundaries
    return parsed.select(
        "doc_id",
        "sample_rate",
        "channels",
        "bits_per_sample",
        "total_samples",
        F.expr(
            "CAST((total_samples * 1000000) DIV sample_rate AS BIGINT)"
        ).alias("duration_us"),
        "n_blocks",
        "title",
    )


# ---------------------------------------------------------- round 9

@register(
    "multimodal_dft_bin_energy",
    oracle="""
WITH grid AS (
  SELECT d.doc_id, n.n, k.k,
         CAST((d.doc_id * 7 + n.n * (1 + d.doc_id % 5)) % 256 - 128
              AS DOUBLE) AS s
  FROM documents d,
       (SELECT UNNEST(generate_series(0, 63)) AS n) n,
       (SELECT UNNEST([1, 3, 5]) AS k) k
),
lanes AS (
  SELECT doc_id, k,
         CAST(SUM(CAST(FLOOR(ROUND(s * COS(0.09817477042468103 * n * k), 12)
                  * 1000000000.0) AS BIGINT)) AS BIGINT) AS re_q,
         CAST(SUM(CAST(FLOOR(ROUND(s * SIN(0.09817477042468103 * n * k), 12)
                  * 1000000000.0) AS BIGINT)) AS BIGINT) AS im_q
  FROM grid GROUP BY doc_id, k
)
SELECT doc_id, CAST(k AS BIGINT) AS k,
       ROUND((CAST(re_q AS DOUBLE) / 1000000000.0)
             * (CAST(re_q AS DOUBLE) / 1000000000.0)
             + (CAST(im_q AS DOUBLE) / 1000000000.0)
             * (CAST(im_q AS DOUBLE) / 1000000000.0), 3) AS energy
FROM lanes
""",
)
def multimodal_dft_bin_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-BIN DFT ENERGY (the Goertzel-class single-bin spectral
    feature every audio pipeline extracts before a classifier):
    energy at bin k of an N=64-sample frame is |sum_n s[n] *
    e^(-2pi*i*k*n/N)|^2 — computed here as an explicit cos/sin dot
    product so the whole feature is a GROUP-BY-AGGREGATE, not a
    sequential filter: explode the (sample x bin) grid, one
    hash-agg back to (doc, bin). The frame is a deterministic
    synthetic waveform keyed on doc_id (period 256/(1+id%5) —
    different docs peak at different bins, so the feature actually
    discriminates; the container has no audio codec, and the house
    multimodal keys pin REAL decode paths — wav/adpcm/mulaw — this
    key pins the downstream FEATURE math at scale). Each cos/sin
    term is guard-rounded and nano-quantized before the order-free
    exact sum (floats only re-enter in the final energy, rounded at
    3dp). Scale: the 192x explode is map-side (Generate), the only
    shuffle is the (doc, bin) hash-agg with map-side combine."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    c = 0.09817477042468103  # 2*pi/64, pinned literal on both engines
    grid = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("n"),
    ).select(
        "doc_id",
        "n",
        F.explode(F.array(F.lit(1), F.lit(3), F.lit(5))).alias("k"),
        (
            (F.col("doc_id") * 7 + F.col("n") * (1 + F.col("doc_id") % 5))
            % 256
            - 128
        )
        .cast("double")
        .alias("s"),
    )
    ang = F.lit(c) * F.col("n") * F.col("k")
    lanes = grid.groupBy("doc_id", "k").agg(
        F.sum(
            F.floor(F.round(F.col("s") * F.cos(ang), 12) * 1e9).cast("bigint")
        )
        .cast("bigint")
        .alias("re_q"),
        F.sum(
            F.floor(F.round(F.col("s") * F.sin(ang), 12) * 1e9).cast("bigint")
        )
        .cast("bigint")
        .alias("im_q"),
    )
    re_d = F.col("re_q").cast("double") / 1e9
    im_d = F.col("im_q").cast("double") / 1e9
    return lanes.select(
        "doc_id",
        F.col("k").cast("bigint").alias("k"),
        F.round(re_d * re_d + im_d * im_d, 3).alias("energy"),
    )


# Quantize each float32 element onto an exact 1e-6 integer lattice
# BEFORE any arithmetic: dot products and squared norms then become
# ORDER-INSENSITIVE exact BIGINT sums, so no engine's fold order,
# vectorization chunking, or float-vs-double multiply can move a
# cosine by even one ulp (the r9 full-pytest flake: a sim exactly on
# the 1e-6 round-half boundary flipped with DuckDB's list_sum
# chunking under load).
_DECON_Q = "list_transform({e}, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))"
_DECON_DOT = (
    "CAST(list_sum(list_transform(generate_series(1, len(t.embedding)),"
    " i -> " + _DECON_Q.format(e="t.embedding") + "[i] * "
    + _DECON_Q.format(e="b.embedding") + "[i])) AS DOUBLE)"
)
_DECON_NORM_T = (
    "SQRT(CAST(list_sum(list_transform(generate_series(1, len(t.embedding)),"
    " i -> " + _DECON_Q.format(e="t.embedding") + "[i] * "
    + _DECON_Q.format(e="t.embedding") + "[i])) AS DOUBLE))"
)
_DECON_NORM_B = (
    "SQRT(CAST(list_sum(list_transform(generate_series(1, len(b.embedding)),"
    " i -> " + _DECON_Q.format(e="b.embedding") + "[i] * "
    + _DECON_Q.format(e="b.embedding") + "[i])) AS DOUBLE))"
)


@register(
    "decontaminate_embedding",
    oracle=f"""
WITH bench AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
),
train AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0
),
sims AS (
  SELECT t.vec_id,
         ROUND({_DECON_DOT} / ({_DECON_NORM_T} * {_DECON_NORM_B}), 6) AS sim
  FROM train t CROSS JOIN bench b
)
SELECT vec_id, MAX(sim) AS max_benchmark_sim,
       CAST(SUM(CASE WHEN sim >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       MAX(sim) >= 0.5 AS drop_doc
FROM sims GROUP BY vec_id
""",
)
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE TEST-SET DECONTAMINATION — the third
    decontamination modality after exact n-gram overlap
    (decontaminate_ngram) and substring winnowing: a training doc is
    dropped when its embedding is cosine-similar (>= 0.5 on this
    fixture's unit-scale vectors) to ANY benchmark/eval doc, the
    screen that catches PARAPHRASED leakage n-grams can't see
    (GPT-3-era dedup papers' semantic-dedup recipe). The benchmark
    side (vec_id % 50 = 0 here) is small BY CONSTRUCTION — real
    eval suites are 1e3-1e5 docs — so the 100 TB plan is exactly
    this one: broadcast the benchmark matrix, stream the train
    corpus through it once, never shuffle the big side. The cosine
    is a JVM-side higher-order-function dot (F.zip_with +
    F.aggregate — no Python in the hot path) over elements
    QUANTIZED to an exact 1e-6 BIGINT lattice, so the dot and the
    squared norms are order-insensitive integer sums — bit-identical
    on any engine, thread count, or fold order — and only the final
    sqrt/divide touch floating point (single IEEE ops,
    deterministic), rounded at 6dp before the max/threshold fold."""
    emb = table(spark, sf_dir, "embeddings")

    def quant(a):
        return F.transform(
            a,
            lambda x: F.round(x.cast("double") * 1000000.0, 0).cast(
                "bigint"
            ),
        )

    def fold_dot(a, b):
        # exact BIGINT lattice dot — order-insensitive, ulp-proof
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    # Round 10 (guide §2.3 "don't recompute per pair"): quantize each
    # vector and fold its squared norm ONCE per ROW before the cross
    # join — the committed plan re-ran both quantizations and all
    # three folds per PAIR (6 interpreted array transforms + 3 folds
    # x |train| x |bench|). Identical BIGINTs, identical sim doubles.
    bench = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("b_id"), quant(F.col("embedding")).alias("b_q")
    ).select("b_id", "b_q", fold_dot(F.col("b_q"), F.col("b_q")).alias("b_n2"))
    train = emb.filter(F.col("vec_id") % 50 != 0).select(
        "vec_id", quant(F.col("embedding")).alias("q")
    ).select("vec_id", "q", fold_dot(F.col("q"), F.col("q")).alias("n2"))

    sim = F.round(
        fold_dot(F.col("q"), F.col("b_q")).cast("double")
        / (
            F.sqrt(F.col("n2").cast("double"))
            * F.sqrt(F.col("b_n2").cast("double"))
        ),
        6,
    )
    sims = train.crossJoin(F.broadcast(bench)).select(
        "vec_id", sim.alias("sim")
    )
    return sims.groupBy("vec_id").agg(
        F.max("sim").alias("max_benchmark_sim"),
        F.sum(F.when(F.col("sim") >= 0.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
        (F.max("sim") >= 0.5).alias("drop_doc"),
    )
