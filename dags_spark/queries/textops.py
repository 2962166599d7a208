"""SURVEY §2.11 extension — text-analysis operators for training-data
pipelines: token counting, quality scoring, language-ID, rolling-hash
fingerprints. All hash-checked against DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import table
from ..operators.textops import (
    SQL_ROLLING,
    SQL_STOPWORDS,
    STOPWORDS,
    TOKEN_RE,
    langid_predict,
    normalize_text,
    quality_expr,
    quality_score,
    repetition_ratios,
    rolling_fingerprint,
    strip_stopwords,
    token_counts,
)
from ..registry import register


@register(
    "text_token_count",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS re_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_measured
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token budget: whitespace tokens + BPE-ish regex tokens
    + char length (narrow projection, no shuffle)."""
    return token_counts(table(spark, sf_dir, "documents"))


@register(
    "text_quality_score",
    oracle=f"""
WITH q AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> list_contains({SQL_STOPWORDS}, t))) AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio_raw,
         CAST(len(list_filter(string_split(text, ' '), t -> length(t) <= 2)) AS DOUBLE)
           / len(string_split(text, ' ')) AS short_ratio_raw,
         CAST(length(translate(text, '0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz ', '')) AS DOUBLE)
           / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio_raw
  FROM documents
)
SELECT doc_id,
       ROUND(stop_ratio_raw, 6) AS stop_ratio,
       ROUND(short_ratio_raw, 6) AS short_ratio,
       ROUND(punct_ratio_raw, 6) AS punct_ratio,
       ROUND(1.0 - 0.5 * stop_ratio_raw - 0.3 * short_ratio_raw
                 - 0.2 * punct_ratio_raw, 6) AS quality
FROM q
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (stopword/short-token/punct ratios,
    pinned linear formula, round 6dp)."""
    return quality_score(table(spark, sf_dir, "documents"))


@register(
    "text_langid",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
),
doc_tf AS (
  SELECT doc_id, token, COUNT(*) AS n_d FROM tok GROUP BY doc_id, token
),
lang_tf AS (
  SELECT lang AS cand_lang, token, COUNT(*) AS n_l FROM tok GROUP BY lang, token
),
scores AS (
  SELECT doc_id, cand_lang, CAST(SUM(n_d * n_l) AS BIGINT) AS score
  FROM doc_tf JOIN lang_tf USING (token)
  GROUP BY doc_id, cand_lang
),
pred AS (
  SELECT doc_id, cand_lang AS pred_lang, score FROM (
    SELECT doc_id, cand_lang, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, cand_lang) AS rn
    FROM scores
  ) WHERE rn = 1
)
SELECT d.doc_id, d.lang, p.pred_lang, p.score
FROM documents d JOIN pred p ON d.doc_id = p.doc_id
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-profile language-ID: integer dot-product of doc term
    frequencies against corpus-trained per-language profiles, argmax
    with deterministic tie-break."""
    return langid_predict(table(spark, sf_dir, "documents"))


@register(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id, {SQL_ROLLING.format(t='text')} AS fingerprint
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint per document — identical
    (base 31, mod 1e9+7) fold in Spark `aggregate` and DuckDB
    `list_reduce`."""
    return rolling_fingerprint(table(spark, sf_dir, "documents"))


@register(
    "text_pipeline_clean",
    oracle=f"""
WITH q AS (
  SELECT doc_id,
         ROUND(1.0
           - 0.5 * (CAST(len(list_filter(string_split(text, ' '),
                                t -> list_contains({SQL_STOPWORDS}, t))) AS DOUBLE)
                    / len(string_split(text, ' ')))
           - 0.3 * (CAST(len(list_filter(string_split(text, ' '), t -> length(t) <= 2)) AS DOUBLE)
                    / len(string_split(text, ' ')))
           - 0.2 * (CAST(length(translate(text, '0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz ', '')) AS DOUBLE)
                    / CAST(greatest(length(text), 1) AS DOUBLE)), 6) AS quality
  FROM documents
),
kept AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d JOIN q USING (doc_id)
  WHERE q.quality >= 0.55
),
ded AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS avg_chars
FROM ded GROUP BY lang
""",
)
def text_pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pipeline as ONE lazy plan:
    quality-score filter (pinned linear formula) -> exact dedup
    (min doc_id per identical text) -> per-language corpus stats.

    The three stages fuse under Catalyst: the score is computed in the
    scan stage, the dedup is the only wide exchange (keyed on
    md5(text), never raw text at the shuffle... the md5 partition key
    is what survives a 100 TB corpus), and the final agg is map-side
    combinable.

    ROUND 10 (guide §2.3, "shuffle fewer bytes"): the dedup used to be
    a row_number() window over md5(text) — whose exchange carried the
    FULL text column (plans/r10/q10_text_pipeline_before.txt: Exchange
    input [doc_id, text, lang, _w0]) plus two sorts around it. It is
    now a min_by hash aggregate: each kept row is projected to
    (md5, lang_code, n_chars) BEFORE the exchange and
    partial-aggregated map-side, so only one ~50-byte proxy row per
    distinct text per task crosses the wire — the text itself never
    does, at any corpus size — and both sorts disappear. Equivalent by
    construction: row_number()=1 ordered by doc_id picks the
    min-doc_id row per fingerprint; min_by(..., doc_id) picks the same
    row's fields (doc_id is unique, so the min is unique); identical
    texts share length, so min(length) IS the winner's n_chars.

    lang rides through the aggregation packed into a BIGINT
    (hex of the 8-byte space-padded code, decoded back after the agg):
    HashAggregateExec requires every aggregation-buffer field to be
    UnsafeRow-mutable (fixed width), so min_by carrying a string or
    struct falls back to SortAggregate — one extra Sort per side of
    the exchange (measured 0.34 s vs 0.29 s at sf0.1). With two BIGINT
    buffers the whole dedup stays a hash aggregate. The packing is
    faithful for any lang of <= 8 ASCII bytes; the documents schema
    pins lang to 2-char ISO 639-1 codes.

    Measured (old and new INTERLEAVED in one session,
    min/median of 7 at sf0.1, of 3 at the sf10 tier): sf0.1 min
    0.301 -> 0.287 s, median 0.402 -> 0.346 s; sf10 statistically a
    tie (min 1.83 vs 1.91 s) because the interpreted quality filter
    dominates both variants at that tier. The win is the plan shape,
    which is what scales: 2 Sorts + Window -> HashAggregate pair
    (zero Sort nodes), exchange width text -> md5 + 2 bigints
    (guarded by tests/test_plans.py).
    """
    docs = table(spark, sf_dir, "documents")
    # quality inline, not a join of the corpus with its own scored
    # projection: a self-join on doc_id is an extra shuffle (or a
    # pointless broadcast of the whole corpus) at 100 TB; as a column
    # expression the filter fuses into the scan stage.
    kept = docs.withColumn("quality", quality_expr("text")).filter(
        F.col("quality") >= 0.55
    )
    # lang packed into a bigint so the min_by buffer is all fixed
    # width -> HashAggregate (see docstring); n_chars needs no min_by
    # because the grouping key md5(text) fixes the length.
    lang_code = F.expr("cast(conv(hex(rpad(lang, 8, ' ')), 16, 10) as bigint)")
    ded = (
        kept.groupBy(F.md5("text").alias("__fp"))
        .agg(
            F.min_by(lang_code, F.col("doc_id")).alias("__lc"),
            F.min(F.length("text").cast("bigint")).alias("n_chars"),
        )
        .select(
            F.expr(
                "rtrim(decode(unhex(lpad(hex(__lc), 16, '0')), 'UTF-8'))"
            ).alias("lang"),
            "n_chars",
        )
    )
    return ded.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


@register(
    "text_normalize",
    oracle="""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS norm_text,
       CAST(len(string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT)
         AS n_tokens_norm
FROM documents
""",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization pre-pass (lowercase / strip punctuation /
    collapse whitespace) — the step that makes exact dedup catch casing
    and punctuation variants. Narrow projection, scan-bound."""
    return normalize_text(table(spark, sf_dir, "documents"))


@register(
    "text_repetition",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g AS (
  SELECT doc_id, tk,
         CASE WHEN len(tk) < 3 THEN []
              ELSE list_transform(generate_series(1, len(tk) - 2),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         END AS gr
  FROM t
)
SELECT doc_id,
       ROUND(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) AS tok_rep,
       CASE WHEN len(gr) <= 0 THEN 0.0
            ELSE ROUND(1.0 - CAST(len(list_distinct(gr)) AS DOUBLE) / len(gr), 6)
       END AS gram_rep
FROM g
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-token and duplicate-3-gram fractions per doc — the
    standard repetitious-document filter for LLM training corpora."""
    return repetition_ratios(table(spark, sf_dir, "documents"))


@register(
    "text_stopword_strip",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
k AS (SELECT doc_id, tk,
             list_filter(tk, x -> NOT list_contains({SQL_STOPWORDS}, x)) AS kept
      FROM t)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(kept) AS BIGINT) AS n_kept,
       ROUND(CAST(len(kept) AS DOUBLE) / len(tk), 6) AS kept_ratio
FROM k
""",
)
def text_stopword_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-removal accounting (tokens before/after + kept ratio)
    against the pinned stopword set."""
    return strip_stopwords(table(spark, sf_dir, "documents"))


@register(
    "text_vocab_topk",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token)
SELECT token, freq, rnk FROM (
  SELECT token, freq,
         row_number() OVER (ORDER BY freq DESC, token) AS rnk
  FROM tf
) WHERE rnk <= 20
""",
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-20 tokens by frequency (deterministic
    tie-break on the token itself). Explode feeds a map-side-combined
    hash agg; the vocab table stays tiny, and the final top-k is a
    single-partition sort of a vocab-sized input (TakeOrdered at
    scale — never a full-corpus sort)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("token"))
    return (
        tf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select("token", "freq", "rnk")
    )


@register(
    "text_chunk_overlap",
    oracle="""
SELECT doc_id,
       CAST((start_tok - 1) / 24 AS BIGINT) AS chunk_id,
       start_tok,
       len(toks[start_tok:start_tok + 31]) AS n_chunk_tokens,
       array_to_string(toks[start_tok:start_tok + 31], ' ') AS chunk_text
FROM (
  SELECT doc_id, string_split(text, ' ') AS toks,
         unnest(generate_series(1, len(string_split(text, ' ')), 24)) AS start_tok
  FROM documents
)
""",
    tags=("text", "chunking"),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (size 32 tokens, stride 24 —
    8-token overlap): the pre-step of every embedding/RAG indexing
    pipeline. One explode per chunk start; chunk text re-serialized
    with array_join so the output is driver-hashable. Narrow,
    shuffle-free, scales linearly with corpus tokens."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    d = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(1), F.size(toks), F.lit(24))).alias("start_tok"),
    )
    chunk = F.slice(F.col("toks"), F.col("start_tok"), 32)
    return d.select(
        "doc_id",
        ((F.col("start_tok") - 1) / 24).cast("long").alias("chunk_id"),
        "start_tok",
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


_PII_EMAIL = "[a-z0-9]+@[a-z]+[.][a-z]+"
_PII_PHONE = "[+]1-555-[0-9]{4}"


@register(
    "text_pii_scrub",
    oracle=f"""
WITH synth AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or +1-555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(raw, '{_PII_PHONE}')) AS n_phones,
       md5(regexp_replace(regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM synth
""",
    tags=("text", "privacy"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction accounting — the privacy-scrub pass of a corpus
    pipeline: count and replace email/phone patterns, emit the md5 of
    the scrubbed text (scalar proof the replacement is identical
    cross-engine). The fixture text contains no PII, so deterministic
    synthetic PII is appended in-query from doc_id — both engines
    build and scrub the identical string. Narrow projection: regex
    work is scan-local, no shuffle; at 100 TB this runs at IO speed."""
    docs = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


@register(
    "corpus_summary_card",
    oracle="""
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT md5(text)) AS n_unique_texts,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents
GROUP BY source, lang
""",
    tags=("text", "reporting"),
)
def corpus_summary_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup: per (source, lang) doc counts, token
    totals, unique-text counts (dedup-rate numerator), char ranges —
    the summary table every corpus release ships with. One hash-agg
    pass; the distinct is over md5 fingerprints, never raw text, so
    the shuffle stays narrow at 100 TB."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_URL_HOST_RE = "^https?://([^/]+)"


@register(
    "web_domain_stats",
    oracle=f"""
WITH u AS (
  SELECT doc_id,
         'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
           || source || '.example.com/p/' || doc_id
           || (CASE WHEN doc_id % 2 = 0 THEN '?utm=x' ELSE '' END) AS url,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT lower(regexp_replace(regexp_extract(url, '{_URL_HOST_RE}', 1), '^www[.]', '')) AS domain,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       COUNT(CASE WHEN url LIKE '%?%' THEN 1 END) AS n_with_query
FROM u GROUP BY 1
""",
    tags=("text", "web"),
)
def web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus accounting — the web-pipeline staple behind
    domain allow/deny lists and per-domain caps: canonicalize the URL
    host (strip scheme, leading www., query string) and aggregate doc
    and token counts per domain. Fixture docs carry no URLs, so
    deterministic synthetic URLs are built in-query from (source,
    doc_id) — both engines construct and parse the identical string.
    The host regex is shared verbatim for parity (Spark's parse_url
    built-in does the same job but has no DuckDB twin). Scan-local
    regex + one hash-agg; at 100 TB the agg output is domain-count
    sized (~10^7), broadcastable back for cap enforcement."""
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm=x")).otherwise(F.lit("")),
    )
    u = docs.select(
        url.alias("url"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    domain = F.lower(
        F.regexp_replace(F.regexp_extract("url", _URL_HOST_RE, 1), "^www[.]", "")
    )
    return u.groupBy(domain.alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.when(F.col("url").contains("?"), 1)).alias("n_with_query"),
    )


@register(
    "text_entropy_per_source",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT source, token, COUNT(*) AS n FROM tok GROUP BY source, token),
tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS total FROM tf GROUP BY source),
q AS (
  SELECT tf.source,
         CAST(FLOOR(ROUND(-(CAST(n AS DOUBLE) / total)
                    * ln(CAST(n AS DOUBLE) / total), 12) * 1000000000) AS BIGINT) AS qe,
         n
  FROM tf JOIN tot ON tf.source = tot.source
)
SELECT source,
       COUNT(*) AS vocab_size,
       ROUND(CAST(SUM(qe) AS DOUBLE) / 1000000000.0, 6) AS token_entropy_nats
FROM q GROUP BY source
""",
    tags=("text", "diagnostics"),
)
def text_entropy_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution (plus vocab
    size) — the diversity diagnostic behind mixture design: a source
    whose entropy collapses is boilerplate, one far above corpus norm
    is noise. Per-token -p·ln p terms are quantized to nano-nat
    BIGINTs, so the entropy sum is exact under any aggregation order;
    everything is (source, token)-agg sized, the corpus text itself
    never shuffles twice."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))
    tot = tf.groupBy("source").agg(F.sum("n").cast("bigint").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    # 12 guard digits before the nano-nat FLOOR (1-ulp ln drift
    # protection, same rationale as text_bm25_score)
    qe = F.floor(F.round(-p * F.log(p), 12) * 1_000_000_000).cast("bigint")
    return (
        tf.join(F.broadcast(tot), "source")
        .select("source", qe.alias("qe"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.round(
                F.sum("qe").cast("double") / F.lit(1_000_000_000.0), 6
            ).alias("token_entropy_nats"),
        )
    )


@register(
    "quality_classifier_logistic",
    oracle=f"""
WITH f AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> list_contains({SQL_STOPWORDS}, t))) AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio,
         CAST(list_sum(list_transform(string_split(text, ' '),
                                      t -> length(t))) AS DOUBLE)
           / len(string_split(text, ' ')) AS mean_tok_len,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> regexp_matches(t, '^[0-9]+$'))) AS DOUBLE)
           / len(string_split(text, ' ')) AS digit_ratio
  FROM documents
),
z AS (
  SELECT doc_id,
         -2.0 + 0.01 * n_tok + 3.0 * stop_ratio - 0.2 * mean_tok_len
              - 1.5 * digit_ratio AS z
  FROM f
)
SELECT doc_id,
       CAST(FLOOR(ROUND(1.0 / (1.0 + exp(-z)), 9) * 1000000) AS BIGINT)
         AS score_micro,
       z >= 0.0 AS keep
FROM z
""",
    tags=("llm",),
)
def quality_classifier_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretrained-classifier APPLY at corpus scale — the
    fasttext-style quality gate every LLM data pipeline runs: a fixed
    logistic model (weights broadcast as literals; in production,
    loaded once per partition) scores each document from cheap
    lexical features, and the keep decision feeds the downstream
    filter. Scan-local projection — zero shuffles, zero Python.

    Determinism: features are exact integer ratios; the logit z is
    the same double expression tree on both engines; the sigmoid's
    libm exp() gets the 9-guard-digit micro-unit quantization (the
    ln()/pow() rule), and the keep flag uses z >= 0 — algebraically
    sigmoid >= 0.5 but free of any libm call, so the cut can never
    flip cross-engine."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
            "double"
        )
        / F.size(toks)
    )
    mean_tok_len = (
        F.aggregate(
            F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
        ).cast("double")
        / F.size(toks)
    )
    digit_ratio = (
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$"))).cast("double")
        / F.size(toks)
    )
    z = (
        F.lit(-2.0)
        + F.lit(0.01) * n_tok
        + F.lit(3.0) * stop_ratio
        - F.lit(0.2) * mean_tok_len
        - F.lit(1.5) * digit_ratio
    )
    return d.select(
        "doc_id",
        F.floor(F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9) * 1_000_000)
        .cast("bigint")
        .alias("score_micro"),
        (z >= 0.0).alias("keep"),
    )


@register(
    "text_collocations_pmi",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM toks),
bi AS (
  SELECT string_split(text, ' ')[i] AS w1,
         string_split(text, ' ')[i + 1] AS w2
  FROM (
    SELECT text,
           unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
    FROM documents
  )
),
bic AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM bi GROUP BY w1, w2 HAVING COUNT(*) >= 5
),
btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bi)
SELECT w1, w2, pair_count,
       CAST(FLOOR(ROUND(LN(
           (CAST(pair_count AS DOUBLE) * t * t)
           / (CAST(b AS DOUBLE) * u1.c * u2.c)
         ), 9) * 1000000) AS BIGINT) AS pmi_micro
FROM bic
JOIN uni u1 ON u1.w = bic.w1
JOIN uni u2 ON u2.w = bic.w2
CROSS JOIN tot CROSS JOIN btot
""",
    tags=("text", "analysis"),
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information — the
    lexical-association upgrade of raw bigram counts (text_ngrams):
    PMI = ln( p(xy) / (p(x)p(y)) ), high for pairs that co-occur far
    above chance ('monte carlo'), ~0 for independent pairs. Pairs
    with support < 5 are dropped (PMI is unstable at low counts —
    the standard filter). Determinism: counts are exact BIGINTs, the
    PMI argument is ONE double division of two exact integer
    products (each < 2^53 at fixture scale), and the ln gets the
    house 9-guard-digit micro-unit quantization (see
    text_perplexity_proxy) so the BIGINT output is engine-exact.
    Plan: one explode -> two vocab-sized hash-aggs + two 1-row
    totals; the unigram table broadcasts into the (match-sized)
    bigram join — at 100 TB the only heavy exchange is the bigram
    agg, same cardinality as the corpus scan. Beyond int64 product
    range, switch the argument to ln-sum form (ln cxy + 2 ln t -
    ln b - ln cx - ln cy) — same quantization contract."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tok = d.select(F.explode(toks).alias("w"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("t"))
    bigrams = F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws("\x00", a, b),
    )
    bi = (
        d.select(F.explode(bigrams).alias("pair"))
        .filter(F.col("pair").contains("\x00"))
        .select(
            F.split_part(F.col("pair"), F.lit("\x00"), F.lit(1)).alias("w1"),
            F.split_part(F.col("pair"), F.lit("\x00"), F.lit(2)).alias("w2"),
        )
    )
    bic = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= 5)
    )
    btot = bi.agg(F.count(F.lit(1)).alias("b"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("cx"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("cy"))
    num = F.col("pair_count").cast("double") * F.col("t") * F.col("t")
    den = F.col("b").cast("double") * F.col("cx") * F.col("cy")
    return (
        bic.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.floor(F.round(F.log(num / den), 9) * 1_000_000)
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )


# Fixed demonstration merge table (priority-ordered, highest first) —
# the shape a learned BPE vocabulary has; rules chosen to chain (th+e,
# in+g) so the priority order is observable in the output.
_BPE_MERGES = [
    ("t", "h"),   # t h   -> th
    ("th", "e"),  # th e  -> the
    ("i", "n"),   # i n   -> in
    ("in", "g"),  # in g  -> ing
    ("e", "r"),   # e r   -> er
    ("o", "n"),   # o n   -> on
    ("a", "n"),   # a n   -> an
    ("r", "e"),   # r e   -> re
]


@register(
    "text_bpe_apply",
    oracle="""
WITH spaced AS (
  SELECT doc_id,
         trim(regexp_replace(lower(substr(text, 1, 120)),
                             '(.)', '\\1 ', 'g')) AS s
  FROM documents
),
m AS (
  SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    s,
    '(^| )t h( |$)', '\\1th\\2', 'g'), '(^| )t h( |$)', '\\1th\\2', 'g'),
    '(^| )th e( |$)', '\\1the\\2', 'g'), '(^| )th e( |$)', '\\1the\\2', 'g'),
    '(^| )i n( |$)', '\\1in\\2', 'g'), '(^| )i n( |$)', '\\1in\\2', 'g'),
    '(^| )in g( |$)', '\\1ing\\2', 'g'), '(^| )in g( |$)', '\\1ing\\2', 'g')
    AS s
  FROM spaced
),
m2 AS (
  SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    s,
    '(^| )e r( |$)', '\\1er\\2', 'g'), '(^| )e r( |$)', '\\1er\\2', 'g'),
    '(^| )o n( |$)', '\\1on\\2', 'g'), '(^| )o n( |$)', '\\1on\\2', 'g'),
    '(^| )a n( |$)', '\\1an\\2', 'g'), '(^| )a n( |$)', '\\1an\\2', 'g'),
    '(^| )r e( |$)', '\\1re\\2', 'g'), '(^| )r e( |$)', '\\1re\\2', 'g')
    AS s
  FROM m
)
SELECT doc_id,
       CAST(len(string_split(s, ' ')) AS BIGINT) AS n_symbols,
       substr(s, 1, 40) AS head_symbols
FROM m2
""",
    tags=("text", "tokenize", "trainprep"),
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge APPLICATION — the real mechanics of subword
    tokenization, not the whitespace proxy (text_token_count counts;
    this SEGMENTS): text explodes to space-separated characters, then
    a fixed priority-ordered merge table rewrites adjacent symbol
    pairs ('t h'->'th', then 'th e'->'the', ...) exactly as a learned
    BPE vocabulary applies — higher-priority merges run first, and
    each rule runs TWICE because replace-all on '(^| )t h( |$)'
    consumes its trailing separator, so adjacent matches ('t h t h')
    need a second sweep to reach the fixpoint. Output: per-doc symbol
    count after merging (the real token count a BPE tokenizer would
    bill) plus the head of the segmentation as direct evidence. The
    whole pipeline is scan-local regex work (IO-speed, no shuffle,
    no Python); both engines run the byte-identical pattern chain.
    Production vocabularies just extend the merge table; the
    per-rule-fixpoint structure is what matters at any vocab size."""
    d = table(spark, sf_dir, "documents")
    s = F.trim(
        F.regexp_replace(
            F.lower(F.substring("text", 1, 120)), "(.)", r"$1 "
        )
    )
    for a, b in _BPE_MERGES:
        pat, rep = f"(^| ){a} {b}( |$)", f"$1{a}{b}$2"
        # twice per rule: replace-all consumes the shared separator
        # between adjacent matches; the second sweep reaches fixpoint
        s = F.regexp_replace(F.regexp_replace(s, pat, rep), pat, rep)
    return d.select(
        "doc_id",
        F.size(F.split(s, " ")).cast("bigint").alias("n_symbols"),
        F.substring(s, 1, 40).alias("head_symbols"),
    )


@register(
    "dq_corpus_drift_jsd",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
stf AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c1 FROM tok GROUP BY source, w
),
st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ts FROM tok GROUP BY source),
ctf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM tok),
terms AS (
  SELECT stf.source,
         CAST(FLOOR(ROUND(
           -((CAST(c1 AS DOUBLE) / ts + CAST(c AS DOUBLE) / t) / 2)
             * LN((CAST(c1 AS DOUBLE) / ts + CAST(c AS DOUBLE) / t) / 2)
           + ((CAST(c1 AS DOUBLE) / ts) * LN(CAST(c1 AS DOUBLE) / ts)
              + (CAST(c AS DOUBLE) / t) * LN(CAST(c AS DOUBLE) / t)) / 2
         , 12) * 1000000000) AS BIGINT) AS term_nano,
         c
  FROM stf
  JOIN st ON st.source = stf.source
  JOIN ctf ON ctf.w = stf.w
  CROSS JOIN ct
)
SELECT terms.source,
       CAST(COUNT(*) AS BIGINT) AS vocab_overlap,
       CAST(SUM(term_nano)
            + FLOOR(ROUND(LN(2) / 2
                          * (1 - CAST(SUM(c) AS DOUBLE) / MAX(ct.t)), 12)
                    * 1000000000) AS BIGINT) AS jsd_nano
FROM terms CROSS JOIN ct
GROUP BY terms.source
""",
    tags=("dq", "text", "drift"),
)
def dq_corpus_drift_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DRIFT gate by Jensen–Shannon divergence: each source's
    token distribution vs the whole-corpus reference — the
    statistical monitor behind 'did this crawl slice change under
    us' (entropy, text_entropy_per_source, sees collapse; JSD sees
    MOVEMENT even at equal entropy). Sparse-aware identity keeps the
    sum source-sized: for tokens ABSENT from a source, the JSD
    contribution collapses algebraically to (ln2/2)*q, so the union
    over the corpus vocabulary folds into one closing term
    (ln2/2)*(1 - Σ_present q) and the join never builds the
    source×vocab grid — the property that matters when the vocab is
    billions of n-grams. Per-token terms are guard-rounded (12
    digits) and quantized to nano-nats BEFORE the BIGINT sum (exact
    under shuffle order, house pattern); the corpus tf table
    broadcasts. JSD is bounded [0, ln 2]; equal distributions give
    ~0."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    stf = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c1"))
    st = tok.groupBy("source").agg(F.count(F.lit(1)).alias("ts"))
    ctf = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    ct = tok.agg(F.count(F.lit(1)).alias("t"))
    terms = (
        stf.join(st, "source")
        .join(F.broadcast(ctf), "w")
        .crossJoin(F.broadcast(ct))
        .selectExpr(
            "source",
            "c",
            "t",
            """CAST(FLOOR(ROUND(
                 -((CAST(c1 AS DOUBLE) / ts + CAST(c AS DOUBLE) / t) / 2)
                   * LN((CAST(c1 AS DOUBLE) / ts + CAST(c AS DOUBLE) / t) / 2)
                 + ((CAST(c1 AS DOUBLE) / ts) * LN(CAST(c1 AS DOUBLE) / ts)
                    + (CAST(c AS DOUBLE) / t) * LN(CAST(c AS DOUBLE) / t)) / 2
               , 12) * 1000000000) AS BIGINT) AS term_nano""",
        )
    )
    return terms.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab_overlap"),
        (
            F.sum("term_nano")
            + F.floor(
                F.round(
                    F.log(F.lit(2.0))
                    / 2
                    * (1 - F.sum("c").cast("double") / F.max("t")),
                    12,
                )
                * 1_000_000_000
            ).cast("bigint")
        ).alias("jsd_nano"),
    )


@register(
    "stats_auc_exact",
    oracle=f"""
WITH scored AS (
  SELECT CAST(len(list_filter(string_split(text, ' '),
                              t -> list_contains({SQL_STOPWORDS}, t)))
         AS BIGINT) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
grp AS (
  SELECT s,
         CAST(SUM(y) AS BIGINT) AS pos_s,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_s
  FROM scored GROUP BY s
),
cum AS (
  SELECT s, pos_s, neg_s,
         CAST(COALESCE(SUM(neg_s) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_neg_before
  FROM grp
)
SELECT CAST(SUM(pos_s) AS BIGINT) AS n_pos,
       CAST(SUM(neg_s) AS BIGINT) AS n_neg,
       CAST(SUM(2 * pos_s * cum_neg_before + pos_s * neg_s) AS BIGINT)
         AS numerator2,
       ROUND(CAST(SUM(2 * pos_s * cum_neg_before + pos_s * neg_s) AS DOUBLE)
             / (2.0 * SUM(pos_s) * SUM(neg_s)), 6) AS auc
FROM cum
""",
    tags=("stats", "ml", "eval"),
)
def stats_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC (Mann–Whitney U form, ties handled by the
    standard half-credit rule) for a concrete classifier: 'is this
    doc English' scored by its stopword count — the classifier-eval
    primitive a quality-gate pipeline needs next to the classifier
    APPLY key (quality_classifier_logistic scores; this MEASURES a
    scorer against labels). Naive AUC sorts every row globally and
    breaks score ties arbitrarily — order-dependent and wrong under
    ties; the grouped identity  2·U = Σ_s (2·pos_s·negs_below +
    pos_s·neg_s)  works on the SCORE-GROUP table (domain-sized, here
    ≤ ~40 distinct counts), is exact integer arithmetic, and gives
    ties exactly half credit with no ordering ambiguity. One
    scan-local score projection → one grid hash-agg → an exclusive
    running sum over score groups that (round 8) runs on the
    two-pass global_cumsum machinery — so even a pathological scorer
    whose score DOMAIN grows with the corpus (raw floats, say) never
    funnels the group table through one task — and a 1-row final
    aggregate; the only double is the final pinned division."""
    from ..operators.trainprep import global_cumsum  # noqa: PLC0415

    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    s = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))
    ).cast("bigint")
    scored = d.select(
        s.alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grp = scored.groupBy("s").agg(
        F.sum("y").alias("pos_s"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg_s"),
    )
    # exclusive cumsum of neg_s in score order == "negatives strictly
    # below this score group" (s is unique per row post-groupBy, so
    # bucket-internal ordering is total)
    cum = global_cumsum(grp, "s", "neg_s", 64, out_col="cum_neg_before")
    num2 = F.sum(
        2 * F.col("pos_s") * F.col("cum_neg_before")
        + F.col("pos_s") * F.col("neg_s")
    )
    return cum.agg(
        F.sum("pos_s").alias("n_pos"),
        F.sum("neg_s").alias("n_neg"),
        num2.alias("numerator2"),
        F.round(
            num2.cast("double") / (2.0 * F.sum("pos_s") * F.sum("neg_s")), 6
        ).alias("auc"),
    )


@register(
    "dq_filter_ablation",
    oracle=f"""
WITH flags AS (
  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS f_len,
         CASE WHEN len(list_filter(string_split(text, ' '),
                     t -> list_contains({SQL_STOPWORDS}, t)))
                   * 100 >= len(string_split(text, ' ')) * 5
              THEN 1 ELSE 0 END AS f_stop,
         CASE WHEN len(list_distinct(string_split(text, ' '))) * 100
                   >= len(string_split(text, ' ')) * 60
              THEN 1 ELSE 0 END AS f_uniq,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
)
SELECT CAST(f_len AS INTEGER) AS f_len,
       CAST(f_stop AS INTEGER) AS f_stop,
       CAST(f_uniq AS INTEGER) AS f_uniq,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM flags
GROUP BY GROUPING SETS (
  (f_len, f_stop, f_uniq), (f_len), (f_stop), (f_uniq), ()
)
""",
    tags=("dq", "trainprep"),
)
def dq_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ABLATION report — the before-you-commit
    measurement of a filter stack: three candidate gates (length >=
    200 chars, stopword ratio >= 5% — integer cross-multiplication,
    no float ratios — and distinct-token ratio >= 60%) evaluated as
    flags in ONE scan, then GROUPING SETS aggregates the full
    3-flag cell grid plus each filter's marginal plus the grand
    total — every 'how many docs/chars would combination X keep'
    number from a single Expand pass, instead of re-scanning the
    corpus once per candidate configuration (the 2^k scans a naive
    ablation runs). NULL grouping columns mark the marginal rows
    exactly as in agg_grouping_sets. At 100 TB this is the
    difference between an afternoon of scans and one."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_uniq = F.size(F.array_distinct(toks))
    flags = d.select(
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("f_len"),
        F.when(n_stop * 100 >= n_tok * 5, 1).otherwise(0).alias("f_stop"),
        F.when(n_uniq * 100 >= n_tok * 60, 1).otherwise(0).alias("f_uniq"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    flags.createOrReplaceTempView("ablation_flags")
    return spark.sql(
        """
SELECT CAST(f_len AS INT) AS f_len,
       CAST(f_stop AS INT) AS f_stop,
       CAST(f_uniq AS INT) AS f_uniq,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM ablation_flags
GROUP BY GROUPING SETS (
  (f_len, f_stop, f_uniq), (f_len), (f_stop), (f_uniq), ()
)
"""
    )


@register(
    "text_readability_score",
    oracle="""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(GREATEST(len(string_split(text, '.')) - 1, 1) AS BIGINT)
           AS n_sents,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syll
  FROM documents
)
SELECT doc_id, n_words, n_sents, n_syll,
       ROUND(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
             - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) AS flesch
FROM t
""",
    tags=("text", "quality"),
)
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring — the classic readability gate in
    quality-filter stacks (too-low = legalese/boilerplate, suspect
    high = fragment spam), computed from three exact integer counts:
    words (whitespace tokens), sentences (period count, floored at
    1), and a syllable PROXY (vowel-group runs — the standard
    dictionary-free approximation; the formula's coefficients came
    from human calibration, so a consistent proxy matters more than
    phonetic truth). Both engines count with the same regex and run
    the identical double formula on integer inputs, rounded 6dp.
    Scan-local, IO-speed; composes with quality_classifier_logistic
    as one more feature column."""
    d = table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("bigint")
    n_sents = F.greatest(
        F.size(F.split("text", "\\.")) - 1, F.lit(1)
    ).cast("bigint")
    n_syll = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)
    ).cast("bigint")
    t = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    )
    return t.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sents"))
            - F.lit(84.6)
            * (F.col("n_syll").cast("double") / F.col("n_words")),
            6,
        ).alias("flesch"),
    )


@register(
    "text_zipf_exponent",
    oracle="""
WITH tf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) GROUP BY w
),
ranked AS (
  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, w ASC) AS rnk
  FROM tf
),
top AS (SELECT * FROM ranked WHERE rnk <= 200),
q AS (
  SELECT CAST(FLOOR(ROUND(LN(CAST(rnk AS DOUBLE)), 9) * 1000000) AS BIGINT)
           AS lx,
         CAST(FLOOR(ROUND(LN(CAST(f AS DOUBLE)), 9) * 1000000) AS BIGINT)
           AS ly
  FROM top
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
         CAST(SUM(lx * lx) AS BIGINT) AS qx,
         CAST(SUM(lx * ly) AS BIGINT) AS pxy
  FROM q
)
SELECT n AS n_ranks,
       ROUND((CAST(n AS DOUBLE) * pxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * qx - CAST(sx AS DOUBLE) * sx) / 1.0, 6)
         AS zipf_slope
FROM m
""",
    tags=("text", "stats"),
)
def text_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF exponent of the token frequency distribution — the
    corpus-naturalness diagnostic (natural language sits near slope
    −1 on the log-log rank/frequency line; generated spam, template
    boilerplate, and over-deduplicated corpora bend away from it):
    token frequencies rank deterministically (freq desc, token asc),
    the top-200 log-log points quantize ln(rank)/ln(freq) to
    micro-units (9 guard digits — the house pattern, because DOUBLE
    sums are shuffle-order-dependent but BIGINT sums are exact), and
    the least-squares slope comes from the integer moment sums with
    one pinned double expression (the agg_regr_linear machinery
    pointed at the corpus itself). The slope's units cancel the
    quantization scale, so no rescaling term appears. Vocab-sized
    ranking window; the corpus-scale work is the one token
    hash-agg."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    rnk = F.row_number().over(
        Window.orderBy(F.col("f").desc(), F.col("w").asc())
    )
    top = tf.select("f", rnk.alias("rnk")).filter(F.col("rnk") <= 200)
    micro = lambda c: F.floor(  # noqa: E731
        F.round(F.log(c.cast("double")), 9) * 1_000_000
    ).cast("bigint")
    q = top.select(
        micro(F.col("rnk")).alias("lx"), micro(F.col("f")).alias("ly")
    )
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("qx"),
        F.sum(F.col("lx") * F.col("ly")).alias("pxy"),
    )
    n, sx, sy, qx, pxy = (F.col(c) for c in ["n", "sx", "sy", "qx", "pxy"])
    return m.select(
        n.alias("n_ranks"),
        F.round(
            (n.cast("double") * pxy - sx.cast("double") * sy)
            / (n.cast("double") * qx - sx.cast("double") * sx)
            / 1.0,
            6,
        ).alias("zipf_slope"),
    )


def _langid_oracle() -> str:
    """Lift text_langid's oracle verbatim (the dedup_eval_banding_pr
    composition pattern): the confusion matrix scores EXACTLY the
    classifier its standalone key checks."""
    from ..registry import _REGISTRY

    return _REGISTRY["text_langid"].oracle


@register(
    "text_langid_confusion",
    oracle=f"""
WITH preds AS ({{langid}})
SELECT lang AS actual_lang, pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM preds
GROUP BY lang, pred_lang
""".replace(
        # plain .replace, NOT str.format: the lifted langid oracle may
        # legally gain literal braces (regex quantifiers like {2,})
        # which would make .format raise at import time.
        "{langid}", _langid_oracle()
    ),
    tags=("text", "eval"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFUSION MATRIX for the language-ID classifier — the
    evaluation artifact that turns 'we have a langid model'
    (text_langid) into 'here is where it fails' (which language
    pairs confuse it — the table that decides whether a per-language
    threshold or more profile n-grams are needed). The predictions
    are EXACTLY the standalone key's: its oracle SQL is lifted
    verbatim as a CTE (truth can never drift from what the component
    key checks — the dedup_eval_banding_pr pattern), and the Spark
    side calls the same registered implementation, then both sides
    aggregate (actual, predicted) counts over the
    language-domain-sized grid. Diagonal mass = accuracy;
    off-diagonal cells are the work list."""
    from ..registry import _REGISTRY

    preds = _REGISTRY["text_langid"].fn(spark, sf_dir)
    return preds.groupBy(
        F.col("lang").alias("actual_lang"), "pred_lang"
    ).agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "text_hashing_trick_features",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE doc_id % 50 = 0
),
hashed AS (
  SELECT doc_id,
         (instr('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16
           + (instr('0123456789abcdef', substr(md5(token), 2, 1)) - 1)
           AS bucket,
         CASE WHEN (instr('0123456789abcdef', substr(md5(token), 3, 1)) - 1) % 2 = 0
              THEN 1 ELSE -1 END AS sign
  FROM tok
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(sign) AS BIGINT) AS feat_value,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM hashed GROUP BY doc_id, bucket
HAVING SUM(sign) <> 0
""",
    tags=("text", "ml"),
)
def text_hashing_trick_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE HASHING (the 'hashing trick'): tokens map to a FIXED
    256-bucket feature space via md5 (bucket = first hash byte, sign
    = third-nibble parity — the signed variant that makes collisions
    cancel in expectation instead of biasing upward), per-doc feature
    value = signed token count. This is how text becomes fixed-width
    model input at 100 TB with NO vocabulary pass, no dictionary
    broadcast, no OOV handling — the feature dimension is a constant
    chosen up front, and the map is a pure scan-local function (the
    same no-state property as split_assign_hash). Zero-sum buckets
    are dropped on both engines (HAVING) so the emitted sparse
    vector matches what a CSR assembler would keep. One explode +
    one (doc, bucket) hash-agg — map-side combinable."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    h = F.md5("token")
    nib = lambda i: F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1  # noqa: E731
    hashed = tok.select(
        "doc_id",
        (nib(1) * 16 + nib(2)).cast("bigint").alias("bucket"),
        F.when(nib(3) % 2 == 0, 1).otherwise(-1).alias("sign"),
    )
    return (
        hashed.groupBy("doc_id", "bucket")
        .agg(
            F.sum("sign").alias("feat_value"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .filter(F.col("feat_value") != 0)
        .select("doc_id", "bucket", "feat_value", "n_tokens")
    )


@register(
    "text_boilerplate_lines",
    oracle="""
WITH stamped AS (
  -- the fixture corpus has no repeated fragments; stamp a footer on
  -- every 4th doc (two variants) so real boilerplate exists to find
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN
                text || '. all rights reserved by the example corpus'
              WHEN doc_id % 4 = 2 THEN
                text || '. cookie consent is required to continue'
              ELSE text END AS text
  FROM documents
),
sent AS (
  SELECT doc_id, unnest(string_split(text, '. ')) AS fragment
  FROM stamped
),
norm AS (
  SELECT doc_id, trim(fragment) AS fragment FROM sent
  WHERE length(trim(fragment)) >= 20
),
df AS (
  SELECT fragment,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM norm GROUP BY fragment
)
SELECT fragment, n_docs, n_occurrences
FROM df WHERE n_docs >= 5
""",
    tags=("text", "dq"),
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE detection — the web-corpus cleaning pass that
    catches what document-level dedup cannot: sentence fragments
    repeated across MANY DISTINCT documents (navigation chrome,
    cookie banners, license footers) while each containing document
    is unique. Fragments = '. '-split spans >= 20 chars; boilerplate
    = document frequency >= 5. The output is the removal LIST a
    paragraph-level scrub consumes (text_dedup_paragraphs applies
    it) — at 100 TB this list is small enough to broadcast, which is
    the entire point: one explode + one (fragment) hash-agg builds
    it, and applying it costs a broadcast semi-join, not a shuffle
    of the corpus text. Distinct-doc counting rides the same agg
    (count distinct over the grouped key, map-side combinable)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        # stamp deterministic boilerplate footers (the fixture has no
        # natural repeats; two variants on doc_id % 4 parity)
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                "text", F.lit(". all rights reserved by the example corpus")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat("text", F.lit(". cookie consent is required to continue")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    frags = d.select(
        "doc_id",
        F.explode(F.split("text", "\\. ")).alias("raw"),
    ).select("doc_id", F.trim("raw").alias("fragment"))
    norm = frags.filter(F.length("fragment") >= 20)
    return (
        norm.groupBy("fragment")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 5)
    )


@register(
    "text_dedup_paragraphs",
    oracle="""
WITH stamped AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN
                text || '. all rights reserved by the example corpus'
              WHEN doc_id % 4 = 2 THEN
                text || '. cookie consent is required to continue'
              ELSE text END AS text
  FROM documents
),
sent AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, '. '), 1) AS pos,
         unnest(string_split(text, '. ')) AS fragment
  FROM stamped
),
df AS (
  SELECT trim(fragment) AS nfrag,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM sent WHERE length(trim(fragment)) >= 20
  GROUP BY trim(fragment)
),
boiler AS (SELECT nfrag FROM df WHERE n_docs >= 5),
kept AS (
  SELECT s.doc_id, s.pos, s.fragment
  FROM sent s LEFT JOIN boiler b ON trim(s.fragment) = b.nfrag
  WHERE b.nfrag IS NULL
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_frags_kept,
       md5(string_agg(fragment, '. ' ORDER BY pos)) AS clean_md5
FROM kept GROUP BY doc_id
""",
    tags=("text", "dedup"),
)
def text_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-LEVEL scrub — APPLYING the text_boilerplate_lines
    list: fragments whose document frequency >= 5 are removed from
    every document, the survivors reassemble IN ORIGINAL ORDER, and
    the checked output pins the reassembled text bit-for-bit (md5)
    plus the kept count. This is the surgical variant of document
    dedup (the document survives, the chrome dies) and the plan is
    the 100 TB shape the boilerplate key promises: the df list is
    corpus-derived but SMALL, so the scrub is posexplode -> [left
    anti] broadcast join -> ordered array_join — text shuffles once
    on doc_id for reassembly, the boilerplate side rides a
    broadcast. Order preservation under the hash is the point: a
    reassembly that loses fragment order (the classic collect_list
    nondeterminism) fails immediately."""
    stamped = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                "text", F.lit(". all rights reserved by the example corpus")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat("text", F.lit(". cookie consent is required to continue")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    sent = stamped.select(
        "doc_id",
        F.posexplode(F.split("text", "\\. ")).alias("pos0", "fragment"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "fragment")
    df_ = (
        sent.filter(F.length(F.trim("fragment")) >= 20)
        .groupBy(F.trim("fragment").alias("nfrag"))
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    boiler = df_.filter(F.col("n_docs") >= 5).select("nfrag")
    kept = sent.join(
        F.broadcast(boiler),
        F.trim(sent.fragment) == boiler.nfrag,
        "left_anti",
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frags_kept"),
            F.md5(
                F.array_join(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "fragment"))
                    ).getField("fragment"),
                    ". ",
                )
            ).alias("clean_md5"),
        )
    )


@register(
    "text_keyword_rake",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS tks FROM documents
),
tok AS (
  SELECT doc_id, tks[i] AS tok, i AS pos,
         list_contains({SQL_STOPWORDS}, tks[i]) AS brk
  FROM tk, unnest(generate_series(1, len(tks))) AS g(i)
),
pid AS (
  SELECT doc_id, tok, pos, brk,
         CAST(SUM(CASE WHEN brk THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS phrase_id
  FROM tok
),
words AS (SELECT doc_id, phrase_id, tok, pos FROM pid WHERE NOT brk),
phr AS (
  SELECT doc_id, phrase_id,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS plen
  FROM words GROUP BY doc_id, phrase_id
),
wstat AS (
  SELECT w.doc_id, w.tok,
         CAST(SUM(p.plen) AS BIGINT) AS deg,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM words w JOIN phr p USING (doc_id, phrase_id)
  GROUP BY w.doc_id, w.tok
),
wscore AS (
  SELECT doc_id, tok,
         CAST(ROUND(CAST(deg AS DOUBLE) * 1000000 / freq, 0) AS BIGINT)
           AS score_u
  FROM wstat
),
pscore AS (
  SELECT w.doc_id, w.phrase_id,
         CAST(SUM(s.score_u) AS BIGINT) AS phrase_score_u
  FROM words w JOIN wscore s ON w.doc_id = s.doc_id AND w.tok = s.tok
  GROUP BY w.doc_id, w.phrase_id
)
SELECT doc_id, phrase, plen AS n_words, phrase_score_u
FROM (
  SELECT p.doc_id, p.phrase, p.plen, ps.phrase_score_u,
         ROW_NUMBER() OVER (PARTITION BY p.doc_id
           ORDER BY ps.phrase_score_u DESC, p.phrase ASC) AS rn
  FROM phr p JOIN pscore ps USING (doc_id, phrase_id)
) WHERE rn = 1
""",
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction — the classic unsupervised
    keyword/topic tagger for corpus curation: candidate phrases =
    maximal token runs between stopword breakers; word score =
    degree/frequency (degree = summed length of the phrases each
    occurrence sits in — co-occurring words inherit their phrases'
    weight); phrase score = sum of member word scores; emit each
    document's TOP phrase (ties broken by phrase text). Scores are
    quantized to integer micro-units per WORD before the phrase sum
    (deg·1e6/freq rounded once — deg and freq are small exact ints,
    so the double divide is identical in both engines and the phrase
    total is an order-free BIGINT sum: the PSI/JSD quantization
    rule). All work is doc-keyed: one token explode, a per-doc
    cumsum window for phrase segmentation, two doc-keyed hash-aggs,
    one top-1 window — shuffles only on doc_id, embarrassingly
    parallel at 100 TB."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    arr = F.array(*[F.lit(s) for s in STOPWORDS])
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).withColumn("brk", F.array_contains(arr, F.col("tok")))
    wcum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pid = tok.withColumn(
        "phrase_id", F.sum(F.col("brk").cast("bigint")).over(wcum)
    )
    words = pid.filter(~F.col("brk")).select("doc_id", "phrase_id", "tok", "pos")
    phr = words.groupBy("doc_id", "phrase_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    wstat = (
        words.join(phr.select("doc_id", "phrase_id", "plen"), ["doc_id", "phrase_id"])
        .groupBy("doc_id", "tok")
        .agg(F.sum("plen").alias("deg"), F.count(F.lit(1)).alias("freq"))
    )
    wscore = wstat.select(
        "doc_id",
        "tok",
        F.round(F.col("deg").cast("double") * 1000000 / F.col("freq"), 0)
        .cast("bigint")
        .alias("score_u"),
    )
    pscore = (
        words.join(wscore, ["doc_id", "tok"])
        .groupBy("doc_id", "phrase_id")
        .agg(F.sum("score_u").alias("phrase_score_u"))
    )
    wtop = Window.partitionBy("doc_id").orderBy(
        F.col("phrase_score_u").desc(), F.col("phrase").asc()
    )
    return (
        phr.join(pscore, ["doc_id", "phrase_id"])
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select("doc_id", "phrase", F.col("plen").alias("n_words"), "phrase_score_u")
    )


@register(
    "text_contamination_check",
    oracle="""
WITH bench AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
  WHERE doc_id % 11 = 0
),
bench_sh AS (
  SELECT DISTINCT array_to_string(list_slice(tk, i, i + 3), ' ') AS shingle
  FROM bench, unnest(generate_series(1, len(tk) - 3)) AS g(i)
  WHERE len(tk) >= 4
),
corpus AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
  WHERE doc_id % 11 <> 0
),
corpus_sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(tk, i, i + 3), ' ') AS shingle
  FROM corpus, unnest(generate_series(1, len(tk) - 3)) AS g(i)
  WHERE len(tk) >= 4
),
tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
  FROM corpus_sh GROUP BY doc_id
),
hits AS (
  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
  FROM corpus_sh c JOIN bench_sh b USING (shingle)
  GROUP BY c.doc_id
)
SELECT h.doc_id, h.n_contaminated, t.n_shingles,
       ROUND(CAST(h.n_contaminated AS DOUBLE) / t.n_shingles, 6)
         AS contamination_ratio
FROM hits h JOIN tot t USING (doc_id)
""",
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN-TEST CONTAMINATION detection — the screen every
    benchmark-respecting training pipeline runs before a corpus
    ships: a held-out 'benchmark' slice (doc_id % 11) is shredded to
    DISTINCT 4-token shingles, the remaining corpus likewise
    per-document, and one equi-join on the shingle string surfaces
    every corpus document sharing verbatim 4-grams with the
    benchmark, with its contamination ratio. Distinct-per-side
    BEFORE the join keeps the shuffle at set-cardinality (repeated
    phrases inside a doc count once — the standard n-gram-overlap
    definition). At 100 TB the benchmark shingle set is small and
    BROADCASTS, so contamination is a scan-local map-side semi-join
    over the corpus — no corpus shuffle at all; here both sides
    flow through the plain equi-join Catalyst picks at fixture
    scale. Shingle width 4 balances specificity vs the fixtures'
    short documents (>=13-gram is the published convention for
    web-scale corpora; same plan, wider slice)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")

    def shingles(df):
        tk = df.withColumn("tk", toks).filter(F.size("tk") >= 4)
        return tk.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - 3),
                    lambda i: F.array_join(F.slice("tk", i, 4), " "),
                )
            ).alias("shingle"),
        )

    bench_sh = (
        shingles(docs.filter(F.col("doc_id") % 11 == 0))
        .select("shingle")
        .distinct()
    )
    corpus_sh = shingles(docs.filter(F.col("doc_id") % 11 != 0)).distinct()
    tot = corpus_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    hits = corpus_sh.join(bench_sh, "shingle").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return hits.join(tot, "doc_id").select(
        "doc_id",
        "n_contaminated",
        "n_shingles",
        F.round(
            F.col("n_contaminated").cast("double") / F.col("n_shingles"), 6
        ).alias("contamination_ratio"),
    )


@register("text_compression_ratio", check="rows", prop_tests=("tests/test_property.py::test_compression_ratio_kernel_semantics",))
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZLIB COMPRESSION-RATIO quality signal — the Gopher/C4-family
    heuristic the scan-local stats (text_repetition, entropy) can't
    replace: a document that deflates far below the corpus norm is
    boilerplate/templated; one that won't deflate is noise. Each doc
    is compressed (zlib level 6) inside an Arrow mapInPandas kernel
    — bytes never leave the executor, only (doc_id, lengths, ratio,
    flags) — and flagged against the standard thresholds. Rows-
    checked by design: DEFLATE output length is not SQL-expressible;
    the kernel's behavior is pinned by property tests (monotone on
    repetition, exact for known strings) in tests/test_property.py."""
    d = table(spark, sf_dir, "documents")

    def kernel(it):
        import zlib

        import pandas as pd

        for pdf in it:
            rows = []
            for doc_id, text in zip(
                pdf["doc_id"].astype("int64"), pdf["text"]
            ):
                raw = text.encode("utf-8")
                comp = zlib.compress(raw, 6)
                ratio = len(comp) / len(raw) if raw else 1.0
                rows.append(
                    (
                        int(doc_id),
                        len(raw),
                        len(comp),
                        round(ratio, 6),
                        bool(ratio < 0.25),
                        # printable text caps near log2(90)/8 ~ 0.81;
                        # above 0.8 the doc is effectively noise
                        bool(ratio > 0.8),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "raw_len",
                    "comp_len",
                    "ratio",
                    "too_repetitive",
                    "incompressible",
                ],
            )

    return d.select("doc_id", "text").mapInPandas(
        kernel,
        "doc_id BIGINT, raw_len BIGINT, comp_len BIGINT, ratio DOUBLE, "
        "too_repetitive BOOLEAN, incompressible BOOLEAN",
    )


# ---- BPE merge training --------------------------------------------
# 5 training iterations, each a pure-relational stage identical on
# both engines: weighted adjacent-pair counts over the current
# spellings -> argmax (count desc, pair asc — pinned) -> apply the
# merge with a space-sentinel REPLACE (leftmost non-overlapping scan
# on both engines). The corpus reduces to its WORD VOCABULARY first,
# so every iteration runs on vocab-sized data no matter the corpus.

_BPE_STEPS = 5


def _bpe_oracle() -> str:
    parts = ["""
WITH words AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word
),
sp1 AS MATERIALIZED (
  SELECT word, cnt,
         array_to_string(list_transform(generate_series(1, length(word)),
                                        i -> word[i]), ' ') || ' </w>'
           AS spell
  FROM words
)"""]
    for i in range(1, _BPE_STEPS + 1):
        parts.append(f""",
pc{i} AS (
  SELECT pair, SUM(cnt) AS c FROM (
    SELECT cnt,
           unnest(list_transform(
             generate_series(1, len(string_split(spell, ' ')) - 1),
             j -> string_split(spell, ' ')[j] || ' ' ||
                  string_split(spell, ' ')[j + 1])) AS pair
    FROM sp{i}
  ) GROUP BY pair
),
best{i} AS (
  SELECT pair, c FROM pc{i} ORDER BY c DESC, pair LIMIT 1
),
sp{i + 1} AS MATERIALIZED (
  SELECT word, cnt,
         trim(REPLACE(' ' || spell || ' ',
                      ' ' || (SELECT pair FROM best{i}) || ' ',
                      ' ' || REPLACE((SELECT pair FROM best{i}), ' ', '')
                          || ' ')) AS spell
  FROM sp{i}
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, pair, REPLACE(pair, ' ', '') AS merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM best{i}"
        for i in range(1, _BPE_STEPS + 1)
    )
    parts.append(f"\nSELECT CAST(step AS INTEGER) AS step, pair, merged,"
                 f" pair_count FROM ({unions})")
    return "".join(parts)


@register("text_bpe_train", oracle=_bpe_oracle())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE MERGE TRAINING — the other half of the tokenizer story
    (text_bpe_apply consumes a merge table; this key LEARNS one):
    5 iterations of count-adjacent-pairs -> merge-the-most-frequent,
    exactly the Sennrich et al. procedure. The distributed insight
    is that training never touches the corpus after one pass: the
    corpus reduces to its word VOCABULARY with counts (the shuffle),
    spellings start as space-joined characters + '</w>', and every
    iteration is vocab-sized relational algebra — weighted pair
    explode + argmax (ties pinned by pair text) + one sentinel-
    spaced REPLACE. Both engines run the identical 5 unrolled
    stages; the 1-row argmax re-enters as a broadcast scalar. At
    web scale only the vocab agg grows with data — the iterations
    stay O(vocab)."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    sp = words.withColumn(
        "spell",
        F.concat(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(sequence(1, length(word)),"
                    " i -> substring(word, i, 1))"
                ),
            ),
            F.lit(" </w>"),
        ),
    )
    sp = sp.localCheckpoint()  # vocab-sized; truncates the lineage the
    # 5 iterations would otherwise re-derive from the corpus each time
    out = None
    for step in range(1, _BPE_STEPS + 1):
        pairs = sp.select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(spell, ' ')) - 1),"
                    " j -> concat(element_at(split(spell, ' '), j), ' ',"
                    " element_at(split(spell, ' '), j + 1)))"
                )
            ).alias("pair"),
        )
        pc = pairs.groupBy("pair").agg(F.sum("cnt").alias("c"))
        best = pc.orderBy(F.col("c").desc(), "pair").limit(1)
        row = best.select(
            F.lit(step).cast("int").alias("step"),
            "pair",
            F.regexp_replace("pair", " ", "").alias("merged"),
            F.col("c").cast("bigint").alias("pair_count"),
        )
        out = row if out is None else out.unionAll(row)
        sp = (
            sp.crossJoin(
                F.broadcast(
                    best.select(
                        F.col("pair").alias("b_pair"),
                        F.regexp_replace("pair", " ", "").alias("b_merged"),
                    )
                )
            )
            .withColumn(
                "spell",
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("spell"), F.lit(" ")),
                        F.concat(F.lit(" "), F.col("b_pair"), F.lit(" ")),
                        F.concat(F.lit(" "), F.col("b_merged"), F.lit(" ")),
                    )
                ),
            )
            .drop("b_pair", "b_merged")
        )
        sp = sp.localCheckpoint()
    return out


@register(
    "text_kneser_ney_bigram",
    oracle="""
WITH toks AS (
  SELECT doc_id, word, pos FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
  ) WHERE word <> ''
),
bigrams AS (
  SELECT a.doc_id, a.word AS w1, b.word AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
big_n AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM bigrams GROUP BY w1, w2
),
uni_n AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS types_after
  FROM big_n GROUP BY w1
),
cont AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS types_before FROM big_n GROUP BY w2
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM big_n),
scored AS (
  SELECT b.doc_id,
         CAST(ROUND(LN(
           (GREATEST(CAST(g.c12 AS DOUBLE) - 0.75, 0.0) / u.c1)
           + (0.75 * u.types_after / u.c1)
             * (CAST(k.types_before AS DOUBLE) / t.n_types)
         ) * 1000000000, 0) AS BIGINT) AS lp_q
  FROM bigrams b
  JOIN big_n g ON g.w1 = b.w1 AND g.w2 = b.w2
  JOIN uni_n u ON u.w1 = b.w1
  JOIN cont k ON k.w2 = b.w2
  CROSS JOIN tot t
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(lp_q) AS DOUBLE) / 1000000000.0 / COUNT(*), 6)
         AS kn_logprob_avg
FROM scored GROUP BY doc_id
""",
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNESER-NEY BIGRAM LM — the real smoothed language model the
    unigram perplexity proxy approximates: absolute discounting
    (D = 0.75) with the continuation-probability backoff that made
    KN the standard n-gram smoother. Every model quantity (bigram
    counts, left/right continuation type counts, type total) is an
    exact integer aggregate; the per-bigram log-probability is one
    closed-form float expression over identical integer inputs,
    quantized to a BIGINT lane before the per-doc sum (order-free),
    average restored at 6dp. Corpus stats are model-sized and join
    back broadcast; the token self-join pairs adjacent positions
    per doc (co-partitioned by doc_id). The per-doc average KN
    log-prob is the fluency score a quality-filtering pipeline
    thresholds on."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "word"),
        )
        .filter(F.col("word") != "")
    )
    b = toks.select(
        F.col("doc_id").alias("b_doc"),
        F.col("pos").alias("b_pos"),
        F.col("word").alias("w2"),
    )
    bigrams = toks.join(
        b,
        (F.col("b_doc") == F.col("doc_id")) & (F.col("b_pos") == F.col("pos") + 1),
    ).select("doc_id", F.col("word").alias("w1"), "w2")
    big_n = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    uni_n = big_n.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("types_after"),
    )
    cont = big_n.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("types_before")
    )
    tot = big_n.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    prob = (
        F.greatest(F.col("c12").cast("double") - 0.75, F.lit(0.0)) / F.col("c1")
    ) + (0.75 * F.col("types_after") / F.col("c1")) * (
        F.col("types_before").cast("double") / F.col("n_types")
    )
    scored = (
        bigrams.join(F.broadcast(big_n), ["w1", "w2"])
        .join(F.broadcast(uni_n), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(F.log(prob) * 1000000000, 0).cast("bigint").alias("lp_q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum("lp_q").cast("double") / 1000000000.0 / F.count(F.lit(1)), 6
        ).alias("kn_logprob_avg"),
    )


@register(
    "text_ngram_novelty",
    oracle="""
WITH tri AS (
  SELECT DISTINCT doc_id, trigram FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 2),
             i -> string_split(text, ' ')[i] || ' '
                  || string_split(text, ' ')[i + 1] || ' '
                  || string_split(text, ' ')[i + 2])) AS trigram
    FROM documents
  )
),
first_seen AS (
  SELECT trigram, MIN(doc_id) AS first_doc FROM tri GROUP BY trigram
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tri,
       CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_share
FROM tri t JOIN first_seen f ON t.trigram = f.trigram
GROUP BY t.doc_id
""",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY per document — the share of a doc's distinct
    word trigrams whose FIRST corpus occurrence (min doc_id) is this
    doc. The freshness/diversity signal a training-data curator uses
    to rank sources: boilerplate-heavy docs score near 0 (their
    trigrams all appeared earlier), genuinely new material near 1 —
    the corpus-level twin of the per-doc repetition key. Pure
    explode -> distinct -> MIN hash-agg -> equi-join back on the
    trigram (the join key is the blocking key, so the shuffle is on
    trigram fingerprints, never text bodies); at 100 TB you'd hash
    trigrams to 64-bit before the shuffle (xxhash64) and the plan is
    unchanged. Deterministic: ties broken by the min doc_id rule."""
    from ..operators.dedup import token_ngrams

    d = table(spark, sf_dir, "documents")
    # Round 10 (guide §2.4): trigram building now rides the shared
    # token_ngrams operator (direct-index gram concat, parallel
    # repartition before the CPU-bound shingling, per-doc
    # array_distinct == the old global DISTINCT on (doc_id, trigram)
    # since a doc's grams were already deduped within the doc) — the
    # committed plan hand-built grams with the 2x-slower
    # concat_ws/element_at form on the scanner's 1-2 partitions AND
    # evaluated that subtree twice (groupBy + join-back). First-
    # occurrence attribution is a min window over the trigram
    # partition: one exchange instead of the groupBy + join pair.
    # Identical rows.
    tri = token_ngrams(d, "doc_id", "text", 3).select(
        "doc_id", F.explode("g").alias("trigram")
    )
    j = tri.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("trigram"))
    )
    is_novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tri"),
        F.sum(is_novel).cast("bigint").alias("n_novel"),
        F.round(
            F.sum(is_novel).cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("novelty_share"),
    )


@register(
    "text_homoglyph_scrub",
    oracle="""
WITH poisoned AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN replace(replace(replace(text, 'a', chr(1072)),
                           'e', chr(1077)), 'o', chr(1086))
              ELSE text END AS text,
         md5(text) AS clean_md5
  FROM documents
),
scrubbed AS (
  SELECT doc_id, clean_md5,
         replace(replace(replace(text, chr(1072), 'a'),
                 chr(1077), 'e'), chr(1086), 'o') AS text_scrubbed,
         length(text)
           - length(replace(replace(replace(text, chr(1072), ''),
                            chr(1077), ''), chr(1086), '')) AS n_homoglyphs
  FROM poisoned
)
SELECT doc_id,
       CAST(n_homoglyphs AS BIGINT) AS n_homoglyphs,
       (md5(text_scrubbed) = clean_md5) AS recovered
FROM scrubbed
""",
)
def text_homoglyph_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOMOGLYPH SCRUBBING — the data-poisoning defense an LLM
    corpus pipeline runs before dedup: Cyrillic а/е/о (U+0430/0435/
    043E) are pixel-identical to Latin a/e/o, so a poisoned document
    evades exact AND near-dup matching while reading identically to
    a human (and to the model). A third of the fixture docs are
    poisoned IN-QUERY (deterministic substitution), scrubbed back
    through the confusable map, and the key certifies byte-exact
    recovery against the pre-poison md5 plus the per-doc homoglyph
    count — so the hash pins both the detection (count) and the
    normalization (recovery bit). Pure scan-local string kernels
    (replace chains, JVM-side); at 100 TB this fuses into the
    text_normalize pass with zero extra shuffles."""
    d = table(spark, sf_dir, "documents")
    a_cy, e_cy, o_cy = "а", "е", "о"
    poisoned = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.replace(
                F.replace(
                    F.replace(F.col("text"), F.lit("a"), F.lit(a_cy)),
                    F.lit("e"),
                    F.lit(e_cy),
                ),
                F.lit("o"),
                F.lit(o_cy),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        F.md5("text").alias("clean_md5"),
    )
    scrub = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit(a_cy), F.lit("a")),
            F.lit(e_cy),
            F.lit("e"),
        ),
        F.lit(o_cy),
        F.lit("o"),
    )
    strip_all = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit(a_cy), F.lit("")),
            F.lit(e_cy),
            F.lit(""),
        ),
        F.lit(o_cy),
        F.lit(""),
    )
    return poisoned.select(
        "doc_id",
        (F.length("text") - F.length(strip_all))
        .cast("bigint")
        .alias("n_homoglyphs"),
        (F.md5(scrub) == F.col("clean_md5")).alias("recovered"),
    )


@register(
    "text_edit_distance_bands",
    oracle="""
WITH pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         substr(a.text, 1, 30) AS ta, substr(b.text, 1, 30) AS tb
  FROM documents a JOIN documents b
    ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 = 0
),
scored AS (
  SELECT id_a, id_b, levenshtein(ta, tb) AS dist
  FROM pairs
)
SELECT CASE WHEN dist = 0 THEN 'identical'
            WHEN dist <= 5 THEN 'near'
            WHEN dist <= 15 THEN 'related'
            ELSE 'far' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(dist) AS BIGINT) AS min_dist,
       CAST(MAX(dist) AS BIGINT) AS max_dist
FROM scored GROUP BY band
""",
    tags=("text", "documents"),
)
def text_edit_distance_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE BANDING over BLOCKED pairs — the verify stage
    of every fuzzy-matching pipeline in its honest shape: a cheap
    blocking key (doc_id % 50 stands in for the phonetic/prefix
    keys of the dedup family) bounds the candidate set to
    within-block pairs, and Levenshtein runs ONLY on those, on
    30-char prefixes (both engines ship the same DP builtin — the
    one string function whose cost is quadratic, which is exactly
    why the blocking matters; distances are exact ints so the
    banding is hash-stable). The 100 TB shape: candidate pairs are
    block-local (one co-keyed self-join), never all-pairs."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    a = d.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") % 50).alias("blk_a"),
        F.substring("text", 1, 30).alias("ta"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        (F.col("doc_id") % 50).alias("blk_b"),
        F.substring("text", 1, 30).alias("tb"),
    )
    pairs = a.join(
        b, (a["blk_a"] == b["blk_b"]) & (a["id_a"] < b["id_b"])
    )
    scored = pairs.select(
        F.levenshtein("ta", "tb").cast("bigint").alias("dist")
    )
    band = (
        F.when(F.col("dist") == 0, "identical")
        .when(F.col("dist") <= 5, "near")
        .when(F.col("dist") <= 15, "related")
        .otherwise("far")
    )
    return scored.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("dist").cast("bigint").alias("min_dist"),
        F.max("dist").cast("bigint").alias("max_dist"),
    )


@register(
    "text_burstiness",
    oracle="""
WITH counts AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) GROUP BY doc_id, w
),
vocab AS (
  SELECT w, CAST(SUM(c) AS BIGINT) AS total
  FROM counts GROUP BY w
  ORDER BY total DESC, w LIMIT 20
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
mom AS (
  SELECT v.w, v.total,
         CAST(SUM(c.c * c.c) AS BIGINT) AS ss,
         CAST(COUNT(*) AS BIGINT) AS docs_present
  FROM vocab v JOIN counts c ON v.w = c.w
  GROUP BY v.w, v.total
)
SELECT w AS word, total, docs_present,
       ROUND(CAST(total AS DOUBLE) / (SELECT n_docs FROM nd), 6)
         AS mean_per_doc,
       ROUND((CAST(ss AS DOUBLE) / (SELECT n_docs FROM nd)
              - pow(CAST(total AS DOUBLE) / (SELECT n_docs FROM nd), 2))
             / (CAST(total AS DOUBLE) / (SELECT n_docs FROM nd)), 6)
         AS burstiness_vmr
FROM mom
""",
    tags=("text", "documents"),
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TERM BURSTINESS (variance-to-mean ratio) — the corpus-
    linguistics statistic separating CONTENT words (bursty: absent
    from most docs, repeated where they appear; VMR > 1) from
    FUNCTION words (Poisson-ish, VMR ~ 1), the signal behind better-
    than-TF-IDF term weighting and boilerplate detection. Per-doc
    counts for the top-20 vocabulary, with absent docs entering the
    variance through the moment identity (sum over PRESENT docs of
    c^2 is the full sum, absent docs contribute zero — no dense
    grid materialized): VMR = (E[c^2] - E[c]^2)/E[c] over ALL docs.
    Exact integer count moments; one vocab top-k, one vocab-joined
    re-agg."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    vocab = (
        counts.groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("total"))
        .orderBy(F.col("total").desc(), "w")
        .limit(20)
    )
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    mom = (
        counts.join(F.broadcast(vocab), "w")
        .groupBy("w", "total")
        .agg(
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
            F.count(F.lit(1)).cast("bigint").alias("docs_present"),
        )
    )
    mean = F.col("total").cast("double") / F.col("n_docs")
    return mom.crossJoin(F.broadcast(nd)).select(
        F.col("w").alias("word"),
        "total",
        "docs_present",
        F.round(mean, 6).alias("mean_per_doc"),
        F.round(
            (F.col("ss").cast("double") / F.col("n_docs") - mean * mean)
            / mean,
            6,
        ).alias("burstiness_vmr"),
    )


@register(
    "text_heaps_law",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
firsts AS (
  SELECT w, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM toks GROUP BY w
),
doc_tokens AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
  FROM toks GROUP BY doc_id
),
checkpoints AS (SELECT unnest(list_value(100, 200, 300, 400, 500)) AS k),
grid AS (
  SELECT c.k,
         (SELECT CAST(SUM(n_toks) AS BIGINT) FROM doc_tokens
          WHERE doc_id < c.k) AS tokens,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
          WHERE first_doc < c.k) AS vocab
  FROM checkpoints c
),
pts AS (
  SELECT k, tokens, vocab,
         CAST(FLOOR(ROUND(ln(CAST(tokens AS DOUBLE)), 9) * 1000000)
           AS BIGINT) AS xm,
         CAST(FLOOR(ROUND(ln(CAST(vocab AS DOUBLE)), 9) * 1000000)
           AS BIGINT) AS ym
  FROM grid
),
fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xm) AS DOUBLE) AS sx, CAST(SUM(ym) AS DOUBLE) AS sy,
         CAST(SUM(xm * ym) AS DOUBLE) AS sxy,
         CAST(SUM(xm * xm) AS DOUBLE) AS sxx
  FROM pts
)
SELECT p.k, p.tokens, p.vocab,
       ROUND((f.n*f.sxy - f.sx*f.sy) / (f.n*f.sxx - f.sx*f.sx), 6)
         AS heaps_beta
FROM pts p CROSS JOIN fit f
""",
    tags=("text", "documents"),
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS' LAW — vocabulary growth V ~ K * N^beta, the corpus
    statistic that tells a tokenizer/dedup planner how fast new
    types keep arriving (beta ~ 0.5 for natural text; the fixture's
    small closed vocabulary drives beta toward 0 — itself the
    diagnostic that this corpus is synthetic): per word the FIRST
    containing document (one hash-agg — no quadratic prefix
    recount), vocabulary and token counts at five doc-id
    checkpoints, and the log-log slope via micro-quantized logs
    over the 5-point grid (the Weibull/Hurst lane). The per-word
    first-occurrence trick is the scalable pattern: prefix vocab
    curves come from ONE pass however many checkpoints you cut."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    firsts = toks.groupBy("w").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    doc_tokens = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks")
    )
    cps = spark.createDataFrame(
        [(100,), (200,), (300,), (400,), (500,)], "k bigint"
    )
    tok_grid = (
        cps.join(doc_tokens, doc_tokens["doc_id"] < cps["k"])
        .groupBy("k")
        .agg(F.sum("n_toks").cast("bigint").alias("tokens"))
    )
    voc_grid = (
        cps.join(firsts, firsts["first_doc"] < cps["k"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    )
    grid = tok_grid.join(voc_grid, "k")
    pts = grid.select(
        "k",
        "tokens",
        "vocab",
        F.floor(F.round(F.log(F.col("tokens").cast("double")), 9) * 1000000)
        .cast("bigint")
        .alias("xm"),
        F.floor(F.round(F.log(F.col("vocab").cast("double")), 9) * 1000000)
        .cast("bigint")
        .alias("ym"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xm").cast("double").alias("sx"),
        F.sum("ym").cast("double").alias("sy"),
        F.sum(F.col("xm") * F.col("ym")).cast("double").alias("sxy"),
        F.sum(F.col("xm") * F.col("xm")).cast("double").alias("sxx"),
    )
    return pts.crossJoin(F.broadcast(fit)).selectExpr(
        "k",
        "tokens",
        "vocab",
        "ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS heaps_beta",
    )


@register(
    "dedup_phonetic_blocking",
    oracle="""
WITH words AS (
  SELECT p_partkey, string_split(p_name, ' ')[1] AS w FROM part
),
keyed AS (
  SELECT p_partkey, w, upper(substr(lower(w), 1, 1)) || rpad(substr(replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(substr(translate(lower(w), 'abcdefghijklmnopqrstuvwxyz', '01230120022455012623010202'), 2), '0+', '0', 'g'), '1+', '1', 'g'), '2+', '2', 'g'), '3+', '3', 'g'), '4+', '4', 'g'), '5+', '5', 'g'), '6+', '6', 'g'), '7+', '7', 'g'), '8+', '8', 'g'), '9+', '9', 'g'), '0', ''), 1, 3), 3, '0') AS sdx FROM words
),
blocks AS (
  SELECT sdx,
         CAST(COUNT(*) AS BIGINT) AS block_size,
         CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_words,
         CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS candidate_pairs
  FROM keyed GROUP BY sdx
)
SELECT sdx, block_size, n_distinct_words, candidate_pairs,
       ROUND(CAST(candidate_pairs AS DOUBLE)
             / (SELECT SUM(candidate_pairs) FROM blocks), 6)
         AS share_of_pairs
FROM blocks
""",
    tags=("dedup", "text", "part"),
)
def dedup_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHONETIC BLOCKING PROFILE — the capacity-planning view of an
    entity-resolution pass: block part names by the simplified-
    soundex key of their FIRST word (the fn_phonetic_soundex
    pipeline applied as a blocking strategy) and report each
    block's candidate-pair load n*(n-1)/2 plus its share of the
    total comparison budget — the number that tells you which
    hot block to split BEFORE running the quadratic verify stage
    (the same df/hot-bucket discipline the minhash keys enforce).
    Exact integer counts; two grid aggs."""
    pt = table(spark, sf_dir, "part")
    words = pt.select(
        "p_partkey", F.split("p_name", " ").getItem(0).alias("w")
    )
    from .functions import _soundex_sql

    keyed = words.selectExpr(
        "p_partkey", "w", f"{_soundex_sql('w', False)} AS sdx"
    )
    blocks = keyed.groupBy("sdx").agg(
        F.count(F.lit(1)).cast("bigint").alias("block_size"),
        F.countDistinct("w").cast("bigint").alias("n_distinct_words"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
        .cast("bigint")
        .alias("candidate_pairs"),
    )
    tot = blocks.agg(
        F.sum("candidate_pairs").cast("bigint").alias("tp")
    )
    return blocks.crossJoin(F.broadcast(tot)).select(
        "sdx",
        "block_size",
        "n_distinct_words",
        "candidate_pairs",
        F.round(
            F.col("candidate_pairs").cast("double") / F.col("tp"), 6
        ).alias("share_of_pairs"),
    )


@register(
    "text_html_extract",
    oracle="""
SELECT doc_id, 'doc ' || CAST(doc_id AS VARCHAR) AS title, text AS body
FROM documents
""",
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction, certified as an exact inverse: each
    document is rendered to HTML (title tag + entity-escaped body —
    the same synthesis source_warc_records archives) and the
    extractor must recover the ORIGINAL text byte-exactly, entity
    unescape included (&amp; last, mirroring &amp; first on escape —
    the classic double-unescape bug is a hash failure here). All
    scan-local regexp/replace built-ins, no shuffle, no Python: at
    100 TB this runs at parquet-scan speed, which is why boilerplate
    stripping is the cheapest stage of a crawl pipeline. Real-world
    tag soup needs only a longer regexp chain in the same shape; the
    escape guarantee ("<" cannot occur inside escaped text) is what
    makes the tag regex exact here."""
    html = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>doc "),
            F.col("doc_id").cast("string"),
            F.lit("</title></head><body><p>"),
            F.regexp_replace(
                F.regexp_replace(F.regexp_replace("text", "&", "&amp;"), "<", "&lt;"),
                ">",
                "&gt;",
            ),
            F.lit("</p></body></html>"),
        ).alias("h"),
    )
    title = F.regexp_extract("h", r"(?s)<title>(.*?)</title>", 1)
    raw_body = F.regexp_extract("h", r"(?s)<p>(.*?)</p>", 1)
    body = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(raw_body, "&lt;", "<"), "&gt;", ">"),
        "&amp;",
        "&",
    )
    return html.select("doc_id", title.alias("title"), body.alias("body"))


@register(
    "text_boilerplate_chunk_dedup",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
ch AS (
  SELECT t.doc_id, g.k,
         array_to_string(
           list_slice(t.toks, CAST(g.k * 10 + 1 AS BIGINT),
                      CAST(g.k * 10 + 10 AS BIGINT)), ' ') AS chunk
  FROM t, LATERAL (
    SELECT UNNEST(range(CAST(ceil(len(t.toks) / 10.0) AS BIGINT))) AS k
  ) g
),
df AS (
  SELECT md5(chunk) AS h, COUNT(DISTINCT doc_id) AS docfreq
  FROM ch GROUP BY 1
),
j AS (
  SELECT ch.doc_id, ch.k, ch.chunk, df.docfreq
  FROM ch JOIN df ON md5(ch.chunk) = df.h
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN docfreq >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       md5(COALESCE(
         string_agg(chunk, ' ' ORDER BY k) FILTER (WHERE docfreq < 3),
         '')) AS kept_md5
FROM j GROUP BY doc_id
""",
    tags=("textops", "dedup", "trainprep"),
)
def text_boilerplate_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-LEVEL BOILERPLATE DEDUP — the CCNet/RefinedWeb move:
    instead of dropping whole near-dup documents, split every doc
    into fixed 10-token chunks, count each chunk's DOCUMENT
    frequency corpus-wide, and strip chunks appearing in >= 3 docs
    (navigation bars, license footers, cookie banners — the
    boilerplate that survives doc-level dedup because the documents
    around it differ). Returns per-doc chunk counts and the md5 of
    the kept text in original chunk order, so the oracle certifies
    the RECONSTRUCTION, not just the counts.

    Scale shape: explode to chunk grain (rows ~ tokens/10), hash-agg
    the doc frequency on md5(chunk) — never the raw text — and one
    equi-join back. A viral chunk (in 10^6 docs) is a hot JOIN key;
    the df side is chunk-distinct-grain (unbroadcastable), so the
    join relies on AQE skew splitting, and the reassembly
    collect_list window is doc-grain (bounded by doc length). No
    pairs are ever enumerated — df-based dedup is linear where
    pairwise near-dup is quadratic."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda k: F.array_join(
                    F.slice(toks, k * 10 + 1, 10), " "
                ),
            )
        ).alias("k", "chunk"),
    )
    chunks = chunks.withColumn("h", F.md5("chunk"))
    df = chunks.groupBy("h").agg(
        F.countDistinct("doc_id").alias("docfreq")
    )
    j = chunks.join(df, "h")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("docfreq") >= 3, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("docfreq") < 3,
                                    F.struct("k", "chunk"),
                                )
                            )
                        ),
                        lambda s: s.getField("chunk"),
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
    )


# ---------------------------------------------------------- round 9

@register(
    "text_bleu_score",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pair AS (
  SELECT c.doc_id AS doc_id, c.t AS ct, r.t AS rt
  FROM d c JOIN d r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 2 = 0 AND len(c.t) >= 2 AND len(r.t) >= 2
),
cg AS (
  SELECT doc_id, n, g, COUNT(*) AS cnt FROM (
    SELECT doc_id, 1 AS n, unnest(ct) AS g FROM pair
    UNION ALL
    SELECT doc_id, 2 AS n,
           unnest(list_transform(generate_series(1, len(ct) - 1),
                                 i -> ct[i] || ' ' || ct[i + 1])) AS g
    FROM pair
  ) GROUP BY doc_id, n, g
),
rg AS (
  SELECT doc_id, n, g, COUNT(*) AS cnt FROM (
    SELECT doc_id, 1 AS n, unnest(rt) AS g FROM pair
    UNION ALL
    SELECT doc_id, 2 AS n,
           unnest(list_transform(generate_series(1, len(rt) - 1),
                                 i -> rt[i] || ' ' || rt[i + 1])) AS g
    FROM pair
  ) GROUP BY doc_id, n, g
),
m AS (
  SELECT cg.doc_id, cg.n,
         SUM(cg.cnt) AS tot,
         SUM(LEAST(cg.cnt, COALESCE(rg.cnt, 0))) AS clip
  FROM cg LEFT JOIN rg
    ON rg.doc_id = cg.doc_id AND rg.n = cg.n AND rg.g = cg.g
  GROUP BY cg.doc_id, cg.n
),
p AS (
  SELECT doc_id,
         MAX(CASE WHEN n = 1 THEN (clip + 1.0) / (tot + 1.0) END) AS p1,
         MAX(CASE WHEN n = 2 THEN (clip + 1.0) / (tot + 1.0) END) AS p2
  FROM m GROUP BY doc_id
)
SELECT pair.doc_id,
       CAST(len(ct) AS BIGINT) AS c_len,
       CAST(len(rt) AS BIGINT) AS r_len,
       ROUND(p1, 6) AS p1,
       ROUND(p2, 6) AS p2,
       ROUND(LEAST(1.0, exp(1.0 - CAST(len(rt) AS DOUBLE) / len(ct)))
             * exp(0.5 * (ln(p1) + ln(p2))), 6) AS bleu2
FROM pair JOIN p ON p.doc_id = pair.doc_id
""",
    tags=("text", "llm"),
)
def text_bleu_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU — the machine-translation / generation-eval metric
    (Papineni 2002): CLIPPED n-gram precision (a candidate n-gram
    counts only up to its count in the reference — the rule that
    kills "the the the" gaming) geometrically averaged over n=1,2,
    times the brevity penalty exp(1 - r/c) that punishes
    too-short candidates, with add-one (Lin-Och) smoothing so a
    zero 2-gram overlap degrades instead of zeroing the score.
    Candidate/reference pairs are adjacent documents (even id vs
    id+1) — a deterministic pairing at any corpus size. Everything
    is explode + hash-aggregate + one equi-join of the two n-gram
    streams on (pair, n, gram): fully partitionable on doc_id at
    100 TB, no window, no UDF; the clipping is a LEAST over joined
    exact counts and both engines run the identical closed-form
    exp/ln at the end (rounded to 1e-6)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    c = d.filter((F.col("doc_id") % 2 == 0) & (F.size("t") >= 2)).select(
        F.col("doc_id"), F.col("t").alias("ct")
    )
    r = d.filter(F.size("t") >= 2).select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("t").alias("rt")
    )
    pair = c.join(r, "doc_id")

    def grams(col):
        toks = F.col(col)
        bi = F.filter(
            F.zip_with(
                toks,
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            lambda g: g.contains(" "),
        )
        uni = pair.select(
            "doc_id", F.lit(1).alias("n"), F.explode(toks).alias("g")
        )
        big = pair.select(
            "doc_id", F.lit(2).alias("n"), F.explode(bi).alias("g")
        )
        return (
            uni.unionAll(big)
            .groupBy("doc_id", "n", "g")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    cg, rg = grams("ct"), grams("rt")
    m = (
        cg.alias("c")
        .join(
            rg.alias("r"),
            (F.col("c.doc_id") == F.col("r.doc_id"))
            & (F.col("c.n") == F.col("r.n"))
            & (F.col("c.g") == F.col("r.g")),
            "left",
        )
        .groupBy(F.col("c.doc_id").alias("doc_id"), F.col("c.n").alias("n"))
        .agg(
            F.sum("c.cnt").alias("tot"),
            F.sum(
                F.least(F.col("c.cnt"), F.coalesce(F.col("r.cnt"), F.lit(0)))
            ).alias("clip"),
        )
    )
    sm = (F.col("clip") + 1.0) / (F.col("tot") + 1.0)
    p = m.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 1, sm)).alias("p1"),
        F.max(F.when(F.col("n") == 2, sm)).alias("p2"),
    )
    lens = pair.select(
        "doc_id", F.size("ct").alias("cl"), F.size("rt").alias("rl")
    )
    bp = F.least(
        F.lit(1.0), F.exp(1.0 - F.col("rl").cast("double") / F.col("cl"))
    )
    return lens.join(p, "doc_id").select(
        "doc_id",
        F.col("cl").cast("bigint").alias("c_len"),
        F.col("rl").cast("bigint").alias("r_len"),
        F.round("p1", 6).alias("p1"),
        F.round("p2", 6).alias("p2"),
        F.round(
            bp * F.exp(0.5 * (F.log("p1") + F.log("p2"))), 6
        ).alias("bleu2"),
    )


@register(
    "text_rouge_n",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pair AS (
  SELECT c.doc_id AS doc_id, c.t AS ct, r.t AS rt
  FROM d c JOIN d r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 2 = 1 AND len(c.t) >= 2 AND len(r.t) >= 2
),
cg AS (
  SELECT doc_id, n, g, COUNT(*) AS cnt FROM (
    SELECT doc_id, 1 AS n, unnest(ct) AS g FROM pair
    UNION ALL
    SELECT doc_id, 2 AS n,
           unnest(list_transform(generate_series(1, len(ct) - 1),
                                 i -> ct[i] || ' ' || ct[i + 1])) AS g
    FROM pair
  ) GROUP BY doc_id, n, g
),
rg AS (
  SELECT doc_id, n, g, COUNT(*) AS cnt FROM (
    SELECT doc_id, 1 AS n, unnest(rt) AS g FROM pair
    UNION ALL
    SELECT doc_id, 2 AS n,
           unnest(list_transform(generate_series(1, len(rt) - 1),
                                 i -> rt[i] || ' ' || rt[i + 1])) AS g
    FROM pair
  ) GROUP BY doc_id, n, g
),
m AS (
  SELECT rg.doc_id, rg.n,
         SUM(rg.cnt) AS ref_tot,
         SUM(COALESCE(cg.cnt, 0)) AS cand_tot_matched,
         SUM(LEAST(rg.cnt, COALESCE(cg.cnt, 0))) AS clip
  FROM rg LEFT JOIN cg
    ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g
  GROUP BY rg.doc_id, rg.n
),
ct AS (
  SELECT doc_id, n, SUM(cnt) AS cand_tot FROM cg GROUP BY doc_id, n
),
pr AS (
  SELECT m.doc_id, m.n,
         CAST(m.clip AS DOUBLE) / ct.cand_tot AS p,
         CAST(m.clip AS DOUBLE) / m.ref_tot AS r
  FROM m JOIN ct ON ct.doc_id = m.doc_id AND ct.n = m.n
)
SELECT doc_id,
       ROUND(MAX(CASE WHEN n = 1 THEN p END), 6) AS rouge1_p,
       ROUND(MAX(CASE WHEN n = 1 THEN r END), 6) AS rouge1_r,
       ROUND(MAX(CASE WHEN n = 1 THEN
         CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END END), 6)
         AS rouge1_f,
       ROUND(MAX(CASE WHEN n = 2 THEN
         CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END END), 6)
         AS rouge2_f
FROM pr GROUP BY doc_id
""",
    tags=("text", "llm"),
)
def text_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-N — the summarization-eval metric (Lin 2004): clipped
    n-gram RECALL against the reference (how much of the reference
    the candidate recovers — the complement of BLEU's precision
    view), reported with precision and F1 at n=1 and F1 at n=2.
    Pairs are odd-id docs against their successor (disjoint from
    text_bleu_score's even pairing, so the two keys certify the
    machinery on different pair populations). Identical
    distributed shape to BLEU: explode n-grams, exact hash counts,
    one equi-join of reference stream against candidate stream on
    (pair, n, gram), LEAST for clipping — doc_id-partitionable at
    any scale, zero-overlap pairs degrade to F1=0 through the
    guarded closed form instead of NaN."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    c = d.filter((F.col("doc_id") % 2 == 1) & (F.size("t") >= 2)).select(
        F.col("doc_id"), F.col("t").alias("ct")
    )
    r = d.filter(F.size("t") >= 2).select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("t").alias("rt")
    )
    pair = c.join(r, "doc_id")

    def grams(col):
        toks = F.col(col)
        bi = F.filter(
            F.zip_with(
                toks,
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            lambda g: g.contains(" "),
        )
        uni = pair.select(
            "doc_id", F.lit(1).alias("n"), F.explode(toks).alias("g")
        )
        big = pair.select(
            "doc_id", F.lit(2).alias("n"), F.explode(bi).alias("g")
        )
        return (
            uni.unionAll(big)
            .groupBy("doc_id", "n", "g")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    cg, rg = grams("ct"), grams("rt")
    m = (
        rg.alias("r")
        .join(
            cg.alias("c"),
            (F.col("r.doc_id") == F.col("c.doc_id"))
            & (F.col("r.n") == F.col("c.n"))
            & (F.col("r.g") == F.col("c.g")),
            "left",
        )
        .groupBy(F.col("r.doc_id").alias("doc_id"), F.col("r.n").alias("n"))
        .agg(
            F.sum("r.cnt").alias("ref_tot"),
            F.sum(
                F.least(F.col("r.cnt"), F.coalesce(F.col("c.cnt"), F.lit(0)))
            ).alias("clip"),
        )
    )
    ctot = cg.groupBy("doc_id", "n").agg(F.sum("cnt").alias("cand_tot"))
    pr = m.join(ctot, ["doc_id", "n"]).select(
        "doc_id",
        "n",
        (F.col("clip").cast("double") / F.col("cand_tot")).alias("p"),
        (F.col("clip").cast("double") / F.col("ref_tot")).alias("r"),
    )
    f1 = F.when(F.col("p") + F.col("r") == 0, F.lit(0.0)).otherwise(
        2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r"))
    )
    return pr.groupBy("doc_id").agg(
        F.round(F.max(F.when(F.col("n") == 1, F.col("p"))), 6).alias(
            "rouge1_p"
        ),
        F.round(F.max(F.when(F.col("n") == 1, F.col("r"))), 6).alias(
            "rouge1_r"
        ),
        F.round(F.max(F.when(F.col("n") == 1, f1)), 6).alias("rouge1_f"),
        F.round(F.max(F.when(F.col("n") == 2, f1)), 6).alias("rouge2_f"),
    )


@register(
    "text_sentence_segmentation",
    oracle="""
WITH prose AS (
  SELECT p_partkey,
         CASE p_partkey % 3
           WHEN 0 THEN 'Dr. ' || p_name || ' met Mr. Smith. It was fine. See e.g. the ' || p_brand || ' case. End of report.'
           WHEN 1 THEN 'The ' || p_name || ' arrived. Prof. Jones checked it, i.e. thoroughly. Approved.'
           ELSE p_brand || ' vs. the field. ' || p_name || ' won easily. No further review needed. Case closed. Done.'
         END AS t
  FROM part
),
protected AS (
  SELECT p_partkey, t,
         replace(replace(replace(replace(replace(replace(t,
           'Dr.', 'Dr<P>'), 'Mr.', 'Mr<P>'), 'Prof.', 'Prof<P>'),
           'e.g.', 'e<P>g<P>'), 'i.e.', 'i<P>e<P>'), 'vs.', 'vs<P>')
           AS safe
  FROM prose
),
sents AS (
  SELECT p_partkey, t,
         list_transform(
           list_filter(string_split_regex(safe, '\\.\\s*'),
                       s -> length(s) > 0),
           s -> replace(s, '<P>', '.')) AS parts
  FROM protected
)
SELECT p_partkey,
       CAST(len(parts) AS BIGINT) AS n_sentences,
       parts[1] AS first_sentence,
       CAST(length(parts[len(parts)]) AS BIGINT) AS last_sentence_len
FROM sents
""",
    tags=("text",),
)
def text_sentence_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SENTENCE SEGMENTATION with abbreviation protection — the
    rule-based splitter training pipelines run before sentence-level
    dedup and chunking: a naive split on '.' shreds 'Dr.', 'e.g.'
    and 'vs.' into garbage sentences. The classic two-phase
    algorithm: PROTECT the abbreviation inventory by rewriting its
    periods to a sentinel, split on the remaining sentence-final
    periods (+ trailing whitespace), then RESTORE the sentinels
    inside each sentence. Prose with every trap is synthesized from
    part names in three template classes; the output (sentence
    count, first sentence VERBATIM — restored abbreviations intact
    — and last-sentence length) hash-certifies protect, split and
    restore. Pure per-row string pipeline: replace chains +
    regexp split + array ops, all codegen, no shuffle; at 100 TB
    this is a map over the documents scan."""
    p = table(spark, sf_dir, "part")
    t = (
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(
                F.lit("Dr. "), F.col("p_name"),
                F.lit(" met Mr. Smith. It was fine. See e.g. the "),
                F.col("p_brand"), F.lit(" case. End of report."),
            ),
        )
        .when(
            F.col("p_partkey") % 3 == 1,
            F.concat(
                F.lit("The "), F.col("p_name"),
                F.lit(" arrived. Prof. Jones checked it, i.e. thoroughly. Approved."),
            ),
        )
        .otherwise(
            F.concat(
                F.col("p_brand"), F.lit(" vs. the field. "),
                F.col("p_name"),
                F.lit(" won easily. No further review needed. Case closed. Done."),
            )
        )
    )
    prose = p.select("p_partkey", t.alias("t"))
    safe = F.col("t")
    for abbr, repl in (
        ("Dr.", "Dr<P>"),
        ("Mr.", "Mr<P>"),
        ("Prof.", "Prof<P>"),
        ("e.g.", "e<P>g<P>"),
        ("i.e.", "i<P>e<P>"),
        ("vs.", "vs<P>"),
    ):
        safe = F.replace(safe, F.lit(abbr), F.lit(repl))
    parts = F.transform(
        F.filter(
            F.split(safe, r"\.\s*"), lambda s: F.length(s) > 0
        ),
        lambda s: F.replace(s, F.lit("<P>"), F.lit(".")),
    )
    sents = prose.select("p_partkey", parts.alias("parts"))
    return sents.select(
        "p_partkey",
        F.size("parts").cast("bigint").alias("n_sentences"),
        F.col("parts").getItem(0).alias("first_sentence"),
        F.length(F.element_at("parts", -1))
        .cast("bigint")
        .alias("last_sentence_len"),
    )


@register(
    "text_script_detection",
    oracle="""
WITH t AS (
  SELECT doc_id,
         text || CASE doc_id % 5
           WHEN 1 THEN ' привет мир снова'
           WHEN 2 THEN ' γειά σου κόσμε'
           WHEN 3 THEN ' 你好世界再见'
           WHEN 4 THEN ' мир και 世界'
           ELSE '' END AS s
  FROM documents
),
counts AS (
  SELECT doc_id,
         CAST(length(s) - length(regexp_replace(s, '[A-Za-z]', '', 'g'))
              AS BIGINT) AS n_latin,
         CAST(length(s)
              - length(regexp_replace(s, '[\\x{0400}-\\x{04FF}]', '', 'g'))
              AS BIGINT) AS n_cyrillic,
         CAST(length(s)
              - length(regexp_replace(s, '[\\x{0370}-\\x{03FF}]', '', 'g'))
              AS BIGINT) AS n_greek,
         CAST(length(s)
              - length(regexp_replace(s, '[\\x{4E00}-\\x{9FFF}]', '', 'g'))
              AS BIGINT) AS n_cjk
  FROM t
)
SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk,
       CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_greek
                 AND n_latin >= n_cjk THEN 'latin'
            WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_cjk
              THEN 'cyrillic'
            WHEN n_greek >= n_cjk THEN 'greek'
            ELSE 'cjk' END AS dominant_script,
       CAST(n_cyrillic > 0 AS BOOLEAN)
         OR n_greek > 0 OR n_cjk > 0 AS is_multiscript
FROM counts
""",
    tags=("text",),
)
def text_script_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE SCRIPT DETECTION — the char-class census a
    multilingual corpus pipeline runs before language-ID and
    tokenizer routing (and the first line of defense against
    mixed-script spoofing — see text_homoglyph_scrub): per-document
    counts of Latin, Cyrillic, Greek and CJK-Unified codepoints by
    codepoint-range character classes, plus the dominant script by
    deterministic tie-break order. Spark (java.util.regex) writes
    the ranges as \\uXXXX literals while the DuckDB oracle (RE2)
    writes \\x{XXXX} — two regex ENGINES, two syntaxes, one
    codepoint semantics, which is exactly what the hash certifies
    (count-by-deletion: length minus length after class removal —
    codepoint-counting on both sides, never bytes). Per-row regex
    in codegen, no shuffle; script mixes synthesized over every
    document class."""
    d = table(spark, sf_dir, "documents")
    s = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 1, " привет мир снова")
        .when(F.col("doc_id") % 5 == 2, " γειά σου κόσμε")
        .when(F.col("doc_id") % 5 == 3, " 你好世界再见")
        .when(F.col("doc_id") % 5 == 4, " мир και 世界")
        .otherwise(""),
    )
    t = d.select("doc_id", s.alias("s"))

    def census(pattern):
        return (
            F.length("s") - F.length(F.regexp_replace("s", pattern, ""))
        ).cast("bigint")

    counts = t.select(
        "doc_id",
        census(r"[A-Za-z]").alias("n_latin"),
        census("[Ѐ-ӿ]").alias("n_cyrillic"),
        census("[Ͱ-Ͽ]").alias("n_greek"),
        census("[一-鿿]").alias("n_cjk"),
    )
    nl, nc, ng, nk = (
        F.col("n_latin"),
        F.col("n_cyrillic"),
        F.col("n_greek"),
        F.col("n_cjk"),
    )
    dominant = (
        F.when((nl >= nc) & (nl >= ng) & (nl >= nk), "latin")
        .when((nc >= ng) & (nc >= nk), "cyrillic")
        .when(ng >= nk, "greek")
        .otherwise("cjk")
    )
    return counts.select(
        "doc_id",
        "n_latin",
        "n_cyrillic",
        "n_greek",
        "n_cjk",
        dominant.alias("dominant_script"),
        ((nc > 0) | (ng > 0) | (nk > 0)).alias("is_multiscript"),
    )
