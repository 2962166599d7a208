"""Training-set preparation operators: deterministic splits, source
mixing, benchmark decontamination, and sequence packing.

These are the last-mile ops between a cleaned corpus and a training
run. The common design rule: every assignment (split, keep/drop,
sequence id) is a PURE FUNCTION of the row's natural key — never RNG,
never partition-dependent state — so results are reproducible across
engines, retries, executor counts, and re-runs on appended data
(rows already assigned keep their assignment). That property is what
makes a 100 TB pipeline auditable; it is the same reasoning as
`sample_hash_mod` (queries/relational_ext.py).

Scale notes:
- split/mix are scan-level filters/projections on an md5 byte — no
  shuffle, pushdown-friendly, trivially parallel;
- decontamination is an inverted-index semi-join: the benchmark gram
  set is tiny (benchmarks are ~10^3-10^5 docs), so it broadcasts, and
  the corpus side streams through one stage — never an all-pairs
  text comparison;
- sequence packing needs a GLOBAL running sum, which naively is a
  single-partition window (a non-plan at 100 TB). `global_cumsum`
  runs on scale.global_running's two-phase rewrite: range-partition
  on the order key, per-partition windows in parallel + a tiny
  offset table (one row per shuffle partition) broadcast back. The
  result is bit-identical to the single-window answer (integer sums
  are associative; the order key must be unique).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .scale import global_running

__all__ = [
    "MD5_BYTE",
    "MD5_WORD",
    "hash_byte",
    "hash_word",
    "assign_split",
    "global_cumsum",
    "pack_sequences",
    "contaminated_docs",
]


def MD5_BYTE(key_expr: str) -> str:
    """Shared Spark/DuckDB SQL: first md5 byte (0..255) of a key —
    the uniform deterministic coin every operator here flips."""
    h = f"md5(cast({key_expr} as string))"
    nib = "instr('0123456789abcdef', substr({h}, {i}, 1)) - 1"
    return (
        f"(({nib.format(h=h, i=1)}) * 16 + ({nib.format(h=h, i=2)}))"
    )


def hash_byte(key_expr: str) -> Column:
    return F.expr(MD5_BYTE(key_expr))


def MD5_WORD(key_expr: str, nibbles: int = 8) -> str:
    """Shared Spark/DuckDB SQL: first ``nibbles`` hex digits of
    md5(key) as a non-negative BIGINT (4 bits per nibble, so 8
    nibbles = a uniform 32-bit word). Same instr-nibble trick as
    MD5_BYTE — both engines lack a portable hex->int cast, but both
    agree on md5 hex text and instr. Horner-chained so the expression
    stays linear in ``nibbles``. Used wherever an operator needs a
    finer deterministic uniform than 1/256 (weighted sampling keys,
    bloom bit positions)."""
    if not 1 <= nibbles <= 15:
        raise ValueError("nibbles must be in [1, 15] to fit a BIGINT")
    h = f"md5(cast({key_expr} as string))"
    nib = "(instr('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
    # promote to BIGINT up front: Spark's instr yields 32-bit INT and
    # the Horner chain would overflow it (ANSI error) at 8 nibbles
    expr = f"CAST({nib.format(h=h, i=1)} AS BIGINT)"
    for i in range(2, nibbles + 1):
        expr = f"(({expr}) * 16 + {nib.format(h=h, i=i)})"
    return f"CAST({expr} AS BIGINT)"


def hash_word(key_expr: str, nibbles: int = 8) -> Column:
    return F.expr(MD5_WORD(key_expr, nibbles))


def assign_split(
    df: DataFrame, key_expr: str, bounds: list[tuple[str, int]]
) -> DataFrame:
    """Add a ``split`` column by hash byte: row goes to the first
    (name, upper_bound) whose bound exceeds its byte. Bounds are
    cumulative in 1/256 units, last must be 256 — e.g.
    ``[("train", 250), ("valid", 253), ("test", 256)]`` is a
    ~97.7/1.2/1.2 split, exact and stable under appends."""
    if bounds[-1][1] != 256:
        raise ValueError("last bound must be 256 (cover the byte range)")
    ubs = [ub for _, ub in bounds]
    if ubs != sorted(ubs) or len(set(ubs)) != len(ubs) or ubs[0] <= 0:
        raise ValueError(
            f"bounds must be strictly increasing in (0, 256]: {ubs} — a "
            "mis-ordered list would silently route every row to the first "
            "split"
        )
    b = hash_byte(key_expr)
    expr = F.lit(bounds[-1][0])
    for name, ub in reversed(bounds[:-1]):
        expr = F.when(b < ub, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def global_cumsum(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    n_partitions: int = 32,
    out_col: str = "cum_before",
) -> DataFrame:
    """Exclusive global running sum of ``weight_col`` in ``order_col``
    order: scale.global_running's inclusive sum minus the row's own
    weight — no single-partition window over the full table.

    ``order_col`` must be UNIQUE (house determinism rule 3): range
    partitioning may split equal keys across partitions, so ties
    would make the exclusive prefix row-order-dependent. Every caller
    orders by a rank, a distinct-value grid, or a unique id."""
    d = global_running(df, [order_col], weight_col, "sum", out_col, n_partitions)
    return d.withColumn(out_col, F.col(out_col) - F.col(weight_col))


def pack_sequences(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    seq_len: int,
    n_partitions: int = 32,
) -> DataFrame:
    """Greedy contiguous packing: lay documents end-to-end in
    ``order_col`` order and cut fixed ``seq_len``-token sequences.
    Each doc is assigned the sequence containing its START offset
    (``seq_id``) and its offset within it (``seq_offset``) — the
    deterministic bookkeeping a packed-pretraining dataloader needs.
    """
    d = global_cumsum(df, order_col, weight_col, n_partitions)
    return (
        d.withColumn("seq_id", F.expr(f"cum_before div {seq_len}"))
        .withColumn("seq_offset", F.expr(f"pmod(cum_before, {seq_len})"))
        .drop("cum_before")
    )


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: docs sharing >= 1 distinct token
    ``n``-gram with any benchmark doc, with the count of shared
    grams. The benchmark gram set is distinct'd and broadcast; the
    corpus explodes its grams once and inner-joins — cost is
    corpus-grams x tiny, never corpus x corpus. (Production would use
    n=13 per the usual contamination definition; the fixture docs are
    ~50 tokens so tests pin n=3.)"""

    def grams(d: DataFrame) -> DataFrame:
        toks = F.split(F.col(text_col), " ")
        g = F.array_distinct(
            F.transform(
                # sequence(0, -k) counts DOWN in Spark — guard short docs
                F.when(
                    F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
                ).otherwise(F.array().cast("array<int>")),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
                ),
            )
        )
        return d.select(F.col(id_col), F.explode(g).alias("gram"))

    bench_grams = grams(benchmark).select("gram").distinct()
    return (
        grams(docs)
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
