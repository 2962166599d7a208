"""Seeded input generator for the benchmark workloads.

Writes the fixture tables the registered queries read (schemas and
value domains of FIXTURES.md) as parquet under one directory, from a
seed alone: no download, no read outside the output directory.

What the seed changes and what it must not:

- The seed draws every value (keys of facts, prices, dates, words,
  vectors, timestamps).
- The *cost structure* is fixed by the sizes alone, so a run with
  another seed does the same work. Embedding label blocks have exactly
  equal sizes (pair kernels are quadratic per block); each near-
  duplicate cluster has exactly two members and their count is a fixed
  share of the corpus; document lengths are a fixed multiset, shuffled.
- Near-duplicates are real edits, not a replica suffix: a near-dup
  document replaces one word in twenty of its original, and a twin
  vector is its original plus small Gaussian noise. So pair and LSH
  kernels see the same number of true neighbours on every seed instead
  of R-1 artificial twins per row.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
DIM = 64
N_LABELS = 10
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
LINES_PER_ORDER = 4
FILES = 4  # parquet files per large table: bounds the scan's parallelism


@dataclass(frozen=True)
class Sizes:
    """Row counts of the generated tables (0 = table not written)."""

    customers: int = 0
    suppliers: int = 0
    parts: int = 0
    orders: int = 0  # lineitem has LINES_PER_ORDER rows per order
    events: int = 0
    users: int = 0
    documents: int = 0
    embeddings: int = 0


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, table: pa.Table, files: int = 1) -> None:
    path = os.path.join(out, f"{name}.parquet")
    if files <= 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def star_schema(rng: np.random.Generator, s: Sizes, out: str) -> None:
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }))
    c = s.customers
    _write(out, "customer", pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)],
    }))
    _write(out, "supplier", pa.table({
        "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
    }))
    p = s.parts
    _write(out, "part", pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(np.array(P_ADJ)[rng.integers(0, 8, p)], " "),
            np.array(P_NOUN)[rng.integers(0, 8, p)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2),
    }))
    o = s.orders
    _write(out, "orders", pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, o) * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)],
    }), FILES)
    n = o * LINES_PER_ORDER
    _write(out, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, o, n),
        "l_partkey": rng.integers(0, p, n),
        "l_suppkey": rng.integers(0, s.suppliers, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n) * US_PER_DAY),
    }), FILES)


def events_table(rng: np.random.Generator, s: Sizes) -> pa.Table:
    """A month of events; ``event_id`` order is time order."""
    e = s.events
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, e))
    return pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, s.users, e),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": _money(rng, 0, 560, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents with a fixed near-duplicate structure:
    n//10 two-member near-dup clusters (one word in twenty replaced)
    and n//500 exact duplicates, every other document unique."""
    # Lengths (in words) are a fixed multiset, so total text volume and
    # the shingle-count distribution do not move with the seed.
    words = np.sort(8 + (np.arange(n) * 83) % 83)
    rng.shuffle(words)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in words]
    order = rng.permutation(n)
    n_near, n_exact = n // 10, n // 500
    originals = order[: n_near + n_exact]
    copies = order[n_near + n_exact : 2 * (n_near + n_exact)]
    for j, (src, dst) in enumerate(zip(originals, copies)):
        toks = texts[src].split(" ")
        if j < n_near:
            for pos in range(int(rng.integers(0, 20)), len(toks), 20):
                toks[pos] = vocab[(vocab.tolist().index(toks[pos]) + 1) % len(vocab)]
        texts[dst] = " ".join(toks)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors in exactly equal label blocks; one vector in ten is
    a noisy twin of another vector of its block."""
    labels = np.arange(n) % N_LABELS
    rng.shuffle(labels)
    vecs = rng.standard_normal((n, DIM))
    for lab in range(N_LABELS):
        members = rng.permutation(np.flatnonzero(labels == lab))
        k = len(members) // 10
        vecs[members[k : 2 * k]] = vecs[members[:k]] + 0.05 * rng.standard_normal((k, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out: str, seed: int, s: Sizes) -> None:
    """Write every table ``s`` sizes above zero into ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if s.orders:
        star_schema(rng, s, out)
    if s.events:
        _write(out, "events", events_table(rng, s), FILES)
    if s.documents:
        _write(out, "documents", documents_table(rng, s.documents))
    if s.embeddings:
        _write(out, "embeddings", embeddings_table(rng, s.embeddings))
