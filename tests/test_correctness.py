"""Per-key correctness. ``check_key`` builds a key's plan once, runs
every static check on it, then runs it; each test below (and the
lint and dtype sweeps in test_plan_lint.py / test_dtype_parity.py)
asserts one facet of that memoised check, so a full suite builds each
key once and runs each hash key twice.

- Batch keys: no plan anti-pattern except the ``ALLOWED`` waivers,
  each of which must still fire.
- Batch hash keys: atomic columns only, and dtype families match the
  oracle's ``LIMIT 0`` dtypes.
- Hash keys: column names and values match the DuckDB oracle at the
  test SF (the driver's t2 gate; tools/check.py mirrors it at sf0.01),
  and a rebuilt plan returns the same values — the cheapest insurance
  against value-hash flakes when an external harness re-runs a key
  (tie-breaks, partial-agg fold order, partition-dependent limits).
- Rows keys: the key runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pytest
from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

from dags_spark.plans import lint_plan
from dags_spark.registry import all_specs
from dags_spark.testing import compare

SPECS = all_specs()
# built and linted only: too slow to run at the test SF
SLOW_KEYS = {"dedup_fuzzy_minhash"}

HASH_KEYS = sorted(k for k, s in SPECS.items() if s.oracle and k not in SLOW_KEYS)
ROWS_KEYS = sorted(k for k, s in SPECS.items() if not s.oracle and k not in SLOW_KEYS)
BATCH_KEYS = sorted(k for k, s in SPECS.items() if s.module != "streaming")

NON_ATOMIC = (ArrayType, MapType, StructType, BinaryType)

# key -> lint codes the key's semantics require, argued per block. The
# linter proves calendar-grain, literal-modulus, partition-id and
# literal-grid shapes bounded (the key-cardinality algebra in
# plans/lint.py), so what remains here cannot be rewritten away.
ALLOWED = {
    # -- cartesian: genuine crosses and unprovable grids --
    # join_cross's semantics ARE cartesian; point-in-polygon /
    # MMR / DTW / Hurst / Croston cross candidate pairs or
    # series-pair grids that are small by construction (per-type
    # series, polygon candidate buckets) but not by plan structure;
    # shapley crosses the 2^k coalition grid (k<=3 channels);
    # heaps'/levenshtein/rules-as-data cross vocab/rule grids whose
    # cardinality follows distinct DATA values. The fact side never
    # re-shuffles in any of them. agg_histogram_percentile's
    # interpolation grid is the cartesian its docstring defends.
    "agg_histogram_percentile": {"cartesian", "single-partition-exchange"},
    "attribution_shapley": {"cartesian"},
    "dq_rules_as_data": {"cartesian"},
    "fn_levenshtein_threshold": {"cartesian"},
    "join_cross": {"cartesian"},
    "join_geo_point_in_polygon": {"cartesian"},
    "sim_mmr_diversify": {"cartesian"},
    "stats_sen_slope": {"cartesian"},
    "text_heaps_law": {"cartesian"},
    "ts_croston_intermittent": {"cartesian"},
    "ts_dtw_distance": {"cartesian"},
    "ts_hurst_rs": {"cartesian"},
    # matrix-profile pairs the subsequence grid with itself under the
    # exclusion-zone range condition — quadratic BY CONTRACT on a
    # calendar-grain axis (~350 weeks at any corpus volume: adding
    # rows fattens weekly counts, not the grid);
    # decontaminate_embedding broadcast-crosses the train stream with
    # the BENCHMARK side, small by construction (eval suites are
    # 1e3-1e5 docs) — the train side never shuffles.
    "ts_matrix_profile_motif": {"cartesian"},
    "decontaminate_embedding": {"cartesian"},
    #
    # -- global-sort: ORDER BY is the key's output contract --
    # Sorted final output is the declared semantics (TPC-H answer
    # ordering, ranked fusion/sampling lists); the sort runs on the
    # post-aggregate grain, orders of magnitude below the fact scan.
    "agg_hll_sketch_union": {"global-sort"},
    "agg_regr_linear": {"global-sort"},
    "sample_temperature_mix": {"global-sort"},
    "sim_matryoshka_overlap": {"global-sort"},
    "tpch_q13_order_counts": {"global-sort"},
    "tpch_q22_sales_opportunity": {"global-sort"},
    "tpch_q5_local_supplier": {"global-sort"},
    "tpch_q7_volume_shipping": {"global-sort"},
    "tpch_q8_market_share": {"global-sort"},
    #
    # -- unpruned-partition-scan: whole-layout maintenance reads --
    # These keys' PURPOSE is reading every partition (file-metadata
    # inventory, dynamic-overwrite verification read-back, the custom
    # stream source's full-directory snapshot).
    "scan_file_metadata": {"unpruned-partition-scan"},
    "sink_partition_overwrite_dynamic": {"unpruned-partition-scan"},
    "source_python_bus_partitioned": {"unpruned-partition-scan"},
    "source_python_datasource_stream": {"unpruned-partition-scan"},
    #
    # -- rowwise-python-udf: API-coverage keys --
    # The four keys whose purpose IS the row-wise Python UDF/UDTF
    # API surface; everything else is linter-banned from it.
    "udf_python_scalar": {"rowwise-python-udf"},
    "udtf_analyze_polymorphic": {"rowwise-python-udf"},
    "udtf_partition_by": {"rowwise-python-udf"},
    "udtf_python": {"rowwise-python-udf"},
}


def _family(t: str) -> str:
    t = t.lower()
    if "int" in t and "interval" not in t:
        return "int"
    if any(x in t for x in ("float", "double", "decimal")):
        return "float"
    if "bool" in t:
        return "bool"
    if any(x in t for x in ("timestamp", "datetime")):
        return "ts"
    if "date" in t:
        return "date"
    return "other"


@dataclass
class KeyCheck:
    """What one build (and, once ``ran``, one execution) of a key showed.
    Each list holds the problems of one facet; empty means it passed."""

    columns: list[str]
    oracle_columns: list[str]
    lint: list = field(default_factory=list)
    dtypes: list = field(default_factory=list)
    ran: bool = False
    oracle: list = field(default_factory=list)
    rerun: list = field(default_factory=list)


_CHECKS: dict[str, KeyCheck] = {}


def _static_check(key, df, duck) -> KeyCheck:
    spec = SPECS[key]
    s_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    d_types = {}
    if spec.oracle:
        d = duck.execute(f"SELECT * FROM ({spec.oracle}) LIMIT 0").df()
        d_types = {c: str(t) for c, t in d.dtypes.items()}
    c = KeyCheck(columns=sorted(s_types), oracle_columns=sorted(d_types))
    if spec.module == "streaming":
        return c  # the lint and dtype sweeps cover batch keys
    findings = lint_plan(df)
    waived = ALLOWED.get(key, set())
    c.lint = [(f.code, f.node) for f in findings if f.code not in waived]
    c.lint += [("stale-waiver", code) for code in waived - {f.code for f in findings}]
    if spec.check != "hash":
        return c
    c.lint += [
        ("non-atomic-column", f.name)
        for f in df.schema.fields
        if isinstance(f.dataType, NON_ATOMIC)
    ]
    if c.columns != c.oracle_columns:
        c.dtypes = [("columns", c.columns, c.oracle_columns)]
    else:
        c.dtypes = [
            (col, s_types[col], d_types[col])
            for col in s_types
            if "other" not in (_family(s_types[col]), _family(d_types[col]))
            and _family(s_types[col]) != _family(d_types[col])
        ]
    return c


def check_key(key, spark, duck, sf_dir, run=True) -> KeyCheck:
    """Build ``key`` once, check it statically and, with ``run``, execute
    it: a hash key is compared with the oracle, then rebuilt, rerun and
    compared with its first result. Memoised per key; a later ``run``
    after a static-only call builds the plan again."""
    c = _CHECKS.get(key)
    if c is not None and (c.ran or not run):
        return c
    spec = SPECS[key]
    df = spec.fn(spark, sf_dir)
    if c is None:
        c = _CHECKS[key] = _static_check(key, df, duck)
    if run:
        got = df.toPandas()
        if spec.oracle:
            c.oracle = compare(got, duck.execute(spec.oracle).df())
            c.rerun = compare(got, spec.fn(spark, sf_dir).toPandas())
        c.ran = True
    return c


@pytest.mark.parametrize("key", HASH_KEYS)
def test_hash_query_matches_oracle(key, spark, duck, sf_dir):
    problems = check_key(key, spark, duck, sf_dir).oracle
    assert not problems, f"{key}: {problems}"


@pytest.mark.parametrize("key", ROWS_KEYS)
def test_rows_query_runs(key, spark, duck, sf_dir):
    assert check_key(key, spark, duck, sf_dir).ran


def test_hash_queries_are_deterministic(spark, duck, sf_dir):
    """Determinism spot-check; the sweep below covers every hash key."""
    for key in ["agg_pricing_summary", "win_ranking", "sim_search_topk", "text_tfidf"]:
        assert not check_key(key, spark, duck, sf_dir).rerun, f"{key} not deterministic"


@pytest.mark.parametrize("key", HASH_KEYS)
def test_every_hash_key_is_deterministic(key, spark, duck, sf_dir):
    """Every hash key rebuilt and run a second time in one session must
    return the values of its first run."""
    assert not check_key(key, spark, duck, sf_dir).rerun, (
        f"{key} not deterministic across runs"
    )


def test_every_hash_key_has_matching_aliases(spark, duck, sf_dir):
    """Column names must match between Spark and oracle (driver sorts
    columns by name before hashing)."""
    for key in HASH_KEYS:
        c = check_key(key, spark, duck, sf_dir, run=False)
        assert c.columns == c.oracle_columns, (
            f"{key}: {c.columns} != {c.oracle_columns}"
        )
