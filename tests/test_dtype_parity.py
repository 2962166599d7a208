"""Dtype-family guards. DuckDB returns HUGEINT for integer SUMs
(pandas float64) and TINYINT for sign(); Spark returns int64 — values
compare equal but the driver's value-hash differs. The sweep checks
every batch hash key's Spark schema against the oracle's ``LIMIT 0``
dtypes; below it, the nested value-family signatures `compare` uses
and the type-text parsers of tools/dtype_sweep.py."""

from __future__ import annotations

from .test_correctness import BATCH_KEYS, SPECS, check_key


def test_hash_key_dtype_families_match_oracle(spark, duck, sf_dir):
    problems = {}
    for key in BATCH_KEYS:
        if SPECS[key].check != "hash":
            continue
        drift = check_key(key, spark, duck, sf_dir, run=False).dtypes
        if drift:
            problems[key] = drift
    assert not problems, f"dtype-family drift: {problems}"


def test_nested_family_signatures():
    """Round-6 directive 8: the family guard recurses into nested
    values — an int-list vs float-list (the HUGEINT drift class
    inside an array) must flag even though 123 == 123.0."""
    import numpy as np
    import pandas as pd

    from dags_spark.testing import _family_sig, compare

    assert _family_sig([1, 2, 3]) == "list<int>"
    assert _family_sig([1.0, 2.0]) == "list<float>"
    assert _family_sig({"a": 1, "b": "x"}) == "struct{a:int,b:str}"
    assert _family_sig(np.array([1, 2])) == "list<int>"
    assert _family_sig([]) == "list<>"
    assert _family_sig(None) is None

    a = pd.DataFrame({"k": [1, 2], "v": [[1, 2], [3]]})
    b_ok = pd.DataFrame({"k": [1, 2], "v": [[1, 2], [3]]})
    b_bad = pd.DataFrame({"k": [1, 2], "v": [[1.0, 2.0], [3.0]]})
    assert compare(a, b_ok) == []
    probs = compare(a, b_bad)
    assert probs and "nested dtype family differs" in probs[0]


def test_sweep_type_sig_parsers():
    """spark_sig/duck_sig normalize both engines' nested type texts
    to one signature language."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from dtype_sweep import duck_sig, spark_sig

    assert spark_sig("array<bigint>") == duck_sig("BIGINT[]") == "list<int>"
    assert (
        spark_sig("map<string,bigint>")
        == duck_sig("MAP(VARCHAR, BIGINT)")
        == "map<str,int>"
    )
    assert (
        spark_sig("struct<a:int,b:string>")
        == duck_sig("STRUCT(a INTEGER, b VARCHAR)")
        == "struct{a:int,b:str}"
    )
    assert spark_sig("array<struct<x:double,y:array<bigint>>>") == duck_sig(
        "STRUCT(x DOUBLE, y BIGINT[])[]"
    )
    # the HUGEINT drift class flags, nested or not
    assert duck_sig("HUGEINT") == "float" != spark_sig("bigint")
    assert duck_sig("HUGEINT[]") == "list<float>" != spark_sig("array<bigint>")
    # DATE/TIMESTAMP unify (pandas datetime64 either way)
    assert spark_sig("timestamp") == duck_sig("DATE")
