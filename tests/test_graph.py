"""Graph/orchestration layer tests — the reference's node/DAG/
incremental semantics on Spark."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from dags_spark.graph.core import Graph, GraphError
from dags_spark.io import table

from .conftest import count_jobs


def test_topo_run_python_and_sql_nodes(spark, sf_dir):
    g = Graph("t1")

    @g.node(upstream=())
    def orders(s, deps):
        return table(s, sf_dir, "orders")

    @g.node(upstream=["orders"])
    def urgent(s, deps):
        return deps["orders"].filter(F.col("o_orderpriority") == "1-URGENT")

    g.sql_node(
        "per_status",
        "SELECT o_orderstatus, COUNT(*) AS n FROM urgent GROUP BY o_orderstatus",
        upstream=["urgent"],
    )
    out = g.run(spark)
    rows = {r.o_orderstatus: r.n for r in out["per_status"].collect()}
    expected = {
        r.o_orderstatus: r.n
        for r in table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert rows == expected


def test_cycle_detection(spark):
    g = Graph("t2")
    g.sql_node("a", "SELECT 1", upstream=["b"])
    g.sql_node("b", "SELECT 1", upstream=["a"])
    with pytest.raises(GraphError, match="cycle"):
        g.run(spark)


def test_unknown_upstream(spark):
    g = Graph("t3")
    g.sql_node("a", "SELECT 1", upstream=["nope"])
    with pytest.raises(GraphError, match="unknown upstream"):
        g.run(spark)


def test_unique_on_dedupes_to_latest(spark, sf_dir):
    g = Graph("t4")

    @g.node(unique_on=["user_id", "event_type"], order_by=["ts", "event_id"])
    def latest_events(s, deps):
        return table(s, sf_dir, "events")

    out = g.run(spark)["latest_events"]
    n_keys = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert out.count() == n_keys
    # every kept row is the max-ts row for its key
    ev = table(spark, sf_dir, "events")
    mx = ev.groupBy("user_id", "event_type").agg(F.max("ts").alias("max_ts"))
    joined = out.join(mx, ["user_id", "event_type"])
    assert joined.filter(F.col("ts") != F.col("max_ts")).count() == 0


def test_schema_conform_and_missing_column(spark, sf_dir):
    g = Graph("t5")

    @g.node(schema="r_regionkey BIGINT, r_name STRING")
    def region_cast(s, deps):
        return table(s, sf_dir, "region")

    out = g.run(spark)["region_cast"]
    assert dict(out.dtypes) == {"r_regionkey": "bigint", "r_name": "string"}

    g2 = Graph("t6")

    @g2.node(schema="missing_col INT")
    def bad(s, deps):
        return table(s, sf_dir, "region")

    with pytest.raises(GraphError, match="missing declared columns"):
        g2.run(spark)


def test_materialize_writes_parquet(spark, sf_dir):
    out_dir = tempfile.mkdtemp(prefix="dags_graph_mat_")
    g = Graph("t7")

    @g.node(materialize=True)
    def nations(s, deps):
        return table(s, sf_dir, "nation")

    res = g.run(spark, output_dir=out_dir)
    assert os.path.isdir(os.path.join(out_dir, "nations"))
    assert res["nations"].count() == 25


def test_materialized_node_reads_back_without_a_job(spark, tmp_path):
    """A materialized node's returned DataFrame is read back with the
    schema it was just written with: run() launches exactly the jobs
    of the write, none for footer inference."""

    def rows(s, deps):
        return s.range(100).selectExpr("id AS k", "id % 7 AS v")

    g = Graph("readback")
    g.node(materialize=True)(rows)
    with count_jobs(spark) as plain:
        rows(spark, {}).write.parquet(str(tmp_path / "plain"))
    with count_jobs(spark) as run:
        res = g.run(spark, output_dir=str(tmp_path / "out"))["rows"]
    assert plain.n >= 1
    assert run.n == plain.n
    assert res.count() == 100


def test_incremental_source_processes_only_new_files(spark, sf_dir):
    """The reference's DataBlockLog semantic: second run sees only
    files added since the first run."""
    work = tempfile.mkdtemp(prefix="dags_graph_incr_")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    os.makedirs(src)
    region = table(spark, sf_dir, "region")
    region.filter(F.col("r_regionkey") < 3).coalesce(1).write.parquet(
        os.path.join(work, "stage1")
    )
    region.filter(F.col("r_regionkey") >= 3).coalesce(1).write.parquet(
        os.path.join(work, "stage2")
    )

    def _link(stage: str, prefix: str) -> None:
        for f in os.listdir(os.path.join(work, stage)):
            if f.endswith(".parquet"):
                os.link(os.path.join(work, stage, f), os.path.join(src, prefix + f))

    def build() -> Graph:
        g = Graph("incr")
        g.source("regions", src, schema="r_regionkey INT, r_name STRING")
        g.sql_node(
            "acc",
            "SELECT r_regionkey, r_name FROM regions",
            upstream=["regions"],
            materialize=True,
        )
        return g

    _link("stage1", "a_")
    r1 = build().run(spark, output_dir=out, incremental=True)
    assert r1["acc"].count() == 3

    _link("stage2", "b_")
    r2 = build().run(spark, output_dir=out, incremental=True)
    acc = r2["acc"]
    assert acc.count() == 5  # 3 + 2 appended, stage1 NOT reprocessed
    assert acc.select("r_regionkey").distinct().count() == 5

    # third run, nothing new -> no growth
    r3 = build().run(spark, output_dir=out, incremental=True)
    assert r3["acc"].count() == 5


def test_failed_run_does_not_commit_ledger(spark, sf_dir):
    """ADVICE r1: ledger commits must happen only after the whole run
    succeeds — a mid-run failure may not mark source files seen, or
    they are silently skipped forever on rerun."""
    work = tempfile.mkdtemp(prefix="dags_graph_fail_")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    os.makedirs(src)
    table(spark, sf_dir, "region").coalesce(1).write.parquet(
        os.path.join(work, "stage")
    )
    for f in os.listdir(os.path.join(work, "stage")):
        if f.endswith(".parquet"):
            os.link(os.path.join(work, "stage", f), os.path.join(src, f))

    def build(fail: bool) -> Graph:
        g = Graph("failrun")
        g.source("regions", src, schema="r_regionkey INT, r_name STRING")

        @g.node("boom", upstream=["regions"], materialize=True)
        def boom(spark_, deps):
            if fail:
                raise RuntimeError("downstream failure")
            return deps["regions"]

        return g

    with pytest.raises(RuntimeError):
        build(fail=True).run(spark, output_dir=out, incremental=True)
    ledger = os.path.join(out, "_ledger", "failrun.regions.json")
    assert not os.path.exists(ledger), "ledger committed despite failure"

    # rerun after the fix: the same files ARE processed
    res = build(fail=False).run(spark, output_dir=out, incremental=True)
    assert res["boom"].count() == 5
    assert os.path.exists(ledger)


def test_incremental_materialize_dedupes_across_runs(spark, sf_dir):
    """ADVICE r1: unique_on + incremental materialize must keep ONE
    (latest) row per key across runs, not accumulate duplicates."""
    work = tempfile.mkdtemp(prefix="dags_graph_upsert_")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    os.makedirs(src)

    def feed(rows, stage):
        df = spark.createDataFrame(rows, "k INT, v INT, ver INT")
        df.coalesce(1).write.parquet(os.path.join(work, stage))
        for f in os.listdir(os.path.join(work, stage)):
            if f.endswith(".parquet"):
                os.link(
                    os.path.join(work, stage, f), os.path.join(src, stage + f)
                )

    def build() -> Graph:
        g = Graph("upsert")
        g.source("kv", src, schema="k INT, v INT, ver INT")
        g.sql_node(
            "acc",
            "SELECT k, v, ver FROM kv",
            upstream=["kv"],
            materialize=True,
            unique_on=("k",),
            order_by=("ver",),
        )
        return g

    feed([(1, 10, 1), (2, 20, 1)], "s1")
    build().run(spark, output_dir=out, incremental=True)
    feed([(1, 11, 2), (3, 30, 1)], "s2")
    build().run(spark, output_dir=out, incremental=True)

    snap = {
        r.k: (r.v, r.ver)
        for r in spark.read.parquet(os.path.join(out, "acc")).collect()
    }
    assert snap == {1: (11, 2), 2: (20, 1), 3: (30, 1)}


def test_schema_implements_relation(spark):
    from dags_spark.graph.core import schema_implements

    # widening + extra fields satisfy; narrowing / missing / nullability fail
    assert schema_implements("a INT, b STRING, extra DOUBLE", "a BIGINT, b STRING") == []
    assert schema_implements("a INT", "a INT") == []
    probs = schema_implements("a BIGINT", "a INT")
    assert probs and "does not widen" in probs[0]
    assert "missing field b" in schema_implements("a INT", "a INT, b STRING")[0]
    assert schema_implements("a DOUBLE", "a FLOAT")  # lossy -> violation
    assert schema_implements("a STRING", "a INT")    # string never widens


def test_schema_implements_nested_widening(spark):
    from dags_spark.graph.core import schema_implements

    # array element widening satisfies; narrowing fails with a path
    assert schema_implements("a ARRAY<INT>", "a ARRAY<BIGINT>") == []
    probs = schema_implements("a ARRAY<BIGINT>", "a ARRAY<INT>")
    assert probs and "a.element" in probs[0] and "does not widen" in probs[0]

    # struct fields widen field-by-field; extra nested fields allowed
    assert schema_implements(
        "s STRUCT<x: INT, y: FLOAT, extra: STRING>",
        "s STRUCT<x: BIGINT, y: DOUBLE>",
    ) == []
    probs = schema_implements("s STRUCT<x: STRING>", "s STRUCT<x: INT>")
    assert probs and "s.x" in probs[0]
    assert "missing field s.y" in schema_implements(
        "s STRUCT<x: INT>", "s STRUCT<x: INT, y: INT>"
    )[0]

    # map keys and values widen independently
    assert schema_implements(
        "m MAP<INT, FLOAT>", "m MAP<BIGINT, DOUBLE>"
    ) == []
    probs = schema_implements("m MAP<BIGINT, INT>", "m MAP<INT, BIGINT>")
    assert probs and "m.key" in probs[0]

    # decimal: scale and integral digits must not shrink
    assert schema_implements("d DECIMAL(10,2)", "d DECIMAL(20,2)") == []
    assert schema_implements("d DECIMAL(10,2)", "d DECIMAL(20,4)") == []
    assert schema_implements("d DECIMAL(20,2)", "d DECIMAL(10,2)")
    assert schema_implements("d DECIMAL(10,4)", "d DECIMAL(10,2)")

    # deep nesting: array<struct<...>> recurses all the way down
    assert schema_implements(
        "a ARRAY<STRUCT<v: INT, tag: STRING>>",
        "a ARRAY<STRUCT<v: BIGINT>>",
    ) == []
    probs = schema_implements(
        "a ARRAY<STRUCT<v: DOUBLE>>", "a ARRAY<STRUCT<v: FLOAT>>"
    )
    assert probs and "a.element.v" in probs[0]

    # a non-struct where a struct is required is a plain type mismatch
    assert schema_implements("s INT", "s STRUCT<x: INT>")


def test_graph_node_implements_enforced(spark):
    import pytest as _pytest

    from dags_spark.graph.core import Graph, GraphError

    g = Graph("iface_ok")

    @g.node(name="src", implements="id BIGINT")
    def src(spark, deps):
        return spark.createDataFrame([(1, "x")], "id INT, tag STRING")

    assert g.run(spark)["src"].count() == 1

    bad = Graph("iface_bad")

    @bad.node(name="src", implements="id INT, missing STRING")
    def src2(spark, deps):
        return spark.createDataFrame([(1,)], "id BIGINT")

    with _pytest.raises(GraphError, match="does not implement"):
        bad.run(spark)


# --- YAML schema loader ----------------------------------------------

_YAML_SCHEMAS = """
name: event_iface
fields:
  - {name: event_id, type: bigint, nullable: false}
  - {name: ts, type: timestamp}
---
name: base_events
implements: event_iface
unique_on: [event_id]
order_by: [ts]
fields:
  - {name: event_id, type: bigint, nullable: false}
  - {name: ts, type: timestamp}
  - {name: value, type: double}
---
name: user_events
inherits: base_events
fields:
  - {name: value, type: double, nullable: false}
  - {name: user_id, type: bigint}
"""


def test_yaml_schema_roundtrip_and_inherits():
    from dags_spark.graph.schemas import load_schemas

    docs = load_schemas(_YAML_SCHEMAS)
    assert set(docs) == {"event_iface", "base_events", "user_events"}
    ue = docs["user_events"]
    # parent fields first, child override in place, new fields appended
    assert [f.name for f in ue.struct.fields] == ["event_id", "ts", "value", "user_id"]
    assert not ue.struct["value"].nullable  # child override applied
    # inherits is transitive for metadata? no — unique_on stays per-doc
    assert docs["base_events"].unique_on == ("event_id",)
    # node_kwargs feeds Graph.node directly
    kw = docs["base_events"].node_kwargs()
    assert kw["unique_on"] == ("event_id",) and "event_id bigint NOT NULL" in kw["schema"]


def test_yaml_schema_implements_validation():
    import pytest as _pytest

    from dags_spark.graph.core import GraphError
    from dags_spark.graph.schemas import load_schemas

    bad = """
name: iface
fields:
  - {name: k, type: bigint, nullable: false}
---
name: impl
implements: iface
fields:
  - {name: k, type: int, nullable: true}
"""
    # int does not widen to bigint? it DOES widen (int->bigint ok) but
    # nullable=true violates the NOT NULL interface field.
    with _pytest.raises(GraphError, match="does not implement"):
        load_schemas(bad)


def test_yaml_schema_errors():
    import pytest as _pytest

    from dags_spark.graph.core import GraphError
    from dags_spark.graph.schemas import load_schemas

    with _pytest.raises(GraphError, match="cycle"):
        load_schemas(
            "name: a\ninherits: b\nfields: [{name: x, type: int}]\n---\n"
            "name: b\ninherits: a\nfields: [{name: y, type: int}]\n"
        )
    with _pytest.raises(GraphError, match="unknown schema"):
        load_schemas("name: a\ninherits: missing\nfields: [{name: x, type: int}]\n")
    with _pytest.raises(GraphError, match="invalid"):
        load_schemas("name: a\nfields: [{name: x, type: notatype}]\n")
    with _pytest.raises(GraphError, match="not in"):
        load_schemas("name: a\nunique_on: [nope]\nfields: [{name: x, type: int}]\n")


def test_yaml_schema_drives_graph_node(spark, tmp_path):
    """A YAML-declared schema plugs into the Graph lifecycle: the
    node's output is validated against the declared DDL and deduped
    on unique_on/order_by exactly as hand-written NodeSpec args."""
    from dags_spark.graph.core import Graph
    from dags_spark.graph.schemas import load_schemas

    doc = load_schemas(
        "name: latest\nunique_on: [k]\norder_by: [ts]\nfields:\n"
        "  - {name: k, type: bigint}\n  - {name: ts, type: bigint}\n"
        "  - {name: v, type: string}\n"
    )["latest"]

    g = Graph("yaml-schema")

    @g.node(upstream=())
    def src(s, up):
        return s.createDataFrame(
            [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")],
            "k BIGINT, ts BIGINT, v STRING",
        )

    g.sql_node("latest", "SELECT * FROM src", upstream=("src",), **doc.node_kwargs())
    out = g.run(spark)["latest"]
    got = {(r.k, r.v) for r in out.collect()}
    assert got == {(1, "new"), (2, "only")}


def test_parse_type_preserves_nested_case_and_decimal_forms():
    from dags_spark.graph.core import GraphError
    from dags_spark.graph.schemas import parse_type
    import pytest as _pytest

    t = parse_type("struct<eventId:bigint, UserName:string>")
    assert [f.name for f in t.fields] == ["eventId", "UserName"]
    assert parse_type("DECIMAL(10)").simpleString() == "decimal(10,0)"
    assert parse_type("decimal(16, 8)").simpleString() == "decimal(16,8)"
    assert parse_type("Array<Struct<X:int>>").elementType.fields[0].name == "X"
    with _pytest.raises(GraphError, match="invalid"):
        parse_type("decimal(a,b)")
    with _pytest.raises(GraphError, match="invalid"):
        parse_type("decimal(1,2,3)")


def test_sql_node_params_bind_and_rebind(spark, sf_dir):
    """One declared SQL pipe runs under different params per run —
    Spark-native :name binding (typed, analyzer-level), and a
    paramless graph still runs untouched."""
    from dags_spark.queries import table

    g = Graph("params")

    @g.node(name="src")
    def _src(spark_, deps):
        return table(spark_, sf_dir, "orders")

    g.sql_node(
        "big",
        "SELECT COUNT(*) AS n FROM src WHERE o_totalprice > :floor",
        upstream=["src"],
    )
    lo = g.run(spark, params={"floor": 1000.0})["big"].collect()[0]["n"]
    hi = g.run(spark, params={"floor": 100000.0})["big"].collect()[0]["n"]
    assert lo > hi >= 0

    g2 = Graph("no_params")

    @g2.node(name="src")
    def _src2(spark_, deps):
        return table(spark_, sf_dir, "orders")

    g2.sql_node("n", "SELECT COUNT(*) AS n FROM src", upstream=["src"])
    assert g2.run(spark)["n"].collect()[0]["n"] > 0


def test_graph_observe_metrics_ride_materialize(spark, tmp_path):
    from pyspark.sql import functions as F

    from dags_spark.graph.core import Graph

    g = Graph("obs")

    @g.node(
        name="nums",
        materialize=True,
        observe=(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("id").alias("sum_id"),
        ),
    )
    def nums(spark_, deps):
        return spark_.range(10)

    out = g.run(spark, output_dir=str(tmp_path))["nums"]
    m = g.metrics("nums")
    assert m["n_rows"] == 10 and m["sum_id"] == 45
    assert out.count() == 10


def test_graph_min_rows_gate_fails_before_ledger(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dags_spark.graph.core import Graph, GraphError

    g = Graph("gated")

    @g.node(name="empty", materialize=True, min_rows=5)
    def empty(spark_, deps):
        return spark_.range(10).filter(F.col("id") < 0)

    with _pytest.raises(GraphError, match="quality gate"):
        g.run(spark, output_dir=str(tmp_path))

    # min_rows without materialize is a declaration error, not a
    # silent never-evaluated gate
    g2 = Graph("lazy_gate")
    with _pytest.raises(GraphError, match="min_rows requires materialize"):

        @g2.node(name="x", min_rows=1)
        def x(spark_, deps):
            return spark_.range(1)


def test_graph_retries_heal_transient_failures(spark):
    import pytest as _pytest

    from dags_spark.graph.core import Graph, GraphError

    calls = {"n": 0}
    g = Graph("flaky")

    @g.node(name="flaky", retries=2)
    def flaky(spark_, deps):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return spark_.range(3)

    out = g.run(spark)["flaky"]
    assert out.count() == 3 and calls["n"] == 3

    # exhausted retries surface as GraphError chaining the last fault
    calls2 = {"n": 0}
    g2 = Graph("doomed")

    @g2.node(name="doomed", retries=1)
    def doomed(spark_, deps):
        calls2["n"] += 1
        raise RuntimeError("always")

    with _pytest.raises(GraphError, match="after 2 attempts"):
        g2.run(spark)
    assert calls2["n"] == 2


def test_graph_incremental_append_gate_is_exactly_once(spark, tmp_path):
    """Round-6 ADVICE regression: for a materialized incremental node
    WITHOUT unique_on, a failed min_rows gate must leave the snapshot
    untouched (the append is staged), so the rerun — which re-reads
    the same uncommitted source files — does not duplicate rows."""
    import pytest as _pytest

    from dags_spark.graph.core import Graph, GraphError

    src = str(tmp_path / "src")
    spark.range(10).write.mode("overwrite").parquet(src)
    out_dir = str(tmp_path / "out")

    def build(min_rows):
        g = Graph("inc_gate")
        g.source(name="raw", path=src, schema="id bigint")

        @g.node(name="rows", upstream=["raw"], materialize=True,
                min_rows=min_rows)
        def rows(spark_, deps):
            return deps["raw"]

        return g

    # gate fails: 10 rows < 99. Snapshot must not exist (staged write
    # never published) and the ledger must not have committed.
    with _pytest.raises(GraphError, match="quality gate"):
        build(99).run(spark, output_dir=out_dir, incremental=True)
    import os

    out_path = os.path.join(out_dir, "rows")
    assert not os.path.exists(out_path) or not [
        f for f in os.listdir(out_path) if f.startswith("part-")
    ]

    # rerun with a passable gate: the SAME files reprocess exactly once
    out = build(5).run(spark, output_dir=out_dir, incremental=True)["rows"]
    assert out.count() == 10

    # steady-state rerun: ledger committed, nothing new -> still 10
    # (min_rows=0 here: the gate counts the BATCH, and an empty
    # incremental batch legitimately fails any positive floor)
    out2 = build(0).run(spark, output_dir=out_dir, incremental=True)["rows"]
    assert out2.count() == 10


def test_graph_upsert_schema_evolution(spark, tmp_path):
    """Round-6: the incremental upsert tolerates a WIDENED batch
    schema (new column + int->bigint), NULL-backfills existing rows,
    and rejects drops and narrowings as GraphError."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from dags_spark.graph.core import Graph, GraphError

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)

    def build(sql):
        g = Graph("evo")
        g.source("ev", src, schema="k BIGINT, ts BIGINT")
        g.sql_node(
            "acc", sql, upstream=["ev"], materialize=True,
            unique_on=("k",), order_by=("ts",),
        )
        return g

    batch1 = spark.createDataFrame([(1, 10), (2, 10)], "k LONG, ts LONG")
    batch1.write.parquet(os.path.join(src, "b1"))
    build("SELECT k, ts, CAST(1 AS INT) AS ver FROM ev").run(
        spark, output_dir=out, incremental=True
    )

    batch2 = spark.createDataFrame([(2, 20), (3, 20)], "k LONG, ts LONG")
    batch2.write.parquet(os.path.join(src, "b2"))
    res = build(
        "SELECT k, ts, CAST(2 AS BIGINT) AS ver, 'new' AS tag FROM ev"
    ).run(spark, output_dir=out, incremental=True)["acc"]
    got = {r["k"]: (r["ver"], r["tag"]) for r in res.collect()}
    # k=1 survives from gen-1 (NULL-backfilled tag, widened ver);
    # k=2 upserted by gen-2; k=3 inserted by gen-2
    assert got == {1: (1, None), 2: (2, "new"), 3: (2, "new")}
    assert dict(res.dtypes)["ver"] == "bigint"

    # narrowing (bigint ver -> int) must be rejected
    batch3 = spark.createDataFrame([(4, 30)], "k LONG, ts LONG")
    batch3.write.parquet(os.path.join(src, "b3"))
    with _pytest.raises(GraphError, match="not an evolution"):
        build("SELECT k, ts, CAST(3 AS INT) AS ver, 'x' AS tag FROM ev").run(
            spark, output_dir=out, incremental=True
        )
    # dropping a column must be rejected (same pending batch)
    with _pytest.raises(GraphError, match="not an evolution"):
        build("SELECT k, ts, CAST(3 AS BIGINT) AS ver FROM ev").run(
            spark, output_dir=out, incremental=True
        )


def test_partial_publish_rolls_back_on_rerun(spark, sf_dir):
    """ADVICE r6: a crash mid-publish (some staged part files renamed
    into the snapshot, ledger uncommitted) must not duplicate rows on
    the rerun. The publish manifest commits the batch's file list
    before any rename; recovery rolls the partial batch back, so the
    rerun republishes exactly once."""
    import json as _json

    work = tempfile.mkdtemp(prefix="dags_graph_crash_")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    os.makedirs(src)
    region = table(spark, sf_dir, "region")
    region.coalesce(1).write.parquet(os.path.join(work, "stage1"))
    for f in os.listdir(os.path.join(work, "stage1")):
        if f.endswith(".parquet"):
            os.link(os.path.join(work, "stage1", f), os.path.join(src, f))

    def build() -> Graph:
        g = Graph("crash")
        g.source("regions", src, schema="r_regionkey INT, r_name STRING")
        g.sql_node(
            "acc",
            "SELECT r_regionkey, r_name FROM regions",
            upstream=["regions"],
            materialize=True,
        )
        return g

    # simulate the crashed first run: batch files visible in the
    # snapshot, publish manifest present, ledger NEVER committed
    build().run(spark, output_dir=out, incremental=True)
    acc_dir = os.path.join(out, "acc")
    parts = sorted(f for f in os.listdir(acc_dir) if f.startswith("part-"))
    assert parts
    with open(acc_dir + ".__publish__.json", "w") as fh:
        _json.dump({"files": parts}, fh)  # as if renames had just run
    ledger = os.path.join(out, "_ledger")
    for f in os.listdir(ledger):
        os.unlink(os.path.join(ledger, f))  # ledger commit never happened

    # rerun: recovery must roll the manifest's files back, then the
    # run reprocesses the same source files -> exactly one copy
    res = build().run(spark, output_dir=out, incremental=True)
    assert res["acc"].count() == region.count()
    assert spark.read.parquet(acc_dir).count() == region.count()
    assert not os.path.exists(acc_dir + ".__publish__.json")
