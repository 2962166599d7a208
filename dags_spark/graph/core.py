"""Node/DAG orchestration — the reference library's identity,
re-expressed on Spark.

The reference's pentad (DataBlock / Schema / Pipe / Node+Graph /
Environment with incremental DataBlockLog state) maps here as:

- **node output** = an immutable lazy DataFrame (plan), or a written
  parquet snapshot when ``materialize=True``;
- **schema** = an optional declared DDL string validated against the
  node's output (schema inference between nodes is banned);
- **unique_on** = first-class natural-key metadata: when set, the
  node's output is automatically deduped to the latest row per key
  (the reference's accumulate + dedupe_keep_newest semantics);
- **pipe** = a Python function ``(spark, deps) -> DataFrame`` or a
  SQL string whose upstream nodes are registered as temp views;
- **incremental state** = a JSON ledger per (graph, node) recording
  which source files were already processed — re-running the graph
  consumes only new files (Structured Streaming checkpoints provide
  the same semantic for true streams; see streaming/runner.py).

Inter-node composition stays lazy: a non-materialized node
contributes its logical plan to downstream Catalyst optimization, so
a 10-node graph can still compile to ONE Spark job with filters
pushed across node boundaries — this is the main scale win over
per-node materialization.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import latest_by_key


@dataclass
class NodeSpec:
    name: str
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame] | None = None
    sql: str | None = None
    source_path: str | None = None
    source_format: str = "parquet"
    upstream: tuple[str, ...] = ()
    schema: str | None = None  # DDL string; validated, never inferred
    implements: str | None = None  # interface DDL the output must widen-satisfy
    unique_on: tuple[str, ...] = ()
    order_by: tuple[str, ...] = ()  # recency columns (desc) for unique_on dedupe
    materialize: bool = False
    # run observability: aliased aggregate Columns computed ON THE TASK
    # STREAM via df.observe() while the node's normal actions run —
    # zero extra scans (the obs_pipeline_metrics mechanism lifted into
    # the orchestration layer).
    observe: tuple = ()
    # quality gate on the observed row count; requires materialize=True
    # (a lazy node runs no action inside run(), so there is nothing to
    # gate on yet).
    min_rows: int | None = None
    # transient-failure policy: re-invoke the pipe up to `retries`
    # extra times before the run fails.
    retries: int = 0


class GraphError(Exception):
    pass


class Graph:
    """A declared DAG of named nodes, topologically executed."""

    def __init__(self, name: str = "graph") -> None:
        self.name = name
        self._nodes: dict[str, NodeSpec] = {}

    # -- declaration ---------------------------------------------------
    def node(
        self,
        name: str | None = None,
        upstream: tuple[str, ...] | list[str] = (),
        schema: str | None = None,
        unique_on: tuple[str, ...] | list[str] = (),
        order_by: tuple[str, ...] | list[str] = (),
        materialize: bool = False,
        implements: str | None = None,
        observe: tuple | list = (),
        min_rows: int | None = None,
        retries: int = 0,
    ):
        """Decorator: register a Python pipe ``fn(spark, deps)``."""
        if min_rows is not None and not materialize:
            raise GraphError(
                "min_rows requires materialize=True: a lazy node runs no"
                " action inside run(), so its observed metrics (and the"
                " gate) would only resolve at some later caller action"
            )

        def deco(fn):
            node_name = name or fn.__name__
            self._add(
                NodeSpec(
                    name=node_name,
                    fn=fn,
                    upstream=tuple(upstream),
                    schema=schema,
                    unique_on=tuple(unique_on),
                    order_by=tuple(order_by),
                    materialize=materialize,
                    implements=implements,
                    observe=tuple(observe),
                    min_rows=min_rows,
                    retries=retries,
                )
            )
            return fn

        return deco

    def sql_node(
        self,
        name: str,
        sql: str,
        upstream: tuple[str, ...] | list[str],
        schema: str | None = None,
        unique_on: tuple[str, ...] | list[str] = (),
        order_by: tuple[str, ...] | list[str] = (),
        materialize: bool = False,
    ) -> None:
        """A SQL pipe: upstream node names are visible as temp views."""
        self._add(
            NodeSpec(
                name=name,
                sql=sql,
                upstream=tuple(upstream),
                schema=schema,
                unique_on=tuple(unique_on),
                order_by=tuple(order_by),
                materialize=materialize,
            )
        )

    def source(
        self, name: str, path: str, schema: str, format: str = "parquet"
    ) -> None:
        """A file-backed source node (incremental unit = new files)."""
        self._add(NodeSpec(name=name, source_path=path, source_format=format, schema=schema))

    def _add(self, spec: NodeSpec) -> None:
        if spec.name in self._nodes:
            raise GraphError(f"duplicate node: {spec.name}")
        self._nodes[spec.name] = spec

    # -- execution -----------------------------------------------------
    def _topo_order(self) -> list[str]:
        ts = TopologicalSorter()
        for name, spec in self._nodes.items():
            missing = [u for u in spec.upstream if u not in self._nodes]
            if missing:
                raise GraphError(f"node {name}: unknown upstream {missing}")
            ts.add(name, *spec.upstream)
        try:
            return list(ts.static_order())
        except Exception as e:  # CycleError
            raise GraphError(f"cycle in graph: {e}") from e

    def run(
        self,
        spark: SparkSession,
        output_dir: str | None = None,
        incremental: bool = False,
        params: dict | None = None,
    ) -> dict[str, DataFrame]:
        """Execute the graph; returns node name -> DataFrame.

        incremental=True: source nodes consume only files not yet in
        the ledger (stored under output_dir/_ledger); materialized
        nodes append instead of overwrite.

        params: values for ``:name`` markers in SQL nodes — bound via
        Spark's native parameterized ``spark.sql(sql, args=...)``
        (typed literal substitution at the analyzer, injection-safe),
        so one declared pipe runs for any cutoff/segment/limit without
        string templating. The same params dict applies to every SQL
        node in the run.
        """
        run_params = dict(params or {})
        if (incremental or any(s.materialize for s in self._nodes.values())) and not output_dir:
            raise GraphError("output_dir required for materialize/incremental runs")
        results: dict[str, DataFrame] = {}
        pending_ledger: list[tuple[str, set[str]]] = []
        self._observations: dict[str, object] = {}
        for name in self._topo_order():
            spec = self._nodes[name]
            if spec.retries == 0:
                # no policy declared: the pipe's own exception propagates
                # untouched (and nothing was committed — reruns are safe).
                df = self._run_node(
                    spark, spec, results, output_dir, incremental,
                    pending_ledger, run_params,
                )
            else:
                last_err: Exception | None = None
                for attempt in range(spec.retries + 1):
                    try:
                        df = self._run_node(
                            spark, spec, results, output_dir, incremental,
                            pending_ledger, run_params,
                        )
                        break
                    except GraphError:
                        raise  # schema/contract violations never heal on retry
                    except Exception as e:  # noqa: BLE001 — transient faults
                        last_err = e
                else:
                    raise GraphError(
                        f"node {name} failed after {spec.retries + 1} attempts"
                    ) from last_err
            results[name] = df
        # Ledger commits are deferred to HERE — after every node's action
        # completed. If any node raised above, nothing was committed, so a
        # rerun reprocesses the same source files instead of silently
        # skipping them (no at-most-once data loss in the incremental
        # path). Note the unit of progress is the whole run: downstream
        # consumption of non-materialized (lazy) nodes must happen inside
        # the run (materialize=True on the consuming node) for the ledger
        # to guarantee the files were actually processed.
        for ledger_path, files in pending_ledger:
            os.makedirs(os.path.dirname(ledger_path), exist_ok=True)
            with open(ledger_path, "w") as fh:
                json.dump({"files": sorted(files)}, fh)
        return results

    def metrics(self, node: str) -> dict:
        """Observed metrics for a node from the LAST run. Resolved
        already for materialized nodes (their action ran inside
        run()); for lazy nodes this blocks until the caller's first
        action over the node's plan executes."""
        obs = self._observations.get(node)
        if obs is None:
            raise GraphError(f"node {node} declared no observe metrics")
        return dict(obs.get)

    def _run_node(
        self,
        spark: SparkSession,
        spec: NodeSpec,
        results: dict[str, DataFrame],
        output_dir: str | None,
        incremental: bool,
        pending_ledger: list[tuple[str, set[str]]],
        run_params: dict,
    ) -> DataFrame:
        name = spec.name
        df = self._produce(
            spark, spec, results, output_dir, incremental, pending_ledger,
            run_params,
        )
        if spec.unique_on:
            order = [F.col(c).desc() for c in spec.order_by] or [
                F.col(c).desc() for c in spec.unique_on
            ]
            df = latest_by_key(df, list(spec.unique_on), order)
        if spec.schema is not None:
            df = _conform(df, spec.schema)
        if spec.implements is not None:
            _check_implements(df, spec.implements, spec.name)
        if spec.observe or spec.min_rows is not None:
            from pyspark.sql import Observation

            # metrics ride the node's own actions (df.observe = an
            # AggregatingAccumulator over the task stream, zero extra
            # scans). A fresh Observation per attempt: one instance
            # can only ever attach to one plan.
            metrics = list(spec.observe)
            if spec.min_rows is not None:
                metrics.append(F.count(F.lit(1)).alias("_graph_rows"))
            obs = Observation()
            df = df.observe(obs, *metrics)
            self._observations[name] = obs
        if spec.materialize:
                out_path = os.path.join(output_dir, name)
                # Crash recovery for the snapshot swap below: a failure
                # between its two renames leaves the previous snapshot at
                # .__old__ and no out_path — restore it so the upsert
                # branch (not the fresh-write branch) runs.
                if not os.path.exists(out_path) and os.path.exists(
                    out_path + ".__old__"
                ):
                    os.rename(out_path + ".__old__", out_path)
                # Crash recovery for the staged incremental publish: a
                # surviving manifest means a prior run died between
                # committing the batch's file list and finishing (or
                # cleaning up) the renames. Roll the partial batch BACK
                # by name — the ledger never committed, so this run
                # will recompute and republish exactly those rows.
                pub_manifest = out_path + ".__publish__.json"
                if os.path.exists(pub_manifest):
                    with open(pub_manifest) as fh:
                        for fname in json.load(fh)["files"]:
                            p = os.path.join(out_path, fname)
                            if os.path.exists(p):
                                os.unlink(p)
                    os.unlink(pub_manifest)
                stage_path = None
                if incremental and spec.unique_on and os.path.exists(out_path):
                    # Accumulate + dedupe across RUNS, not just within the
                    # batch: union the new rows with the existing snapshot,
                    # keep the latest row per natural key, and rewrite.
                    # The rewrite goes to a TEMP dir first and swaps in via
                    # rename: overwriting the only copy in place would open
                    # a crash window where already-ledgered rows exist
                    # nowhere (the previous snapshot deleted, the new one
                    # partial, the source files never re-read). With the
                    # swap, a crash anywhere leaves either the old snapshot
                    # (and an uncommitted ledger -> files reprocessed,
                    # upsert is idempotent) or the complete new one.
                    order = [F.col(c).desc() for c in spec.order_by] or [
                        F.col(c).desc() for c in spec.unique_on
                    ]
                    prev = spark.read.parquet(out_path)
                    if prev.schema != df.schema:
                        # SCHEMA EVOLUTION on the upsert path: the new
                        # batch may ADD columns and WIDEN types but
                        # never drop or narrow — the batch schema must
                        # implement the snapshot schema as an
                        # interface (the declared-schema identity
                        # meeting the incremental identity). Existing
                        # rows conform UP to the evolved schema: new
                        # columns NULL-backfill, widened columns cast
                        # (value-preserving by the implements check).
                        from pyspark.sql.types import StructField, StructType

                        new_names = {f.name for f in df.schema.fields}
                        dropped = [
                            f.name
                            for f in prev.schema.fields
                            if f.name not in new_names
                        ]
                        # direction: every OLD field must still exist
                        # and widen TO its new type — so the interface
                        # is the NEW schema restricted to old fields
                        # (nullability relaxed: the snapshot is
                        # parquet, physically nullable either way).
                        iface = StructType(
                            [
                                StructField(f.name, f.dataType, True)
                                for f in df.schema.fields
                                if f.name in {g.name for g in prev.schema.fields}
                            ]
                        )
                        problems = (
                            [f"dropped field {c}" for c in dropped]
                            + schema_implements(prev.schema, iface)
                        )
                        if problems:
                            raise GraphError(
                                f"node {name}: incremental batch schema"
                                " is not an evolution of the snapshot:"
                                f" {problems}"
                            )
                        have = set(prev.columns)
                        prev = prev.select(
                            *[
                                (
                                    F.col(f.name).cast(f.dataType)
                                    if f.name in have
                                    else F.lit(None).cast(f.dataType)
                                ).alias(f.name)
                                for f in df.schema.fields
                            ]
                        )
                    # No checkpoint needed: the rewrite reads out_path
                    # and writes tmp_path, so the read and write paths
                    # never overlap, and the dirs swap by rename below.
                    df = latest_by_key(
                        prev.unionByName(df), list(spec.unique_on), order
                    )
                    tmp_path = out_path + ".__tmp__"
                    old_path = out_path + ".__old__"
                    shutil.rmtree(tmp_path, ignore_errors=True)
                    shutil.rmtree(old_path, ignore_errors=True)
                    df.write.mode("overwrite").parquet(tmp_path)
                    os.rename(out_path, old_path)
                    os.rename(tmp_path, out_path)
                    shutil.rmtree(old_path, ignore_errors=True)
                elif incremental and not spec.unique_on:
                    # STAGE the incremental append. The min_rows gate
                    # below (and any transient failure replayed via
                    # retries>0) fires after this write but before the
                    # deferred ledger commit; appending directly would
                    # leave this batch's rows in the snapshot on a
                    # failed run, and the rerun (ledger uncommitted)
                    # would re-read the same source files and append
                    # them AGAIN — duplicates. Writing to a temp dir
                    # and moving files in only after the gate passes
                    # keeps the failed-run snapshot untouched, so the
                    # rerun is exactly-once. (The unique_on branches
                    # don't need this: their upsert is idempotent.)
                    stage_path = out_path + ".__stage__"
                    shutil.rmtree(stage_path, ignore_errors=True)
                    df.write.mode("overwrite").parquet(stage_path)
                else:
                    mode = "append" if incremental else "overwrite"
                    df.write.mode(mode).parquet(out_path)
                if spec.min_rows is not None:
                    # the write above was the action; the gate reads the
                    # observed count, not a second scan. A failed gate
                    # fails the run BEFORE the ledger commits, so an
                    # incremental rerun reprocesses the same files.
                    got = dict(self._observations[name].get)
                    n = got.get("_graph_rows", 0)
                    if n < spec.min_rows:
                        raise GraphError(
                            f"node {name}: quality gate failed —"
                            f" {n} rows < min_rows={spec.min_rows}"
                        )
                if stage_path is not None:
                    # gate passed: publish the staged batch. Spark part
                    # filenames embed a per-job UUID, so moves cannot
                    # collide with prior batches; _SUCCESS stays behind
                    # and dies with the stage dir.
                    #
                    # The per-file renames are not collectively atomic:
                    # a crash mid-loop would leave a PARTIAL batch
                    # visible, and (ledger uncommitted) the rerun would
                    # append the same rows AGAIN. So the batch's file
                    # list is committed to a manifest FIRST; recovery
                    # at node start rolls a half-published batch back
                    # by name, restoring the pre-batch snapshot before
                    # the rerun reprocesses the same source files —
                    # publish is all-or-nothing across crashes.
                    os.makedirs(out_path, exist_ok=True)
                    staged = sorted(
                        f
                        for f in os.listdir(stage_path)
                        if f.startswith("part-")
                    )
                    manifest = out_path + ".__publish__.json"
                    tmpm = manifest + ".tmp"
                    with open(tmpm, "w") as fh:
                        json.dump({"files": staged}, fh)
                    os.replace(tmpm, manifest)
                    for fname in staged:
                        os.rename(
                            os.path.join(stage_path, fname),
                            os.path.join(out_path, fname),
                        )
                    os.unlink(manifest)
                    shutil.rmtree(stage_path, ignore_errors=True)
                # read back with the schema just written: no footer
                # inference job
                df = spark.read.schema(df.schema).parquet(out_path)
        return df

    def _produce(
        self,
        spark: SparkSession,
        spec: NodeSpec,
        results: dict[str, DataFrame],
        output_dir: str | None,
        incremental: bool,
        pending_ledger: list[tuple[str, set[str]]],
        run_params: dict | None = None,
    ) -> DataFrame:
        if spec.source_path is not None:
            return self._read_source(
                spark, spec, output_dir, incremental, pending_ledger
            )
        deps = {u: results[u] for u in spec.upstream}
        if spec.sql is not None:
            for u, udf_ in deps.items():
                udf_.createOrReplaceTempView(u)
            # params threaded per-run (not instance state), so two
            # concurrent run() calls on one Graph cannot race on each
            # other's bindings.
            if run_params:
                return spark.sql(spec.sql, args=run_params)
            return spark.sql(spec.sql)
        return spec.fn(spark, deps)

    def _read_source(
        self,
        spark: SparkSession,
        spec: NodeSpec,
        output_dir: str | None,
        incremental: bool,
        pending_ledger: list[tuple[str, set[str]]],
    ) -> DataFrame:
        reader = spark.read.format(spec.source_format)
        if spec.schema:
            reader = reader.schema(spec.schema)
        if not incremental:
            return reader.load(spec.source_path)
        ledger_path = os.path.join(output_dir, "_ledger", f"{self.name}.{spec.name}.json")
        seen: set[str] = set()
        if os.path.exists(ledger_path):
            with open(ledger_path) as fh:
                seen = set(json.load(fh)["files"])
        current = sorted(
            os.path.join(spec.source_path, f)
            for f in os.listdir(spec.source_path)
            if not f.startswith(("_", "."))
        )
        new = [f for f in current if f not in seen]
        # Do NOT write the ledger here: the returned DataFrame is a lazy
        # plan, and committing these files as "seen" before the run's
        # actions succeed would skip them forever after a mid-run failure.
        # run() commits pending_ledger only after every node completed.
        pending_ledger.append((ledger_path, seen | set(new)))
        if not new:
            return reader.load(spec.source_path).limit(0)
        return reader.load(new)


# Safe widenings for the implements-relation: value-preserving only.
_WIDEN = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
}


def _widens(got, want, path: str, problems: list[str]) -> None:
    """Recursive value-preserving satisfy check: does a value of type
    ``got`` satisfy an interface slot of type ``want`` without any
    rewrite? Appends a violation description per mismatch (with a
    dotted path into nested types) rather than short-circuiting, so
    one call reports every defect."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    if isinstance(want, StructType) and isinstance(got, StructType):
        have = {f.name: f for f in got.fields}
        for f in want.fields:
            g = have.get(f.name)
            if g is None:
                problems.append(f"missing field {path}{f.name}")
                continue
            _widens(g.dataType, f.dataType, f"{path}{f.name}.", problems)
            if not f.nullable and g.nullable:
                problems.append(f"{path}{f.name}: interface requires NOT NULL")
        return
    if isinstance(want, ArrayType) and isinstance(got, ArrayType):
        _widens(got.elementType, want.elementType, path + "element.", problems)
        if not want.containsNull and got.containsNull:
            problems.append(f"{path}element: interface requires NOT NULL elements")
        return
    if isinstance(want, MapType) and isinstance(got, MapType):
        _widens(got.keyType, want.keyType, path + "key.", problems)
        _widens(got.valueType, want.valueType, path + "value.", problems)
        if not want.valueContainsNull and got.valueContainsNull:
            problems.append(f"{path}value: interface requires NOT NULL values")
        return
    if isinstance(want, DecimalType) and isinstance(got, DecimalType):
        # decimal(p1,s1) fits decimal(p2,s2) iff the scale does not
        # shrink and the integral digits do not shrink.
        if want.scale >= got.scale and (want.precision - want.scale) >= (
            got.precision - got.scale
        ):
            return
        problems.append(
            f"{path.rstrip('.') or 'value'}: {got.simpleString()} does not"
            f" widen to {want.simpleString()}"
        )
        return
    want_s, got_s = want.simpleString(), got.simpleString()
    if want_s != got_s and (got_s, want_s) not in _WIDEN:
        problems.append(
            f"{path.rstrip('.') or 'value'}: {got_s} does not widen to {want_s}"
        )


def schema_implements(impl, iface_ddl) -> list[str]:
    """The reference's schema implements/inherits relation: does
    ``impl`` (a StructType or DDL string) satisfy the interface
    (a DDL string, or a StructType for session-free callers — DDL
    parsing needs an active SparkSession)?

    Satisfy = every interface field exists with the SAME type or a
    value-preserving widening of it (byte<short<int<long, float<
    double); a non-nullable interface field must be non-nullable in
    the implementation; extra implementation fields are always
    allowed (that is the point of the relation). Lossy coercions
    (long->int, double->float, string->anything) are violations, not
    casts — unlike ``schema=`` conformance, implements never rewrites
    data. Returns a list of violation descriptions (empty == ok).

    Widening RECURSES into nested types: ``array<int>`` implements
    ``array<bigint>``, struct fields widen field-by-field (extra
    nested fields allowed, nullability honored per-field), map keys
    and values widen independently, and decimals widen when neither
    the scale nor the integral-digit count shrinks. Violations carry
    a dotted path into the nested slot. A non-nullable interface
    slot (field / array element / map value) must be non-nullable in
    the implementation.
    """
    from pyspark.sql.types import StructType

    if isinstance(impl, str):
        impl = StructType.fromDDL(impl)
    iface = (
        iface_ddl
        if isinstance(iface_ddl, StructType)
        else StructType.fromDDL(iface_ddl)
    )
    problems: list[str] = []
    _widens(impl, iface, "", problems)
    return problems


def _check_implements(df: DataFrame, iface_ddl: str, node: str) -> None:
    problems = schema_implements(df.schema, iface_ddl)
    if problems:
        raise GraphError(f"node {node} does not implement interface: {problems}")


def _conform(df: DataFrame, ddl: str) -> DataFrame:
    """Validate + cast the node output to its declared schema."""
    from pyspark.sql.types import StructType

    declared = StructType.fromDDL(ddl)
    have = {f.name for f in df.schema.fields}
    missing = [f.name for f in declared.fields if f.name not in have]
    if missing:
        raise GraphError(f"output missing declared columns: {missing}")
    return df.select(
        *[F.col(f.name).cast(f.dataType) for f in declared.fields]
    )
