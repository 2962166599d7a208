"""The workloads: what each op calls, its correctness check, and
the input size chosen for it.

Every op drives only the public surface: ``registry`` specs (which call
``queries/*`` and ``operators/*``), ``io`` through them, ``graph.core``
and ``tablelog``. The harness times the calls from outside; ``tr`` is
a tracer whose spans are free when tracing is off.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dags_spark import TABLES
from dags_spark.graph.core import Graph
from dags_spark.registry import all_specs
from dags_spark.tablelog import TableLog
from dags_spark.testing import compare

from gen import Sizes, events_table, generate


def checksum(df: DataFrame) -> tuple[int, int, int]:
    """Order-independent digest of a DataFrame's rows: row count and
    two 32-bit lane sums of each row's xxhash64. It is the op's action,
    so the rows it digests are the rows the timed run produced."""
    df = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    h = F.xxhash64(*df.columns)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
        F.sum(F.shiftrightunsigned(h, 32)),
    ).first()
    return tuple(int(v or 0) for v in row)


class QueryOp:
    """One registered key: plan build (``spec.fn``), then the action."""

    def __init__(self, spec, data_dir: str) -> None:
        self.name, self.spec, self.data_dir = spec.name, spec, data_dir
        self.expected: tuple | None = None

    def baseline(self, spark, duck) -> list[str]:
        """Oracle check of the Spark output (hash keys); the digest of
        the checked rows is what every timed run must reproduce.
        Rows-checked keys have no oracle; their first run's digest must
        only repeat exactly."""
        df = self.spec.fn(spark, self.data_dir)
        if self.spec.oracle is None:
            self.expected = checksum(df)
            return []
        rows = df.toPandas()
        self.expected = checksum(spark.createDataFrame(rows, df.schema))
        return compare(rows, duck.execute(self.spec.oracle).df())

    def __call__(self, spark, tr) -> bool:
        with tr.span("queries.build"):
            df = self.spec.fn(spark, self.data_dir)
        with tr.span("exec.run"):
            got = checksum(df)
        tr.count("result_rows", got[0])
        return got == self.expected


class QueryWorkload:
    """A pass runs each key once, in a fixed order. A key's correctness
    baseline is its cold run, so no pass is spent on warm-up."""

    warm_passes = 0

    def __init__(self, keys: tuple[str, ...], sizes: Sizes) -> None:
        self.keys, self.sizes = keys, sizes

    def setup(self, spark, work: str, seed: int) -> tuple[int, list[str]]:
        """Generate inputs and check each key once; returns (checks
        made, problems found)."""
        data = os.path.join(work, "data")
        generate(data, seed, self.sizes)
        specs = all_specs()
        self.ops = [QueryOp(specs[k], data) for k in self.keys]
        duck = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data, f"{t}.parquet")
            if os.path.exists(path):
                glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
                duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
        failures = []
        for op in self.ops:
            failures += [f"{op.name}: {p}" for p in op.baseline(spark, duck)]
        duck.close()
        return len(self.ops), failures

    def reset(self) -> None:
        pass

    def end_pass(self, spark) -> tuple[int, list[str]]:
        return 0, []


class PipelineWorkload:
    """Incremental graph runs over landed batches, then a TableLog merge.

    The events corpus is split into ``batches`` by a seeded hash of
    ``event_id``; op b lands batch b's files and runs the graph
    incrementally. Each pass starts from an empty state (reset, not
    timed), so passes do the same work although the upsert rewrites
    the whole snapshot every batch. The first pass is the cold run.
    """

    warm_passes = 1

    SOURCE_DDL = (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING"
    )
    KEYS = ["user_id", "event_type"]

    def __init__(self, sizes: Sizes, batches: int) -> None:
        self.sizes, self.batches = sizes, batches

    def setup(self, spark, work: str, seed: int) -> tuple[int, list[str]]:
        """Split the events into landed batches and compute the expected
        end state; the checks run at the end of every pass."""
        self.work = work
        events = events_table(np.random.default_rng(seed), self.sizes).to_pandas()
        ids = events["event_id"].to_numpy(np.uint64)
        events["batch"] = (_mix64(ids ^ np.uint64(seed)) % np.uint64(self.batches)).astype(int)
        self.batch_files: list[list[str]] = []
        self.batch_rows: list[int] = []
        self.batch_bytes: list[int] = []
        for b in range(self.batches):
            part = pa.Table.from_pandas(
                events[events["batch"] == b].drop(columns="batch"), preserve_index=False
            )
            files = []
            for i, chunk in enumerate(np.array_split(np.arange(part.num_rows), 2)):
                path = os.path.join(work, "batches", f"b{b:03d}-{i}.parquet")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                pq.write_table(part.take(chunk), path)
                files.append(path)
            self.batch_files.append(files)
            self.batch_rows.append(part.num_rows)
            self.batch_bytes.append(sum(os.path.getsize(f) for f in files))
        self._expect(events)
        self.graph = self._graph()
        self.ops = [BatchOp(self, b) for b in range(self.batches)]
        return 0, []

    def _expect(self, ev: pd.DataFrame) -> None:
        ev = ev.assign(ts=ev["ts"].astype("datetime64[us]").astype("int64"))
        self.keys_after = [
            len(ev[ev["batch"] <= b].drop_duplicates(self.KEYS)) for b in range(self.batches)
        ]
        cols = ["user_id", "event_id", "ts", "event_type", "value"]
        self.want_users = _canon(
            ev.sort_values(["ts", "event_id"]).drop_duplicates("user_id", keep="last")[cols],
            ["user_id"],
        )
        # MERGE keeps the newest batch's row for a key (batch order, not
        # event time); inside a batch the node keeps the latest event.
        self.want_log = _canon(
            ev.sort_values(["batch", "ts", "event_id"]).drop_duplicates(self.KEYS, keep="last")[
                ["event_id", "ts", "user_id", "event_type", "value"]
            ],
            self.KEYS,
        )
        day = ev["ts"] // 86_400_000_000
        self.want_daily = Counter(zip(day, ev["event_type"]))

    def _graph(self) -> Graph:
        g = Graph("events_pipeline")
        g.source("events", os.path.join(self.work, "landing"), schema=self.SOURCE_DDL)

        @g.node(
            upstream=["events"],
            unique_on=["user_id"],
            order_by=["ts", "event_id"],
            materialize=True,
            schema="user_id BIGINT, event_id BIGINT, ts TIMESTAMP_NTZ, event_type STRING, value DOUBLE",
        )
        def user_latest(spark, deps):
            return deps["events"].select("user_id", "event_id", "ts", "event_type", "value")

        @g.node(upstream=["events"], materialize=True)
        def daily_counts(spark, deps):
            return deps["events"].groupBy(
                F.to_date("ts").alias("day"), "event_type"
            ).agg(F.count(F.lit(1)).alias("n"))

        @g.node(upstream=["events"], unique_on=self.KEYS, order_by=["ts", "event_id"])
        def batch_latest(spark, deps):
            return deps["events"].select("event_id", "ts", "user_id", "event_type", "value")

        return g

    def reset(self) -> None:
        for d in ("landing", "out", "log"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)
        os.makedirs(os.path.join(self.work, "landing"))
        self.log = TableLog(os.path.join(self.work, "log"))

    def end_pass(self, spark) -> tuple[int, list[str]]:
        """Exactly-once checks of the whole pass: the upserted snapshot,
        the merged table and the appended counts against a one-shot
        computation over every generated event. Returns (checks made,
        problems found)."""
        out = os.path.join(self.work, "out")
        problems = []
        users = spark.read.parquet(os.path.join(out, "user_latest")).toPandas()
        if not _canon(users, ["user_id"]).equals(self.want_users):
            problems.append("user_latest snapshot differs from latest-by-key over all events")
        log = self.log.read(spark).toPandas()
        if not _canon(log, self.KEYS).equals(self.want_log):
            problems.append("TableLog latest version differs from the merged expectation")
        daily = spark.read.parquet(os.path.join(out, "daily_counts")).toPandas()
        got = Counter()
        for day, etype, n in zip(daily["day"], daily["event_type"], daily["n"]):
            got[(pd.Timestamp(day).value // 86_400_000_000_000, etype)] += int(n)
        if got != self.want_daily:
            problems.append("daily_counts appends are not exactly-once")
        return 3, problems


class BatchOp:
    def __init__(self, wl: PipelineWorkload, b: int) -> None:
        self.wl, self.b, self.name = wl, b, f"batch_{b}"

    def __call__(self, spark, tr) -> bool:
        wl = self.wl
        for f in wl.batch_files[self.b]:
            shutil.copyfile(f, os.path.join(wl.work, "landing", os.path.basename(f)))
        with tr.span("graph.run"):
            nodes = wl.graph.run(spark, os.path.join(wl.work, "out"), incremental=True)
        with tr.span("tablelog.merge"):
            wl.log.merge(spark, nodes["batch_latest"], wl.KEYS)
        with tr.span("tablelog.read"):
            n = wl.log.read(spark).count()
        tr.count("batch_rows", wl.batch_rows[self.b])
        tr.count("batch_bytes", wl.batch_bytes[self.b])
        tr.count("snapshot_files", len(wl.log.snapshot()["files"]))
        return n == wl.keys_after[self.b]


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: a seeded hash split of event ids."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _canon(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    df = df.copy()
    if not pd.api.types.is_integer_dtype(df["ts"]):
        df["ts"] = df["ts"].astype("datetime64[us]").astype("int64")
    cols = sorted(df.columns)
    return df[cols].sort_values(keys).reset_index(drop=True)


# Sizes: each op of a pass takes about 0.2-2 s warm on local[4], so a
# pass is a few seconds and a run holds several passes.
WORKLOADS = {
    # Graph + latest_by_key + TableLog: identity and write path, no
    # Python kernels.
    "pipeline_incremental": lambda: PipelineWorkload(
        Sizes(events=120_000, users=24_000), batches=3
    ),
    # Python/Arrow kernels of operators/similarity|dedup|textops and
    # the eager localCheckpoint plan builds; no JVM-only keys.
    "llm_curation": lambda: QueryWorkload(
        (
            "sim_search_topk", "sim_pairwise_l2", "sim_knn_hubness", "sim_ann_lsh_topk",
            "dedup_minhash_banded", "dedup_fuzzy_minhash", "text_pipeline_clean",
        ),
        Sizes(documents=1000, embeddings=500),
    ),
    # Parquet scan, whole-stage codegen and shuffle, no Python workers:
    # bypasses every kernel change, moves with session.tune() and plan
    # shape. Runnable by name but not listed in BENCHMARK.json: with it,
    # 4 + 22 x 3 runs need about 4000 s on a loaded 4-vCPU box, over the
    # 3420 s the whole benchmark may take.
    "analytics_scan": lambda: QueryWorkload(
        (
            "agg_pricing_summary", "join_star_multiway", "tpch_q3_shipping",
            "tpch_q10_returns", "win_topk_per_group", "win_session_batch",
        ),
        Sizes(customers=15_000, suppliers=1_000, parts=20_000, orders=150_000,
              events=100_000, users=1_500),
    ),
}
