"""A minimal log-structured table format — the transactional core of
a lakehouse table (Delta/Iceberg's skeleton) on nothing but parquet
files and atomic renames. No jars, no network: what the sandbox
allows, built for real.

Layout:

    <table>/
      _log/v000001.json     {"version":1,"mode":"overwrite","files":[...],
                             "schema":{StructType json}}
      _log/v000002.json     {"version":2,"mode":"append","files":[...]}
      part-....parquet      (immutable data files, never rewritten)

``schema`` is present only when every file of the snapshot was written
with it (an append with a different schema drops it; a merge-on-read
delete keeps its base's), and ``read()`` then passes it to the parquet
reader instead of inferring from footers. Entries without it (older
logs, mixed-schema snapshots) and ``read(merge_schema=True)`` infer.

Invariants (each carried by a specific mechanism):
- **Atomic commit**: a version file is staged under a temp name and
  published with ``os.rename`` — readers see a whole commit or none.
- **Optimistic concurrency**: the publish uses ``O_CREAT|O_EXCL``
  link semantics (rename onto an existing path is forbidden by an
  existence check inside a retry loop) — two writers racing for
  version N: one wins, the other gets ``CommitConflict`` and must
  rebase. This is exactly Delta's protocol shape.
- **Snapshot isolation / time travel**: a reader resolves a version
  to its file LIST and reads only those files — concurrent appends
  land new files plus new log entries, never touching committed ones
  (source_manifest_snapshot's guarantee, generalized to a version
  chain).
- **Append vs overwrite**: ``append`` commits reference the previous
  snapshot's files plus the new ones; ``overwrite`` starts fresh.
  The log entry stores the RESOLVED file list, so reads are one
  metadata file, never a chain walk.

At 100 TB the log is object-store metadata (a few KB per commit) and
the data files shard across the cluster — the reason this design
scales is that NOTHING here ever lists directories on the read path.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class CommitConflict(Exception):
    """Another writer committed this version first — rebase and retry."""


def _norm_dvs(snap: dict) -> list[dict]:
    """Normalize a snapshot's DV entries to ``{"name", "over"}`` dicts.
    Legacy entries (pre-scoping flat strings) carried no file list, so
    they are treated as key tombstones over every file in the snapshot
    — the old (documented-wrong) semantics, preserved only for logs
    written by old code."""
    out = []
    for d in snap.get("dvs") or []:
        if isinstance(d, str):
            out.append({"name": d, "over": list(snap["files"])})
        else:
            out.append(d)
    return out


class TableLog:
    def __init__(self, path: str) -> None:
        self.path = path
        self.log_dir = os.path.join(path, "_log")
        os.makedirs(self.log_dir, exist_ok=True)

    # -- log protocol --------------------------------------------------
    def _version_file(self, v: int) -> str:
        return os.path.join(self.log_dir, f"v{v:06d}.json")

    def latest_version(self) -> int:
        vs = [
            int(f[1:7])
            for f in os.listdir(self.log_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(vs, default=0)

    def snapshot(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        if v == 0:
            return {"version": 0, "mode": "empty", "files": []}
        with open(self._version_file(v)) as fh:
            return json.load(fh)

    def _publish(self, version: int, entry: dict) -> None:
        """Atomically publish a log entry for `version`; raise
        CommitConflict if that version already exists. O_EXCL makes
        the existence check and the claim one atomic operation —
        there is no window where two writers both pass a test."""
        target = self._version_file(version)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(entry, fh)
        try:
            # atomic claim: hard-link the staged file to the version
            # name; EEXIST == another writer won the race.
            os.link(tmp, target)
        except FileExistsError as e:
            raise CommitConflict(
                f"version {version} already committed; rebase on the new"
                " snapshot and retry"
            ) from e
        finally:
            os.unlink(tmp)

    def _commit(
        self, base: dict, mode: str, files: list[str], schema: dict | None, **extra
    ) -> int:
        """Publish version base+1 naming `files`, stamped with `schema`
        when every one of them was written with it."""
        version = base["version"] + 1
        entry = {"version": version, "mode": mode, "files": files, **extra}
        if schema is not None:
            entry["schema"] = schema
        self._publish(version, entry)
        return version

    def _stage(
        self,
        df: DataFrame,
        prefix: str = "part",
        check: Callable[[], None] | None = None,
    ) -> tuple[list[str], dict]:
        """Write df into a staging dir and move its parquet files into
        the table as ``<prefix>-<uuid>.parquet``; returns their names
        and the schema they were written with. The files stay invisible
        until a commit names them. ``check`` runs after the write and
        before any move: if it raises, nothing enters the table and the
        staging dir is removed either way."""
        staging = os.path.join(self.path, f"stage-{uuid.uuid4().hex}")
        try:
            df.write.mode("overwrite").parquet(staging)
            if check is not None:
                check()
            names = []
            for f in sorted(os.listdir(staging)):
                if f.endswith(".parquet"):
                    dst = f"{prefix}-{uuid.uuid4().hex}.parquet"
                    os.rename(os.path.join(staging, f), os.path.join(self.path, dst))
                    names.append(dst)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return names, df.schema.jsonValue()

    # -- write path ----------------------------------------------------
    def write(self, df: DataFrame, mode: str = "append") -> int:
        """Write df's rows as new immutable files + one log commit.
        Returns the committed version. Raises CommitConflict when a
        concurrent writer claimed the version first (caller rebases
        by simply calling write again — the data files are already
        safely on disk and unreferenced)."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unknown mode: {mode}")
        files, schema = self._stage(df)
        base = self.snapshot()
        if mode == "overwrite":
            return self._commit(base, mode, files, schema)
        if base["files"] and base.get("schema") != schema:
            schema = None  # the snapshot now mixes schemas: reads infer
        # merge-on-read deletes survive appends untouched: the DV
        # sidecars keep masking the files they were stamped for.
        dvs = {"dvs": base["dvs"], "dv_keys": base["dv_keys"]} if base.get("dvs") else {}
        return self._commit(base, mode, base["files"] + files, schema, **dvs)

    def merge(
        self,
        spark: SparkSession,
        df: DataFrame,
        keys: list[str],
        base_version: int | None = None,
    ) -> int:
        """MERGE (upsert) through the commit log: rows in `df` whose
        key matches an existing row REPLACE it; unmatched rows
        INSERT. Equivalent to SQL `MERGE ... WHEN MATCHED THEN UPDATE
        WHEN NOT MATCHED THEN INSERT` with the whole batch as source.

        Mechanics: snapshot the base, union base + batch with a
        provenance flag, keep one row per key preferring the batch
        (row_number over the flag), write the merged result as fresh
        immutable files, and commit mode="merge" referencing ONLY the
        new files (a merge rewrites the snapshot list, like
        overwrite; prior versions still time-travel to the old
        files). The commit is optimistic: if another writer claimed
        base_version+1 first, _publish raises CommitConflict and the
        caller rebases by calling merge() again — the recompute is
        REQUIRED (not just a version bump) because the merge result
        depends on the base snapshot's contents. `base_version` pins
        the read snapshot (tests use it to force a stale base).

        At 100 TB a full-snapshot rewrite per merge is the naive
        plan; real engines prune to touched files via min/max key
        stats. The log protocol here is what makes that optimization
        safe to add: the commit unit is a file LIST, so a pruned
        merge is the same transaction with a smaller rewrite set.
        """
        from pyspark.sql import Observation, Window, functions as F

        snap = self.snapshot(base_version)
        src = df.withColumn("__pri", F.lit(1))
        if snap["files"]:
            base = self.read(spark, version=snap["version"])
            src = base.withColumn("__pri", F.lit(0)).unionByName(src)
        # Duplicate source keys are rejected: with two batch rows for
        # one key the "keep the batch row" rule has no unique answer,
        # and the survivor would be whichever the shuffle ordered
        # first (Delta's MERGE raises on multiple source matches too).
        # __nb counts a key's batch rows on the merge's own window, and
        # the write observes its max — no second pass over the source.
        w = Window.partitionBy(*keys).orderBy(F.col("__pri").desc())
        whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        obs = Observation()
        merged = (
            src.select(
                "*",
                F.row_number().over(w).alias("__rn"),
                F.sum("__pri").over(whole).alias("__nb"),
            )
            .filter(F.col("__rn") == 1)
            .observe(obs, F.max("__nb").alias("nb"))
            .drop("__pri", "__rn", "__nb")
        )

        def reject_duplicates() -> None:
            if (obs.get["nb"] or 0) > 1:
                raise ValueError(
                    "merge source batch has duplicate keys for "
                    f"{keys}; dedupe upstream — the surviving row would be"
                    " arbitrary"
                )

        return self._commit(snap, "merge", *self._stage(merged, check=reject_duplicates))

    def delete(
        self,
        spark: SparkSession,
        df_keys: DataFrame,
        keys: list[str],
        base_version: int | None = None,
    ) -> int:
        """DELETE by key set through the commit log: rows whose key
        appears in `df_keys` vanish from the new snapshot (an
        anti-join rewrite — the copy-on-write half of deletion
        vectors: real engines would instead stamp a DV sidecar per
        touched file and leave data files in place; the commit unit
        is identical). Same optimistic concurrency as merge():
        compute against a base snapshot, commit base+1, raise
        CommitConflict to force a recompute-rebase if another writer
        got there first. Prior versions still time-travel to the
        deleted rows — deletion is a metadata event, not an erasure
        (VACUUM would be the erasure)."""
        snap = self.snapshot(base_version)
        if not snap["files"]:
            raise ValueError("nothing to delete from")
        remaining = self.read(spark, version=snap["version"]).join(
            df_keys.select(*keys).dropDuplicates(keys), on=keys, how="left_anti"
        )
        return self._commit(snap, "delete", *self._stage(remaining))

    def delete_mor(
        self,
        spark: SparkSession,
        df_keys: DataFrame,
        keys: list[str],
        base_version: int | None = None,
    ) -> int:
        """MERGE-ON-READ delete — the deletion-vector half that
        delete() documents by contrast: the matched keys are written
        as a DV SIDECAR parquet and the data files stay bit-for-bit
        in place; read() applies the DV anti-join at scan time.
        This is the write-cheap/read-taxed tradeoff real lakehouse
        formats expose (Delta DVs, Iceberg position deletes):
        deletes commit in O(deleted keys), and a later compact()
        naturally MATERIALIZES them (it rewrites from read(), which
        applies DVs) and drops the sidecars. Same optimistic
        versioning as every other commit.

        Each DV records the file list it was stamped against
        (``{"name": ..., "over": [...]}``), mirroring how Delta/
        Iceberg deletes are scoped per data file: read() applies a
        DV's anti-join ONLY to the files in its ``over`` list, so a
        row appended AFTER the delete that reuses a deleted key is a
        genuine re-insert and survives — the DV masks history, not
        the future."""
        snap = self.snapshot(base_version)
        if not snap["files"]:
            raise ValueError("nothing to delete from")
        if snap.get("dv_keys") not in (None, keys):
            raise ValueError("DV key columns must match prior DVs")
        names, _ = self._stage(
            df_keys.select(*keys).dropDuplicates(keys).coalesce(1), prefix="dv"
        )
        # scope the DV to the files it was stamped against — later
        # appends are outside its mask by construction
        dvs = [{"name": n, "over": list(snap["files"])} for n in names]
        # the data files are untouched, so the base's schema stamp holds
        return self._commit(
            snap, "delete-mor", snap["files"], snap.get("schema"),
            dvs=snap.get("dvs", []) + dvs, dv_keys=keys,
        )

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """OPTIMIZE: rewrite the current snapshot's many small files
        as `target_files` larger ones and commit the swap as a new
        version. Content is bit-identical (a pure file-layout
        transaction); previous versions keep referencing the old
        files, which stay on disk — time travel across a compaction
        works because data files are immutable and only the LIST
        changed. (A VACUUM that ages out unreferenced files is the
        companion operation; not needed in the sandbox.)"""
        snap = self.snapshot()
        if not snap["files"]:
            raise ValueError("nothing to compact")
        rewritten = self.read(spark).coalesce(target_files)
        return self._commit(snap, "compact", *self._stage(rewritten))

    def vacuum(self, retain_last: int = 1) -> dict:
        """VACUUM: physically delete data files that no snapshot in
        the retained window (the last `retain_last` versions)
        references, and expire the log entries of the aged-out
        versions. The erasure companion to compact()/delete() — both
        of those are metadata events that leave old files in place
        for time travel; vacuum is the operation that actually
        reclaims storage, and the one that BREAKS time travel beyond
        the retention window (reads of expired versions fail loudly
        on the missing log entry, never silently return partial
        data). Safe under the log protocol because the retained
        window is resolved from committed metadata only: a file is
        deleted iff no retained version's file LIST names it, so
        concurrent readers of retained versions are unaffected.
        Returns counts for audit."""
        latest = self.latest_version()
        if latest == 0:
            raise ValueError("nothing to vacuum")
        keep_from = max(1, latest - retain_last + 1)
        referenced: set[str] = set()
        for v in range(keep_from, latest + 1):
            snap = self.snapshot(v)
            referenced.update(snap["files"])
            # DV sidecars referenced by retained merge-on-read
            # snapshots are live metadata: deleting them would turn
            # the retained snapshot's masked read into an unmasked
            # one (silent resurrection of deleted rows).
            referenced.update(d["name"] for d in _norm_dvs(snap))
        removed_data = 0
        for f in os.listdir(self.path):
            if f.endswith(".parquet") and f not in referenced:
                os.unlink(os.path.join(self.path, f))
                removed_data += 1
        removed_logs = 0
        for v in range(1, keep_from):
            p = self._version_file(v)
            if os.path.exists(p):
                os.unlink(p)
                removed_logs += 1
        return {
            "removed_data_files": removed_data,
            "removed_log_entries": removed_logs,
            "retained_from": keep_from,
        }

    # -- read path -----------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Snapshot read: exactly the committed file list of the
        requested version (latest by default). Zero directory
        listing; uncommitted/orphaned data files are invisible.
        merge_schema=True unions the file schemas (parquet
        mergeSchema), so a table whose later commits ADDED columns
        reads as the widened schema with nulls backfilled — the
        additive half of schema evolution; type changes still fail
        loudly, as they should.

        Merge-on-read deletes apply PER FILE GROUP: snapshot files
        are grouped by the set of DVs whose ``over`` list names them
        (files appended after a delete are in no DV's scope and read
        unmasked), each group anti-joins only its own DVs, and the
        groups union back. Group count is bounded by the number of
        distinct delete generations — commit-metadata scale, never
        row scale."""
        snap = self.snapshot(version)
        if not snap["files"]:
            raise ValueError(f"version {snap['version']} is empty")
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        elif snap.get("schema"):
            # every file was written with this schema: pinning it skips
            # Spark's footer-inference job
            reader = reader.schema(StructType.fromJson(snap["schema"]))
        dvs = _norm_dvs(snap)
        if not dvs:
            paths = [os.path.join(self.path, f) for f in snap["files"]]
            return reader.parquet(*paths)
        scopes = [(d["name"], set(d["over"])) for d in dvs]
        groups: dict[tuple, list[str]] = {}
        for f in snap["files"]:
            cover = tuple(n for n, over in scopes if f in over)
            groups.setdefault(cover, []).append(f)
        parts = []
        for cover, files in groups.items():
            part = reader.parquet(
                *[os.path.join(self.path, f) for f in files]
            )
            if cover:
                dv = spark.read.parquet(
                    *[os.path.join(self.path, n) for n in cover]
                ).dropDuplicates(snap["dv_keys"])
                part = part.join(dv, on=snap["dv_keys"], how="left_anti")
            parts.append(part)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=merge_schema)
        return df


    # -- external interop -----------------------------------------------
    def export_delta_log(self, schema_json: str) -> str:
        """Emit a Delta-Lake-protocol ``_delta_log`` for this table so
        an EXTERNAL Delta reader can consume it (the delta.io
        PROTOCOL.md commit-log shape, public spec): tablelog version
        N becomes Delta version N-1 as newline-delimited JSON
        actions — version 0 carries ``protocol`` (minReader 1 /
        minWriter 2) + ``metaData`` (table id, parquet format,
        schemaString, no partition columns); every version carries
        ``add`` actions for files entering the snapshot and
        ``remove`` actions for files leaving it (append => adds
        only; overwrite/compact => removes + adds), with size and
        modificationTime from the immutable data files. Snapshot
        reconstruction is therefore the standard add/remove set
        reconciliation — exactly what delta-rs / Delta Spark /
        DuckDB's delta_scan replay.

        MOR deletion-vector tables are refused loudly: DVs need
        minReaderVersion 3 + the deletionVectors reader feature, and
        emitting a v1 log that silently ignores them would serve
        phantom rows to an external reader.

        Sandbox probe (recorded r8): no third-party Delta reader is
        installable here (duckdb `INSTALL delta` needs the network,
        `deltalake`/`delta-spark` are absent, no connector jars), so
        external readability is certified against the spec by
        `replay_delta_log` below plus tests/test_tablelog.py's
        action-level protocol assertions instead of a live foreign
        engine."""
        snap = self.snapshot()
        if snap.get("dvs"):
            raise ValueError(
                "deletion-vector tables need minReaderVersion 3 —"
                " compact() the DVs away before exporting a v1 log"
            )
        log_dir = os.path.join(self.path, "_delta_log")
        os.makedirs(log_dir, exist_ok=True)

        def file_action(name: str) -> dict:
            st = os.stat(os.path.join(self.path, name))
            return {
                "path": name,
                "partitionValues": {},
                "size": st.st_size,
                "modificationTime": int(st.st_mtime * 1000),
                "dataChange": True,
            }

        prev: list[str] = []
        for v in range(1, self.latest_version() + 1):
            cur = self.snapshot(v)["files"]
            actions: list[dict] = []
            if v == 1:
                actions.append(
                    {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
                )
                actions.append(
                    {
                        "metaData": {
                            "id": uuid.uuid4().hex,
                            "format": {"provider": "parquet", "options": {}},
                            "schemaString": schema_json,
                            "partitionColumns": [],
                            "configuration": {},
                        }
                    }
                )
            prev_set = set(prev)
            cur_set = set(cur)
            for name in prev:
                if name not in cur_set:
                    st = os.stat(os.path.join(self.path, name))
                    actions.append(
                        {
                            "remove": {
                                "path": name,
                                "deletionTimestamp": int(st.st_mtime * 1000),
                                "dataChange": True,
                            }
                        }
                    )
            for name in cur:
                if name not in prev_set:
                    actions.append({"add": file_action(name)})
            with open(os.path.join(log_dir, f"{v - 1:020d}.json"), "w") as fh:
                fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
            prev = cur
        return log_dir


    def export_delta_checkpoint(self, checkpoint_version: int) -> str:
        """Emit a Delta-protocol CHECKPOINT for the exported log
        (PROTOCOL.md "Checkpoints"): a parquet file
        ``<v>.checkpoint.parquet`` holding the reconstructed state at
        Delta version v — one row per action with one struct column
        per action type (protocol, metaData, add; removes are
        tombstones a fresh checkpoint does not need to carry) — plus
        the ``_last_checkpoint`` JSON pointer readers consult first.
        Checkpoints exist so a reader's state reconstruction is
        O(commits since checkpoint), not O(all commits) — on a 100 TB
        table with thousands of commits this is the difference
        between reading one parquet file + a handful of JSONs and
        replaying years of history. Requires export_delta_log to
        have run (reads the JSON commits it wrote, not tablelog's
        own metadata, so the checkpoint certifies the exported log).
        """
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        log_dir = os.path.join(self.path, "_delta_log")
        live: dict[str, dict] = {}
        protocol = meta = None
        for v in range(checkpoint_version + 1):
            with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    action = json.loads(line)
                    if "protocol" in action:
                        protocol = action["protocol"]
                    elif "metaData" in action:
                        meta = action["metaData"]
                    elif "add" in action:
                        live[action["add"]["path"]] = action["add"]
                    elif "remove" in action:
                        live.pop(action["remove"]["path"], None)
        if protocol is None or meta is None:
            raise ValueError("log lacks protocol/metaData before checkpoint")
        adds = [live[p] for p in sorted(live)]
        n = 2 + len(adds)
        proto_col = [protocol] + [None] * (n - 1)
        meta_col = [None, {
            "id": meta["id"],
            "format": {"provider": meta["format"]["provider"]},
            "schemaString": meta["schemaString"],
            "partitionColumns": meta["partitionColumns"],
        }] + [None] * (n - 2)
        add_col = [None, None] + [
            {
                "path": a["path"],
                "partitionValues": a.get("partitionValues", {}),
                "size": a["size"],
                "modificationTime": a["modificationTime"],
                "dataChange": False,
            }
            for a in adds
        ]
        schema = pa.schema(
            [
                pa.field("protocol", pa.struct(
                    [("minReaderVersion", pa.int32()),
                     ("minWriterVersion", pa.int32())])),
                pa.field("metaData", pa.struct(
                    [("id", pa.string()),
                     ("format", pa.struct([("provider", pa.string())])),
                     ("schemaString", pa.string()),
                     ("partitionColumns", pa.list_(pa.string()))])),
                pa.field("add", pa.struct(
                    [("path", pa.string()),
                     ("partitionValues",
                      pa.map_(pa.string(), pa.string())),
                     ("size", pa.int64()),
                     ("modificationTime", pa.int64()),
                     ("dataChange", pa.bool_())])),
            ]
        )
        tbl = pa.Table.from_pydict(
            {"protocol": proto_col, "metaData": meta_col, "add": add_col},
            schema=schema,
        )
        cp_path = os.path.join(
            log_dir, f"{checkpoint_version:020d}.checkpoint.parquet"
        )
        pq.write_table(tbl, cp_path)
        with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
            json.dump({"version": checkpoint_version, "size": n}, fh)
        return cp_path


def replay_delta_from_checkpoint(table_path: str) -> list[str]:
    """The checkpoint-aware reader walk from PROTOCOL.md: read
    ``_last_checkpoint``, load the state from the checkpoint parquet
    (NOT the JSON commits it summarizes), then apply only the JSON
    commits after it. Independent of TableLog's own metadata; raises
    loudly when the pointer or checkpoint file is missing, or a
    post-checkpoint commit is absent."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    log_dir = os.path.join(table_path, "_delta_log")
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        ptr = json.load(fh)
    cp_v = int(ptr["version"])
    tbl = pq.read_table(
        os.path.join(log_dir, f"{cp_v:020d}.checkpoint.parquet")
    ).to_pylist()
    live: set[str] = set()
    saw_protocol = saw_meta = False
    for row in tbl:
        if row.get("protocol"):
            saw_protocol = True
            if row["protocol"]["minReaderVersion"] > 1:
                raise ValueError("reader version unsupported")
        elif row.get("metaData"):
            saw_meta = True
        elif row.get("add"):
            live.add(row["add"]["path"])
    if not (saw_protocol and saw_meta):
        raise ValueError("checkpoint missing protocol/metaData rows")
    v = cp_v + 1
    while os.path.exists(os.path.join(log_dir, f"{v:020d}.json")):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    live.add(action["add"]["path"])
                elif "remove" in action:
                    live.discard(action["remove"]["path"])
        v += 1
    return sorted(os.path.join(table_path, p) for p in live)


def replay_delta_log(table_path: str) -> list[str]:
    """From-spec Delta commit-log replay (the reader half of
    PROTOCOL.md's state reconstruction, independent of TableLog's own
    metadata): walk ``_delta_log/*.json`` in version order, apply
    ``add``/``remove`` path set reconciliation, and return the live
    data-file paths. Versions must be contiguous from 0 — a gap means
    an incomplete log and raises, like any compliant reader."""
    log_dir = os.path.join(table_path, "_delta_log")
    versions = sorted(
        int(f[:-5]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    if versions != list(range(len(versions))):
        raise ValueError(f"non-contiguous delta log versions: {versions}")
    live: set[str] = set()
    saw_protocol = saw_meta = False
    for v in versions:
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    saw_protocol = True
                    if action["protocol"]["minReaderVersion"] > 1:
                        raise ValueError("reader version unsupported")
                elif "metaData" in action:
                    saw_meta = True
                elif "add" in action:
                    live.add(action["add"]["path"])
                elif "remove" in action:
                    live.discard(action["remove"]["path"])
    if not (saw_protocol and saw_meta):
        raise ValueError("delta log missing protocol/metaData actions")
    return sorted(os.path.join(table_path, p) for p in live)


def tmp_table(prefix: str = "dags_tablelog_") -> TableLog:
    return TableLog(tempfile.mkdtemp(prefix=prefix))
