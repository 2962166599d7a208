"""Transactional contract tests for the log-structured table format
(dags_spark/tablelog.py): optimistic-concurrency conflicts, commit
atomicity, snapshot immutability, and orphan-file invisibility."""

from __future__ import annotations

import os

import pytest

from dags_spark.tablelog import CommitConflict, TableLog, tmp_table

from .conftest import count_jobs


def test_version_chain_and_time_travel(spark):
    t = tmp_table()
    v1 = t.write(spark.range(10), mode="overwrite")
    v2 = t.write(spark.range(10, 15), mode="append")
    v3 = t.write(spark.range(100, 103), mode="overwrite")
    assert (v1, v2, v3) == (1, 2, 3)
    assert t.read(spark, 1).count() == 10
    assert t.read(spark, 2).count() == 15
    assert t.read(spark, 3).count() == 3
    assert t.read(spark).count() == 3  # latest
    # v1's snapshot is untouched by later commits
    assert sorted(r.id for r in t.read(spark, 1).collect()) == list(range(10))


def test_commit_conflict_on_version_race(spark):
    t = tmp_table()
    t.write(spark.range(5), mode="overwrite")
    # simulate a concurrent writer claiming version 2 between our
    # snapshot resolution and publish: pre-create the version file.
    t._publish(2, {"version": 2, "mode": "append", "files": t.snapshot()["files"]})
    with pytest.raises(CommitConflict, match="version 2"):
        t._publish(2, {"version": 2, "mode": "append", "files": []})
    # the losing writer rebases: a fresh write() sees version 2 as
    # the base and lands as version 3
    assert t.write(spark.range(5, 8), mode="append") == 3
    assert t.read(spark).count() == 8


def test_orphan_files_are_invisible(spark):
    t = tmp_table()
    t.write(spark.range(7), mode="overwrite")
    # a crashed writer's data file: present in the directory, never
    # committed to the log -> readers must not see it
    spark.range(1000, 2000).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(t.path, "orphan_stage")
    )
    part = [
        f
        for f in os.listdir(os.path.join(t.path, "orphan_stage"))
        if f.endswith(".parquet")
    ][0]
    os.rename(
        os.path.join(t.path, "orphan_stage", part),
        os.path.join(t.path, "part-orphan.parquet"),
    )
    assert t.read(spark).count() == 7  # snapshot ignores the orphan


def test_no_partial_commit_visible(spark):
    t = tmp_table()
    t.write(spark.range(4), mode="overwrite")
    # a staged-but-unpublished log entry (writer died before rename)
    # must not advance the version
    tmp = os.path.join(t.log_dir, ".tmp-crashed.json")
    with open(tmp, "w") as fh:
        fh.write('{"version": 2, "mode": "append", "files": []}')
    assert t.latest_version() == 1
    assert t.read(spark).count() == 4


def test_empty_table_read_raises(spark):
    t = tmp_table()
    with pytest.raises(ValueError, match="empty"):
        t.read(spark)


def test_compaction_preserves_content_and_history(spark):
    t = tmp_table()
    for lo in range(0, 40, 10):  # 4 append commits -> many files
        t.write(spark.range(lo, lo + 10), mode="append")
    before = sorted(r.id for r in t.read(spark).collect())
    n_files_before = len(t.snapshot()["files"])
    v = t.compact(spark, target_files=1)
    assert v == 5
    assert len(t.snapshot()["files"]) == 1 < n_files_before
    assert sorted(r.id for r in t.read(spark).collect()) == before
    # pre-compaction versions still read their original layout
    assert t.read(spark, 4).count() == 40
    assert t.read(spark, 1).count() == 10


def test_merge_upsert_and_time_travel(spark):
    """merge() updates matched keys, inserts unmatched, bumps one
    version, and prior versions still read the pre-merge rows."""
    t = tmp_table()
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k INT, s STRING, v DOUBLE"
    )
    assert t.write(base, mode="overwrite") == 1
    batch = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k INT, s STRING, v DOUBLE"
    )
    assert t.merge(spark, batch, keys=["k"]) == 2
    got = {r["k"]: (r["s"], r["v"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    # time travel: v1 is untouched
    v1 = {r["k"]: r["v"] for r in t.read(spark, version=1).collect()}
    assert v1 == {1: 10.0, 2: 20.0, 3: 30.0}
    # merge into an empty table is a plain keyed insert
    t2 = tmp_table()
    assert t2.merge(spark, batch, keys=["k"]) == 1
    assert t2.read(spark).count() == 2


def test_merge_race_conflicts_then_rebases(spark):
    """Deterministic two-writer race: both compute against base v1;
    the loser's commit raises exactly one CommitConflict, and the
    rebase (recompute against the winner's snapshot) produces the
    same rows as the two merges applied serially."""
    t = tmp_table()
    base = spark.createDataFrame(
        [(1, 100.0), (2, 200.0)], "k INT, v DOUBLE"
    )
    t.write(base, mode="overwrite")  # v1
    batch_a = spark.createDataFrame([(1, 111.0), (3, 300.0)], "k INT, v DOUBLE")
    batch_b = spark.createDataFrame([(2, 222.0), (4, 400.0)], "k INT, v DOUBLE")

    # writer B lands first (against v1) -> v2
    assert t.merge(spark, batch_b, keys=["k"], base_version=1) == 2
    # writer A pinned to the now-stale v1: must conflict, not corrupt
    with pytest.raises(CommitConflict):
        t.merge(spark, batch_a, keys=["k"], base_version=1)
    # the failed commit left no visible change
    assert t.latest_version() == 2
    got_v2 = {r["k"]: r["v"] for r in t.read(spark, version=2).collect()}
    assert got_v2 == {1: 100.0, 2: 222.0, 4: 400.0}
    # rebase: recompute against the current snapshot -> v3, serial result
    assert t.merge(spark, batch_a, keys=["k"]) == 3
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: 111.0, 2: 222.0, 3: 300.0, 4: 400.0}


def test_delete_removes_keys_and_preserves_history(spark):
    t = tmp_table()
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], "k INT, v DOUBLE"
    )
    t.write(base, mode="overwrite")
    doomed = spark.createDataFrame([(2,), (4,), (99,)], "k INT")
    assert t.delete(spark, doomed, keys=["k"]) == 2
    assert {r["k"] for r in t.read(spark).collect()} == {1, 3}
    # history intact; conflicting delete against the stale base fails
    assert {r["k"] for r in t.read(spark, version=1).collect()} == {1, 2, 3, 4}
    with pytest.raises(CommitConflict):
        t.delete(spark, doomed, keys=["k"], base_version=1)


def test_vacuum_reclaims_orphans_and_expires_history(spark):
    t = tmp_table()
    a = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k INT, v DOUBLE")
    b = spark.createDataFrame([(3, 30.0), (4, 40.0)], "k INT, v DOUBLE")
    t.write(a, mode="overwrite")  # v1
    t.write(b, mode="overwrite")  # v2 — v1's files now unreferenced
    t.write(a, mode="append")  # v3 = b + a
    stats = t.vacuum(retain_last=2)  # keep v2, v3
    # v1's files are physically gone, its log entry expired
    assert stats["removed_data_files"] >= 1
    assert stats["removed_log_entries"] == 1
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=1)
    # the whole retained window still reads intact (v2 shares files
    # with v3, so deletion must respect the UNION of retained lists)
    assert {r["k"] for r in t.read(spark, version=2).collect()} == {3, 4}
    assert {r["k"] for r in t.read(spark, version=3).collect()} == {1, 2, 3, 4}
    # directory holds exactly the retained files — nothing leaked
    on_disk = {f for f in os.listdir(t.path) if f.endswith(".parquet")}
    retained = set(t.snapshot(2)["files"]) | set(t.snapshot(3)["files"])
    assert on_disk == retained
    # idempotent: a second vacuum finds nothing to do
    again = t.vacuum(retain_last=2)
    assert again["removed_data_files"] == 0
    assert again["removed_log_entries"] == 0


def test_vacuum_preserves_dv_sidecars_of_retained_snapshots(spark):
    """vacuum() must treat DV sidecars referenced by retained
    merge-on-read snapshots as live: deleting them would silently
    resurrect the deleted rows in the retained snapshot."""
    t = tmp_table()
    t.write(spark.range(20).selectExpr("id AS k", "id*2 AS v"), "overwrite")
    t.write(spark.range(20, 30).selectExpr("id AS k", "id*2 AS v"), "append")
    doomed = spark.range(0, 20, 2).selectExpr("id AS k")
    t.delete_mor(spark, doomed, ["k"])  # v3, latest
    before = {r["k"] for r in t.read(spark).collect()}
    assert len(before) == 20  # 30 - 10 masked
    stats = t.vacuum(retain_last=1)  # only v3 retained
    assert stats["removed_log_entries"] == 2
    # the DV sidecar survived and the masked read is unchanged
    assert any(f.startswith("dv-") for f in os.listdir(t.path))
    assert {r["k"] for r in t.read(spark).collect()} == before


def test_mor_delete_scopes_to_stamped_files_reinsert_survives(spark):
    """A DV masks only the files it was stamped against: a row
    appended AFTER the delete that reuses a deleted key is a genuine
    re-insert and must survive the masked read."""
    t = tmp_table()
    t.write(spark.range(10).selectExpr("id AS k", "id AS v"), "overwrite")
    t.delete_mor(spark, spark.createDataFrame([(3,), (7,)], "k INT"), ["k"])
    assert {r["k"] for r in t.read(spark).collect()} == set(range(10)) - {3, 7}
    # re-insert key 3 with a new value via append
    t.write(spark.createDataFrame([(3, 999)], "k INT, v INT"), "append")
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[3] == 999  # re-insert visible
    assert 7 not in got  # older delete still masks the old file
    # a second MOR delete generation scopes independently
    t.delete_mor(spark, spark.createDataFrame([(1,)], "k INT"), ["k"])
    got2 = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert 1 not in got2 and got2[3] == 999


def test_merge_rejects_duplicate_batch_keys(spark):
    """merge() raises on duplicate source keys instead of letting the
    shuffle pick an arbitrary survivor (Delta MERGE's contract), on the
    empty and the non-empty base alike, and the rejected merge leaves
    nothing behind: no version, no staging dir, no unreferenced file."""
    full = tmp_table()
    full.write(spark.createDataFrame([(1, 10.0)], "k INT, v DOUBLE"), "overwrite")
    dup = spark.createDataFrame([(2, 1.0), (2, 2.0), (3, 3.0)], "k INT, v DOUBLE")
    for t in (full, tmp_table()):
        before = t.latest_version()
        with pytest.raises(ValueError, match="duplicate keys"):
            t.merge(spark, dup, keys=["k"])
        assert t.latest_version() == before
        assert not [f for f in os.listdir(t.path) if f.startswith("stage-")]
        parts = {f for f in os.listdir(t.path) if f.startswith("part-")}
        assert parts == set(t.snapshot()["files"])
    # a key duplicated only ACROSS base and batch is the normal upsert
    assert full.merge(spark, dup.filter("v != 1.0"), keys=["k"]) == 2


def test_schema_stamp_pins_reads_and_falls_back(spark):
    """Commits whose files share one schema record it and read() pins
    it; an append that changes the schema drops the stamp (reads infer
    again, merge_schema still widens), a merge-on-read delete keeps its
    base's stamp, and a legacy entry without one reads as before."""
    import json

    from pyspark.sql.types import StructType

    t = tmp_table()
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k INT, s STRING"), "overwrite")
    t.write(spark.createDataFrame([(3, "c")], "k INT, s STRING"), "append")
    stamp = t.snapshot()["schema"]
    assert StructType.fromJson(stamp) == t.read(spark).schema
    t.delete_mor(spark, spark.createDataFrame([(2,)], "k INT"), ["k"])
    assert t.snapshot()["schema"] == stamp
    assert {r["k"] for r in t.read(spark).collect()} == {1, 3}

    # legacy entry: the same commit with its stamp removed
    t.write(spark.createDataFrame([(4, "d")], "k INT, s STRING"), "overwrite")
    rows = sorted(t.read(spark).collect())
    path = t._version_file(t.latest_version())
    with open(path) as fh:
        entry = json.load(fh)
    del entry["schema"]
    with open(path, "w") as fh:
        json.dump(entry, fh)
    assert sorted(t.read(spark).collect()) == rows

    e = tmp_table()
    e.write(spark.createDataFrame([(1, "a")], "k INT, s STRING"), "overwrite")
    e.write(spark.createDataFrame([(2, "b", 2.5)], "k INT, s STRING, x DOUBLE"), "append")
    assert "schema" not in e.snapshot()
    wide = e.read(spark, merge_schema=True)
    assert wide.columns == ["k", "s", "x"]
    assert {r["k"]: r["x"] for r in wide.collect()} == {1: None, 2: 2.5}


def test_snapshot_read_launches_no_job(spark):
    """A stamped snapshot read resolves its schema from the log: no
    Spark job runs before the caller's action, for a written and for a
    merged version (merge's own base read goes through the same path)."""
    t = tmp_table()
    t.write(spark.range(50).selectExpr("id AS k", "id * 2 AS v"), "overwrite")
    t.merge(spark, spark.range(40, 60).selectExpr("id AS k", "id AS v"), ["k"])
    for v in (1, 2):
        with count_jobs(spark) as jobs:
            df = t.read(spark, version=v)
        assert jobs.n == 0
        assert df.count() == (50 if v == 1 else 60)


def test_delta_export_action_level_protocol(spark):
    """Spec-conformance of export_delta_log, action by action (the
    sandbox has no third-party Delta reader, so the PROTOCOL.md
    contract is pinned here): version files are contiguous 20-digit
    names, v0 leads with protocol(1,2) + metaData carrying the
    parquet format and a parseable schemaString, adds carry
    path/partitionValues/size/modificationTime/dataChange, a
    compaction emits removes for every swapped file, and replay
    equals the tablelog snapshot."""
    import json

    from pyspark.sql.types import StructType

    from dags_spark.tablelog import replay_delta_log

    t = tmp_table()
    t.write(spark.range(100).selectExpr("id AS k", "id * 2 AS v"), "overwrite")
    t.write(spark.range(100, 150).selectExpr("id AS k", "id * 2 AS v"), "append")
    v1_files = set(t.snapshot()["files"])
    t.compact(spark, target_files=1)
    log_dir = t.export_delta_log(t.read(spark).schema.json())

    names = sorted(os.listdir(log_dir))
    assert names == [f"{i:020d}.json" for i in range(3)]
    v0 = [json.loads(l) for l in open(os.path.join(log_dir, names[0]))]
    assert v0[0]["protocol"] == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = v0[1]["metaData"]
    assert meta["format"]["provider"] == "parquet"
    assert meta["partitionColumns"] == []
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    assert [f.name for f in schema.fields] == ["k", "v"]
    for a in v0[2:]:
        add = a["add"]
        assert add["dataChange"] is True and add["size"] > 0
        assert add["partitionValues"] == {} and add["modificationTime"] > 0
        assert os.path.exists(os.path.join(t.path, add["path"]))
    # compaction version: every pre-compaction file is removed
    v2 = [json.loads(l) for l in open(os.path.join(log_dir, names[2]))]
    removed = {a["remove"]["path"] for a in v2 if "remove" in a}
    assert removed == v1_files
    # replay == snapshot, and content survives the round trip
    live = replay_delta_log(t.path)
    assert {os.path.basename(p) for p in live} == set(t.snapshot()["files"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(*live).collect()}
    assert got == {k: 2 * k for k in range(150)}


def test_delta_export_refuses_deletion_vectors(spark):
    """A v1 reader served a DV table would see phantom rows — the
    export must refuse instead."""
    t = tmp_table()
    t.write(spark.range(10).selectExpr("id AS k", "id AS v"), "overwrite")
    t.delete_mor(spark, spark.createDataFrame([(3,)], "k INT"), ["k"])
    with pytest.raises(ValueError, match="minReaderVersion 3"):
        t.export_delta_log(t.read(spark).schema.json())


def test_iceberg_export_spec_conformance(spark):
    """Iceberg v2 metadata, field by field (no third-party engine in
    the sandbox — probe recorded): metadata.json carries
    format-version 2 / field-id'd schema / snapshot list with
    manifest-list pointers; the manifest list is a valid Avro
    container whose records carry the spec's 5xx field ids and
    added/existing counts; manifests carry manifest_entry records
    with the v2 data_file struct and correct ADDED/EXISTING statuses;
    replay at an old snapshot id time-travels."""
    import json

    import pyarrow.parquet as pq

    from dags_spark.operators.avroio import read_container
    from dags_spark.operators.icebergmeta import export_iceberg, replay_iceberg

    t = tmp_table()
    t.write(spark.range(100).selectExpr("id AS k", "id * 3 AS v"), "overwrite")
    v1_files = list(t.snapshot()["files"])
    t.write(spark.range(100, 160).selectExpr("id AS k", "id * 3 AS v"), "append")
    counts = {
        f: pq.ParquetFile(os.path.join(t.path, f)).metadata.num_rows
        for f in t.snapshot()["files"]
    }
    fields = [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]
    meta_dir = export_iceberg(t, fields, counts)

    meta = json.load(open(os.path.join(meta_dir, "v1.metadata.json")))
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == 2
    assert meta["schemas"][0]["fields"][0] == {
        "id": 1, "name": "k", "required": False, "type": "long",
    }
    assert len(meta["snapshots"]) == 2
    assert meta["snapshots"][0]["summary"]["operation"] == "overwrite"
    assert meta["snapshots"][1]["summary"]["operation"] == "append"

    # manifest list of snapshot 2: avro container, 5xx field ids
    wschema, mlist = read_container(
        open(meta["snapshots"][1]["manifest-list"], "rb").read()
    )
    ids = {f["name"]: f.get("field-id") for f in wschema["fields"]}
    assert ids["manifest_path"] == 500 and ids["added_snapshot_id"] == 503
    (m,) = mlist
    assert m["content"] == 0 and m["partition_spec_id"] == 0
    n_appended = sum(counts[f] for f in t.snapshot()["files"] if f not in v1_files)
    assert m["added_rows_count"] == n_appended == 60
    assert m["existing_rows_count"] == 100

    # manifest entries: statuses split added vs existing
    _, entries = read_container(open(m["manifest_path"], "rb").read())
    by_status = {0: 0, 1: 0}
    for e in entries:
        by_status[e["status"]] += 1
        df = e["data_file"]
        assert df["file_format"] == "PARQUET" and df["content"] == 0
        assert df["record_count"] > 0 and df["file_size_in_bytes"] > 0
        assert os.path.exists(df["file_path"])
    assert by_status[1] > 0 and by_status[0] == len(v1_files)

    # scan planning: current == full table, snapshot 1 time-travels
    got = {r["k"] for r in spark.read.parquet(*replay_iceberg(t.path)).collect()}
    assert got == set(range(160))
    got1 = {
        r["k"]
        for r in spark.read.parquet(*replay_iceberg(t.path, snapshot_id=1)).collect()
    }
    assert got1 == set(range(100))


def test_iceberg_export_refuses_deletion_vectors(spark):
    from dags_spark.operators.icebergmeta import export_iceberg

    t = tmp_table()
    t.write(spark.range(10).selectExpr("id AS k", "id AS v"), "overwrite")
    t.delete_mor(spark, spark.createDataFrame([(3,)], "k INT"), ["k"])
    with pytest.raises(ValueError, match="delete manifests"):
        export_iceberg(t, [{"id": 1, "name": "k", "required": False, "type": "long"}], {})


def test_delta_checkpoint_protocol(spark):
    """PROTOCOL.md checkpoint contract: the checkpoint parquet leads
    with protocol+metaData rows, carries one add row per LIVE file at
    the checkpoint version (tombstones omitted, dataChange=false),
    `_last_checkpoint` points at it with the action count, the
    checkpoint-aware replay equals the full-log replay, and loud
    failures fire for a missing pointer and an unsupported reader
    version."""
    import json
    import os

    import pyarrow.parquet as pq
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dags_spark.tablelog import (
        replay_delta_from_checkpoint,
        replay_delta_log,
        tmp_table,
    )

    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    t = tmp_table()
    t.write(df.filter(F.col("k") < 20), mode="overwrite")
    t.write(df.filter(F.col("k") >= 20), mode="append")
    t.compact(spark, target_files=1)
    t.write(df.filter(F.col("k") < 5), mode="append")
    t.export_delta_log(t.read(spark).schema.json())

    # checkpoint at the compaction (delta v2); one commit follows
    cp = t.export_delta_checkpoint(2)
    rows = pq.read_table(cp).to_pylist()
    assert rows[0]["protocol"]["minReaderVersion"] == 1
    assert rows[1]["metaData"]["format"]["provider"] == "parquet"
    adds = [r["add"] for r in rows[2:]]
    assert all(a is not None and a["dataChange"] is False for a in adds)
    # live set at v2 = the compacted layout, NOT the later append
    snap_v3 = set(t.snapshot(3)["files"])  # tablelog v3 == delta v2
    assert {a["path"] for a in adds} == snap_v3
    with open(os.path.join(t.path, "_delta_log", "_last_checkpoint")) as fh:
        ptr = json.load(fh)
    assert ptr == {"version": 2, "size": 2 + len(adds)}

    assert replay_delta_from_checkpoint(t.path) == replay_delta_log(t.path)

    # loud failure: no pointer
    t2 = tmp_table()
    t2.write(df, mode="overwrite")
    t2.export_delta_log(t2.read(spark).schema.json())
    with _pytest.raises(FileNotFoundError):
        replay_delta_from_checkpoint(t2.path)

    # loud failure: future reader version in the checkpoint
    t2.export_delta_checkpoint(0)
    import pyarrow as pa

    cp2 = os.path.join(t2.path, "_delta_log", f"{0:020d}.checkpoint.parquet")
    tbl = pq.read_table(cp2)
    pl = tbl.to_pylist()
    pl[0]["protocol"]["minReaderVersion"] = 3
    pq.write_table(pa.Table.from_pylist(pl, schema=tbl.schema), cp2)
    with _pytest.raises(ValueError, match="reader version"):
        replay_delta_from_checkpoint(t2.path)
