"""Structural conformance of the snapshot layer's Iceberg-v2 metadata
against the published table-spec fields (iceberg.apache.org/spec/).
JSON serialization of manifests is a disclosed deviation (no Avro/
Iceberg runtime in the sandbox); FIELD names/structure are the spec's.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from ophois_spark.plans.snapshots import SnapshotLog

# Required top-level v2 table-metadata fields, per the published spec.
V2_REQUIRED = {
    "format-version",
    "table-uuid",
    "location",
    "last-sequence-number",
    "last-updated-ms",
    "last-column-id",
    "current-schema-id",
    "schemas",
    "default-spec-id",
    "partition-specs",
    "last-partition-id",
    "default-sort-order-id",
    "sort-orders",
    "current-snapshot-id",
    "snapshots",
    "snapshot-log",
    "metadata-log",
}

SNAPSHOT_REQUIRED = {
    "snapshot-id",
    "sequence-number",
    "timestamp-ms",
    "summary",
    "manifest-list",
    "schema-id",
}

MANIFEST_LIST_REQUIRED = {
    "manifest_path",
    "manifest_length",
    "partition_spec_id",
    "content",
    "sequence_number",
    "min_sequence_number",
    "added_snapshot_id",
    "added_files_count",
    "existing_files_count",
    "deleted_files_count",
    "added_rows_count",
    "existing_rows_count",
    "deleted_rows_count",
}

DATA_FILE_REQUIRED = {
    "content",
    "file_path",
    "file_format",
    "partition",
    "record_count",
    "file_size_in_bytes",
}


def _commit_two(spark, tmp_path):
    log = SnapshotLog(str(tmp_path / "snap"))
    df1 = spark.range(100).selectExpr(
        "id", "cast(id as string) AS s", "array(id, id+1) AS arr"
    )
    log.commit("stage_a", {"t": df1}, {"note": 1})
    df2 = spark.range(50).selectExpr("id", "cast(id as string) AS s", "array(id) AS arr")
    meta2 = log.commit("stage_b", {"t": df2})
    return log, meta2


def test_v2_metadata_required_fields_and_types(spark, tmp_path):
    log, meta2 = _commit_two(spark, tmp_path)
    mdir = meta2["tables"]["t"]["iceberg_metadata"]
    versions = sorted(n for n in os.listdir(mdir) if n.endswith(".metadata.json"))
    assert len(versions) == 2  # one metadata file per commit
    with open(os.path.join(mdir, versions[-1])) as f:
        tm = json.load(f)

    assert V2_REQUIRED <= set(tm)
    assert tm["format-version"] == 2
    assert isinstance(tm["table-uuid"], str) and len(tm["table-uuid"]) == 36
    # schemas: struct with per-field id/name/required/type, unique ids
    schema = tm["schemas"][tm["current-schema-id"]]
    assert schema["type"] == "struct"
    ids = [fld["id"] for fld in schema["fields"]]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    for fld in schema["fields"]:
        assert {"id", "name", "required", "type"} <= set(fld)
    # the array column maps to a spec list type with an element-id
    arr = next(f for f in schema["fields"] if f["name"] == "arr")
    assert arr["type"]["type"] == "list" and "element-id" in arr["type"]
    assert tm["last-column-id"] >= max(
        ids + [arr["type"]["element-id"]]
    ) - 0  # every assigned id is covered
    # partition spec / sort order defaults
    assert tm["partition-specs"][0] == {"spec-id": 0, "fields": []}
    assert tm["sort-orders"][0] == {"order-id": 0, "fields": []}


def test_snapshot_ancestry_and_logs(spark, tmp_path):
    log, meta2 = _commit_two(spark, tmp_path)
    mdir = meta2["tables"]["t"]["iceberg_metadata"]
    versions = sorted(n for n in os.listdir(mdir) if n.endswith(".metadata.json"))
    with open(os.path.join(mdir, versions[-1])) as f:
        tm = json.load(f)

    snaps = tm["snapshots"]
    assert len(snaps) == 2
    for s in snaps:
        assert SNAPSHOT_REQUIRED <= set(s)
        assert s["summary"]["operation"] == "append"
    # ancestry chains: second snapshot's parent is the first
    assert snaps[1]["parent-snapshot-id"] == snaps[0]["snapshot-id"]
    assert tm["current-snapshot-id"] == snaps[1]["snapshot-id"]
    assert tm["refs"]["main"]["snapshot-id"] == snaps[1]["snapshot-id"]
    # snapshot-log ordered by time, metadata-log references v1
    assert [e["snapshot-id"] for e in tm["snapshot-log"]] == [
        s["snapshot-id"] for s in snaps
    ]
    assert len(tm["metadata-log"]) == 1
    assert tm["metadata-log"][0]["metadata-file"].endswith(versions[0])


def test_manifest_list_and_manifest_row_counts_match_data(spark, tmp_path):
    log, meta2 = _commit_two(spark, tmp_path)
    mdir = meta2["tables"]["t"]["iceberg_metadata"]
    versions = sorted(n for n in os.listdir(mdir) if n.endswith(".metadata.json"))
    with open(os.path.join(mdir, versions[-1])) as f:
        tm = json.load(f)
    current = tm["snapshots"][-1]

    with open(current["manifest-list"]) as f:
        mlist = json.load(f)
    assert len(mlist) == 1
    assert MANIFEST_LIST_REQUIRED <= set(mlist[0])
    assert mlist[0]["added_rows_count"] == 50  # second commit's rows

    with open(mlist[0]["manifest_path"]) as f:
        manifest = json.load(f)
    assert manifest, "manifest must list the written data files"
    total = 0
    for entry in manifest:
        assert entry["status"] == 1  # ADDED
        dfile = entry["data_file"]
        assert DATA_FILE_REQUIRED <= set(dfile)
        assert dfile["file_format"] == "PARQUET"
        assert os.path.getsize(dfile["file_path"]) == dfile["file_size_in_bytes"]
        total += dfile["record_count"]
    # per-file record counts come from the real parquet footers and must
    # sum to the committed row count
    assert total == 50
    # and the data files are REAL: spark can read them back
    paths = [e["data_file"]["file_path"] for e in manifest]
    assert spark.read.parquet(*paths).count() == 50


def test_retried_commit_after_crash_keeps_ancestry_unique(spark, tmp_path):
    """A commit whose second table's write raises, then retried: the first
    table was already published under the snapshot id the retry reuses."""
    log = SnapshotLog(str(tmp_path / "snap"))
    good = spark.range(10).selectExpr("id", "cast(id as string) AS s")
    log.commit("stage_a", {"a": good, "b": good})
    bad = good.select("id", F.when(F.col("id") >= 0, F.raise_error(F.lit("injected"))).alias("s"))
    with pytest.raises(Exception, match="injected"):
        log.commit("stage_b", {"a": good, "b": bad})
    meta = log.commit("stage_b", {"a": good, "b": good})

    assert [m["id"] for m in log.snapshots()] == [1, 2]
    for name in ("a", "b"):
        mdir = meta["tables"][name]["iceberg_metadata"]
        latest = sorted(n for n in os.listdir(mdir) if n.endswith(".metadata.json"))[-1]
        with open(os.path.join(mdir, latest)) as f:
            tm = json.load(f)
        ids = [s["snapshot-id"] for s in tm["snapshots"]]
        assert ids == [1, 2], (name, ids)
        assert all(s["parent-snapshot-id"] != s["snapshot-id"] for s in tm["snapshots"])
        assert tm["snapshots"][1]["parent-snapshot-id"] == 1
        assert [e["snapshot-id"] for e in tm["snapshot-log"]] == ids
        assert tm["current-snapshot-id"] == meta["tables"][name]["iceberg_snapshot_id"] == 2
