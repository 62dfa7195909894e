"""Iceberg-v2-shaped table metadata for the snapshot layer.

plans/snapshots.py keeps the engine's operational log (stage names,
resume pointers, per-partition lineage). This module additionally
emits, per committed table, the PUBLIC Apache Iceberg v2 table-spec
metadata structure (https://iceberg.apache.org/spec/ — "Table
Metadata" fields, format-version 2), so the layout is externally
recognizable:

    <root>/iceberg/<table>/metadata/v{N}.metadata.json
    <root>/iceberg/<table>/metadata/snap-{sid}.manifest-list.json
    <root>/iceberg/<table>/metadata/manifest-{sid}.json

Field-level conformance (validated by tests/test_iceberg_meta.py):

- table metadata: format-version, table-uuid, location,
  last-sequence-number, last-updated-ms, last-column-id,
  current-schema-id, schemas (struct with per-field id/name/
  required/type), default-spec-id, partition-specs,
  last-partition-id, default-sort-order-id, sort-orders, properties,
  current-snapshot-id, refs, snapshots (snapshot-id,
  parent-snapshot-id, sequence-number, timestamp-ms, summary with
  operation, manifest-list, schema-id), snapshot-log, metadata-log.
- manifest list entry: manifest_path, manifest_length,
  partition_spec_id, content, sequence_number, min_sequence_number,
  added_snapshot_id, added_files_count, existing_files_count,
  deleted_files_count, added_rows_count, existing_rows_count,
  deleted_rows_count, partitions.
- manifest entry: status, snapshot_id, sequence_number, data_file
  (content, file_path, file_format=PARQUET, partition, record_count,
  file_size_in_bytes).

Two disclosed deviations from a jar-complete implementation (the
sandbox has no Iceberg runtime): manifests and manifest lists are
serialized as JSON with the spec's field NAMES AND STRUCTURE rather
than Avro with the spec's file encoding, and data files are the
parquet files the engine already wrote (per-file record counts read
from the real parquet footers via pyarrow). Nothing external could
read Avro written without the reference implementation anyway;
structural conformance is the testable property.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import types as T

_FORMAT_VERSION = 2

_PRIMITIVES: dict[type, str] = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.DateType: "date",
    T.TimestampType: "timestamptz",
    T.TimestampNTZType: "timestamp",
    T.StringType: "string",
    T.BinaryType: "binary",
}


class _Ids:
    def __init__(self) -> None:
        self.last = 0

    def next(self) -> int:
        self.last += 1
        return self.last


def _iceberg_type(dt: T.DataType, ids: _Ids) -> Any:
    """Spark type → Iceberg type JSON (nested ids assigned in order)."""
    for spark_t, name in _PRIMITIVES.items():
        if isinstance(dt, spark_t):
            return name
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        eid = ids.next()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dt.elementType, ids),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = ids.next(), ids.next()
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(dt.keyType, ids),
            "value-id": vid,
            "value": _iceberg_type(dt.valueType, ids),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [_field(f, ids) for f in dt.fields],
        }
    raise ValueError(f"no Iceberg mapping for Spark type {dt.simpleString()}")


def _field(f: T.StructField, ids: _Ids) -> dict:
    fid = ids.next()
    return {
        "id": fid,
        "name": f.name,
        "required": not f.nullable,
        "type": _iceberg_type(f.dataType, ids),
    }


def schema_json(schema: T.StructType, schema_id: int = 0) -> tuple[dict, int]:
    """→ (Iceberg schema struct, last-column-id)."""
    ids = _Ids()
    fields = [_field(f, ids) for f in schema.fields]
    return (
        {"type": "struct", "schema-id": schema_id, "fields": fields},
        ids.last,
    )


def _parquet_files(data_path: str) -> list[tuple[str, int, int]]:
    """[(path, file_size_bytes, record_count)] from the REAL footers."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(data_path)):
        if name.endswith(".parquet") and not name.startswith("."):
            p = os.path.join(data_path, name)
            out.append((p, os.path.getsize(p), pq.ParquetFile(p).metadata.num_rows))
    return out


class IcebergTableMeta:
    """Append-only Iceberg-v2-shaped metadata for ONE table."""

    def __init__(self, table_root: str, table_name: str):
        self.root = table_root
        self.name = table_name
        self.meta_dir = os.path.join(table_root, "metadata")
        os.makedirs(self.meta_dir, exist_ok=True)

    def _versions(self) -> list[str]:
        return sorted(
            n for n in os.listdir(self.meta_dir) if n.endswith(".metadata.json")
        )

    def current(self) -> dict | None:
        vs = self._versions()
        if not vs:
            return None
        with open(os.path.join(self.meta_dir, vs[-1])) as f:
            return json.load(f)

    def append_snapshot(self, snapshot_id: int, data_path: str, schema: T.StructType) -> dict:
        """Record one append snapshot over the parquet files at
        ``data_path``; writes manifest, manifest list, and the next
        v{N}.metadata.json. Returns the new table metadata.

        Idempotent per ``snapshot_id``: a snapshot already recorded
        under this id (a commit that failed on a later table and is
        retried) is replaced, keeping its parent, so the ancestry never
        holds a duplicate id or a snapshot that is its own parent."""
        now_ms = int(time.time() * 1000)
        prev = self.current()
        history = prev["snapshots"] if prev else []
        retried = next((s for s in history if s["snapshot-id"] == snapshot_id), None)
        files = _parquet_files(data_path)
        added_rows = sum(rc for _, _, rc in files)

        manifest_path = os.path.join(self.meta_dir, f"manifest-{snapshot_id}.json")
        manifest_entries = [
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": snapshot_id,
                "data_file": {
                    "content": 0,  # DATA
                    "file_path": path,
                    "file_format": "PARQUET",
                    "partition": {},  # unpartitioned spec
                    "record_count": rc,
                    "file_size_in_bytes": sz,
                },
            }
            for path, sz, rc in files
        ]
        with open(manifest_path, "w") as f:
            json.dump(manifest_entries, f, indent=1)

        mlist_path = os.path.join(
            self.meta_dir, f"snap-{snapshot_id}.manifest-list.json"
        )
        mlist = [
            {
                "manifest_path": manifest_path,
                "manifest_length": os.path.getsize(manifest_path),
                "partition_spec_id": 0,
                "content": 0,  # data manifests
                "sequence_number": snapshot_id,
                "min_sequence_number": snapshot_id,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(files),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": added_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": [],
            }
        ]
        with open(mlist_path, "w") as f:
            json.dump(mlist, f, indent=1)

        schema_struct, last_col = schema_json(schema)
        if retried is not None:
            parent = retried["parent-snapshot-id"]
        else:
            parent = prev["current-snapshot-id"] if prev else None
        snapshot = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": parent,
            "sequence-number": snapshot_id,
            "timestamp-ms": now_ms,
            "summary": {
                "operation": "append",
                "added-data-files": str(len(files)),
                "added-records": str(added_rows),
            },
            "manifest-list": mlist_path,
            "schema-id": 0,
        }
        version = len(self._versions()) + 1
        meta = {
            "format-version": _FORMAT_VERSION,
            # deterministic per table location (reproducible commits)
            "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, self.root)),
            "location": self.root,
            "last-sequence-number": snapshot_id,
            "last-updated-ms": now_ms,
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [schema_struct],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "last-partition-id": 999,  # spec: >= 1000 would be a real field id
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": snapshot_id,
            "refs": {"main": {"snapshot-id": snapshot_id, "type": "branch"}},
            "snapshots": [s for s in history if s["snapshot-id"] != snapshot_id]
            + [snapshot],
            "snapshot-log": [
                e for e in (prev["snapshot-log"] if prev else [])
                if e["snapshot-id"] != snapshot_id
            ]
            + [{"timestamp-ms": now_ms, "snapshot-id": snapshot_id}],
            "metadata-log": (
                (prev["metadata-log"] if prev else [])
                + (
                    [
                        {
                            "timestamp-ms": prev["last-updated-ms"],
                            "metadata-file": os.path.join(
                                self.meta_dir, self._versions()[-1]
                            ),
                        }
                    ]
                    if prev
                    else []
                )
            ),
        }
        out = os.path.join(self.meta_dir, f"v{version:06d}.metadata.json")
        tmp = out + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.rename(tmp, out)
        return meta
