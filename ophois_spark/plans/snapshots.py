"""Minimal Iceberg-style snapshot log: commit / resume / lineage.

No Iceberg jars exist in the sandbox, so the engine implements the
part of the spec the north_rule needs — atomically committed,
append-only snapshot metadata over immutable parquet data files, with
per-file row-count lineage — as a ~150-line layer:

    <root>/metadata/v{N}.json      one per committed snapshot
    <root>/data/s{N}/{table}/      immutable parquet per snapshot/table

A snapshot records: monotonically increasing id, stage name, parent
snapshot id (ancestry), per-table paths + row counts + per-file row
counts (lineage), and caller metrics. Both counts come from the
written parquet files' footers, with no Spark job:
``partition_row_counts`` has one entry per written file, i.e. per
write task. Commit is atomic: data is fully written first, then the
metadata json is renamed into place — a reader never observes a
half-commit, and resume = read the highest committed v{N}.json (the
Iceberg "current snapshot" pointer analogue).

On a real cluster this maps 1:1 onto Iceberg snapshots
(``writeTo(...).createOrReplace`` + snapshot ancestry); the engine
isolates the dependency behind this module.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


class SnapshotLog:
    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        os.makedirs(self.meta_dir, exist_ok=True)

    # -- reading ----------------------------------------------------------
    def snapshots(self) -> list[dict]:
        metas = []
        for name in sorted(os.listdir(self.meta_dir)):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(self.meta_dir, name)) as f:
                    metas.append(json.load(f))
        return sorted(metas, key=lambda m: m["id"])

    def latest(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def find_stage(self, stage: str) -> dict | None:
        """Most recent committed snapshot for a stage name."""
        for m in reversed(self.snapshots()):
            if m["stage"] == stage:
                return m
        return None

    def load_tables(self, spark: SparkSession, meta: dict) -> dict[str, DataFrame]:
        return {t: spark.read.parquet(info["path"]) for t, info in meta["tables"].items()}

    # -- writing ----------------------------------------------------------
    def commit(
        self, stage: str, tables: dict[str, DataFrame], metrics: dict | None = None
    ) -> dict:
        """Write all tables as parquet, then atomically publish metadata."""
        from ophois_spark.plans.iceberg_meta import IcebergTableMeta, parquet_files

        prev = self.latest()
        sid = (prev["id"] + 1) if prev else 1
        table_meta: dict[str, dict] = {}
        for name, df in tables.items():
            path = os.path.join(self.root, "data", f"s{sid}", name)
            df.write.mode("overwrite").parquet(path)
            files = parquet_files(path)
            pc = [rc for _, _, rc in files]
            # also publish the public Iceberg-v2-shaped metadata tree for
            # this table (append snapshot over the files just written) —
            # see plans/iceberg_meta.py for the conformance contract
            ice = IcebergTableMeta(
                os.path.join(self.root, "iceberg", name), name
            ).append_snapshot(sid, files, df.schema)
            table_meta[name] = {
                "path": path,
                "row_count": sum(pc),
                "partition_row_counts": pc,
                "iceberg_metadata": os.path.join(
                    self.root, "iceberg", name, "metadata"
                ),
                "iceberg_snapshot_id": ice["current-snapshot-id"],
            }
        meta = {
            "id": sid,
            "stage": stage,
            "parent_id": prev["id"] if prev else None,
            "tables": table_meta,
            "metrics": metrics or {},
        }
        fd, tmp = tempfile.mkstemp(dir=self.meta_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f, indent=1)
        os.rename(tmp, os.path.join(self.meta_dir, f"v{sid:06d}.json"))
        return meta

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        fn: Callable[[], dict[str, DataFrame]],
    ) -> dict[str, DataFrame]:
        """Resume-or-run: reuse a committed snapshot for ``stage`` if one
        exists (checkpoint recovery), else compute, commit, and return
        the *committed* tables (so downstream reads cut lineage)."""
        existing = self.find_stage(stage)
        if existing is not None:
            return self.load_tables(spark, existing)
        meta = self.commit(stage, fn())
        return self.load_tables(spark, meta)
