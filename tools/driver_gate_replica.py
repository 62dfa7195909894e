"""Replica of the external driver's correctness gate, and the one
comparison that the replica and tests/test_oracle_parity.py share.

The driver samples the FIRST 50 entries of queries() and compares each
against its oracle_sql() in DuckDB at sf0.01: sorted column names, row
count, and order-insensitive values with NaN equal to NaN.
tests/test_oracle_parity.py replays the same contract at sf0.001; this
script replays it at the driver's actual scale, so a scale-dependent
oracle bound (unrolled rounds, crowd caps) surfaces HERE and not in
CORRECTNESS_r{N}.json.

Usage: python tools/driver_gate_replica.py [n_rows] [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per source table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _values(col: pd.Series) -> list:
    # NaN-aware and dtype-tolerant, like the driver's hash of sorted
    # values: nulls equal each other (plain list equality fails
    # nan != nan), and int32 vs int64 or Int64 vs float64 columns
    # compare on their values
    return col.astype(object).where(col.notna(), None).tolist()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why the query result ``got`` fails the gate against the oracle
    result ``want``, or None when it passes."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = _values(got[c]), _values(want[c])
        if a != b:
            return f"column {c} differs: {a[:3]} vs {b[:3]}"
    return None


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from ophois_spark.queries import ORACLES, QUERIES
    from ophois_spark.session import get_spark

    spark = get_spark("gate-replica", master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck(sf_dir)

    failures = []
    for i, name in enumerate(list(QUERIES)[:n], 1):
        try:
            got = QUERIES[name](spark, sf_dir).toPandas()
            why = mismatch(got, con.sql(ORACLES[name]).df())
        except Exception as exc:  # noqa: BLE001 - report-and-continue sweep
            why = f"{type(exc).__name__}: {exc}"
        if why is None:
            print(f"[{i:2d}/{n}] PASS {name} ({len(got)} rows)", flush=True)
        else:
            failures.append((name, why))
            print(f"[{i:2d}/{n}] FAIL {name}: {why}", flush=True)
    spark.stop()
    print(f"\n{n - len(failures)}/{n} pass at {sf_dir}")
    for name, why in failures:
        print(f"  FAIL {name}: {why[:200]}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
