"""Output checks: an in-harness replay of the load semantics and
order-insensitive digests.

A digest of a relation is ``[row count, sum of CRC-32 over each row's
fields joined by the record separator]``. Spark's ``crc32`` and Python's
``zlib.crc32`` agree on UTF-8 input, so a digest computed by the engine
and one computed by the replay compare directly, and neither depends on
row order or partitioning.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophois_spark import SEPARATOR
from ophois_spark.kernels.osmxml import extract_records

NODE_KEY = ("id", "lat", "lon")
EDGE_KEY = ("src", "dst")


def spark_digest(df: DataFrame, cols) -> list[int]:
    """Digest of ``cols`` (names or Columns) over ``df``; running it
    materializes ``df``."""
    fields = [(F.col(c) if isinstance(c, str) else c).cast("string") for c in cols]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws(SEPARATOR, *fields))).alias("h"),
    ).first()
    return [int(row["n"]), int(row["h"] or 0)]


def py_digest(rows) -> list[int]:
    n = h = 0
    for r in rows:
        n += 1
        h += zlib.crc32(SEPARATOR.join(r).encode())
    return [n, h]


def graph_digest(g) -> dict[str, list[int]]:
    return {"nodes": spark_digest(g.nodes, NODE_KEY), "edges": spark_digest(g.edges, EDGE_KEY)}


def extract_pages(pages: list[tuple[int, str]]) -> list[tuple[int, list[str]]]:
    """Run the extract kernel on each ``(arrival key, page text)`` pair."""
    return [(key, extract_records(text.splitlines(), SEPARATOR)) for key, text in pages]


def replay_load(
    extracted: list[tuple[int, list[str]]], keep_last: bool = False
) -> tuple[dict[str, tuple[str, str]], set, int]:
    """Pure-Python load of ``(arrival key, records)`` pairs: keep the
    first occurrence of each node in arrival order, canonicalize links,
    drop self-loops and links to missing nodes. Also returns how many
    nodes have copies that disagree, i.e. where first-wins decides.
    ``keep_last`` keeps the last occurrence instead (a wrong load, for
    the self-test)."""
    nodes: dict[str, tuple[str, str]] = {}
    seen: dict[str, set] = {}
    links: set[tuple[str, str]] = set()
    for _, records in sorted(extracted, key=lambda p: p[0]):
        for rec in records:
            f = rec.split(SEPARATOR)
            if len(f) == 3:
                if keep_last or f[0] not in nodes:
                    nodes[f[0]] = (f[1], f[2])
                seen.setdefault(f[0], set()).add((f[1], f[2]))
            elif len(f) == 2 and f[0] != f[1]:
                links.add((min(f), max(f)))
    links = {lk for lk in links if lk[0] in nodes and lk[1] in nodes}
    conflicts = sum(1 for copies in seen.values() if len(copies) > 1)
    return nodes, links, conflicts


def replay_digest(nodes: dict, links: set) -> dict[str, list[int]]:
    return {
        "nodes": py_digest((i, lat, lon) for i, (lat, lon) in nodes.items()),
        "edges": py_digest(links),
    }
