"""Polyline simplification — Ramer–Douglas–Peucker as a data-parallel fixpoint.

The reference contracts geometry with graph heuristics (degree-2 chain
contraction, under-delta merges — src/heuristics.rs:1-170); RDP is the
classic cartographic counterpart the geospatial graft adds: per way,
keep the minimal vertex subset whose planar deviation from the original
polyline stays within ``eps`` (Douglas & Peucker, Cartographica 1973).
Rendering pipelines run it before tiling; trajectory pipelines run it
before map matching.

Exact cross-engine semantics (no floats anywhere):

- Coordinates are INTEGERS on a planar micro-degree-style grid.
- The point-to-segment test is the squared comparison
  ``cross(B-A, P-A)^2 > eps^2 * |B-A|^2`` — both sides exact integers,
  evaluated in DECIMAL(38,0) (Spark) / HUGEINT (oracle) because the
  squared cross product can exceed int64 (|cross| <= ~5e9 on the
  25-vertex overlay, squared ~2.5e19 > 2^63). Division never happens,
  so there is no rounding to disagree on.
- Degenerate segment (A == B, a closed loop): squared point-to-point
  distance vs ``eps^2`` — the textbook fallback, same comparison shape.
- The split vertex of an active segment is the max-deviation vertex;
  ties break to the LOWEST seq. Splitting requires STRICT inequality.

Round structure — recursion by DEPTH, not by segment: every active
segment of every way is scored in the same Spark round, so the driver
loop runs max-recursion-depth times (<= interior vertex count of the
longest way; O(log L) on typical geometry), never once per segment.
Per round: ONE window shuffle keyed (way_id, lo, hi) — fine-grained
keys, so a mega-way's segments spread across tasks — plus one equi-join
of the shrinking active set against the (small) split set. The rounds
run on the plans/fixpoint.py driver like every iterative operator here,
and each round costs exactly one Spark action (the emptiness probe).

Scale shape at 10^12 vertices: work per round is linear in the
still-active vertex count, which only shrinks (every active segment
either splits — removing its pivot — or retires its whole interior);
real road/way geometry is length-bounded (~1e3 vertices), so depth is
bounded and the window partitions stay small and numerous. No
collect(), no per-way task.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ophois_spark.plans.fixpoint import empty, fixpoint

_DEC = "decimal(38,0)"


def rdp_simplify(
    points: DataFrame, eps: int, max_rounds: int = 200
) -> tuple[DataFrame, int]:
    """→ (kept, rounds): RDP-simplify every way at integer tolerance
    ``eps``. ``points``: (way_id, seq, x, y) integer planar vertices,
    seq ordering the polyline. ``kept``: the surviving vertices, same
    four columns. Both endpoints of every way always survive.
    ``rounds`` is the recursion depth actually run — any unroll count
    at or beyond it replays the result exactly (rounds past the
    fixpoint are no-ops on an empty active set), which is what the SQL
    oracle's worst-case-bounded unroll relies on.
    """
    eps2 = int(eps) * int(eps)
    # pts feeds FOUR branches (endpoint bounds, kept endpoints, and the
    # two endpoint-coordinate lookups) — truncate once so the caller's
    # input lineage isn't replayed per branch
    pts = points.select(
        F.col("way_id").cast("long").alias("way_id"),
        F.col("seq").cast("long").alias("seq"),
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    ).localCheckpoint(eager=False)
    ends = pts.groupBy("way_id").agg(
        F.min("seq").alias("lo"), F.max("seq").alias("hi")
    )
    kept_ends = (
        pts.join(ends, "way_id")
        .filter((F.col("seq") == F.col("lo")) | (F.col("seq") == F.col("hi")))
        .select("way_id", "seq", "x", "y")
    )
    lo_c = pts.select(
        "way_id",
        F.col("seq").alias("lo"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
    )
    hi_c = pts.select(
        "way_id",
        F.col("seq").alias("hi"),
        F.col("x").alias("bx"),
        F.col("y").alias("bby"),
    )
    cur = (
        pts.join(ends, "way_id")
        .filter((F.col("seq") > F.col("lo")) & (F.col("seq") < F.col("hi")))
        .join(lo_c, ["way_id", "lo"])
        .join(hi_c, ["way_id", "hi"])
        .select("way_id", "seq", "x", "y", "lo", "hi", "ax", "ay", "bx", "bby")
        .localCheckpoint(eager=False)
    )

    dx = F.col("bx") - F.col("ax")
    dy = F.col("bby") - F.col("ay")
    px = F.col("x") - F.col("ax")
    py = F.col("y") - F.col("ay")
    # deltas and their pairwise products fit int64 on any bounded grid;
    # only the SQUARED cross product needs the wide type
    cross = (dx * py - px * dy).cast(_DEC)
    len2 = (dx * dx + dy * dy).cast(_DEC)
    d2 = (px * px + py * py).cast(_DEC)
    lhs = F.when(len2 == 0, d2).otherwise(cross * cross)
    rhs = F.when(len2 == 0, F.lit(eps2).cast(_DEC)).otherwise(
        F.lit(eps2).cast(_DEC) * len2
    )

    w = Window.partitionBy("way_id", "lo", "hi").orderBy(
        F.col("lhs").desc(), F.col("seq")
    )
    kept_parts = [kept_ends]

    def _round(cur: DataFrame, cut) -> DataFrame:
        scored = cur.select("*", lhs.alias("lhs"), rhs.alias("rhs"))
        top = cut(
            scored.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("lhs") > F.col("rhs")))
            .select(
                "way_id",
                "lo",
                "hi",
                F.col("seq").alias("s_seq"),
                F.col("x").alias("sx"),
                F.col("y").alias("sy"),
            )
        )
        kept_parts.append(
            top.select(
                "way_id",
                F.col("s_seq").alias("seq"),
                F.col("sx").alias("x"),
                F.col("sy").alias("y"),
            )
        )
        before = F.col("seq") < F.col("s_seq")
        return (
            scored.join(top, ["way_id", "lo", "hi"])
            .filter(F.col("seq") != F.col("s_seq"))
            .select(
                "way_id",
                "seq",
                "x",
                "y",
                F.when(before, F.col("lo")).otherwise(F.col("s_seq")).alias("lo"),
                F.when(before, F.col("s_seq")).otherwise(F.col("hi")).alias("hi"),
                F.when(before, F.col("ax")).otherwise(F.col("sx")).alias("ax"),
                F.when(before, F.col("ay")).otherwise(F.col("sy")).alias("ay"),
                F.when(before, F.col("sx")).otherwise(F.col("bx")).alias("bx"),
                F.when(before, F.col("sy")).otherwise(F.col("bby")).alias("bby"),
            )
        )

    # the emptiness probe on the active set is the round's one action
    _, rounds = fixpoint(
        "rdp_simplify",
        cur,
        _round,
        stop=empty(),
        max_rounds=max_rounds,
        check_start=True,
    )
    return reduce(DataFrame.unionByName, kept_parts), rounds
