"""Distributed minimum spanning forest (Boruvka) over the weighted
street graph.

The road-network consumer: an MSF of the haversine-weighted link
relation is the backbone a map generalizer keeps when thinning dense
urban meshes (every non-MSF link is a redundant connection whose
removal never disconnects), and the classic first step of
single-linkage geographic clustering. The reference has no spanning
structure (src/graph.rs stops at degree/length metrics); this is part
of the web-scale graft surface.

Boruvka is THE parallel MST algorithm (each round every component
picks its lightest incident edge and components merge along the
picks — Boruvka 1926; the MapReduce/Spark formulation follows
Lattanzi et al., "Filtering: a method for solving graph problems in
MapReduce", SPAA'11): O(log n) rounds, each round pure equi-joins +
one algebraic min aggregation, so the whole operator is shuffles on
(src)/(dst)/(comp) keys with map-side combine — no driver-side graph
state ever.

Determinism contract: edges are totally ordered by (w, src, dst) —
lexicographic struct comparison, identical in Spark and ANSI SQL —
which is equivalent to all-distinct weights, so the MSF is UNIQUE and
a SQL oracle can restate it without pinning the engine's round count
beyond an idempotent upper bound (extra Boruvka rounds after the
forest is complete choose nothing and change nothing).

Round mechanics:
- cross = edges whose endpoints lie in different components (two
  label joins + filter);
- chosen = per-component minimum cross edge by the (w, src, dst)
  struct min (algebraic, map-side combinable);
- successor pseudoforest s(c) = other endpoint's component of c's
  chosen edge. With strict total edge order the only cycles are
  2-cycles (a successor chain has non-increasing edge keys, so a
  cycle forces one shared edge); break each toward its smaller id,
  then pointer-double s := s∘s to rooted fixpoint (≤ log2(#comps)
  self-joins on the shrinking component relation);
- relabel node components through the root map and repeat until no
  cross edges remain.

Scale shape at 10^10 edges: the edge relation is touched once per
round by two hash joins on endpoint keys (bucketed storage co-locates
them, sources/bucketed.py); the per-round aggregation output is one
row per component, shrinking at least geometrically; the pointer
tables live on component keys only. Both loops run on the
plans/fixpoint.py driver, whose per-round ``stats_barrier`` matters
most here: the pointer-doubling self-joins compound Catalyst's
product-of-children size estimate into a BigInt whose bit-length
doubles per jump (minutes of driver CPU by round 4 at sf0.01, then
OOM — see fixpoint.py for the jstack evidence), and the barrier resets
the estimate every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophois_spark.plans.fixpoint import changed, empty, fixpoint, stats_barrier


def minimum_spanning_forest(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 32,
    max_jump: int = 32,
) -> DataFrame:
    """→ MSF edge DataFrame (src, dst, w). nodes: (id); edges:
    (src, dst, w) with one row per undirected edge (any orientation;
    self-loops ignored). Ties broken by (w, src, dst), so the result
    is the unique MSF of that total order."""
    e = (
        edges.select("src", "dst", "w")
        .filter(F.col("src") != F.col("dst"))
        .transform(stats_barrier)
    )
    msf_parts: list[DataFrame] = []

    def _double(s: DataFrame, cut) -> DataFrame:
        s = s.select("comp", "s")
        return (
            s.alias("a")
            .join(s.select(F.col("comp").alias("s"), F.col("s").alias("s2")).alias("b"), "s")
            .select("comp", F.col("s2").alias("s"), F.col("s").alias("prev"))
        )

    def _round(state, cut):
        # merge along the previous round's cross edges, then find the
        # cross edges of the merged components
        comp, x = state
        if x is not None:
            cand = x.select(
                F.col("ca").alias("comp"), "src", "dst", "w", F.col("cb").alias("other")
            ).unionByName(
                x.select(
                    F.col("cb").alias("comp"), "src", "dst", "w", F.col("ca").alias("other")
                )
            )
            chosen = cut(
                cand.groupBy("comp")
                .agg(F.min(F.struct("w", "src", "dst", "other")).alias("m"))
                .select("comp", "m.src", "m.dst", "m.w", "m.other")
            )
            msf_parts.append(chosen.select("src", "dst", "w").distinct())

            # successor pseudoforest; only 2-cycles exist — root the smaller id
            s0 = chosen.select("comp", F.col("other").alias("s"))
            s = (
                s0.alias("a")
                .join(
                    s0.select(F.col("comp").alias("s"), F.col("s").alias("ss")).alias("b"),
                    "s",
                )
                .select(
                    "comp",
                    F.when(
                        (F.col("ss") == F.col("comp")) & (F.col("comp") < F.col("s")),
                        F.col("comp"),
                    )
                    .otherwise(F.col("s"))
                    .alias("s"),
                )
            )
            allc = comp.select("comp").distinct()
            s = cut(
                allc.join(s, "comp", "left").select(
                    "comp", F.coalesce("s", F.col("comp")).alias("s")
                )
            )
            # pointer doubling to the rooted fixpoint (s∘s == s)
            s, _ = fixpoint(
                "pointer doubling",
                s,
                _double,
                stop=changed(F.col("s") != F.col("prev")),
                max_rounds=max_jump,
            )
            comp = cut(
                comp.join(s.select("comp", F.col("s").alias("newc")), "comp").select(
                    "id", F.col("newc").alias("comp")
                )
            )
        x = (
            e.join(comp.select(F.col("id").alias("src"), F.col("comp").alias("ca")), "src")
            .join(comp.select(F.col("id").alias("dst"), F.col("comp").alias("cb")), "dst")
            .filter(F.col("ca") != F.col("cb"))
        )
        return comp, x

    comp = nodes.select("id", F.col("id").alias("comp")).transform(stats_barrier)
    fixpoint("Boruvka", (comp, None), _round, stop=empty(of=1), max_rounds=max_rounds)

    if not msf_parts:
        # Empty forest: derive the schema from the input edge relation so
        # the weight type matches whatever the caller supplied (long metres,
        # double metres, ...) instead of hardcoding long.
        return edges.select("src", "dst", "w").limit(0)
    out = msf_parts[0]
    for part in msf_parts[1:]:
        out = out.unionByName(part)
    return out
