"""Multi-source graph traversal: frontier BFS hop distances and
bounded-hop integer shortest paths (Bellman-Ford relaxation).

The reference's heuristics walk the graph sequentially in driver RAM
(BFS over a HashMap adjacency, reference src/heuristics.rs:10-58); the
Spark-native form is level-synchronous relational iteration:

- ``bfs_hops``: per round ONE equi-join (frontier × bidirectional
  edges) + one anti-join against the settled set — the frontier, never
  the graph, is the per-round shuffle payload, so at 10^12 scale each
  round's cost tracks the expanding wavefront rather than |E|. The
  rounds run on the plans/fixpoint.py driver (lineage cut per round)
  and the early-exit emptiness check is the round's single cheap
  action.

- ``bounded_dist_m``: the same loop relaxing INTEGER metre weights
  (floor(haversine) per edge). Integer min-plus is bit-replayable and
  cross-engine gateable — a float sum would drift in the last ulp with
  accumulation order. After h rounds ``dist_h(v)`` = min total weight
  over walks from any seed using ≤ h edges (Bellman-Ford's invariant),
  which the DuckDB recursive-CTE oracle restates walk-by-walk; the
  early exit fires only at the true fixpoint, where the bounded and
  unbounded minima coincide, so bounded-oracle parity holds either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophois_spark.operators.graph import StreetGraph
from ophois_spark.plans.fixpoint import empty, fixpoint, recurs


def _bidirectional(edges: DataFrame, extra: list[str] | None = None) -> DataFrame:
    """Canonical (src,dst) edges → both-direction (a,b) adjacency."""
    cols = extra or []
    fwd = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"), *cols)
    rev = edges.select(F.col("dst").alias("a"), F.col("src").alias("b"), *cols)
    return fwd.unionByName(rev)


def bfs_hops(g: StreetGraph, seeds: DataFrame, max_hops: int = 8) -> DataFrame:
    """Minimum hop count from any seed node, bounded at ``max_hops``
    → (id string, hops int); unreached nodes are absent.

    ``seeds`` is a 1-column (id) DataFrame. Level-synchronous BFS: the
    settled set grows monotonically, each round joins only the frontier
    against the adjacency and anti-joins the settled set, so a round
    shuffles O(|frontier| · avg_degree) rows.
    """
    bi = _bidirectional(g.edges).localCheckpoint(eager=True)
    settled = (
        seeds.select("id")
        .distinct()
        .withColumn("hops", F.lit(0).cast("int"))
        .localCheckpoint(eager=True)
    )

    def _round(state, cut):
        settled, frontier, h = state
        frontier = frontier.select("id")
        nxt = cut(
            frontier.join(bi, frontier["id"] == bi["a"])
            .select(F.col("b").alias("id"))
            .distinct()
            .join(settled.select("id"), "id", "left_anti")
            .withColumn("hops", F.lit(h + 1).cast("int"))
        )
        return settled.unionByName(nxt), nxt, h + 1

    # an empty new frontier adds nothing, so the settled set it was
    # unioned into is final
    (settled, _, _), _ = fixpoint(
        "bfs_hops", (settled, settled, 0), _round, stop=empty(of=1), rounds=max_hops
    )
    return settled


def bounded_dist_m(g: StreetGraph, seeds: DataFrame, max_hops: int = 4) -> DataFrame:
    """Minimum integer-metre path weight from any seed over walks of at
    most ``max_hops`` edges → (id string, dist_m bigint); unreached
    nodes are absent. Edge weight = floor(haversine metres) — the
    engine's A3 length discipline (src/geo.rs haversine, floored), kept
    integral so min-plus is exact on both engines.

    Per round: one equi-join (current distances × adjacency-with-weight)
    + one min groupBy — both map-side combinable; the settled relation
    (≤ |V| rows) is the shuffle payload. Early exit on an exact integer
    signature (count, sum, xor of row hashes) — one aggregate action
    per round, no set-difference shuffle.
    """
    w_edges = g.edges_with_coords().select(
        "src", "dst", F.floor("dist_m").cast("long").alias("w")
    )
    bi = _bidirectional(w_edges, ["w"]).localCheckpoint(eager=True)
    dist = (
        seeds.select("id")
        .distinct()
        .withColumn("dist_m", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )

    def _round(dist: DataFrame, cut) -> DataFrame:
        relaxed = dist.join(bi, dist["id"] == bi["a"]).select(
            F.col("b").alias("id"), (F.col("dist_m") + F.col("w")).alias("dist_m")
        )
        return dist.unionByName(relaxed).groupBy("id").agg(F.min("dist_m").alias("dist_m"))

    dist, _ = fixpoint(
        "bounded_dist_m",
        dist,
        _round,
        stop=recurs("id", "dist_m", total="dist_m"),
        rounds=max_hops,
        check_start=True,
    )
    return dist


def isochrone_cells(
    g: StreetGraph,
    seeds: DataFrame,
    cutoff_m: int,
    grid_deg: float,
    max_hops: int = 4,
) -> DataFrame:
    """Isochrone as a cell cover → (gx, gy, n_nodes, min_dist_m): the
    grid cells whose street-graph nodes are reachable from the seed
    set within ``cutoff_m`` integer metres (service-area / catchment
    rendering — the consumer of ``bounded_dist_m`` a map product
    ships). Per cell: reachable-node count and the closest approach.

    Same exactness contract as the distance field it reads: integer
    min-plus up to ``max_hops`` relaxation rounds, then a filter and
    one map-side-combinable cell aggregation. The cutoff does NOT
    prune the relaxation itself (a node past the cutoff can still lie
    on a shorter path to one inside at a later round only if its own
    distance is below the target's — min-plus with non-negative
    weights never needs above-cutoff intermediates for below-cutoff
    results — but bounded_dist_m is shared lineage and the filter is
    free, so we filter once at the end rather than fork the loop).
    """
    dist = bounded_dist_m(g, seeds, max_hops=max_hops)
    reach = dist.filter(F.col("dist_m") <= cutoff_m)
    gd = F.lit(grid_deg)
    return (
        reach.join(g.nodes.select("id", "lat_d", "lon_d"), "id")
        .select(
            F.floor(F.col("lon_d") / gd).cast("int").alias("gx"),
            F.floor(F.col("lat_d") / gd).cast("int").alias("gy"),
            "dist_m",
        )
        .groupBy("gx", "gy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("dist_m").alias("min_dist_m"),
        )
    )
