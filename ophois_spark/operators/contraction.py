"""Contraction framework — the sequential heuristics, re-derived parallel.

The reference mutates a pointer graph one node/link at a time in
RANDOMIZED order (src/heuristics.rs:60-169). The engine re-derives each
heuristic as confluent batches over DataFrames:

- H2 ``replace_node_by_links`` → clique-completion batch over an
  INDEPENDENT set of victims (operations on non-adjacent nodes commute)
- H3 ``remove_degree_two_nodes`` → closed form: the degree-2 snapshot
  induces paths/cycles; each path contracts to one endpoint-to-endpoint
  edge, cycles vanish (provably equal to the reference's sequential
  sweep for any processing order)
- H4 ``remove_under_delta_nodes`` → fixpoint loop: candidates = nodes
  whose every incident link ≤ delta (incl. isolated), contract a
  deterministic independent subset per round
- H5 ``replace_link_by_node`` → edge-contraction batch via vertex
  relabeling over a MATCHING (vertex-disjoint edge set)
- H6 ``remove_under_delta_links`` → fixpoint loop: matching = short
  edges that are the (dist, src, dst)-minimum at BOTH endpoints
  (the global minimum is always selected ⇒ guaranteed progress)

Merged ids follow the reference exactly: ``"{min}-{max}"``
lexicographic (src/heuristics.rs:123-128), midpoint coordinates
stringified with Rust float formatting (src/heuristics.rs:129-135).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ophois_spark.functions import fmt_f64, midpoint_xy
from ophois_spark.operators.graph import StreetGraph
from ophois_spark.plans.fixpoint import empty, fixpoint


def replace_nodes_by_links(g: StreetGraph, victims: DataFrame) -> StreetGraph:
    """H2 batch: remove each victim, clique-link its former neighbours.

    ``victims`` (col ``id``) MUST be an independent set — callers
    guarantee it (H3 uses the closed form instead; H4 selects one).
    Reference: src/heuristics.rs:60-78.
    """
    v = victims.select("id").distinct()
    # (victim, neighbour) pairs, both orientations
    nb = (
        g.edges.join(v.withColumnRenamed("id", "src"), "src", "left_semi")
        .select(F.col("src").alias("vid"), F.col("dst").alias("n"))
        .unionByName(
            g.edges.join(v.withColumnRenamed("id", "dst"), "dst", "left_semi").select(
                F.col("dst").alias("vid"), F.col("src").alias("n")
            )
        )
    )
    clique = (
        nb.alias("a")
        .join(nb.alias("b"), "vid")
        .filter(F.col("a.n") < F.col("b.n"))
        .select(F.col("a.n").alias("src"), F.col("b.n").alias("dst"))
        .distinct()
    )
    return g.remove_nodes(v).add_edges(clique)


def remove_degree_two_nodes(g: StreetGraph) -> StreetGraph:
    """H3 closed form (reference src/heuristics.rs:80-91).

    Snapshot S = degree-2 nodes. In the S-induced subgraph every node
    has degree ≤ 2, so components are paths or cycles. A path with
    outside endpoints x ≠ y contracts to edge (x, y); a path looping to
    the same outside node, and any pure cycle, just vanishes — exactly
    the net effect of the reference's sequential replace_node_by_links
    sweep over the snapshot, independent of its HashMap ordering.
    """
    from ophois_spark.operators.components import connected_components

    deg = g.degrees()
    s = deg.filter(F.col("degree") == 2).select("id")
    in_s_src = g.edges.join(s.withColumnRenamed("id", "src"), "src", "left_semi")
    e_ss = in_s_src.join(s.withColumnRenamed("id", "dst"), "dst", "left_semi").select("src", "dst")

    # boundary: S endpoint → outside endpoint
    b1 = in_s_src.join(s.withColumnRenamed("id", "dst"), "dst", "left_anti").select(
        F.col("src").alias("sid"), F.col("dst").alias("outside")
    )
    b2 = (
        g.edges.join(s.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .join(s.withColumnRenamed("id", "src"), "src", "left_anti")
        .select(F.col("dst").alias("sid"), F.col("src").alias("outside"))
    )
    boundary = b1.unionByName(b2)

    labels = connected_components(StreetGraph(s, e_ss))
    ends = (
        boundary.join(labels.withColumnRenamed("id", "sid"), "sid")
        .groupBy("comp")
        .agg(F.min("outside").alias("src"), F.max("outside").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    return g.remove_nodes(s).add_edges(ends)


def _max_incident_dist(g: StreetGraph) -> DataFrame:
    """Per node: max haversine over incident links (null if isolated)."""
    ewc = g.edges_with_coords().select("src", "dst", "dist_m")
    incid = ewc.select(F.col("src").alias("id"), "dist_m").unionByName(
        ewc.select(F.col("dst").alias("id"), "dist_m")
    )
    return g.nodes.select("id").join(
        incid.groupBy("id").agg(F.max("dist_m").alias("max_dist")), "id", "left"
    )


def remove_under_delta_nodes(g: StreetGraph, delta: float, max_iter: int = 100) -> StreetGraph:
    """H4 fixpoint (reference src/heuristics.rs:93-112).

    A node qualifies when EVERY incident link is ≤ delta — isolated
    nodes qualify too (the reference's ``remove`` stays true). Per
    round, contract the independent subset of candidates that have no
    smaller-id candidate neighbour; repeat until no candidates. The
    reference does one randomized sequential sweep; its fixtures assert
    an order-insensitive fixpoint, which this loop reaches
    deterministically.
    """

    def _round(state, cut):
        # contract the previous round's selection, then select again
        g, selected = state
        if selected is not None:
            g = cut(replace_nodes_by_links(g, selected))
        cand = (
            _max_incident_dist(g)
            .filter(F.col("max_dist").isNull() | (F.col("max_dist") <= delta))
            .select("id")
        )
        # exclude the greater endpoint of every candidate-candidate edge
        cand_edges = g.edges.join(
            cand.withColumnRenamed("id", "src"), "src", "left_semi"
        ).join(cand.withColumnRenamed("id", "dst"), "dst", "left_semi")
        losers = cand_edges.select(F.col("dst").alias("id")).distinct()
        # the smallest candidate never loses: empty iff no candidates
        return g, cand.join(losers, "id", "left_anti")

    # the input is cut once so round 1 does not re-derive its lineage
    (g, _), _ = fixpoint(
        "remove_under_delta_nodes",
        (g.checkpoint(), None),
        _round,
        stop=empty(of=1),
        max_rounds=max_iter,
    )
    return g


def contract_edges(g: StreetGraph, matching: DataFrame) -> StreetGraph:
    """H5 batch: contract a vertex-disjoint edge set via relabeling.

    Per contracted edge (u, v): new id ``"{u}-{v}"`` (u < v canonical),
    coords = planar midpoint, Rust-formatted (src/heuristics.rs:114-141).
    All surviving edges are remapped old→new, self-loops dropped,
    canonical dedup applied — the relational equivalent of "link the new
    node to the union of both former neighbour sets minus the endpoints".
    """
    m = matching.select("src", "dst")
    coords = g.nodes.select("id", "lat_d", "lon_d")
    mc = (
        m.join(coords.withColumnRenamed("id", "src"), "src")
        .withColumnsRenamed({"lat_d": "src_lat_d", "lon_d": "src_lon_d"})
        .join(coords.withColumnRenamed("id", "dst"), "dst")
        .withColumnsRenamed({"lat_d": "dst_lat_d", "lon_d": "dst_lon_d"})
        .withColumn("new_id", F.concat_ws("-", "src", "dst"))
    )
    mx, my = midpoint_xy(
        F.col("src_lon_d"), F.col("src_lat_d"), F.col("dst_lon_d"), F.col("dst_lat_d")
    )
    new_nodes = mc.select(
        F.col("new_id").alias("id"),
        fmt_f64(my).alias("lat"),
        fmt_f64(mx).alias("lon"),
        my.alias("lat_d"),
        mx.alias("lon_d"),
    )
    mapping = mc.select(F.col("src").alias("old"), "new_id").unionByName(
        mc.select(F.col("dst").alias("old"), "new_id")
    )

    remapped = (
        g.edges.join(mapping.withColumnRenamed("old", "src"), "src", "left")
        .withColumn("src2", F.coalesce("new_id", "src"))
        .drop("new_id")
        .join(mapping.withColumnRenamed("old", "dst"), "dst", "left")
        .withColumn("dst2", F.coalesce("new_id", "dst"))
        .filter(F.col("src2") != F.col("dst2"))
        .select(
            F.least("src2", "dst2").alias("src"), F.greatest("src2", "dst2").alias("dst")
        )
        .distinct()
    )
    survivors = g.nodes.join(mapping.select(F.col("old").alias("id")), "id", "left_anti")
    # minted ids can collide — with each other (two disjoint matching
    # edges like ('1','2-3') and ('1-2','3') both mint '1-2-3') or with
    # a surviving node. The reference's insert_node is insert-if-absent
    # (src/graph.rs:123-125): collisions merge onto ONE node. Engine:
    # deterministic winner inside the batch (min by coords), survivors
    # win over minted (anti-join) — node ids stay unique.
    new_nodes = (
        new_nodes.groupBy("id")
        .agg(
            F.min(F.struct("lat", "lon", "lat_d", "lon_d")).alias("w")
        )
        .select("id", "w.lat", "w.lon", "w.lat_d", "w.lon_d")
        .join(survivors.select("id"), "id", "left_anti")
    )
    return StreetGraph(survivors.unionByName(new_nodes), remapped)


def remove_under_delta_links(g: StreetGraph, delta: float, max_iter: int = 100) -> StreetGraph:
    """H6 fixpoint (reference src/heuristics.rs:143-169).

    Loop: among links with haversine strictly < delta, contract the
    matching of edges that are the (dist, src, dst)-minimum at BOTH
    endpoints. Newly minted midpoint nodes can create new short links,
    so reconverge until none remain — the reference's outer while-loop.
    """

    def _round(state, cut):
        # contract the previous round's matching, then match again
        g, matching = state
        if matching is not None:
            g = cut(contract_edges(g, matching))
        short = (
            g.edges_with_coords()
            .filter(F.col("dist_m") < delta)
            .select("src", "dst", "dist_m")
        )
        key = F.struct(F.col("dist_m"), F.col("src"), F.col("dst"))
        ends = short.withColumn("k", key).select(
            F.explode(F.array("src", "dst")).alias("endpoint"), "src", "dst", "k"
        )
        w = Window.partitionBy("endpoint")
        local_min = ends.withColumn("kmin", F.min("k").over(w)).filter(
            F.col("k") == F.col("kmin")
        )
        # selected at BOTH endpoints; the global minimum always is, so
        # the matching is empty iff no short link remains
        matching = (
            local_min.groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") == 2)
            .select("src", "dst")
        )
        return g, matching

    # the input is cut once so round 1 does not re-derive its lineage
    (g, _), _ = fixpoint(
        "remove_under_delta_links",
        (g.checkpoint(), None),
        _round,
        stop=empty(of=1),
        max_rounds=max_iter,
    )
    return g
