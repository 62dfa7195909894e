"""Connected components + largest-component filter.

The reference runs a sequential BFS from every unvisited node and keeps
the strictly largest component (src/heuristics.rs:10-58; ties broken by
nondeterministic HashMap order — the engine breaks ties on the smallest
component label, and the fixtures have a unique maximum).

Spark-native algorithm: min-label propagation with pointer jumping
(label := label(label)) — ~O(log diameter) rounds, on the
plans/fixpoint.py driver like every iterative operator here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophois_spark.operators.graph import StreetGraph
from ophois_spark.plans.fixpoint import changed, fixpoint, recurs


def connected_components(g: StreetGraph, max_iter: int = 60) -> DataFrame:
    """→ labels DataFrame (id, comp) where comp = min node id in
    component, by min-label propagation with pointer jumping. It won
    its A/B against large-star/small-star contraction at sf0.1 (8.1-8.6
    s vs 11.0-14.0 s; numbers in BENCH/BASELINE.md): star needs one
    fewer round but rewrites the full edge relation through two extra
    shuffles per round."""
    labels = g.nodes.select("id", F.col("id").alias("comp")).localCheckpoint(eager=True)
    edges_bi = g.edges.select("src", "dst").unionByName(
        g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)

    def _round(labels: DataFrame, cut) -> DataFrame:
        labels = labels.select("id", "comp")
        # 1. neighbor-min: the smallest label among each node's neighbors
        neigh_min = (
            edges_bi.join(
                labels.select(F.col("id").alias("dst"), F.col("comp").alias("ncomp")), "dst"
            )
            .groupBy("src")
            .agg(F.min("ncomp").alias("nmin"))
            .withColumnRenamed("src", "id")
        )
        stepped = labels.join(neigh_min, "id", "left").select(
            "id",
            F.least("comp", F.coalesce("nmin", "comp")).alias("comp"),
            F.col("comp").alias("prev"),
        )
        # 2. pointer jumping: comp := comp(comp) (labels are node ids)
        return (
            stepped.alias("s")
            .join(
                labels.select(F.col("id").alias("comp"), F.col("comp").alias("comp2")).alias("m"),
                "comp",
                "left",
            )
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("comp2", "comp")).alias("comp"),
                "prev",
            )
        )

    labels, _ = fixpoint(
        "connected_components",
        labels,
        _round,
        stop=changed(F.col("comp") != F.col("prev")),
        max_rounds=max_iter,
    )
    return labels.select("id", "comp")


def component_size_distribution(labels: DataFrame) -> DataFrame:
    """size → number of components (the reference computes and discards
    this, src/heuristics.rs:13,45-47 — the engine keeps it, it's free)."""
    return (
        labels.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("size")
    )


def largest_component(g: StreetGraph, labels: DataFrame | None = None) -> StreetGraph:
    """Keep the largest component (ties → smallest component label).

    Pass precomputed ``labels`` (id, comp) to reuse a cached
    propagation result; they MUST come from ``connected_components`` on
    the same graph."""
    if labels is None:
        labels = connected_components(g)
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("size"))
    winner = sizes.orderBy(F.desc("size"), F.asc("comp")).limit(1).select("comp")
    keep = labels.join(F.broadcast(winner), "comp", "left_semi").select("id")
    nodes = g.nodes.join(keep, "id", "left_semi")
    # edges never cross components: filtering on src suffices
    edges = g.edges.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
    return StreetGraph(nodes, edges)


def kcore(
    nodes: DataFrame, edges: DataFrame, k: int, max_rounds: int = 100
) -> tuple[DataFrame, int]:
    """→ (core_nodes(id), rounds): the k-core of an undirected simple
    graph — the maximal subgraph in which every node has degree ≥ k —
    by parallel peeling (Matula/Beck): each round drops EVERY node
    whose degree in the SURVIVING subgraph is < k at once, then the
    edges incident to dropped nodes; fixpoint when a round drops
    nothing. The classic dense-subgraph / link-spam forensics primitive
    (comment-spam farms live in high cores; trees and chains have no
    2-core at all).

    The peeled set per round is a deterministic function of the
    surviving subgraph (no tie-breaks anywhere), so rounds past the
    fixpoint are exact identities — the same replay contract as the
    H4/H6 contractions, letting a SQL oracle unroll to a pinned round
    count measured at the gate scales (pytest-guarded).

    Scale shape at 10^12 edges: per round ONE algebraic degree count
    over the endpoint union (map-side combined — hub nodes collapse
    per input split) and two left-semi joins filtering the edge
    relation, all on the same src/dst keys (bucketing the edges makes
    them co-located); the edge set only shrinks. One count action per
    round; lineage cut per round by the fixpoint driver.
    """
    e = edges.select("src", "dst").localCheckpoint(eager=False)

    def _round(state, cut):
        e, _ = state
        deg = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = cut(deg.filter(F.col("d") >= k).select("id"))
        e = (
            e.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        return e, keep

    # the survivor count is the round's single action; the round that
    # repeats it peeled nothing and is not counted (an empty core
    # repeats one round after the peel that emptied it)
    (_, keep), rounds = fixpoint(
        "kcore", (e, None), _round, stop=recurs(of=1), max_rounds=max_rounds + 1
    )
    return keep, rounds - 1


def coreness(
    nodes: DataFrame, edges: DataFrame, k_max: int, max_rounds: int = 100
) -> tuple[DataFrame, dict[int, int]]:
    """→ (labels(id, coreness), rounds_by_k): core decomposition up to
    ``k_max`` — coreness(v) = the largest k ≤ k_max with v in the
    k-core (0 for isolated nodes). Runs the :func:`kcore` peel for
    each k, NESTED: the (k+1)-core of G equals the (k+1)-core of the
    k-core of G, so each peel starts from the previous survivor
    subgraph — the edge relation only ever shrinks across the whole
    decomposition, never resets to the full graph.

    Scale: k_max is a small constant (webgraph forensics uses the low
    cores; degeneracy-order decomposition of the full range is a
    different algorithm); total cost is Σ_k rounds_k peels, each the
    one-agg-two-semijoin round of :func:`kcore`.
    """
    from functools import reduce

    e = edges.select("src", "dst")
    parts = []
    rounds_by_k: dict[int, int] = {}
    for k in range(1, k_max + 1):
        keep, r = kcore(nodes, e, k, max_rounds=max_rounds)
        rounds_by_k[k] = r
        parts.append(keep.select("id", F.lit(k).alias("k")))
        e = (
            e.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
    cores = (
        reduce(DataFrame.unionByName, parts)
        .groupBy("id")
        .agg(F.max("k").alias("coreness"))
    )
    return (
        nodes.join(cores, "id", "left").select(
            "id", F.coalesce("coreness", F.lit(0)).alias("coreness")
        ),
        rounds_by_k,
    )


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support over a CANONICAL (src < dst) simple
    edge relation → (src, dst, support), edges in ≥1 triangle only.
    Under src < dst every triangle a<b<c is generated exactly once by
    the wedge (a,b)+(a,c) closed by (b,c); each triangle then scatters
    to its 3 edges for the algebraic count.
    """
    a = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    c = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = (
        a.join(c, "a")
        .filter(F.col("b") < F.col("c"))
        .join(
            e.select(F.col("src").alias("b"), F.col("dst").alias("c")),
            ["b", "c"],
            "left_semi",
        )
    )
    sides = (
        tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
        .unionByName(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
    )
    return sides.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


def ktruss(edges: DataFrame, k: int, max_rounds: int = 100) -> tuple[DataFrame, int]:
    """→ (truss_edges(src, dst, support), rounds): the k-truss of an
    undirected simple graph — the maximal subgraph where EVERY edge is
    in ≥ k−2 triangles of that subgraph (Cohen '08) — by parallel
    peeling: each round recomputes per-edge support on the surviving
    edges and drops every under-supported edge at once; fixpoint when
    nothing drops. ``support`` is the edge's triangle count in the
    FINAL truss. The cohesion screen one notch stricter than k-core
    (a k-truss is always inside the (k−1)-core but prunes chains and
    stars that survive core peeling) — link-farm and mutual-citation
    forensics read it directly.

    Determinism/replay contract: the dropped set per round is a pure
    function of the surviving subgraph (no tie-breaks), so rounds past
    the fixpoint are identities and a SQL oracle may unroll to any
    pinned count ≥ the measured depth — the kcore/H4/H6 contract.

    Scale shape at 10^12 edges: the wedge join is the cost center; the
    canonical id orientation bounds a wedge source's fan-out by its
    forward-degree (the degree-ordered variant in metrics.triangle_
    counts drops in unchanged if id order correlates with degree —
    with the same output, since support is orientation-free). Each
    round: one wedge equi-join + one left-semi closure + one algebraic
    count + one inner join back, one count action, lineage cut by the
    fixpoint driver; the edge relation only shrinks.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _round(keep: DataFrame, cut) -> DataFrame:
        sup = _edge_support(keep.select("src", "dst"))
        return sup.filter(F.col("support") >= k - 2)

    # as in kcore: the surviving-edge count is the single action and
    # the repeating round is not counted
    keep, rounds = fixpoint(
        "ktruss", e, _round, stop=recurs(), max_rounds=max_rounds + 1
    )
    return keep, rounds - 1


def lpa_communities(nodes: DataFrame, edges: DataFrame, rounds: int = 4) -> DataFrame:
    """→ (id, label): synchronous label propagation (Raghavan '07) run
    for EXACTLY ``rounds`` rounds over the undirected simple graph —
    init label(v)=v; each round every node adopts the most frequent
    label among its neighbors, ties to the smallest label; isolated
    nodes keep their own. Community detection for link-farm / topic-
    cluster screening one level below connected components (which this
    refines: labels never cross a component boundary).

    Fixed-round semantics ON PURPOSE: async LPA is order-dependent and
    sync LPA can 2-cycle on bipartite-ish regions, so "run to
    convergence" is not a well-defined deterministic contract. "Labels
    after R synchronous min-tie-break rounds" is — bit-replayable on
    any engine, so the oracle unrolls the identical R rounds rather
    than pinning a measured depth (contrast ktruss, where the fixpoint
    IS deterministic).

    Scale shape: per round ONE adjacency→label equi-join, ONE
    map-side-combinable (id, lbl) count, ONE argmax via min(struct) —
    no window over a node's full neighborhood and no skew cliff: a
    celebrity node's million neighbor rows pre-aggregate to its
    distinct incident labels before the reduce. Lineage truncated per
    round; no driver action anywhere (the plan is R unrolled stages).
    """
    sym = (
        edges.select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    adj = sym.unionByName(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = nodes.select(F.col("id"), F.col("id").cast("long").alias("label"))

    def _round(labels: DataFrame, cut) -> DataFrame:
        nbr = (
            adj.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("nlbl")),
                "dst",
            )
            .groupBy(F.col("src").alias("id"), F.col("nlbl"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = nbr.groupBy("id").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("nlbl").alias("lbl"))).alias("b")
        )
        return labels.join(best, "id", "left").select(
            "id", F.coalesce(F.col("b.lbl"), F.col("label")).alias("label")
        )

    labels, _ = fixpoint("lpa_communities", labels, _round, rounds=rounds)
    return labels
