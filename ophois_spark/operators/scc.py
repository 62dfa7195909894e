"""Strongly-connected components + Broder bowtie over the directed
web/site link graph.

The web-graph structure analysis a crawl actually consumes: the SCC
condensation tells the frontier scheduler which sites are mutually
reachable (the CORE of Broder et al.'s bowtie, WWW'00), which only
feed in (IN: new-site discovery surface), which are sinks (OUT:
content farms / leaf mirrors), and which hang off the side (tendrils
and disconnected islands). The reference has no directed-graph
analysis (its street graph is undirected — src/graph.rs keeps
canonical unordered links); this module is part of the web-scale
graft surface, built on the same driver-loop fixpoint idioms as
operators/components.py.

Algorithm: FW-BW with trimming (McLendon et al., "Finding strongly
connected components in distributed graphs", JPDC'05; Hong et al.,
PPoPP'13 add the trim step):

- TRIM rounds peel nodes with no in-edges or no out-edges inside the
  remaining subgraph — each such node is its own (singleton) SCC.
  One degree aggregation + two semi-joins per level of the tendril
  DAG; the trimmed set is settled in ONE batch per phase (the
  pre/post node-set difference), not per level.
- PEEL rounds run a FUSED min-label fixpoint computing both
  f(v) = min id forward-reachable from v (propagated against edge
  direction) and b(v) = min id that reaches v (propagated along
  edges) in the same loop — round count is max(diam_f, diam_b), not
  the sum, and each round is one checkpoint + one convergence count.
  A node settles when f(v) == b(v) = m: then m is mutually reachable
  with v, so v is in SCC(m), and m is exactly the SCC's minimum id
  (min-forward-reach is an SCC invariant bounded above by the SCC
  min, and settling forces it to be a member). Settled SCCs are
  removed whole — mutual-reachability paths never leave an SCC, so
  peeling preserves the remaining SCCs — and the loop repeats. The
  SCC holding the globally minimal remaining id always settles, so
  the loop terminates in at most #SCC rounds; on web-like graphs
  nearly everything settles in the first peel (the giant CORE plus
  every SCC that is locally minimal both ways). Measured schedule on
  the 257-site overlay: 11 trim levels + 2 peels.

Label contract (matches components.py): scc = min node id in the
component, so results are deterministic and SQL-restatable by a
transitive-closure oracle with no round pinning.

Scale shape at 10^9 hosts: every round is equi-joins + algebraic
min/max/count aggregations on (id)/(src)/(dst) — bucketing the edge
relation by src (sources/bucketed.py) co-locates the propagation
joins; the remaining relation shrinks monotonically, and every loop runs
on the plans/fixpoint.py driver like every iterative operator here.
Worst-case round count is the SCC-DAG depth (a pure chain); real web
graphs have shallow condensations (Broder's bowtie), which is the
case this engine targets — the max_rounds cap makes the pathological
case a loud error, not a hang.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophois_spark.plans.fixpoint import changed, empty, fixpoint, recurs


def _fused_fixpoint(labels: DataFrame, edges: DataFrame, max_iter: int) -> DataFrame:
    """Iterate f(v) := min(f(v), min over successors' f) and
    b(v) := min(b(v), min over predecessors' b) together to the joint
    fixpoint. labels: (id, f, b); edges: (src, dst). One convergence
    count per round (components.py protocol)."""

    def _round(labels: DataFrame, cut) -> DataFrame:
        fmin = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("f").alias("nf")), "dst"
            )
            .groupBy("src")
            .agg(F.min("nf").alias("nf"))
            .withColumnRenamed("src", "id")
        )
        bmin = (
            edges.join(
                labels.select(F.col("id").alias("src"), F.col("b").alias("nb")), "src"
            )
            .groupBy("dst")
            .agg(F.min("nb").alias("nb"))
            .withColumnRenamed("dst", "id")
        )
        return (
            labels.join(fmin, "id", "left")
            .join(bmin, "id", "left")
            .select(
                "id",
                F.least("f", F.coalesce("nf", "f")).alias("f"),
                F.least("b", F.coalesce("nb", "b")).alias("b"),
                F.col("f").alias("pf"),
                F.col("b").alias("pb"),
            )
        )

    labels, _ = fixpoint(
        "min-label propagation",
        labels.select("id", "f", "b"),
        _round,
        stop=changed((F.col("f") != F.col("pf")) | (F.col("b") != F.col("pb"))),
        max_rounds=max_iter,
    )
    return labels.select("id", "f", "b")


def _trim_round(state, cut):
    """One trim level: keep the nodes with both an in- and an out-edge
    inside the remaining subgraph, and the edges between them."""
    _, rem_edges = state
    deg = (
        rem_edges.select(F.col("src").alias("id"), F.lit(1).alias("o"), F.lit(0).alias("i"))
        .unionByName(
            rem_edges.select(F.col("dst").alias("id"), F.lit(0).alias("o"), F.lit(1).alias("i"))
        )
        .groupBy("id")
        .agg(F.max("o").alias("o"), F.max("i").alias("i"))
    )
    alive = cut(deg.filter((F.col("o") == 1) & (F.col("i") == 1)).select("id"))
    rem_edges = rem_edges.join(alive.withColumnRenamed("id", "src"), "src", "left_semi").join(
        alive.withColumnRenamed("id", "dst"), "dst", "left_semi"
    )
    return alive, rem_edges


def strongly_connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 64,
    max_prop: int = 64,
    max_trim: int = 4096,
) -> DataFrame:
    """→ labels DataFrame (id, scc) with scc = min node id in the
    strongly-connected component. nodes: (id); edges: directed
    (src, dst). Self-loops and duplicate edges are ignored."""
    remaining = nodes.select("id").distinct().localCheckpoint(eager=True)
    rem_edges = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    settled: list[DataFrame] = []

    def _peel_round(state, cut):
        remaining, rem_edges = state
        # trim the acyclic fringe level by level until the remaining
        # set stops shrinking; the trimmed set settles as singletons
        (alive, rem_edges), _ = fixpoint(
            "SCC trim",
            state,
            _trim_round,
            stop=recurs(of=0),
            max_rounds=max_trim,
            check_start=True,
        )
        settled.append(
            remaining.join(alive, "id", "left_anti").select("id", F.col("id").alias("scc"))
        )
        base = alive.select("id", F.col("id").alias("f"), F.col("id").alias("b"))
        lab = _fused_fixpoint(base, rem_edges, max_iter=max_prop)
        done = cut(lab.filter(F.col("f") == F.col("b")).select("id", F.col("f").alias("scc")))
        settled.append(done)
        return (
            alive.join(done, "id", "left_anti"),
            rem_edges.join(done.select(F.col("id").alias("src")), "src", "left_anti").join(
                done.select(F.col("id").alias("dst")), "dst", "left_anti"
            ),
        )

    fixpoint(
        "SCC peeling",
        (remaining, rem_edges),
        _peel_round,
        stop=empty(of=0),
        max_rounds=max_rounds,
        check_start=True,
    )
    out = settled[0]
    for part in settled[1:]:
        out = out.unionByName(part)
    return out


CLS_CORE = "CORE"
CLS_IN = "IN"
CLS_OUT = "OUT"
CLS_OTHER = "OTHER"


def bowtie_classes(
    nodes: DataFrame,
    edges: DataFrame,
    labels: DataFrame,
    max_prop: int = 64,
) -> DataFrame:
    """Broder bowtie decomposition → (id, cls) over a directed graph.

    CORE = the largest SCC (tie → smallest scc label, the
    largest_component_nodes convention); IN = reaches CORE but is not
    in it; OUT = reachable from CORE but not in it; OTHER = tendrils,
    tubes and disconnected islands. IN/OUT partition cleanly because a
    node both reaching and reached by the CORE is mutually reachable
    with it and hence inside it.

    Reachability to/from the CORE reuses the fused min-label fixpoint
    with a two-valued label (0 = touched, 1 = not) per direction — an
    algebraic min propagates both flags in one loop without frontier
    bookkeeping."""
    sizes = labels.groupBy("scc").agg(F.count(F.lit(1)).alias("size"))
    core_id = sizes.orderBy(F.desc("size"), F.asc("scc")).limit(1).select("scc")
    in_core = labels.join(F.broadcast(core_id), "scc", "left_semi").select("id")

    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # f-side flag flows dst→src (reaches core); b-side flows src→dst
    # (reachable from core) — exactly the fused SCC propagation with a
    # binary label.
    flag0 = (
        nodes.select("id")
        .join(in_core.withColumn("z", F.lit(0)), "id", "left")
        .select(
            "id",
            F.coalesce("z", F.lit(1)).alias("f"),
            F.coalesce("z", F.lit(1)).alias("b"),
        )
    )
    flags = _fused_fixpoint(flag0, e, max_iter=max_prop)

    j = (
        nodes.select("id")
        .join(in_core.withColumn("c", F.lit(1)), "id", "left")
        .join(flags.select("id", F.col("f").alias("to"), F.col("b").alias("fr")), "id")
    )
    return j.select(
        "id",
        F.when(F.col("c") == 1, F.lit(CLS_CORE))
        .when(F.col("to") == 0, F.lit(CLS_IN))
        .when(F.col("fr") == 0, F.lit(CLS_OUT))
        .otherwise(F.lit(CLS_OTHER))
        .alias("cls"),
    )
