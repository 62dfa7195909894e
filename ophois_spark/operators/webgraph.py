"""Link-graph importance scoring for corpus curation.

Common-Crawl-scale corpus builds weight documents by link-graph
centrality (the crawl frontier and quality weighting both consume it).
This module scores an explicit (src, dst) edge relation with PageRank —
implemented in INTEGER arithmetic so the result is bit-identical across
engines and partitionings: floating-point PageRank sums doubles in
shuffle order, which no cross-engine oracle can pin, while 64-bit
integer sums are associative-commutative exactly.

Semantics (scale S = 10^6, damping d = 85/100, iterations unrolled):

    rank_0(v)   = S
    contrib(u)  = rank(u) DIV outdeg(u)          -- truncating division
    rank_i+1(v) = (15*S) DIV 100
                  + (85 * Σ_{u→v} contrib(u)) DIV 100

Truncation loses ≤1 unit per term (1e-6 of a rank) — the ordering it
induces converges to float PageRank's as S grows, and the arithmetic is
exactly replayable in ANSI SQL.

Scale shape at 10^12 edges: the per-iteration cost is ONE shuffle of
the edge relation joined to the (much smaller) rank relation plus one
aggregation on dst — the join is on src, so bucketing/pre-partitioning
the edges by src makes every iteration's join co-located (zero
exchange on the big side, see sources/bucketed.py); out-degrees fold
into the edge relation ONCE before the loop instead of re-joining per
iteration; hot dst nodes (the skew case: everyone links to the hub)
collapse map-side because the dst aggregation is algebraic. The rounds
run on the plans/fixpoint.py driver like every iterative operator here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophois_spark.plans.fixpoint import fixpoint, recurs, within

PAGERANK_SCALE = 1_000_000
PAGERANK_ITERS = 5
DAMPING_NUM = 85
DAMPING_DEN = 100


PAGERANK_MAX_ROUNDS = 200  # safety cap for the convergence loops
PAGERANK_FLOAT_TOL = 1e-6


def _integer_arith(scale: int) -> tuple:
    """(start, contribution, new rank) Columns of the integer round."""
    base = (DAMPING_DEN - DAMPING_NUM) * scale // DAMPING_DEN
    new = F.lit(base) + F.expr(f"({DAMPING_NUM} * coalesce(s, 0L)) div {DAMPING_DEN}")
    return F.lit(scale).cast("long"), F.expr("rank div outdeg"), new.cast("long")


def _double_arith(damping: float) -> tuple:
    """(start, contribution, new rank) Columns of the double round."""
    new = F.lit(1.0 - damping) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
    return F.lit(1.0), F.col("rank") / F.col("outdeg"), new


def _pagerank(
    nodes: DataFrame, edges: DataFrame, op: str, arith: tuple, **loop
) -> tuple[DataFrame, int]:
    """The one PageRank round body, in the given arithmetic
    (``_integer_arith`` / ``_double_arith``), run by the fixpoint driver
    with the caller's stop rule and round limit (``loop``). Each round
    is one src-keyed equi join of the out-degree-folded edge relation
    with the rank relation and one algebraic dst aggregation; ``prev``
    carries the previous rank for a residual stop rule."""
    start, contrib, new = arith
    # out-degree folds into the edge relation once, outside the loop
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e = edges.join(outdeg, "src").localCheckpoint(eager=False)

    def _round(ranks: DataFrame, cut) -> DataFrame:
        sums = (
            e.join(ranks.select(F.col("id").alias("src"), "rank"), "src")
            .select(F.col("dst").alias("id"), contrib.alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        return ranks.join(sums, "id", "left").select(
            "id", new.alias("rank"), F.col("rank").alias("prev")
        )

    ranks = nodes.select("id", start.alias("rank")).localCheckpoint(eager=False)
    ranks, rounds = fixpoint(op, ranks, _round, **loop)
    return ranks.select("id", "rank"), rounds


def pagerank_converged(
    nodes: DataFrame,
    edges: DataFrame,
    scale: int = PAGERANK_SCALE,
    max_rounds: int = PAGERANK_MAX_ROUNDS,
) -> tuple[DataFrame, int]:
    """→ (ranks, rounds): integer PageRank run to its EXACT fixed
    point — the real stopping rule, not an unroll count.

    Because the arithmetic is 64-bit integer, the iteration map is a
    deterministic function on a finite lattice, so the orbit from the
    uniform start MUST become recurrent: either a true fixed point
    (L1 residual == 0 — the 500-doc gate overlay fixes at round 62)
    or a short limit cycle (truncating division is not monotone, so a
    period ≥ 2 oscillation of a few final units is possible — the
    5000-doc overlay enters one instead of fixing). The stopping rule
    is therefore STATE RECURRENCE: stop at the first round whose rank
    vector reproduces any earlier round's, the start included. Both
    outcomes are exactly deterministic (no epsilon, no shuffle-order
    dependence), so a SQL oracle replays the result by unrolling to
    the measured stop round (for a fixed point, to ANY count at or
    beyond it, since further rounds are identities).

    Recurrence is detected on the driver's exact order-independent
    signature — (count, sum, xor of per-row hashes) — which is also the
    round's single Spark action. ``max_rounds`` is a safety cap; the
    loop raises if it trips, because returning a non-recurrent state
    would silently break the oracle contract.
    """
    return _pagerank(
        nodes,
        edges,
        "pagerank_converged",
        _integer_arith(scale),
        stop=recurs("id", "rank", total="rank"),
        max_rounds=max_rounds,
        check_start=True,
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = PAGERANK_ITERS,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """→ (id, rank) integer PageRank after ``iters`` unrolled
    iterations. ``nodes``: (id), ``edges``: (src, dst) — self-loops
    and duplicate edges must already be resolved by the caller."""
    ranks, _ = _pagerank(nodes, edges, "pagerank", _integer_arith(scale), rounds=iters)
    return ranks


def pagerank_float(
    nodes: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = PAGERANK_FLOAT_TOL,
    max_rounds: int = PAGERANK_MAX_ROUNDS,
) -> tuple[DataFrame, int]:
    """→ (ranks, rounds): the PRODUCTION twin of ``pagerank_converged``
    — double arithmetic, stopped at mean L1 residual < ``tol``
    (Σ|rank_i − rank_{i−1}| / n), ranks normalized so the start is 1.0
    per node like the integer path's ``scale``.

    When to use which: ``pagerank_converged`` runs on an exact integer
    lattice so its orbit is bit-replayable by a SQL oracle — but its
    stopping rule (state recurrence: exact fixed point or limit-cycle
    re-entry) keeps iterating long after the ordering has stabilized,
    because the last integer units oscillate. Measured on the sf0.01
    gate overlay: 62 recurrence rounds vs 40 tolerance rounds at
    tol=1e-6 (and ~20 at 1e-4) with IDENTICAL top-20 ordering
    (pinned in tests/test_webgraph_pack.py).
    At 10^10 edges each round is a full edge-relation join, so the
    integer path is a CORRECTNESS-GATING device; this float path is
    what a production crawl/quality pipeline should run. It is not
    oracle-gatable (double sums accumulate in shuffle order), which is
    exactly the trade the integer twin exists to cover; bench.py times
    both and reports the round counts (link_pagerank_float row).

    Same round body as the integer path; the residual is read off the
    carried previous rank in the round's single action.
    """
    return _pagerank(
        nodes,
        edges,
        "pagerank_float",
        _double_arith(damping),
        stop=within(F.col("rank") - F.col("prev"), tol),
        max_rounds=max_rounds,
    )


def host_graph(
    pages: DataFrame, edges: DataFrame, url_col: str = "url"
) -> tuple[DataFrame, DataFrame]:
    """→ (hosts(id), host_edges(src, dst)): collapse the page-level
    link graph to the DISTINCT simple inter-host graph — the relation
    host-level centrality, crawl scheduling, and link-spam forensics
    all consume. Intra-host edges are dropped (navigation boilerplate,
    not endorsement) and parallel edges collapse to one, the standard
    host-graph construction.

    Scale shape at 10^12 edges: two shuffle joins on doc_id map the
    endpoints to hosts (same shape as :func:`host_rollup` — bucket
    pages+edges by doc_id/src to co-locate the src side), then ONE
    distinct whose input is already down to (src_host, dst_host)
    pairs; partial (map-side) dedup collapses the hot-host fan-in
    before the shuffle, so the exchanged volume is bounded by the
    host-graph edge count, not the link count.
    """
    from ophois_spark.operators.urls import host_of

    h = pages.select("doc_id", host_of(F.col(url_col)).alias("host"))
    he = (
        edges.join(
            h.select(F.col("doc_id").alias("src"), F.col("host").alias("src_host")),
            "src",
        )
        .join(
            h.select(F.col("doc_id").alias("dst"), F.col("host").alias("dst_host")),
            "dst",
        )
        .filter(F.col("src_host") != F.col("dst_host"))
        .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
        .distinct()
    )
    hosts = h.select(F.col("host").alias("id")).distinct()
    return hosts, he


HITS_ITERS = 2


def hits_scores(nodes: DataFrame, edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """→ (id, hub, auth): Kleinberg HITS (JACM'99) in exact 64-bit
    integer arithmetic, ``iters`` unrolled mutual-reinforcement rounds
    from the all-ones start, WITHOUT the per-round normalization.

    Normalization in the textbook iteration is a positive scalar per
    round — it never changes the ORDERING of scores within a round,
    which is what corpus curation consumes (rank pages/hosts by hub or
    authority). Dropping it keeps every value an exact integer sum, so
    the result is bit-identical across engines and partitionings and an
    ANSI-SQL oracle replays it by unrolling (the same replayability
    contract as integer :func:`pagerank`). Growth per round is bounded
    by max-degree × previous max, so int64 holds for small ``iters`` on
    bounded-degree graphs; callers owning dense graphs should rescale
    between rounds (a DIV by a pinned constant keeps replayability).

    Per round: auth ← Σ over in-edges of hub, hub ← Σ over out-edges
    of the NEW auth — each ONE equi-join of the edge relation with the
    previous score vector plus one algebraic (map-side-combinable)
    aggregation; hot hubs/authorities collapse in the partial agg.
    """
    e = edges.localCheckpoint(eager=False)

    def _round(state, cut):
        _, h = state
        a = cut(
            nodes.join(
                e.join(h.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("hub").alias("s")),
                "id",
                "left",
            ).select("id", F.coalesce("s", F.lit(0)).cast("long").alias("auth"))
        )
        h = nodes.join(
            e.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("s")),
            "id",
            "left",
        ).select("id", F.coalesce("s", F.lit(0)).cast("long").alias("hub"))
        return a, h

    start = (
        nodes.select("id", F.lit(1).cast("long").alias("auth")),
        nodes.select("id", F.lit(1).cast("long").alias("hub")),
    )
    (a, h), _ = fixpoint("hits_scores", start, _round, rounds=iters)
    return h.join(a, "id").select("id", "hub", "auth")


def reciprocal_link_share(host_edges: DataFrame) -> DataFrame:
    """→ (host, n_out, n_reciprocal, reciprocal_pct): per source host,
    how many of its distinct outgoing inter-host links are returned by
    the target — the classic link-exchange/link-farm signal (organic
    endorsement on the web is overwhelmingly one-directional; TrustRank
    -era spam forensics threshold on exactly this share).

    ``host_edges`` must already be the DISTINCT simple host graph
    (:func:`host_graph`). Reciprocity is ONE self-equi-join on the
    swapped key (left-semi, so nothing is materialized beyond the
    match bit) followed by one algebraic rollup; the percentage is
    floored to whole percent — the integer cross-engine contract this
    repo applies to every ratio.
    """
    e = host_edges.select("src", "dst")
    rec = e.join(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
        "left_semi",
    )
    n_out = e.groupBy(F.col("src").alias("host")).agg(F.count(F.lit(1)).alias("n_out"))
    n_rec = rec.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("n_reciprocal")
    )
    return (
        n_out.join(n_rec, "host", "left")
        .select(
            "host",
            "n_out",
            F.coalesce("n_reciprocal", F.lit(0)).alias("n_reciprocal"),
            F.expr("(100 * coalesce(n_reciprocal, 0)) div n_out").alias(
                "reciprocal_pct"
            ),
        )
    )


def host_rollup(pages: DataFrame, edges: DataFrame, url_col: str = "url") -> DataFrame:
    """→ (host, n_docs, n_out_links, n_intra_links, n_inter_links,
    n_dst_hosts): the crawl-forensics rollup — per host, how many pages
    it contributes and how its outgoing links split between self-links
    (navigation boilerplate) and cross-host links (the edges that carry
    PageRank mass and schedule the crawl frontier).

    ``pages``: (doc_id, url) — host is extracted with
    :func:`ophois_spark.operators.urls.host_of`, so messy spellings
    (case, ports, www) land on one key. ``edges``: (src, dst) doc-id
    pairs.

    Scale shape at 10^12 edges: the host map is one narrow projection
    of ``pages`` (same cardinality as the node set — NOT broadcastable
    at corpus scale, so both endpoint joins are shuffle joins on
    doc_id; bucketing pages and edges by doc_id/src makes the src-side
    join co-located, see sources/bucketed.py). The final per-host
    aggregation is algebraic except ``n_dst_hosts``
    (count-distinct ships one row per distinct (src_host, dst_host)
    pair after partial dedup — bounded by the host-graph edge count,
    orders of magnitude below the link count). Hot hosts (every corpus
    has a wikipedia.org) collapse map-side in the algebraic terms; the
    distinct term rides AQE skew-split.
    """
    from ophois_spark.operators.urls import host_of

    h = pages.select("doc_id", host_of(F.col(url_col)).alias("host"))
    eh = (
        edges.join(
            h.select(F.col("doc_id").alias("src"), F.col("host").alias("src_host")),
            "src",
        )
        .join(
            h.select(F.col("doc_id").alias("dst"), F.col("host").alias("dst_host")),
            "dst",
        )
    )
    link_agg = eh.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).alias("n_out_links"),
        F.sum(
            F.when(F.col("src_host") == F.col("dst_host"), 1).otherwise(0)
        ).alias("n_intra_links"),
        F.countDistinct("dst_host").alias("n_dst_hosts"),
    )
    docs_agg = h.groupBy("host").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        docs_agg.join(link_agg, "host", "left")
        .select(
            "host",
            "n_docs",
            F.coalesce("n_out_links", F.lit(0)).alias("n_out_links"),
            F.coalesce("n_intra_links", F.lit(0)).alias("n_intra_links"),
            (
                F.coalesce("n_out_links", F.lit(0))
                - F.coalesce("n_intra_links", F.lit(0))
            ).alias("n_inter_links"),
            F.coalesce("n_dst_hosts", F.lit(0)).alias("n_dst_hosts"),
        )
    )


def resolve_redirects(edges: DataFrame, max_depth: int) -> DataFrame:
    """Redirect-chain resolution by POINTER DOUBLING → (src, final,
    hops): for every redirecting URL, the terminal target it reaches
    and the number of hops. ``edges`` is the functional relation
    (src, dst) — at most one redirect per src (a crawler's 3xx map);
    a URL with no out-edge is terminal.

    ``max_depth`` is the crawl policy's redirect cap (real crawlers
    stop at 5-10 and mark deeper chains dead) — it bounds the chain
    length BY CONTRACT, so the loop is a FIXED ceil(log2(max_depth))
    unroll, never data-dependent, and an oracle replays the identical
    rounds. Round k rewrites every pointer to where 2^k steps land:
    one hash equi-join of the mapping against itself (``b.src =
    a.dst``), composing hop counts additively; once a pointer reaches
    a terminal no row matches and it rides unchanged.

    Scale shape at 10^11 URLs: log2(depth) self-joins of a relation
    that never grows a row (each round only rewrites columns) — vs the
    naive iterate-one-hop loop's max_depth joins. Heavy fan-in (spam
    rings funneling into one landing page) is build-side key skew on
    the equi-join: AQE skew-split territory, no fan-OUT anywhere since
    the relation is functional. Input must be acyclic within
    max_depth (a cycle is a dead chain a crawler drops upstream);
    cycle members converge to a node inside the cycle with saturated
    hops, they never diverge or duplicate.
    """
    def _round(f: DataFrame, cut) -> DataFrame:
        nxt = f.select(
            F.col("src").alias("_s2"),
            F.col("dst").alias("_d2"),
            F.col("hops").alias("_h2"),
        )
        return f.join(nxt, F.col("dst") == F.col("_s2"), "left").select(
            "src",
            F.coalesce("_d2", "dst").alias("dst"),
            (F.col("hops") + F.coalesce("_h2", F.lit(0))).alias("hops"),
        )

    f = edges.select("src", "dst", F.lit(1).cast("long").alias("hops"))
    f, _ = fixpoint(
        "resolve_redirects", f, _round, rounds=max(1, (max_depth - 1).bit_length())
    )
    return f.select("src", F.col("dst").alias("final"), "hops")


def crawl_frontier(ranked_docs: DataFrame, rounds: int, host_col: str = "source") -> DataFrame:
    """Politeness-scheduled crawl frontier → (doc_id, host, rank,
    fetch_round): each host releases its pages in importance order —
    ``fetch_round`` = the page's 1-based rank position WITHIN its host
    (rank desc, doc_id asc) — and the frontier keeps the first
    ``rounds`` rounds. One fetch per host per round is the standard
    crawl politeness contract (a frontier that ordered purely by rank
    would hammer the top host); the output is a deterministic SET, so
    the gate needs no global ordering.

    Input: (doc_id, <host_col>, rank) — in the registry the converged
    PageRank memo joined to the documents dim, so scheduling composes
    the gated importance lineage instead of re-deriving it.

    Scale shape: ONE window partitioned by host — bounded by a single
    host's page count, the same per-key bound every crawler queue has
    to hold anyway — then a codegen filter. No global sort, no driver
    action; a mega-host (the skew case) costs one task scanning its
    own pages, and pre-capping with an approximate per-host top-K
    before the exact window drops in unchanged if a host's page count
    itself explodes.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(F.desc("rank"), F.asc("doc_id"))
    return (
        ranked_docs.select("doc_id", F.col(host_col).alias("host"), "rank")
        .withColumn("fetch_round", F.row_number().over(w).cast("long"))
        .filter(F.col("fetch_round") <= rounds)
    )
