"""Line-record graph IO — the reference's wire format, relationally.

Wire format (reference README.md:101-106, src/graph.rs:74-102): one
record per line, fields split on a separator (default U+241F "␟");
3 fields = node ``id␟lat␟lon``, 2 fields = undirected link ``u␟v``.

Load semantics re-derived as DataFrame idioms:
- node dedup: FIRST occurrence wins (src/graph.rs:82-89) →
  ``min_by(struct(lat, lon), struct(*order_cols))`` — the tuple-min over
  the arrival order IS "first wins", expressed as a hash aggregation so
  Spark applies map-side partial combine (no global sort; the
  ``row_number`` window formulation shuffles AND sorts every record)
- link dedup: skip if either direction present (src/graph.rs:91-97) →
  canonicalize (least/greatest) + ``dropDuplicates``
- links referencing absent nodes make the reference panic
  (src/graph.rs:146-152 unwraps); the engine drops them silently in the
  default path (no extra count action on the hot path — the snapshot
  layer's row-count lineage exposes the delta) and raises under
  ``strict=True``
- self-loops are dropped (the reference half-counts them — a quirk of
  the both-directions map — never exercised by its fixtures)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophois_spark import SEPARATOR
from ophois_spark.functions import canonical_edge
from ophois_spark.operators.graph import StreetGraph


def parse_records(
    records: DataFrame,
    order_cols: list[str],
    line_col: str = "line",
    separator: str = SEPARATOR,
    strict: bool = False,
    materialize_nodes: bool = False,
) -> tuple[StreetGraph, dict[str, int]]:
    """records(line + ordering columns) → (StreetGraph, load metrics).

    ``materialize_nodes=True`` persists the deduped node set
    (MEMORY_AND_DISK) so the edge-endpoint semi-joins and every
    downstream consumer reuse it instead of re-deduplicating — the
    local analogue of committing a snapshot after the dedup stage.
    """
    fields = F.split(F.col(line_col), separator)
    parsed = records.select(*order_cols, fields.alias("f"), F.size(fields).alias("n"))

    bad = parsed.filter(~F.col("n").isin(2, 3))
    if strict:
        n_bad = bad.count()
        if n_bad:
            raise ValueError(f"{n_bad} malformed records (field count not in 2/3)")

    # ordering = (arrival order, then the coordinate value itself): the
    # value tie-break makes the winner deterministic even if two records
    # share the exact arrival key (e.g. a 64-bit page-hash collision at
    # 10^12 scale) — min_by with ties is otherwise arbitrary per run
    first = F.min_by(
        F.struct(F.col("f")[1].alias("lat"), F.col("f")[2].alias("lon")),
        F.struct(*[F.col(c) for c in order_cols], F.col("f")[1], F.col("f")[2]),
    ).alias("first")
    nodes = (
        parsed.filter(F.col("n") == 3)
        .select(F.col("f")[0].alias("id"), *order_cols, "f")
        .groupBy("id")
        .agg(first)
        .select(
            "id",
            F.col("first.lat").alias("lat"),
            F.col("first.lon").alias("lon"),
            F.col("first.lat").cast("double").alias("lat_d"),
            F.col("first.lon").cast("double").alias("lon_d"),
        )
    )
    if materialize_nodes:
        from pyspark import StorageLevel

        nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)

    # Self-loop contract — INTENTIONAL divergence from the reference.
    # The reference load keeps a self-link `a␟a` (graph.rs:91-97 dedups
    # only on presence-of-either-direction, so the loop inserts), but
    # its own bookkeeping is degenerate for loops: insert_link((a,a))
    # runs twice (graph.rs:93-95), pushing TWO neighbour entries while
    # the links map keeps ONE (a,a) key, so a later remove_node(a)
    # iterates both neighbours and panics on the second remove_link's
    # unwrap (graph.rs:127-136, 154). No reference fixture exercises a
    # loop. The engine therefore DROPS self-loops at load (a street
    # graph has no zero-length way); under strict=True their presence
    # raises instead of being silently dropped. Pinned in
    # tests/test_graph_load.py::test_self_loop_contract.
    lo, hi = canonical_edge(F.col("f")[0], F.col("f")[1])
    links = parsed.filter(F.col("n") == 2)
    if strict:
        n_loops = links.filter(F.col("f")[0] == F.col("f")[1]).count()
        if n_loops:
            raise ValueError(
                f"{n_loops} self-loop link(s) in input; the engine drops "
                "self-loops (reference keeps them with degenerate "
                "remove semantics — see parse_records docstring)"
            )
    raw_edges = (
        links
        .select(lo.alias("src"), hi.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )

    # drop links whose endpoints are absent (reference panics instead).
    # The deduped nodes ARE the distinct id set — when materialized they
    # are computed once and broadcast into both semi-joins (AQE sizes
    # them at runtime); never recomputed per branch.
    node_ids = nodes.select("id")
    edges = raw_edges.join(
        node_ids.withColumnRenamed("id", "src"), "src", "left_semi"
    ).join(node_ids.withColumnRenamed("id", "dst"), "dst", "left_semi").select("src", "dst")

    metrics: dict[str, int] = {}
    if strict:
        n_edges, n_valid = raw_edges.count(), edges.count()
        if n_valid != n_edges:
            raise ValueError(f"{n_edges - n_valid} links reference absent nodes")
        metrics["dangling_links"] = 0
    return StreetGraph(nodes, edges), metrics


def graph_from_lines(
    spark: SparkSession, lines: list[str], separator: str = SEPARATOR
) -> StreetGraph:
    """Build a StreetGraph from record lines in input order (load semantics)."""
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(lines)], "seq long, line string"
    )
    g, _ = parse_records(df, ["seq"], separator=separator)
    return g


def graph_from_tuples(
    spark: SparkSession,
    nodes: list[tuple[str, str, str]],
    links: list[tuple[str, str]],
) -> StreetGraph:
    """Build a StreetGraph from fixture tuples (test helper; load semantics)."""
    return graph_from_lines(
        spark, [SEPARATOR.join(n) for n in nodes] + [SEPARATOR.join(e) for e in links]
    )


def show_records(g: StreetGraph, separator: str = SEPARATOR) -> DataFrame:
    """Graph → line records (reference Graph::show, src/graph.rs:104-121).

    The reference prints in nondeterministic HashMap order; the engine
    sorts for determinism (parity contract is set-equality). One column
    ``line``; nodes first, then canonical links, each sorted.
    """
    node_lines = g.nodes.select(
        F.concat_ws(separator, "id", "lat", "lon").alias("line"), F.lit(0).alias("k")
    )
    edge_lines = g.edges.select(
        F.concat_ws(separator, "src", "dst").alias("line"), F.lit(1).alias("k")
    )
    return node_lines.unionByName(edge_lines).orderBy("k", "line").select("line")
