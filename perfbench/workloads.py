"""The benchmark's workloads.

Each workload builds its inputs once (``setup``), then runs closed-loop
passes with one client: a pass starts only after the previous one has
finished and been checked. ``run_pass`` calls the engine's public entry
points as a user would; ``traced_pass`` does the same work through the
layer functions one by one, each inside a span, so the trace can say
where a pass spends its time.

The seed sets the order of the rows within each partition of the
pages and documents tables, i.e. the order in which they reach the
operators, and in ``ingest`` which pages carry planted coordinate
conflicts. The generators fix each page's tile and each document's
text, so the ``simplify_query`` results, and hence their pinned
digests, do not depend on the seed; ``ingest`` is checked against a
replay of its own seeded input.
"""

from __future__ import annotations

import json
import os

from pyspark import StorageLevel
from pyspark.sql import functions as F

from ophois_spark.operators.components import largest_component
from ophois_spark.operators.contraction import (
    remove_degree_two_nodes,
    remove_under_delta_links,
    remove_under_delta_nodes,
)
from ophois_spark.operators.corpus import corpus_pipeline
from ophois_spark.operators.discretize import discretize
from ophois_spark.operators.extract import extract_page_records, graph_from_pages
from ophois_spark.operators.graph import StreetGraph
from ophois_spark.operators.spatial import knn_join, pip_join, render_tiles, tile_assignment
from ophois_spark.operators.webgraph import pagerank_converged
from ophois_spark.pipeline import discretize_pipeline, graph_metrics, simplify
from ophois_spark.plans.snapshots import SnapshotLog
from ophois_spark.sources.graph_io import parse_records
from ophois_spark.sources.pages import page_xml, synth_pages
from perfbench.checks import (
    extract_pages,
    graph_digest,
    replay_digest,
    replay_load,
    spark_digest,
)
from perfbench.inputs import admin_polygons, docs_frame, link_overlay, plant_conflicts, synth_docs
from perfbench.trace import MB

GRID = 12
INGEST_PAGES = 300
SIMPLIFY_PAGES = 16
SIMPLIFY_DELTA = 10.0
DISCRETIZE_DELTA = 50.0
CORPUS_DOCS = 300  # a multiple of 30: PageRank then recurs after 25 rounds, its fewest
KNN_K, KNN_RES, KNN_EVERY = 5, 18, 29  # k nearest nodes of every 29th node
PIP_RES = 14
TILE_ZOOM = 14
RENDER_ZOOM, RENDER_PX = 16, 256

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def seeded_pages(ctx, n_pages: int, plant: bool = False):
    """``n_pages`` synthetic pages spread round-robin over ``cores``
    partitions, in a seeded order within each, materialized so no pass
    pays for generation. ``plant`` plants first-wins conflicts on a
    seeded subset of pages (``inputs.plant_conflicts``).

    Round-robin, not hash partitioning on a seeded key: unequal
    partitions made the straggler task, and so the pass time, depend on
    the seed. Not the generator's own split either: its partitions hold
    contiguous blocks of tiles, unlike crawled pages, and ingest then
    ran 12 jobs instead of 10 and took about 1.5x as long."""
    with ctx.tracer.span("sources.pages.synth_pages") as sp:
        pages = synth_pages(ctx.spark, n_pages, grid=GRID)
        if plant:
            pages = plant_conflicts(pages, ctx.seed)
        pages = (
            pages.repartition(ctx.cores)
            .sortWithinPartitions(F.xxhash64("url", F.lit(ctx.seed)))
            .localCheckpoint(eager=True)
        )
        sp["rows"] = n_pages
    return pages


def page_texts(pages) -> list[tuple[int, str]]:
    """``(arrival key, text)`` of the map pages; the arrival key is the
    url hash ``graph_from_pages`` orders its dedup by."""
    rows = pages.filter(pages["lang"] == "en").select(F.xxhash64("url").alias("pg"), "text")
    return [(r["pg"], r["text"]) for r in rows.collect()]


def street_graph(ctx, n_pages: int) -> tuple[StreetGraph, dict, set]:
    """The street graph of the first ``n_pages`` generated pages, loaded
    by the replay (the load the ``ingest`` workload checks the engine
    against) and materialized over ``cores`` partitions. The pages come
    from the generator's own page function, laid out as
    ``synth_pages`` lays them out, in the driver: the workload's pass
    does not need the XML kernel or the generator's Spark job."""
    side, texts = max(1, int(n_pages**0.5)), []
    for i in range(n_pages):
        if i % 7 != 6:  # synth_pages makes every 7th page non-map noise
            texts.append((i, page_xml(i % side, i // side, GRID)))
    nodes, links, _ = replay_load(extract_pages(texts))
    spark = ctx.spark
    nodes_df = spark.createDataFrame(
        [(i, lat, lon) for i, (lat, lon) in nodes.items()], "id string, lat string, lon string"
    ).select("id", "lat", "lon", F.col("lat").cast("double").alias("lat_d"),
             F.col("lon").cast("double").alias("lon_d"))
    edges_df = spark.createDataFrame(sorted(links), "src string, dst string")
    g = StreetGraph(nodes_df.repartition(ctx.cores), edges_df.repartition(ctx.cores)).checkpoint()
    return g, nodes, links


def warm_workers(ctx) -> None:
    """Start the Python workers and import Arrow and pandas in each."""
    warm = ctx.spark.range(ctx.cores * 4).repartition(ctx.cores)
    warm.select(F.pandas_udf(lambda s: s, "long")(warm["id"])).count()


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    ) / MB


class Workload:
    name: str
    n_edges: int
    warmup_passes: int  # unmeasured passes at the end of set-up

    def __init__(self, ctx, n_pages: int):
        self.ctx = ctx
        self.n_pages = n_pages

    def rates(self, job_s: float) -> dict[str, float]:
        return {"pages_per_s": self.n_pages / job_s, "edges_per_s": self.n_edges / job_s}


class Ingest(Workload):
    """Pages -> deduplicated street graph -> counts.

    The XML kernel, the Arrow transfer and the dedup shuffles do the
    work; nothing iterates. Tiles overlap, so about an eighth of the
    node records are cross-page duplicates, and the planted conflicts
    make first-wins decide which copy a node keeps."""

    name = "ingest"
    # the JIT and Spark's plan caches keep warming over the first passes
    # of a fresh JVM; the first pass is the slowest by far
    warmup_passes = 1

    def __init__(self, ctx, n_pages: int = INGEST_PAGES):
        super().__init__(ctx, n_pages)

    def setup(self) -> None:
        pages = seeded_pages(self.ctx, self.n_pages, plant=True)
        self.pages = pages.filter(pages["lang"] == "en")
        texts = page_texts(self.pages)
        with self.ctx.tracer.span("kernels.osmxml.extract_records") as sp:
            extracted = extract_pages(texts)
        sp["xml_mb"] = sum(len(t.encode()) for _, t in texts) / MB
        nodes, links, conflicts = replay_load(extracted)
        self.extracted = extracted
        self.expected = replay_digest(nodes, links)
        self.n_edges = len(links)
        n_records = sum(len(r) for _, r in extracted)
        print(f"# ingest input: {len(texts)} map pages, {n_records} records, {len(nodes)} nodes "
              f"({conflicts} with conflicting copies), {len(links)} links")

    def run_pass(self, root: str) -> dict:
        g = graph_from_pages(self.pages, persist_records=True)
        g.counts()
        return {"graph": g}

    def traced_pass(self, root: str) -> dict:
        span = self.ctx.tracer.span
        with span("perfbench.pass"):
            # graph_from_pages' body, with the records counted so the
            # lazy extract runs inside its own span; the self-test pins
            # this copy to graph_from_pages' plans and Spark jobs
            with span("operators.extract.extract_page_records") as sp:
                records = (
                    extract_page_records(self.pages)
                    .select(F.xxhash64("url").alias("pg"), "pos", "line")
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                sp["rows"] = records.count()
            with span("sources.graph_io.parse_records") as sp:
                g, _ = parse_records(records, ["pg", "pos"], materialize_nodes=True)
                g = StreetGraph(g.nodes, g.edges.persist(StorageLevel.MEMORY_AND_DISK))
                sp["rows"] = sum(g.counts())
        return {"graph": g}

    def check(self, out: dict) -> list[str]:
        got = graph_digest(out["graph"])
        return [] if got == self.expected else [f"graph {got} != replay {self.expected}"]


class SimplifyQuery(Workload):
    """The second half of ``jobs/build_graph_job.py`` on a materialized
    single-component street grid, then read-only queries.

    ``simplify`` then ``discretize_pipeline`` run into a fresh snapshot
    root, then the same two calls again on that root, which resume from
    the committed stages. Every fixpoint loop runs on a high-diameter
    graph; stage commits use the snapshot write path and the resume its
    read path.

    The queries are the spatial operators over the street grid, the
    corpus flagship and PageRank to its fixed point over the corpus's
    link graph: the cell kernels, the corpus funnel (gate, exact and
    near-duplicate dedup, whose clustering runs connected components on
    a low-diameter pair graph, the opposite case to ``simplify``) and
    the PageRank loop. No part of the pass runs the XML kernel."""

    name = "simplify_query"
    # measured cold, as `jobs/build_graph_job.py` runs it once per JVM:
    # a warm-up pass would cost ~70 s per run, which the benchmark's
    # time budget does not have
    warmup_passes = 0

    def __init__(self, ctx, n_pages: int = SIMPLIFY_PAGES, n_docs: int = CORPUS_DOCS):
        super().__init__(ctx, n_pages)
        self.n_docs = n_docs

    def setup(self) -> None:
        ctx, spark = self.ctx, self.ctx.spark
        self.graph, nodes, links = street_graph(ctx, self.n_pages)
        self.n_edges = len(links)
        self.queries = self.graph.nodes.filter(F.col("id").cast("long") % KNN_EVERY == 0).select(
            F.col("id").alias("qid"), "lat_d", "lon_d"
        )
        lons = [float(lon) for _, lon in nodes.values()]
        lats = [float(lat) for lat, _ in nodes.values()]
        self.polygons = spark.createDataFrame(
            admin_polygons(min(lons), min(lats), max(lons), max(lats)),
            "poly_id string, xs array<double>, ys array<double>",
        )
        self.docs = docs_frame(spark, synth_docs(self.n_docs), ctx.cores, ctx.seed)
        self.links = StreetGraph(*link_overlay(self.docs, self.n_docs))
        # the raster and the near-duplicate shingling run in Python workers
        warm_workers(ctx)
        self.expected = load_expected().get(self.name, {}).get(f"{self.n_pages}x{self.n_docs}")

    def _pipeline(self, root: str) -> dict:
        spark = self.ctx.spark
        g1, m1 = simplify(spark, self.graph, SIMPLIFY_DELTA, snapshot_root=root)
        g2, m2 = discretize_pipeline(spark, g1, DISCRETIZE_DELTA, snapshot_root=root)
        return {"simplify": (g1, m1), "discretize": (g2, m2)}

    def _queries(self) -> dict:
        """Each query's output digest, computed inside the query's span:
        the digest is what materializes the output."""
        span, g = self.ctx.tracer.span, self.graph
        out: dict = {}

        def run(layer: str, key: str, make, cols) -> None:
            with span(layer) as sp:
                out[key] = spark_digest(make(), cols)
                sp["rows"] = out[key][0]

        run("operators.spatial.knn_join", "knn",
            lambda: knn_join(g.nodes, self.queries, k=KNN_K, res=KNN_RES), ("qid", "rank", "id"))
        run("operators.spatial.pip_join", "pip",
            lambda: pip_join(g.nodes, self.polygons, res=PIP_RES), ("id", "poly_id"))
        run("operators.spatial.tile_assignment", "tiles",
            lambda: tile_assignment(g.edges_with_coords(), TILE_ZOOM),
            ("src", "dst", "tile_x", "tile_y"))
        run("operators.spatial.render_tiles", "render",
            lambda: render_tiles(g.edges_with_coords(), RENDER_ZOOM, RENDER_PX),
            ("zoom", "tile_x", "tile_y", "n_edges", "lit_px", F.md5("pixels")))
        run("operators.corpus.corpus_pipeline", "corpus",
            lambda: corpus_pipeline(self.docs), ("doc_id", "source", "n_tokens"))
        rounds: list[int] = []

        def pagerank():
            ranks, n = pagerank_converged(self.links.nodes, self.links.edges)
            rounds.append(n)
            return ranks

        run("operators.webgraph.pagerank_converged", "pagerank", pagerank, ("id", "rank"))
        out["pagerank_rounds"] = rounds[0]
        return out

    def run_pass(self, root: str) -> dict:
        out = self._pipeline(root)
        out["resume"] = self._pipeline(root)
        out["queries"] = self._queries()
        return out

    # -- traced replay of pipeline.simplify / discretize_pipeline ----------
    def _traced_stage(self, log: SnapshotLog, stage: str, layer: str, fn) -> StreetGraph:
        span, spark = self.ctx.tracer.span, self.ctx.spark
        existing = log.find_stage(stage)
        if existing is not None:
            with span("plans.snapshots.load_tables") as sp:
                tables = log.load_tables(spark, existing)
                sp["rows"] = sum(t["row_count"] for t in existing["tables"].values())
            return StreetGraph(tables["nodes"], tables["edges"])
        with span(layer) as op:
            # materialize here so the operator's work is not deferred
            # into the commit's parquet write
            g = fn().checkpoint()
        meta = self._traced_commit(log, stage, {"nodes": g.nodes, "edges": g.edges})
        op["rows"] = sum(t["row_count"] for t in meta["tables"].values())
        with span("plans.snapshots.load_tables") as sp:
            tables = log.load_tables(spark, meta)
            sp["rows"] = op["rows"]
        return StreetGraph(tables["nodes"], tables["edges"])

    def _traced_commit(self, log: SnapshotLog, stage: str, tables: dict, metrics=None) -> dict:
        with self.ctx.tracer.span("plans.snapshots.commit") as sp:
            meta = log.commit(stage, tables, metrics)
        sp["written_mb"] = _dir_mb(os.path.join(log.root, "data", f"s{meta['id']}"))
        return meta

    def _traced_metrics(self, log: SnapshotLog, g: StreetGraph, stage: str) -> dict:
        with self.ctx.tracer.span("pipeline.graph_metrics") as sp:
            metrics = graph_metrics(g)
            sp["rows"] = sum(int(x) for x in metrics["order_size"].split())
        self._traced_commit(log, stage, {}, metrics)
        return metrics

    def _traced_pipeline(self, root: str) -> dict:
        d, log = SIMPLIFY_DELTA, SnapshotLog(root)
        g = self.graph
        g = self._traced_stage(
            log, "largest_component", "operators.components.largest_component",
            lambda: largest_component(g),
        )
        g = self._traced_stage(
            log, "remove_degree_two", "operators.contraction.remove_degree_two_nodes",
            lambda: remove_degree_two_nodes(g),
        )
        g = self._traced_stage(
            log, f"under_delta_nodes={d}", "operators.contraction.remove_under_delta_nodes",
            lambda: remove_under_delta_nodes(g, d),
        )
        g = self._traced_stage(
            log, f"under_delta_links={d}", "operators.contraction.remove_under_delta_links",
            lambda: remove_under_delta_links(g, d),
        )
        g1, m1 = g, self._traced_metrics(log, g, f"simplify_metrics={d}")
        dd = DISCRETIZE_DELTA
        g2 = self._traced_stage(
            log, f"discretize={dd}", "operators.discretize.discretize",
            lambda: discretize(g1, dd),
        )
        m2 = self._traced_metrics(log, g2, f"discretize_metrics={dd}")
        return {"simplify": (g1, m1), "discretize": (g2, m2)}

    def traced_pass(self, root: str) -> dict:
        span = self.ctx.tracer.span
        with span("perfbench.pass"):
            out = self._traced_pipeline(root)
        before = len(SnapshotLog(root).snapshots())
        with span("perfbench.resume") as sp:
            out["resume"] = self._traced_pipeline(root)
        sp["commits"] = len(SnapshotLog(root).snapshots()) - before
        with span("perfbench.queries"):
            out["queries"] = self._queries()
        return out

    def digests(self, out: dict) -> dict:
        return {
            stage: {"graph": graph_digest(out[stage][0]), "metrics": out[stage][1]}
            for stage in ("simplify", "discretize")
        }

    def check(self, out: dict) -> list[str]:
        fresh, resumed = self.digests(out), self.digests(out["resume"])
        pinned = self.expected or {}
        errors = []
        if fresh != {k: pinned.get(k) for k in fresh}:
            errors.append(f"fresh pass {fresh} != pinned {pinned}")
        if resumed != fresh:
            errors.append(f"resumed pass {resumed} != fresh pass {fresh}")
        if out["queries"] != pinned.get("queries"):
            errors.append(f"queries {out['queries']} != pinned {pinned.get('queries')}")
        return errors


WORKLOADS = {w.name: w for w in (Ingest, SimplifyQuery)}
