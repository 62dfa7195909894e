"""Smallest-size self-test of the benchmark itself.

    python3 perfbench/selftest.py

In one Spark session, at the smallest pinned sizes, it checks that:

- every metric named in ``BENCHMARK.json`` is reported with its unit, by
  an untraced run (end-to-end metrics) and a traced run (per-layer
  metrics) of every workload;
- each output check rejects a corrupted result: a changed node, a
  dropped edge, a load that keeps a later copy of a node, a pass that
  differs from the pins, a resume that differs from its fresh pass,
  a wrong kNN, raster, corpus funnel or PageRank stop;
- the traced passes do the program's work: the traced ingest pass
  builds the same logical plans as ``graph_from_pages`` and runs its
  Spark jobs plus at most those of the one ``count`` that materializes
  the extracted records, and the traced simplify replay commits the
  same stages, rows and metrics as ``pipeline.simplify`` and
  ``discretize_pipeline``;
- the pass-isolation check rejects a block left cached by a pass.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402
from perfbench.trace import status_jobs_and_stages  # noqa: E402

SIZES = {"ingest": (14,), "simplify_query": (4, 60)}


def expect(cond: bool, what: str, failures: list[str]) -> None:
    print(f"# {'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        failures.append(what)


def check_metrics(result: dict, specs: list[dict], what: str, failures: list[str]) -> None:
    got = result["metrics"]
    for m in specs:
        entry = got.get(m["name"])
        ok = (
            entry is not None
            and entry["unit"] == m["unit"]
            and isinstance(entry["value"], float)
            and entry["value"] == entry["value"]
        )
        expect(ok, f"{what}: {m['name']} reported in {m['unit']}", failures)
    expect(result["correct"] and result["failed"] == 0, f"{what}: run is correct", failures)


def check_corruptions(ctx, workloads, failures: list[str]) -> None:
    from pyspark.sql import functions as F

    from ophois_spark.operators.corpus import corpus_pipeline
    from ophois_spark.operators.graph import StreetGraph
    from ophois_spark.operators.spatial import knn_join, render_tiles
    from perfbench.checks import replay_load, spark_digest
    from perfbench.workloads import KNN_K, KNN_RES, RENDER_PX, RENDER_ZOOM

    def moved_node(g):
        first = g.nodes.orderBy("id").first()["id"]
        nodes = g.nodes.withColumn(
            "lat", F.when(F.col("id") == first, F.lit("0.0")).otherwise(F.col("lat"))
        )
        return StreetGraph(nodes, g.edges)

    def dropped_edge(g):
        first = g.edges.orderBy("src", "dst").first()
        return StreetGraph(
            g.nodes, g.edges.filter((F.col("src") != first["src"]) | (F.col("dst") != first["dst"]))
        )

    ingest, simp = workloads["ingest"], workloads["simplify_query"]
    good = ingest.run_pass(os.path.join(ctx.run_dir, "corrupt-ingest"))
    expect(not ingest.check(good), "ingest check accepts the real result", failures)
    for name, bad in (("moved node", moved_node), ("dropped edge", dropped_edge)):
        out = {"graph": bad(good["graph"])}
        expect(bool(ingest.check(out)), f"ingest check rejects a {name}", failures)
    last, _, conflicts = replay_load(ingest.extracted, keep_last=True)
    expect(conflicts > 0, f"ingest input has nodes whose copies disagree ({conflicts})", failures)
    last_nodes = ctx.spark.createDataFrame(
        [(i, lat, lon) for i, (lat, lon) in last.items()], "id string, lat string, lon string"
    )
    out = {"graph": StreetGraph(last_nodes, good["graph"].edges)}
    expect(bool(ingest.check(out)), "ingest check rejects a load that keeps the last copy", failures)

    out = simp.run_pass(os.path.join(ctx.run_dir, "corrupt-simplify"))
    expect(not simp.check(out), "simplify_query check accepts the real result", failures)
    for name, bad in (("moved node", moved_node), ("dropped edge", dropped_edge)):
        g, m = out["simplify"]
        fresh_bad = {**out, "simplify": (bad(g), m)}
        expect(bool(simp.check(fresh_bad)), f"simplify pin check rejects a {name}", failures)
        rg, rm = out["resume"]["discretize"]
        resume_bad = {**out, "resume": {**out["resume"], "discretize": (bad(rg), rm)}}
        expect(bool(simp.check(resume_bad)), f"resume check rejects a {name}", failures)
    g, m = out["discretize"]
    metrics_bad = {**out, "discretize": (g, {**m, "order_size": "0 0"})}
    expect(bool(simp.check(metrics_bad)), "simplify pin check rejects wrong metrics", failures)

    queries, g = out["queries"], simp.graph
    wrong = {
        "a kNN with one neighbour too few": (
            "knn", knn_join(g.nodes, simp.queries, k=KNN_K - 1, res=KNN_RES), ("qid", "rank", "id")),
        "tiles rendered at half size": (
            "render", render_tiles(g.edges_with_coords(), RENDER_ZOOM, RENDER_PX // 2),
            ("zoom", "tile_x", "tile_y", "n_edges", "lit_px", F.md5("pixels"))),
        "a stricter token gate": (
            "corpus", corpus_pipeline(simp.docs, min_tokens=50), ("doc_id", "source", "n_tokens")),
    }
    for name, (key, df, cols) in wrong.items():
        bad = {**out, "queries": {**queries, key: spark_digest(df, cols)}}
        expect(bool(simp.check(bad)), f"query check rejects {name}", failures)
    bad = {**out, "queries": {**queries, "pagerank_rounds": queries["pagerank_rounds"] - 1}}
    expect(bool(simp.check(bad)), "query check rejects PageRank stopped a round early", failures)

    ctx.isolate()
    ctx.spark.range(10).cache().count()
    try:
        ctx.isolate()
        cleared = True
    except RuntimeError:
        cleared = False
    expect(cleared, "isolation clears a block cached by a pass", failures)
    leaked = ctx.spark.range(10).rdd
    leaked.localCheckpoint()
    leaked.count()
    ctx.setup_rdds.add(leaked.id())  # pretend it is an input: it must not survive unnoticed
    try:
        ctx.isolate()
        caught = False
    except RuntimeError:
        caught = True
    ctx.setup_rdds.discard(leaked.id())
    expect(caught, "isolation check rejects storage above the post-set-up level", failures)


def spark_work(spark, fn):
    """Run ``fn``; return how many Spark jobs it started, and its result."""
    sc = spark.sparkContext
    jobs0 = len(status_jobs_and_stages(sc)[0])
    out = fn()
    return len(status_jobs_and_stages(sc)[0]) - jobs0, out


def plan_text(df) -> str:
    """``df``'s logical plan as run, with cached data substituted (so
    what is persisted shows) and every number blanked out (expression
    and RDD ids differ from run to run)."""
    return re.sub(r"\d+", "N", df._jdf.queryExecution().withCachedData().toString())


def check_traced_copies(ctx, workloads, failures: list[str]) -> None:
    """The traced passes replay the program's compositions layer by
    layer; check that they still do the program's work."""
    from ophois_spark.plans.snapshots import SnapshotLog
    from perfbench.trace import Tracer

    ingest, simp = workloads["ingest"], workloads["simplify_query"]
    ctx.isolate()
    jobs, g = spark_work(ctx.spark, lambda: ingest.run_pass(None)["graph"])
    ctx.isolate()
    # traced, to know the jobs of the one extra count: they are the jobs
    # of the extract span. The count may take over some of the jobs that
    # build the records cache later on, so the traced pass runs at least
    # the program's jobs and at most those plus the count's.
    untraced, ingest.ctx.tracer = ingest.ctx.tracer, Tracer(ctx.sc, True)
    t_jobs, tg = spark_work(ctx.spark, lambda: ingest.traced_pass(None)["graph"])
    spans, ingest.ctx.tracer = ingest.ctx.tracer.finish(), untraced
    count_jobs = sum(
        sp["jobs"] for sp in spans if sp["name"] == "operators.extract.extract_page_records"
    )
    same = [plan_text(getattr(g, t)) == plan_text(getattr(tg, t)) for t in ("nodes", "edges")]
    expect(
        all(same) and jobs <= t_jobs <= jobs + count_jobs,
        f"traced ingest pass builds graph_from_pages' plans (nodes, edges: {same}) and runs "
        f"its {jobs} jobs plus at most the {count_jobs} of one count (got {t_jobs} jobs)",
        failures,
    )

    def stages(root: str) -> list:
        return [
            (m["stage"], {t: v["row_count"] for t, v in m["tables"].items()}, m["metrics"])
            for m in SnapshotLog(root).snapshots()
        ]

    roots = [os.path.join(ctx.run_dir, f"copies-{k}") for k in ("program", "traced")]
    for root, pipeline in zip(roots, (simp._pipeline, simp._traced_pipeline)):
        ctx.isolate()
        pipeline(root)
        pipeline(root)  # the resume
    expect(
        stages(roots[0]) == stages(roots[1]),
        "traced simplify pass commits the stages, rows and metrics of the program's",
        failures,
    )


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    run_dir = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    run.configure_env(run_dir)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    failures: list[str] = []
    t_start = time.perf_counter()
    spark, _, cores = run.session(run_dir, trace=False)
    try:
        workloads, alive = {}, []  # alive: inputs of every context stay cached
        for name, size in SIZES.items():
            for trace, specs in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
                ctx = run.Context(spark, 7, cores, run_dir, Tracer(spark.sparkContext, bool(trace)))
                wl = WORKLOADS[name](ctx, *size)
                result = run.measure(ctx, wl, 0, t_start)
                check_metrics(result, specs, f"{name} trace={trace}", failures)
                # drop what the last pass left cached (the engine's own
                # checkpoints among it) before the next context takes the
                # checkpointed RDDs it finds for set-up inputs
                ctx.isolate()
                workloads[name] = wl
                alive.append(wl)
                ctx.setup_blocks = None
        # the last context's inputs include every earlier context's
        ctx = workloads["simplify_query"].ctx
        ctx.tracer = Tracer(spark.sparkContext, False)
        check_corruptions(ctx, workloads, failures)
        check_traced_copies(ctx, workloads, failures)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"# self-test: {len(failures)} failure(s)", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
