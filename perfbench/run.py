"""Benchmark entry point: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the repository root. Set-up starts the Spark session on
``local[nproc]``, builds the workload's inputs from the seed and runs
the workload's unmeasured warm-up passes. Then
passes run back to back until ``--seconds`` have elapsed (at least one);
each pass, warm-up or measured, starts from a
clean slate (caches, memos and cache slots cleared, fresh snapshot root,
block storage back to its post-set-up level) and its output is checked.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
passes through the layer functions inside spans and reports the
per-layer metrics. Earlier stdout lines, each starting with ``#``, give
the environment and a readable summary; the last line is the JSON
result. Scratch files live under ``.perfbench_work/`` in the repository
root; span records of traced runs are kept in
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
WORK = os.path.join(ROOT, ".perfbench_work")

FULL = ("s", "jobs", "driver_s", "shuffle_mb", "spill_mb", "rows", "blocks_mb")
# layer -> figures reported for it in a traced run
LAYERS = {
    "session.get_spark": ("s",),
    "sources.pages.synth_pages": ("s", "jobs", "rows"),
    "kernels.osmxml.extract_records": ("s", "mb_per_s"),
    "operators.extract.extract_page_records": FULL,
    "sources.graph_io.parse_records": FULL,
    "operators.components.largest_component": FULL,
    "operators.contraction.remove_degree_two_nodes": FULL,
    "operators.contraction.remove_under_delta_nodes": FULL,
    "operators.contraction.remove_under_delta_links": FULL,
    "pipeline.graph_metrics": FULL,
    "operators.discretize.discretize": FULL,
    "operators.spatial.knn_join": FULL,
    "operators.spatial.pip_join": FULL,
    "operators.spatial.tile_assignment": FULL,
    "operators.spatial.render_tiles": FULL,
    "operators.corpus.corpus_pipeline": FULL,
    "operators.webgraph.pagerank_converged": FULL,
    "plans.snapshots.commit": ("s", "jobs", "written_mb", "commits"),
    "plans.snapshots.load_tables": ("s", "jobs", "rows"),
    "perfbench.pass": ("s", "self_s"),
    "perfbench.resume": ("s", "self_s", "commits"),
    "perfbench.queries": ("s", "self_s"),
}
UNITS = {
    "s": "s",
    "self_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "rows": "count",
    "commits": "count",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "blocks_mb": "MB",
    "written_mb": "MB",
    "mb_per_s": "MB/s",
}
E2E_UNITS = {"setup_s": "s", "job_s": "s", "pages_per_s": "1/s", "edges_per_s": "1/s"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: str) -> None:
    """Keep every file Spark and its Python workers write inside the run
    directory, and let the workers import the engine from the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(run_dir: str, cores: int):
    from ophois_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={run_dir}/tmp -Dderby.system.home={run_dir} -XX:-UsePerfData"
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run attributes jobs and stages to spans from the
            # status store, which must still hold all of a run's jobs
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(run_dir, "checkpoints"))
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Context:
    def __init__(self, spark, seed: int, cores: int, run_dir: str, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.cores = cores
        self.run_dir = run_dir
        self.tracer = tracer
        self.setup_rdds: set[int] = set()
        self.setup_blocks: dict[int, int] | None = None

    def mark_inputs(self) -> None:
        """The set-up inputs are the checkpointed RDDs cached now; they
        survive passes. Anything else cached (e.g. a set-up ingest pass's
        persisted frames) is cleared before the first pass."""
        persistent = self.sc._jsc.getPersistentRDDs()
        self.setup_rdds = {
            int(k) for k in persistent.keySet() if persistent.get(k).isCheckpointed()
        }

    def isolate(self) -> None:
        """Clear what an earlier pass left behind, then check that block
        storage is back to its post-set-up level."""
        from ophois_spark import queries
        from ophois_spark.plans import cache
        from perfbench.trace import cached_rdds

        self.spark.catalog.clearCache()
        for slot in cache.live_slots():
            cache.release(slot)
        for reset in queries.MEMO_RESETS.values():
            reset()
        for memo in (queries._GRAPH_CACHE, queries._LABEL_CACHE, queries._PAGERANK_CACHE):
            memo.clear()
        persistent = self.sc._jsc.getPersistentRDDs()
        for rid in list(persistent.keySet()):
            if int(rid) not in self.setup_rdds:
                persistent.get(rid).unpersist(True)
        held = cached_rdds(self.sc)
        if self.setup_blocks is None:
            self.setup_blocks = held
        elif held != self.setup_blocks:
            raise RuntimeError(f"block storage {held} != post-set-up level {self.setup_blocks}")


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Per-layer figures: summed over a pass's spans of that layer, then
    the median over passes. A layer with no span in any pass reports its
    set-up figures (0 if it never ran)."""
    phases: dict[str, dict[str, dict[str, float]]] = {}
    roots = {"perfbench.pass", "perfbench.resume", "perfbench.queries"}
    for sp in spans:
        fig = phases.setdefault(sp["run"], {}).setdefault(sp["name"], {})
        for key in ("s", "jobs", "driver_s", "shuffle_mb", "spill_mb", "rows", "written_mb",
                    "xml_mb", "commits"):
            if key in sp:
                fig[key] = fig.get(key, 0.0) + sp[key]
        if sp["name"] in roots:
            fig["self_s"] = fig.get("self_s", 0.0) + sp["self_s"]
        if sp["name"] == "plans.snapshots.commit":
            fig["commits"] = fig.get("commits", 0.0) + 1
        fig["blocks_mb"] = sp["blocks_mb"]
    passes = [figs for run, figs in phases.items() if run.startswith("pass")]
    setup = phases.get("setup", {})
    out: dict[str, float] = {}
    for layer, keys in LAYERS.items():
        source = [p[layer] for p in passes if layer in p] or [setup.get(layer, {})]
        for key in keys:
            if key == "mb_per_s":
                vals = [f.get("xml_mb", 0.0) / f["s"] if f.get("s") else 0.0 for f in source]
            else:
                vals = [f.get(key, 0.0) for f in source]
            out[f"{layer}.{key}"] = float(statistics.median(vals))
    return out


def environment(cores: int, spark) -> dict:
    import pyspark

    return {
        "nproc": cores,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def measure(ctx, workload, seconds: float, t_start: float) -> dict:
    """Set the workload up, run its ``warmup_passes``, then checked passes
    for ``seconds`` (at least one); return the result object (metrics as
    ``(value, unit)``)."""
    tracer, marks = ctx.tracer, {"session": time.perf_counter() - t_start}
    workload.setup()
    ctx.mark_inputs()
    marks["inputs"] = time.perf_counter() - t_start
    attempted = failed = 0
    errors: list[str] = []

    def one_pass(label: str, traced: bool) -> float:
        nonlocal attempted, failed
        attempted += 1
        root = os.path.join(ctx.run_dir, "snapshots", label)
        shutil.rmtree(root, ignore_errors=True)
        try:
            ctx.isolate()
            tracer.run = label
            t = time.perf_counter()
            out = workload.traced_pass(root) if traced else workload.run_pass(root)
            dt = time.perf_counter() - t
            tracer.run = "check"
            problems = workload.check(out)
        except Exception as exc:  # a failed pass is counted, not fatal
            problems = [f"{type(exc).__name__}: {exc}"]
            dt = float("nan")
        if problems:
            failed += 1
            errors.extend(f"{label}: {p}" for p in problems)
        return dt

    warmups = [
        one_pass(f"warmup{n}", traced=False) for n in range(1, workload.warmup_passes + 1)
    ]
    setup_s = time.perf_counter() - t_start
    marks[f"{len(warmups)} warm-up passes"] = setup_s
    print("# set-up ends at (s): " + " ".join(f"{k} {v:.2f}" for k, v in marks.items()))

    times: list[float] = []
    t_measure = time.perf_counter()
    while not times or time.perf_counter() - t_measure < seconds:
        times.append(one_pass(f"pass{len(times) + 1}", traced=tracer.enabled))
    ok_times = [t for t in times if t == t]

    if tracer.enabled:
        spans = tracer.finish()
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{workload.name}-seed{ctx.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(spans, f)
        metrics = {k: (v, UNITS[k.rsplit(".", 1)[1]]) for k, v in layer_metrics(spans).items()}
    else:
        job_s = statistics.median(ok_times) if ok_times else float("nan")
        values = {"setup_s": setup_s, "job_s": job_s, **workload.rates(job_s)}
        metrics = {k: (v, E2E_UNITS[k]) for k, v in values.items()}

    for e in errors:
        print(f"# FAILED {e}")
    print(f"# warm-up passes {len(warmups)}: " + " ".join(f"{t:.3f}" for t in warmups))
    print(f"# passes {len(times)}: " + " ".join(f"{t:.3f}" for t in times))
    print(f"# fail_ratio {failed / attempted:.4f} ({failed} of {attempted})")
    for k, (v, unit) in metrics.items():
        print(f"# {k} {v:.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }


def session(run_dir: str, trace: bool):
    """Start Spark; the tracer gets a set-up span for the session start.
    The Python workers start, and import Arrow and pandas, in the first
    set-up job: every workload's set-up begins with the page generator,
    a ``mapInPandas`` stage."""
    from perfbench.trace import Tracer

    cores = len(os.sched_getaffinity(0))
    t0, wall0 = time.perf_counter(), time.time()
    spark = start_spark(run_dir, cores)
    tracer = Tracer(spark.sparkContext, enabled=trace)
    tracer.add("session.get_spark", wall0, time.perf_counter() - t0)
    print("# env " + json.dumps(environment(cores, spark)), flush=True)
    return spark, tracer, cores


def run(args) -> dict:
    t_start = time.perf_counter()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    try:
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        spark, tracer, cores = session(run_dir, bool(args.trace))
        try:
            ctx = Context(spark, args.seed, cores, run_dir, tracer)
            return measure(ctx, WORKLOADS[args.workload](ctx), args.seconds, t_start)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    result = run(parse_args(argv))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
