"""Benchmark harness — the repo's one bench script; one JSON line on stdout.

``python bench.py`` runs the operator suite; ``python bench.py scaling``
runs the core and input-size scaling ladders (see ``scaling``).

The suite runs the engine's headline workloads at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``:

- ``pages_pipeline``: synthetic Common-Crawl-style pages (scaled to the
  SF's lineitem volume) → fused XML extract → cross-page dedup'd graph
  → degree metrics. Reports pages/sec and edges/sec (BASELINE.json
  ``metric``).
- the registered operator queries at the SF dir, each fully executed
  through a noop-write sink. NOT count(): count() lets Catalyst prune
  any node whose output the count doesn't need — a projection-only
  query degenerates to a parquet row count and a packing window is
  removed entirely (verified: the optimized count plan of
  pack_sequences contains no Window node). The noop datasource
  materializes every output column, so the timing covers the operator
  under test. Round-4 protocol change, disclosed in BENCH/BASELINE.md;
  r<=3 per-query numbers for projection-only operators are NOT
  comparable (they timed only the scan).

Output: ``{"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {...}, "sf": ..., "pages_per_sec": ..., "edges_per_sec": ...}``
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BASELINE_MD = os.path.join(HERE, "BENCH", "BASELINE.md")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0

    from ophois_spark.operators.extract import graph_from_pages
    from ophois_spark.queries import QUERIES
    from ophois_spark.session import get_spark
    from ophois_spark.sources.pages import synth_pages

    spark = get_spark("ophois-bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # warm up the Python UDF workers once (fork+import is a fixed per-
    # session cost — ~0 amortized on a long-lived cluster, ~18 s here)
    from pyspark.sql import functions as F

    warm = spark.range(cpus * 4).repartition(cpus)
    warm.select(F.pandas_udf(lambda s: s, "long")(warm["id"])).count()

    # -- measurement protocol ----------------------------------------------
    # the shared-host VM shows up to 2x wall-clock noise and occasional
    # stragglers (the SAME query has measured 16 s and 45 s an hour
    # apart). Protocol: best-of-2 applied UNIFORMLY to every workload —
    # a symmetric selection rule (the round-3 straggler-only re-run
    # truncated just the slow tail, biasing totals low); the min of two
    # passes is the warm-pass reading the scaling harness also uses.
    # Both raw readings are DISCLOSED per workload in the "reps" map.
    reps: dict[str, list[float]] = {}

    def materialize(df) -> None:
        # full-column materialization that Catalyst cannot prune
        df.write.mode("overwrite").format("noop").save()

    def best_of_2(name: str, run) -> float:
        t0 = time.perf_counter()
        run()
        t1 = time.perf_counter()
        run()
        t2 = time.perf_counter()
        reps[name] = [round(t1 - t0, 3), round(t2 - t1, 3)]
        t = min(t1 - t0, t2 - t1)
        timings[name] = round(t, 3)
        return t

    # -- pages pipeline (graph-construction throughput) --------------------
    n_pages = max(64, int(20000 * sf))  # sf0.1 → 2000 pages ≈ 12 MB XML
    pages = synth_pages(spark, n_pages, grid=12)
    pages = pages.localCheckpoint(eager=True)  # isolate generation cost
    counts: dict[str, int] = {}

    def run_pipeline() -> None:
        # each pass persists fresh records/edges frames; drop the
        # previous pass's so pass 2 isn't timed under ~2x cache
        # pressure (nothing else is cached at this point)
        spark.catalog.clearCache()
        g = graph_from_pages(pages.filter(pages["lang"] == "en"), persist_records=True)
        counts["nodes"], counts["edges"] = g.counts()

    t_pipeline = best_of_2("pages_pipeline", run_pipeline)
    spark.catalog.clearCache()  # free the last pass's persisted frames
    n_nodes, n_edges = counts["nodes"], counts["edges"]
    pages_per_sec = n_pages / t_pipeline
    edges_per_sec = n_edges / t_pipeline

    # -- operator queries ---------------------------------------------------
    # the shared derived graph is built once, outside every row's timer
    # (best-of-2 already dropped its build from every row). A row that
    # produces a session memo (MEMO_RESETS) drops it before each pass so
    # both passes time the row's own work — without the reset pass 2 is
    # a cache hit and best-of-2 would report ~0 s. Consumers of a memo
    # (e.g. top_pages_by_rank) stay warm by design.
    #
    # A row whose FIRST rep missed a memo it does not produce (the memo
    # was cold when the row ran in sorted order) paid the producer loop
    # there, while its second rep is a near-total memo hit: best-of-2
    # would headline the memo hit (r4 reps: crawl_frontier [23.2 s,
    # 0.31 s]), which is not the operator. For such rows the headline
    # is the COLD first rep and the memo hit is disclosed separately in
    # memo_hit_sec (round-5 protocol change, per the r4 verdict).
    from ophois_spark.plans.cache import MEMOS
    from ophois_spark.queries import MEMO_RESETS, derived_graph

    derived_graph(spark, sf_dir)
    memo_hits: dict[str, float] = {}

    for name, fn in sorted(QUERIES.items()):
        reset = MEMO_RESETS.get(name, lambda: None)
        consumed = [(m, m.misses) for m in MEMOS if m.produces != name]

        def run_query(fn=fn, reset=reset) -> None:
            reset()
            materialize(fn(spark, sf_dir))

        best_of_2(name, run_query)
        if any(m.misses > before for m, before in consumed):
            cold, hit = reps[name]
            timings[name] = cold
            memo_hits[name] = hit

    # -- BPE at production merge count --------------------------------------
    # the 12-merge registry row gates correctness; this times what a real
    # tokenizer trainer pays: 256 sequential pair-count rounds (the corpus
    # may exhaust earlier — merges_learned discloses it). Single-pass (a
    # ~256-round driver loop; a second rep would double bench wall for a
    # number that is already round-dominated, not noise-dominated).
    from ophois_spark.operators.bpe import bpe_train

    bpe_meta: dict[str, int] = {}

    def run_bpe256() -> None:
        docs_b = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        merges = bpe_train(docs_b, n_merges=256)
        bpe_meta["merges_requested"] = 256
        bpe_meta["merges_learned"] = len(merges)

    t0 = time.perf_counter()
    run_bpe256()
    timings["bpe_merges_256"] = round(time.perf_counter() - t0, 3)
    reps["bpe_merges_256"] = [timings["bpe_merges_256"]]

    # -- float PageRank production twin vs the integer gate path -----------
    # pagerank_converged (timed above as link_pagerank_converged) runs on
    # an exact integer lattice so a SQL oracle can replay it, but its
    # state-recurrence stop needs ~3x the rounds of a tolerance stop.
    # This times the production twin (double arithmetic, mean-L1 < 1e-6)
    # on the SAME overlay and discloses both round counts — the evidence
    # for when each path is appropriate (operators/webgraph.py
    # pagerank_float docstring).
    from ophois_spark.operators.webgraph import pagerank_converged, pagerank_float
    from ophois_spark.queries import _link_overlay

    pr_rounds: dict[str, int] = {}

    def run_float_pr() -> None:
        n_, e_ = _link_overlay(spark, sf_dir)
        ranks, r = pagerank_float(n_, e_)
        pr_rounds["float_tol1e-6"] = r
        materialize(ranks)

    best_of_2("link_pagerank_float", run_float_pr)

    def run_int_pr_rounds() -> None:
        n_, e_ = _link_overlay(spark, sf_dir)
        _, r = pagerank_converged(n_, e_)
        pr_rounds["integer_recurrence"] = r

    run_int_pr_rounds()  # round count only; wall time is the registry row

    # -- hot-source sequence packing: sharded flattening evidence ----------
    # one giant source (the Common-Crawl shape) forces the packing
    # window's sort + running sum onto ONE task; the (source, doc_id
    # mod K) pre-shard spreads it across K. Same rows, same exact
    # semantics per shard — the timing pair is the scale evidence.
    from pyspark.sql import functions as F3

    from ophois_spark.operators.corpus import pack_sequences

    from pyspark import StorageLevel

    hot = spark.range(16_000_000).select(
        F3.col("id").alias("doc_id"),
        F3.lit("commoncrawl").alias("source"),
        F3.repeat(F3.lit("w "), (F3.pmod(F3.col("id"), F3.lit(5)) + 1).cast("int")).alias("text"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    hot.count()  # materialize outside the timers (generation excluded)
    best_of_2("pack_hot_source_serial", lambda: materialize(pack_sequences(hot)))
    best_of_2("pack_hot_source_sharded32", lambda: materialize(pack_sequences(hot, shards=32)))
    hot.unpersist(blocking=True)  # ~16M rows; free before the ANN section

    # -- hot-key trajectory: slabbed trip segmentation evidence ------------
    # 99% of points belong to ONE key (a fleet tracker / bot, the log
    # norm): the naive per-key window sorts that key's entire history
    # on one task; the slab_run_ids decomposition shards it across
    # 10-second slabs. Same output rows (pinned in tests), the timing
    # pair is the scale evidence for the shared slab kernel.
    from ophois_spark.operators.trajectory import trip_segments, trip_segments_naive

    traj = spark.range(8_000_000).select(
        F3.when(F3.col("id") % 100 < 99, F3.lit(0))
        .otherwise(F3.col("id") % 100)
        .cast("long")
        .alias("user_id"),
        F3.col("id").alias("event_id"),
        (F3.col("id") * 400_000).alias("t_us"),
        (
            F3.lit(45.0)
            + (F3.col("id") % 29).cast("double") * F3.lit(1e-5)
            + F3.when(F3.col("id") % 97 == 0, F3.lit(0.01)).otherwise(F3.lit(0.0))
        ).alias("lat_d"),
        (F3.lit(5.0) + ((F3.col("id") * 3) % 31).cast("double") * F3.lit(1e-5)).alias(
            "lon_d"
        ),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    traj.count()  # generation excluded from the timers
    best_of_2(
        "trip_hot_key_naive",
        lambda: materialize(trip_segments_naive(traj, 1_000_000, 100)),
    )
    best_of_2(
        "trip_hot_key_slabbed",
        lambda: materialize(trip_segments(traj, 1_000_000, 100, 10_000_000)),
    )
    traj.unpersist(blocking=True)

    # -- ANN recall@k vs the exact baseline --------------------------------
    # quantifies the approximation the ANN paths trade for scale: recall =
    # |ANN top-k ∩ exact top-k| / |exact top-k| over the bench query set.
    #
    # nprobe tuning note: the synthetic embeddings are ISOTROPIC RANDOM —
    # the hardest case for any cell-probing index, because true nearest
    # neighbors are only weakly concentrated in the query's nearest
    # centroid cells. Recall therefore tracks the probed fraction of the
    # 32-centroid space (nprobe/32) plus the concentration the quantizer
    # buys: measured ~0.34 @ nprobe=2 (6% probed), ~0.69 @ nprobe=8 (25%),
    # ~0.87 @ nprobe=16 (50%), and 1.0 at nprobe=32 by construction.
    # k-means centroids beat the hash sample at equal nprobe. On real
    # clustered embeddings (the production case) the same index reaches
    # high recall at far lower nprobe; the sweep below is the honest
    # worst-case curve, reported per-variant in ann_recall_at_10.
    from pyspark.sql import functions as F2
    from ophois_spark.operators.similarity import (
        ann_topk,
        cosine_topk,
        ivf_assign,
        ivf_centroids_kmeans,
        ivf_topk,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb = emb.localCheckpoint(eager=True)
    qset = emb.filter(F2.col("vec_id") % 50 == 0)
    recall_k = 10
    exact = cosine_topk(emb, qset, recall_k).select("qid", "vec_id")
    exact = exact.localCheckpoint(eager=True)
    n_exact = exact.count()
    # train the k-means quantizer ONCE (pure function of the corpus;
    # nprobe only affects probing) and time it as its own entry — the
    # assignment checkpoint below materializes the Lloyd rounds inside
    # this timer, so per-variant retraining would both triple the cost
    # and hide it outside the recall timers
    t0 = time.perf_counter()
    km_cents = ivf_centroids_kmeans(emb)
    km_assign = ivf_assign(emb, km_cents).localCheckpoint(eager=True)
    timings["ivf_kmeans_train"] = round(time.perf_counter() - t0, 3)
    ann_recall: dict[str, float] = {}
    for variant, df in {
        "ivf_hash_nprobe2": ivf_topk(emb, qset, recall_k, nprobe=2),
        "ivf_kmeans_nprobe2": ivf_topk(emb, qset, recall_k, nprobe=2, centroids=km_cents, assignment=km_assign),
        "ivf_kmeans_nprobe8": ivf_topk(emb, qset, recall_k, nprobe=8, centroids=km_cents, assignment=km_assign),
        "ivf_kmeans_nprobe16": ivf_topk(emb, qset, recall_k, nprobe=16, centroids=km_cents, assignment=km_assign),
        "lsh_bucket": ann_topk(emb, qset, recall_k),
    }.items():

        def run_recall(df=df, variant=variant) -> None:
            hits = df.select("qid", "vec_id").join(exact, ["qid", "vec_id"]).count()
            ann_recall[variant] = round(hits / n_exact, 4)

        best_of_2(f"recall_{variant}", run_recall)

    # -- PQ-ADC recall@10 vs the EXACT-L2 baseline --------------------------
    # the compression's honest cost: 16-bit codes (M=4 × 4-bit) scanned by
    # asymmetric distance vs exact squared-L2 on the same int grid. The
    # baseline is L2 (what ADC approximates), not cosine — comparing a PQ
    # scan to a cosine baseline would confound metric mismatch with
    # quantization loss.
    from ophois_spark.operators.similarity import _pq_l2, _pq_scaled, pq_adc_topk

    sv_all = _pq_scaled(emb).localCheckpoint(eager=True)
    sv_q = _pq_scaled(qset).select(
        F2.col("vec_id").alias("qid"), F2.col("sv").alias("qv")
    )
    l2 = sv_q.crossJoin(sv_all).select(
        "qid", "vec_id", _pq_l2(F2.col("qv"), F2.col("sv")).alias("d")
    )
    from pyspark.sql import Window as _W

    wq = _W.partitionBy("qid").orderBy(F2.asc("d"), F2.asc("vec_id"))
    exact_l2 = (
        l2.withColumn("rank", F2.row_number().over(wq))
        .filter(F2.col("rank") <= recall_k)
        .select("qid", "vec_id")
        .localCheckpoint(eager=True)
    )
    n_exact_l2 = exact_l2.count()
    # isotropic-random embeddings are again the worst case (no subspace
    # structure for the codebook to exploit): measured ~0.19 @ M=4
    # (16-bit codes, 128x compression) and ~0.42 @ M=16 (64-bit, 32x) at
    # sf0.01 — the honest curve; clustered production embeddings and a
    # trained codebook (the ivf_centroids_kmeans analog) both raise it.
    from ophois_spark.operators.similarity import pq_rerank_topk

    for m_sub, label in [(4, "pq_adc_m4"), (16, "pq_adc_m16")]:
        pq_top = pq_adc_topk(emb, qset, recall_k, n_subspaces=m_sub)

        def run_pq_recall(pq_top=pq_top, label=label) -> None:
            hits = (
                pq_top.select("qid", "vec_id").join(exact_l2, ["qid", "vec_id"]).count()
            )
            ann_recall[label] = round(hits / n_exact_l2, 4)

        best_of_2(f"recall_{label}", run_pq_recall)

    # -- two-stage PQ rerank recall@10 --------------------------------------
    # ADC shortlist (k'=100) -> exact int64 L2 rerank -> top-10: the
    # standard PQ consumer. Recall vs the same exact-L2 baseline shows
    # the lift over the raw ADC scan (pq_adc_m4 above) at the cost of
    # fetching 100 raw vectors per query.
    for m_sub, label in [(4, "pq_rerank_m4"), (16, "pq_rerank_m16")]:
        rr_top = pq_rerank_topk(emb, qset, recall_k, n_subspaces=m_sub)

        def run_rr_recall(rr_top=rr_top, label=label) -> None:
            hits = (
                rr_top.select("qid", "vec_id").join(exact_l2, ["qid", "vec_id"]).count()
            )
            ann_recall[label] = round(hits / n_exact_l2, 4)

        best_of_2(f"recall_{label}", run_rr_recall)

    # the composed IVFADC+rerank index: recall additionally bounded by the
    # coarse probe (nprobe/32 of the lists scanned) — the full production
    # trade (compression + list pruning) against the same exact-L2 baseline
    from ophois_spark.operators.similarity import ivfadc_rerank_topk

    ivfadc_top = ivfadc_rerank_topk(emb, qset, recall_k)

    def run_ivfadc_recall() -> None:
        hits = (
            ivfadc_top.select("qid", "vec_id")
            .join(exact_l2, ["qid", "vec_id"])
            .count()
        )
        ann_recall["ivfadc_nprobe4_m4"] = round(hits / n_exact_l2, 4)

    best_of_2("recall_ivfadc_nprobe4_m4", run_ivfadc_recall)

    total = round(sum(timings.values()), 3)
    summary = {
        "metric": "graph-construction throughput + operator suite",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_pages": n_pages,
        "graph_nodes": n_nodes,
        "graph_edges": n_edges,
        "pages_per_sec": round(pages_per_sec, 1),
        "edges_per_sec": round(edges_per_sec, 1),
        "ann_recall_at_10": ann_recall,
        "memo_hit_sec": memo_hits,
        "pagerank_rounds": pr_rounds,
        "bpe_256": bpe_meta,
        "protocol": (
            "best-of-2 per workload (symmetric), both readings in reps; "
            "exceptions: ivf_kmeans_train is single-pass (one-time "
            "eager model fit, timed separately and disclosed here), and "
            "memo-consumer rows (memo_hit_sec keys) headline the COLD "
            "first rep — their second rep is a session-memo hit, not "
            "the operator (round-5 protocol change); "
            "queries executed via noop-write sink (full-column "
            "materialization; count() would let Catalyst prune "
            "projection/window nodes — round-4 protocol change)"
        ),
        "reps": reps,
        "cpus": cpus,
    }
    # the one stdout JSON line is the contract; ALSO persist it as a
    # file so the round artifact stays machine-parseable even if the
    # driver's stdout capture truncates/escapes the tail (BENCH_r03's
    # did)
    out_path = os.path.join(HERE, "BENCH", "bench_summary.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps(summary))
    spark.stop()


# -- scaling ladders -----------------------------------------------------------
# One measured job (graph construction + tiling over a pre-generated pages
# input) run in its own pinned subprocess per reading: a JVM cannot change
# local[N] after start-up. The protocol is in BENCH/BASELINE.md.
SCALE_PAGES = 8000
SCALE_REPS = 4  # interleaved low/high children per level, best kept
SCALE_PASSES = 3  # measured passes per child after one untimed warm pass
CORES_LOW, CORES_HIGH = 1, 4
# a JOB property sized once for the larger level (a real N vs 4N
# comparison ships the same spark-submit conf to both), not retuned per
# level — retuning hands the small level fewer, chunkier tasks
SHUFFLE_PARTITIONS = 2 * CORES_HIGH
LINEARITY_PAGES = (8000, 24000, 72000)
GRID = 12
INPUT_FILES = 128  # fixed file layout => identical scan splits at all levels
LOG_SECTION = "## Measurement log"
LINEARITY_SECTION = "## Input-size linearity"


def _child(cpus: int, input_dir: str) -> None:
    """Run the measured job at local[cpus]; print one JSON line."""
    from pyspark.sql import functions as F

    from ophois_spark.functions import cell_expr
    from ophois_spark.operators.extract import graph_from_pages
    from ophois_spark.operators.spatial import tile_assignment
    from ophois_spark.session import get_spark

    spark = get_spark(
        f"ophois-scaling-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        # fine scan splits: ~1-2 files per task at every level, so the
        # Python extraction stage load-balances instead of running as a
        # handful of oversized tasks (identical splits at all levels)
        extra_conf={"spark.sql.files.maxPartitionBytes": "8m"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages = spark.read.parquet(input_dir)
    # exclude one-time Python worker fork/import from the timed window
    warm = spark.range(cpus * 4).repartition(cpus)
    warm.select(F.pandas_udf(lambda s: s, "long")(warm["id"])).count()

    def counted(label: str, df) -> "F.DataFrame":
        return df.groupBy().agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(label).alias("k"), "n"
        )

    def run() -> tuple[float, float, int, int, int, int]:
        # each phase is ONE Spark action: the independent branch counts
        # are unioned so their stages share a single job (one driver
        # submission, branches scheduled concurrently across the same
        # executor pool) instead of paying a job-overhead barrier per
        # count — the fixed driver cost per pass shrinks with the wall
        # time at high parallelism, where it otherwise dominates small
        # phases (measured: the old two-job tiling phase scaled at only
        # ~2.2x on 4x cores purely from per-job overhead).
        t0 = time.perf_counter()
        g = graph_from_pages(pages.filter(F.col("lang") == "en"), persist_records=True)
        ingest_counts = dict(
            counted("nodes", g.nodes).unionByName(counted("edges", g.edges)).collect()
        )
        n_nodes, n_edges = ingest_counts["nodes"], ingest_counts["edges"]
        t_ingest = time.perf_counter() - t0

        t0 = time.perf_counter()
        nodes_c = g.nodes.withColumn(
            "cell", cell_expr(F.col("lon_d"), F.col("lat_d"), 11)
        )
        cell_groups = nodes_c.groupBy("cell", "lat", "lon").agg(
            F.min("id").alias("rep")
        )
        tile_edges = tile_assignment(g.edges_with_coords(), 14)
        tiling_counts = dict(
            counted("cells", cell_groups)
            .unionByName(counted("tiles", tile_edges))
            .collect()
        )
        n_cell_groups, n_tile_edges = tiling_counts["cells"], tiling_counts["tiles"]
        t_tiling = time.perf_counter() - t0
        return t_ingest, t_tiling, n_nodes, n_edges, n_cell_groups, n_tile_edges

    # first pass warms JIT / query planner / Python workers — the state a
    # long-lived cluster runs in permanently; then SCALE_PASSES measured
    # passes, best kept (steady-state: C2-JIT and page cache stabilize by
    # pass 2-3, and host-noise bursts within a child are rejected the
    # same way cross-child reps reject drift)
    run()
    best = None
    for _ in range(SCALE_PASSES):
        spark.catalog.clearCache()
        res = run()
        if best is None or res[0] + res[1] < best[0] + best[1]:
            best = res
    t_ingest, t_tiling, n_nodes, n_edges, n_cell_groups, n_tile_edges = best
    total = t_ingest + t_tiling
    print(
        json.dumps(
            {
                "cpus": cpus,
                "t_ingest_s": round(t_ingest, 3),
                "t_tiling_s": round(t_tiling, 3),
                "t_total_s": round(total, 3),
                "n_nodes": n_nodes,
                "n_edges": n_edges,
                "n_cell_groups": n_cell_groups,
                "n_tile_edges": n_tile_edges,
            }
        )
    )
    spark.stop()


def _generate(input_dir: str, n_pages: int) -> None:
    """Write a shared pages input once (fixed file count)."""
    from ophois_spark.session import get_spark
    from ophois_spark.sources.pages import synth_pages

    spark = get_spark("ophois-scaling-gen", master=f"local[{os.cpu_count()}]")
    spark.sparkContext.setLogLevel("ERROR")
    synth_pages(spark, n_pages, grid=GRID).repartition(INPUT_FILES).write.mode(
        "overwrite"
    ).parquet(input_dir)
    print(json.dumps({"rows": spark.read.parquet(input_dir).count()}))
    spark.stop()


def _spawn(call: str, *args, pin_cpus: int | None = None) -> dict:
    """Run ``bench.<call>(*args)`` in a fresh interpreter; return its last
    JSON line. With ``pin_cpus``, taskset-pin the whole process tree (JVM,
    Python workers, GC/shuffle service threads) to exactly that many
    CPUs. Unpinned local[N] only caps TASK slots at N — the JVM's
    netty/GC/writer threads and the Arrow Python workers spill onto the
    box's other cores, so the low level silently consumes ~1.5x its
    nominal cores and deflates the measured N->4N ratio. A real N-core
    executor host confines all of that inside its N cores."""
    pin = []
    if pin_cpus:
        cpus = sorted(os.sched_getaffinity(0))[:pin_cpus]
        pin = ["taskset", "-c", ",".join(map(str, cpus))]
    out = subprocess.run(
        [*pin, sys.executable, "-c", f"import bench; bench.{call}{args!r}"],
        capture_output=True, text=True, check=True, cwd=HERE,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def write_section(path: str, header: str, text: str, *, append_row: bool = False) -> None:
    """Rewrite the markdown section whose heading line starts with
    ``header`` (it runs to the next ``## `` heading), leaving every other
    byte of the file as it was.

    By default ``text`` is the whole new section, heading included; a
    missing section is appended at the end. With ``append_row``, ``text``
    is one table row, inserted after the last row of the section's first
    table."""
    with open(path) as f:
        md = f.read()
    if md.startswith(header) or "\n" + header in md:
        at = 0 if md.startswith(header) else md.index("\n" + header) + 1
        end = md.find("\n## ", at)
        end = len(md) if end < 0 else end + 1
        if append_row:
            lines = md[at:end].split("\n")
            row = next(i for i, ln in enumerate(lines) if ln.startswith("|"))
            while row + 1 < len(lines) and lines[row + 1].startswith("|"):
                row += 1
            lines.insert(row + 1, text)
            section = "\n".join(lines)
        else:
            section = text.rstrip("\n") + ("\n\n" if end < len(md) else "\n")
        md = md[:at] + section + md[end:]
    elif append_row:
        raise ValueError(f"{path} has no section {header!r}")
    else:
        md = md.rstrip("\n") + "\n\n" + text.rstrip("\n") + "\n"
    with open(path, "w") as f:
        f.write(md)


def scaling() -> int:
    """Core ladder: the job at CORES_LOW and CORES_HIGH (SCALE_REPS
    interleaved children each, to decorrelate host drift; best child per
    level) plus one full-box child, all on the same SCALE_PAGES input;
    efficiency = (throughput_high / throughput_low) / (high / low), and
    every level must return the same counts. Size ladder: the same job
    at min(16, cores) over LINEARITY_PAGES inputs; a flat pages/s means
    no super-linear term hides in the pipeline. Appends a row to the
    measurement log and replaces the linearity section of
    BENCH/BASELINE.md; one JSON line on stdout."""
    full = os.cpu_count()
    lin_cpus = min(16, full)
    work = tempfile.mkdtemp(prefix="ophois_scaling_")
    try:
        inputs = {}
        for n_pages in sorted({SCALE_PAGES, *LINEARITY_PAGES}):
            inputs[n_pages] = os.path.join(work, f"pages_{n_pages}")
            _spawn("_generate", inputs[n_pages], n_pages)

        runs: dict[str, list[dict]] = {"low": [], "high": []}
        for _ in range(SCALE_REPS):
            for level, cpus in (("low", CORES_LOW), ("high", CORES_HIGH)):
                runs[level].append(_spawn("_child", cpus, inputs[SCALE_PAGES], pin_cpus=cpus))
        runs["full"] = [_spawn("_child", full, inputs[SCALE_PAGES], pin_cpus=full)]
        linearity = []
        for n_pages in LINEARITY_PAGES:
            r = _spawn("_child", lin_cpus, inputs[n_pages], pin_cpus=lin_cpus)
            r["n_pages"] = n_pages
            r["pages_per_s"] = round(n_pages / r["t_total_s"], 1)
            linearity.append(r)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    best = {level: min(rs, key=lambda r: r["t_total_s"]) for level, rs in runs.items()}
    lo, hi = best["low"], best["high"]
    keys = ("n_nodes", "n_edges", "n_cell_groups", "n_tile_edges")
    parity = all(r[k] == lo[k] for rs in runs.values() for r in rs for k in keys)
    thr = {level: SCALE_PAGES / r["t_total_s"] for level, r in best.items()}
    efficiency = (thr["high"] / thr["low"]) / (CORES_HIGH / CORES_LOW)
    base = linearity[0]["pages_per_s"]
    for r in linearity:
        r["vs_smallest"] = round(r["pages_per_s"] / base, 3)
    summary = {
        "metric": "scaling efficiency (N -> 4N parallelism, identical job+input)",
        "value": round(efficiency, 3),
        "unit": "fraction",
        "target": 0.8,
        "n_pages": SCALE_PAGES,
        "reps": SCALE_REPS,
        "passes": SCALE_PASSES,
        "result_parity": parity,
        **best,
        "all_runs": {level: [r["t_total_s"] for r in rs] for level, rs in runs.items()},
        **{f"pages_per_sec_{level}": round(t, 1) for level, t in thr.items()},
        "linearity_cpus": lin_cpus,
        "linearity": linearity,
        "worst_retention": min(r["vs_smallest"] for r in linearity),
    }
    write_section(
        BASELINE_MD,
        LOG_SECTION,
        f"| {CORES_LOW} -> {CORES_HIGH} (pinned) | {SCALE_PAGES} | {SCALE_REPS} "
        f"| {lo['t_total_s']} | {hi['t_total_s']} | {efficiency:.3f} |",
        append_row=True,
    )
    table = "\n".join(
        f"| {r['n_pages']} | {r['t_ingest_s']} | {r['t_tiling_s']} | {r['t_total_s']} "
        f"| {r['pages_per_s']} | {r['vs_smallest']} |"
        for r in linearity
    )
    write_section(
        BASELINE_MD,
        LINEARITY_SECTION,
        f"""{LINEARITY_SECTION}

Same job, same `local[{lin_cpus}]` (taskset-pinned), same per-child
protocol as the core ladder — only the INPUT grows in 3x steps. Flat
pages/sec across a {LINEARITY_PAGES[-1] // LINEARITY_PAGES[0]}x volume range means no
super-linear term (accumulating driver state, quadratic join, partition
cliff) hides in the pipeline, which is what licenses extrapolating the
measured throughput toward the 10^12-document target. Reproduce:
`python bench.py scaling` (its size ladder).

| pages | ingest s | tiling s | total s | pages/s | vs smallest |
|---|---|---|---|---|---|
{table}

- worst-case throughput retention across sizes: **{summary['worst_retention']:.3f}x**
  of the smallest input's rate (1.0 = perfectly input-linear).
""",
    )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(scaling() if sys.argv[1:2] == ["scaling"] else main())
