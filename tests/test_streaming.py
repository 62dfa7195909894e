"""Structured Streaming ingest == batch ingest on the same pages."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from ophois_spark.operators.extract import extract_page_records
from ophois_spark.plans.snapshots import SnapshotLog
from ophois_spark.sources.pages import synth_pages
from ophois_spark.streaming import stream_graph_snapshots, stream_page_records


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    """Pages written in two chunks (two 'arrivals')."""
    root = str(tmp_path_factory.mktemp("pages_stream"))
    all_pages = synth_pages(spark, 20, grid=5).cache()
    all_pages.filter(F.col("url").substr(-1, 1) < "5").coalesce(1).write.mode(
        "append"
    ).parquet(root)
    all_pages.filter(F.col("url").substr(-1, 1) >= "5").coalesce(1).write.mode(
        "append"
    ).parquet(root)
    return root


def test_stream_records_match_batch(spark, pages_dir, tmp_path):
    out = str(tmp_path / "records_out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_page_records(spark, pages_dir, out, ckpt)
    q.awaitTermination(120)

    streamed = spark.read.parquet(out).select("url", "pos", "line")
    batch = extract_page_records(
        spark.read.parquet(pages_dir).filter(F.col("lang") == "en")
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_resume_processes_only_new_files(spark, pages_dir, tmp_path):
    out = str(tmp_path / "records_out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_page_records(spark, pages_dir, out, ckpt)
    q.awaitTermination(120)
    n_first = spark.read.parquet(out).count()

    # new arrival → restart with the same checkpoint → only the delta
    extra = synth_pages(spark, 6, grid=4).filter(F.col("lang") == "en")
    extra.coalesce(1).write.mode("append").parquet(pages_dir)
    q2 = stream_page_records(spark, pages_dir, out, ckpt)
    q2.awaitTermination(120)
    n_second = spark.read.parquet(out).count()

    n_extra = extract_page_records(extra).count()
    assert n_second == n_first + n_extra


def test_stream_dedup_nodes_bounded_state(spark, pages_dir, tmp_path):
    from ophois_spark.streaming import stream_dedup_nodes
    from ophois_spark.streaming.ingest_stream import read_page_stream

    deduped = stream_dedup_nodes(
        read_page_stream(spark, pages_dir).filter(F.col("lang") == "en")
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_nodes_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.id for r in spark.sql("SELECT id FROM dedup_nodes_sink").collect()}

    batch = extract_page_records(
        spark.read.parquet(pages_dir).filter(F.col("lang") == "en")
    )
    f = F.split(F.col("line"), "␟")
    want = {
        r.id
        for r in batch.filter(F.size(f) == 3).select(f[0].alias("id")).distinct().collect()
    }
    assert got == want


def test_stream_snapshot_replay_is_idempotent(spark, pages_dir, tmp_path):
    """foreachBatch is at-least-once: restarting with the SAME streaming
    checkpoint must not commit duplicate snapshots, and a snapshot root
    is BOUND to its checkpoint — reusing it with a fresh checkpoint
    (whose batch ids restart at 0 and would alias the ledger) is
    refused instead of silently skipping new batches."""
    import pytest

    root = str(tmp_path / "snaplog_idem")
    ck_a = str(tmp_path / "ck_a")
    q = stream_graph_snapshots(spark, pages_dir, root, ck_a)
    q.awaitTermination(120)
    n_first = len(SnapshotLog(root).snapshots())
    assert n_first > 0

    # same checkpoint, no new input: nothing recommits
    q2 = stream_graph_snapshots(spark, pages_dir, root, ck_a)
    q2.awaitTermination(120)
    assert len(SnapshotLog(root).snapshots()) == n_first

    # different checkpoint over the same root: refused up front
    with pytest.raises(ValueError, match="bound to checkpoint"):
        stream_graph_snapshots(spark, pages_dir, root, str(tmp_path / "ck_b"))

    # the SAME checkpoint spelled differently (relative vs absolute,
    # trailing slash) is the same lineage — realpath-normalized, allowed
    rel_a = os.path.relpath(ck_a) + os.sep
    q3 = stream_graph_snapshots(spark, pages_dir, root, rel_a)
    q3.awaitTermination(120)
    assert len(SnapshotLog(root).snapshots()) == n_first


def test_legacy_id_only_ledger_is_refused(spark, pages_dir, tmp_path):
    """A pre-marker snapshot root holding id-only stream_batch_* entries
    can't prove which checkpoint minted those ids: resuming it from any
    checkpoint is refused (a fresh checkpoint restarts ids at 0 and
    would silently skip new batches)."""
    root = str(tmp_path / "legacy_root")
    log = SnapshotLog(root)
    log.commit("stream_batch_0", {}, {})  # legacy id-only ledger entry

    with pytest.raises(ValueError, match="legacy id-only"):
        stream_graph_snapshots(spark, pages_dir, root, str(tmp_path / "ck_l"))


def test_stream_snapshot_per_batch(spark, pages_dir, tmp_path):
    root = str(tmp_path / "snaplog")
    ckpt = str(tmp_path / "ckpt2")
    seen: list[int] = []
    q = stream_graph_snapshots(
        spark, pages_dir, root, ckpt, on_batch=lambda b, m: seen.append(b)
    )
    q.awaitTermination(120)

    log = SnapshotLog(root)
    # the checkpoint-binding marker is snapshot #1; data batches follow
    snaps = [m for m in log.snapshots() if m["stage"] != "stream_source"]
    assert seen and len(snaps) == len(seen)
    total = sum(m["tables"]["records"]["row_count"] for m in snaps)
    batch = extract_page_records(
        spark.read.parquet(pages_dir).filter(F.col("lang") == "en")
    )
    assert total == batch.count()
    # lineage: per-partition counts recorded and sum to the row count
    for m in snaps:
        t = m["tables"]["records"]
        assert sum(t["partition_row_counts"]) == t["row_count"]

    # end-to-end stream == batch: the UNION of the committed snapshot
    # tables is row-for-row identical to batch ingest of the same pages
    # (not just count-equal) — the Kappa contract the module claims
    streamed = None
    for m in snaps:
        part = log.load_tables(spark, m)["records"]
        streamed = part if streamed is None else streamed.unionByName(part)
    got = sorted(map(tuple, streamed.select("url", "pos", "line").collect()))
    want = sorted(map(tuple, batch.select("url", "pos", "line").collect()))
    assert got == want


def test_stream_node_registry_stateful_first_wins(spark, pages_dir, tmp_path):
    """applyInPandasWithState: coords pinned by first arrival, n_seen
    accumulates across batches AND across a checkpointed restart."""
    from ophois_spark.streaming import stream_node_registry
    from ophois_spark.streaming.ingest_stream import read_page_stream

    ckpt = str(tmp_path / "ckpt_registry")

    def drain(name):
        # memory sink can't recover from a checkpoint; foreachBatch can
        rows = {}

        def collect(batch_df, _bid):
            for r in batch_df.collect():
                rows[r["id"]] = r

        pages = read_page_stream(spark, pages_dir).filter(F.col("lang") == "en")
        q = (
            stream_node_registry(pages)
            .writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return rows

    got = drain("registry_run1")

    # batch truth: per-id occurrence counts and the full coord multiset
    records = extract_page_records(
        spark.read.parquet(pages_dir).filter(F.col("lang") == "en")
    )
    fields = F.split(F.col("line"), "␟")
    nodes = records.filter(F.size(fields) == 3).select(
        fields[0].alias("id"), fields[1].alias("lat"), fields[2].alias("lon")
    )
    counts = {r["id"]: r["n"] for r in nodes.groupBy("id").agg(F.count("*").alias("n")).collect()}
    coord_sets = {
        r["id"]: set(zip(r["lats"], r["lons"]))
        for r in nodes.groupBy("id")
        .agg(F.collect_list("lat").alias("lats"), F.collect_list("lon").alias("lons"))
        .collect()
    }
    assert set(got) == set(counts)
    for nid, row in got.items():
        assert row["n_seen"] == counts[nid]
        assert (row["lat"], row["lon"]) in coord_sets[nid]

    # restart with new arrivals: state restores, counts accumulate
    extra = synth_pages(spark, 4, grid=4).filter(F.col("lang") == "en")
    extra.coalesce(1).write.mode("append").parquet(pages_dir)
    got2 = drain("registry_run2")  # update rows only for ids in the delta
    extra_counts = {
        r["id"]: r["n"]
        for r in extract_page_records(extra)
        .select(F.split(F.col("line"), "␟").alias("f"))
        .filter(F.size("f") == 3)
        .select(F.col("f")[0].alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(got2) == set(extra_counts)
    for nid, row in got2.items():
        assert row["n_seen"] == counts.get(nid, 0) + extra_counts[nid]


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    """Documents with exact duplicates in two parquet files (two
    micro-batches under maxFilesPerTrigger=1). The SECOND file carries
    a duplicate of file 1's doc 1 with a SMALLER doc_id (0), so
    first-wins pinning is distinguishable from a global min: a
    regression to per-batch/global min would report 0, the pinned
    registry must keep 1. Doc 7/8 duplicate within one file exercises
    the within-batch winner."""
    root = str(tmp_path_factory.mktemp("docs_stream"))
    rows1 = [(1, "alpha beta gamma", "a"), (7, "x y z", "b"),
             (8, "  x   y z ", "b"), (3, "unique one", "c")]
    rows2 = [(0, "alpha  beta gamma ", "a"), (4, "unique two", "c")]
    schema = "doc_id long, text string, source string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(root)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(root)
    return root


def test_stream_doc_registry_first_wins_across_batches(spark, docs_dir):
    """The registry's final state: counts equal the batch aggregation;
    the representative is the FIRST batch's winner even when a smaller
    doc_id arrives later (the pinning contract, not a global min)."""
    from ophois_spark.operators.textops import content_fingerprint_col
    from ophois_spark.streaming import stream_doc_registry

    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(docs_dir)
    )
    q = (
        stream_doc_registry(stream)
        .writeStream.format("memory")
        .queryName("doc_registry_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT fp, rep_doc_id, n_seen FROM doc_registry_sink"
    ).collect()
    assert len(rows) > len({r.fp for r in rows}), (
        "expected at least one fingerprint updated across two "
        "micro-batches; maxFilesPerTrigger slicing did not happen"
    )
    got = {}
    for r in rows:
        if r.fp not in got or r.n_seen > got[r.fp][1]:
            got[r.fp] = (r.rep_doc_id, r.n_seen)

    batch = (
        spark.read.parquet(docs_dir)
        .groupBy(content_fingerprint_col(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("mn"), F.count(F.lit(1)).alias("n"))
    )
    want = {r.fp: (r.mn, r.n) for r in batch.collect()}
    assert set(got) == set(want)
    assert all(got[fp][1] == want[fp][1] for fp in want), "counts != batch"
    # the cross-batch duplicate group: global min is 0 (second batch),
    # but the registry pinned the FIRST batch's winner 1
    cross = [fp for fp, (mn, n) in want.items() if n == 2 and mn == 0]
    assert cross and got[cross[0]][0] == 1
    # groups whose min arrived first agree with the batch min
    for fp, (mn, n) in want.items():
        if fp not in cross:
            assert got[fp][0] == mn


@pytest.fixture(scope="module")
def near_docs_dir(spark, tmp_path_factory):
    """Documents with NEAR duplicates split across two parquet files
    (two micro-batches), plus exact dups and unrelated docs. Long texts
    (40 tokens) so a one-token edit keeps shingle Jaccard ≥ 0.85 —
    above the 0.8 verify threshold and well inside LSH recall at
    8 bands × 2 rows."""
    root = str(tmp_path_factory.mktemp("near_docs_stream"))
    base = " ".join(f"w{i}" for i in range(40))
    edit1 = base.replace("w20", "EDIT")          # near-dup of base
    other = " ".join(f"q{i}" for i in range(40))  # unrelated
    # doc 13 carries leading-tab/trailing-newline whitespace: Spark's
    # trim strips ASCII spaces only, so the batch tokens keep boundary
    # empty tokens — the streaming kernel must reproduce them exactly
    rows1 = [(10, base, "a"), (11, other, "b"), (12, "tiny doc here", "c"),
             (13, "\t" + base + "\n", "a")]
    # file 2: near-dup of doc 10 (cross-batch pair) + exact dup of other
    rows2 = [(20, edit1, "a"), (21, other, "b")]
    schema = "doc_id long, text string, source string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(root)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(root)
    return root


def _py_shingles(text, k=3):
    import re

    toks = re.split(r"[ \t\n\x0B\f\r]+", text.strip(" "))
    return (
        {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
        if len(toks) >= k
        else set()
    )


def test_band_key_rows_match_batch_lsh(spark, near_docs_dir):
    """The streaming-side Arrow band-key kernel is the batch
    lsh_band_keys bit for bit (same rows: doc_id, band, band_key)."""
    from ophois_spark.operators.dedup import lsh_band_keys
    from ophois_spark.streaming import band_key_rows

    docs = spark.read.parquet(near_docs_dir)
    got = {tuple(r) for r in band_key_rows(docs).collect()}
    want = {tuple(r) for r in lsh_band_keys(docs).collect()}
    assert got == want and len(want) > 0


def test_stream_band_registry_matches_batch_candidates_and_clusters(
    spark, near_docs_dir, tmp_path
):
    """Streamed candidate pairs (across micro-batches AND a
    checkpointed restart) == batch minhash_lsh_pairs; composing the
    batch verify+cluster decision over them == near_dup_clusters. The
    restart's delta file must pair against run-1 state (cross-run
    candidate), proving state restoration."""
    from ophois_spark.operators.dedup import (
        NEAR_DUP_JACCARD,
        minhash_lsh_pairs,
        near_dup_clusters,
    )
    from ophois_spark.streaming import stream_band_registry

    ckpt = str(tmp_path / "ckpt_bands")
    pairs: set[tuple] = set()

    def drain():
        def collect(batch_df, _bid):
            for r in batch_df.collect():
                pairs.add((r["doc_a"], r["doc_b"]))

        stream = (
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(near_docs_dir)
        )
        q = (
            stream_band_registry(stream)
            .writeStream.foreachBatch(collect)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    docs = spark.read.parquet(near_docs_dir)
    want = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    assert pairs == want
    assert (10, 20) in pairs  # the cross-batch near-dup candidate

    # restart with a new file: an exact dup of doc 20's text must pair
    # against run-1/2 state (both 10 and 20 are in its buckets already)
    extra = [(30, spark.read.parquet(near_docs_dir).filter("doc_id = 20").first()["text"], "a")]
    spark.createDataFrame(extra, "doc_id long, text string, source string").coalesce(
        1
    ).write.mode("append").parquet(near_docs_dir)
    drain()
    assert (20, 30) in pairs and (10, 30) in pairs

    # cluster-decision parity: verify streamed candidates with exact
    # Jaccard (independent Python twin) + union-find, vs the batch op
    docs2 = spark.read.parquet(near_docs_dir)
    texts = {r["doc_id"]: r["text"] for r in docs2.collect()}
    parent = {d: d for d in texts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        sa, sb = _py_shingles(texts[a]), _py_shingles(texts[b])
        j = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        if j >= NEAR_DUP_JACCARD:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want_clusters = {
        r["doc_id"]: (r["cluster"], r["is_canonical"])
        for r in near_dup_clusters(docs2).collect()
    }
    got_clusters = {d: (find(d), int(find(d) == d)) for d in texts}
    assert got_clusters == want_clusters


def test_stream_band_registry_max_bucket_first_arrivals(spark, tmp_path):
    """max_bucket keeps the FIRST N members: a later arrival with a
    smaller doc_id never evicts a registered member (truncating the
    sorted union would), still pairs against the capped registry, and
    unregistered docs never act as registry members for later docs."""
    from ophois_spark.streaming import stream_band_registry

    root = str(tmp_path / "capped_docs")
    text = " ".join(f"w{i}" for i in range(40))  # identical ⇒ same buckets
    schema = "doc_id long, text string, source string"
    for batch in ([(5, text, "a"), (9, text, "a")], [(1, text, "a")],
                  [(7, text, "a")]):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(root)

    pairs: set[tuple] = set()

    def collect(batch_df, _bid):
        for r in batch_df.collect():
            pairs.add((r["doc_a"], r["doc_b"]))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    q = (
        stream_band_registry(stream, max_bucket=2)
        .writeStream.foreachBatch(collect)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_cap"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # batch1 registers {5,9}; doc 1 (smaller id, batch2) pairs but is
    # NOT registered; doc 7 (batch3) pairs with 5 and 9 only
    assert {(5, 9), (1, 5), (1, 9), (5, 7), (7, 9)} <= pairs
    assert (1, 7) not in pairs


# ---------------------------------------------------------------------------
# watermarked tumbling-window rollup lifecycle
# ---------------------------------------------------------------------------


def test_stream_windowed_rollup_watermark_lifecycle(spark, tmp_path):
    """Pins the three append-mode watermark semantics on one timeline:
    (1) a closed window is emitted exactly once (availableNow's final
    flush batch emits windows the advanced watermark just closed),
    (2) a late row whose window expired below the checkpointed
    watermark is dropped, (3) a still-open window is withheld from the
    sink. Watermark delay = tumbling window = 10 min."""
    from ophois_spark.streaming.ingest_stream import stream_windowed_rollup

    src = str(tmp_path / "events")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def feed(rows):
        spark.createDataFrame(
            [(i, f"2024-01-01 {t}", ty, float(v)) for i, (t, ty, v) in enumerate(rows)],
            "event_id long, ts_s string, event_type string, value double",
        ).select(
            "event_id",
            F.to_timestamp("ts_s").alias("ts"),
            "event_type",
            "value",
        ).write.mode("append").parquet(src)

    def drain():
        q = stream_windowed_rollup(spark, src, sink, ckpt)
        q.awaitTermination()

    def sink_rows():
        return {
            (str(r.w_start), str(r.w_end), r.event_type, r.n_events, r.sum_value)
            for r in spark.read.parquet(sink).collect()
        }

    # run 1: watermark advances to 00:31 - 10min = 00:21; the final
    # availableNow flush batch emits the two windows it closed
    feed([("00:01:00", "a", 1), ("00:05:00", "a", 2),
          ("00:12:00", "b", 3), ("00:31:00", "a", 4)])
    drain()
    closed = {
        ("2024-01-01 00:00:00", "2024-01-01 00:10:00", "a", 2, 3),
        ("2024-01-01 00:10:00", "2024-01-01 00:20:00", "b", 1, 3),
    }
    assert sink_rows() == closed

    # run 2: late row at 00:03 falls in [00:00,00:10), expired below
    # the checkpointed watermark 00:21 -> DROPPED (the already-emitted
    # window is NOT updated or re-emitted); 00:52 advances the
    # watermark to 00:42, closing [00:30,00:40)
    feed([("00:03:00", "a", 100), ("00:52:00", "b", 5)])
    drain()
    closed.add(("2024-01-01 00:30:00", "2024-01-01 00:40:00", "a", 1, 4))
    assert sink_rows() == closed

    # run 3: 01:30 advances the watermark to 01:20, closing
    # [00:50,01:00); its own window [01:30,01:40) stays open -> withheld
    feed([("01:30:00", "a", 6)])
    drain()
    closed.add(("2024-01-01 00:50:00", "2024-01-01 01:00:00", "b", 1, 5))
    assert sink_rows() == closed

    # run 4: 02:00 closes [01:30,01:40) exactly once; [02:00,02:10)
    # never leaks
    feed([("02:00:00", "a", 7)])
    drain()
    closed.add(("2024-01-01 01:30:00", "2024-01-01 01:40:00", "a", 1, 6))
    got = sink_rows()
    assert got == closed
    assert not any(r[0] == "2024-01-01 02:00:00" for r in got)


def test_stream_sessionize_matches_batch_across_restart(spark, tmp_path):
    """stream_sessionize == batch sessionize on the drained feed: two
    micro-batch files split MID-SESSION for some users, drained in two
    separate checkpointed runs (a real restart, state restored). The
    last emit per (user, session_id) must equal the batch operator's
    closed-session rows exactly."""
    from ophois_spark.operators.temporal import sessionize_naive
    from ophois_spark.streaming import stream_sessionize

    GAP = 1_000_000  # 1 s in micros
    # user 1: session 0 spans the file boundary (gap 0.5 s across it);
    # user 2: boundary gap > 1 s → new session in file 2;
    # user 3: only in file 1; user 4: only in file 2;
    # within-file out-of-order rows exercise the per-batch sort.
    f1 = [
        (1, 0, 10), (1, 600_000, 11), (1, 300_000, 12),     # u1 s0
        (1, 5_000_000, 13),                                  # u1 s1 opens
        (2, 0, 20), (2, 200_000, 21),                        # u2 s0
        (3, 0, 30),                                          # u3 s0
    ]
    f2 = [
        (1, 5_500_000, 14), (1, 5_400_000, 15),              # u1 s1 extends
        (2, 9_000_000, 22),                                  # u2 s1 (gap)
        (4, 100, 40), (4, 2_000_000, 41),                    # u4 s0, s1
    ]
    schema = "user_id long, t_us long, event_id long"
    events_dir = str(tmp_path / "events_stream")
    ckpt = str(tmp_path / "ckpt_sessionize")
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(events_dir)

    got: dict = {}

    def drain():
        def collect(batch_df, _bid):
            for r in batch_df.collect():
                got[(r["user_id"], r["session_id"])] = (
                    r["n_events"], r["start_us"], r["end_us"],
                )

        src = spark.readStream.schema(schema).parquet(events_dir)
        q = (
            stream_sessionize(src, GAP)
            .writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()  # run 1: file 1 only
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(events_dir)
    drain()  # run 2: restart from checkpoint, file 2 delta only

    batch = {
        (r.user_id, r.session_id): (r.n_events, r.start_us, r.end_us)
        for r in sessionize_naive(
            spark.createDataFrame(f1 + f2, schema), GAP
        ).collect()
    }
    assert got == batch
    # the mid-session merge really happened: u1 s1 spans both files
    assert got[(1, 1)] == (3, 5_000_000, 5_500_000)
