"""Structured Streaming ingest: pages arriving as files → graph records.

The reference is strictly batch over Unix pipes (README.md:85-95); a
Common-Crawl-scale deployment ingests page snapshots continuously. This
module runs the SAME extraction operator (`operators/extract.py` — one
fused Arrow-UDF stage) under Structured Streaming, so batch and
streaming share one code path (the Kappa shape):

- ``stream_page_records``  readStream over a pages directory → fused
  XML format+extract → append-mode parquet sink of line records. With
  ``availableNow`` the stream drains everything present and stops —
  the incremental-backfill pattern; left running it tails new files.
- ``stream_dedup_nodes``   streaming node records with a watermark on
  the page capture time + ``dropDuplicatesWithinWatermark`` on node id
  — bounded-state streaming dedup (state is pruned once the watermark
  passes, which is what survives unbounded streams).
- ``stream_graph_snapshots``  ``foreachBatch`` loop committing one
  Iceberg-style snapshot per micro-batch (plans/snapshots.py), so a
  killed stream resumes from BOTH the streaming checkpoint (source
  offsets) and the last committed snapshot (derived tables).

Scale notes: the extraction stage is narrow (no shuffle); per-batch
dedup shuffles only the batch increment; global dedup happens at
read time (or compaction) exactly like the batch path, so streaming
adds no new shuffle shape.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophois_spark import SEPARATOR
from ophois_spark.operators.extract import extract_page_records
from ophois_spark.sources.pages import PAGES_SCHEMA


def read_page_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming scan of a pages directory (parquet file source)."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)


def stream_page_records(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    lang: str | None = "en",
    available_now: bool = True,
    separator: str = SEPARATOR,
):
    """pages files → extracted line records, streamed to parquet.

    Returns the StreamingQuery; with ``available_now`` the caller can
    ``awaitTermination()`` to drain-and-stop (incremental backfill).
    """
    pages = read_page_stream(spark, input_dir)
    if lang is not None:
        pages = pages.filter(F.col("lang") == lang)
    records = extract_page_records(pages, separator)
    return (
        records.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=available_now)
        .start()
    )


def stream_dedup_nodes(
    pages_stream: DataFrame,
    watermark: str = "1 hour",
    separator: str = SEPARATOR,
) -> DataFrame:
    """Streaming node dedup with bounded state, on event time.

    The extraction stage carries each page's ``warc_ts`` onto its
    records, and the watermark is on that event-time column: a node id
    is remembered until the watermark passes ``warc_ts + watermark``,
    so state never grows unboundedly. Duplicates captured within the
    window are dropped exactly; older re-captures fall through to the
    batch/compaction dedup (the standard streaming/batch split).
    """
    records = extract_page_records(
        pages_stream, separator, carry_cols=("warc_ts",)
    )
    fields = F.split(F.col("line"), separator)
    nodes = (
        records.filter(F.size(fields) == 3)
        .select(
            fields[0].alias("id"),
            fields[1].alias("lat"),
            fields[2].alias("lon"),
            F.col("warc_ts"),
        )
        .withWatermark("warc_ts", watermark)
    )
    return nodes.dropDuplicatesWithinWatermark(["id"])


def stream_graph_snapshots(
    spark: SparkSession,
    input_dir: str,
    snapshot_root: str,
    checkpoint_dir: str,
    lang: str | None = "en",
    available_now: bool = True,
    on_batch: Callable[[int, dict], None] | None = None,
):
    """Micro-batch ingest committing an Iceberg-style snapshot per batch.

    Each micro-batch extracts its pages' records and commits them as a
    snapshot table ``records`` (append semantics live in the snapshot
    ancestry). Resume-after-kill replays only unprocessed source files
    (streaming checkpoint) and the snapshot log keeps every batch's
    per-partition row counts (north_rule lineage).
    """
    import re

    from ophois_spark.plans.snapshots import SnapshotLog

    log = SnapshotLog(snapshot_root)
    # Bind the snapshot root to ONE streaming checkpoint lineage: batch
    # ids are only meaningful relative to their checkpoint, so reusing a
    # root with a different checkpoint would make every id-keyed ledger
    # lookup ambiguous. A marker snapshot records the owning checkpoint
    # (realpath-normalized: the same directory spelled relative vs
    # absolute must compare equal); a mismatch is refused instead of
    # risking silently skipped batches.
    ckpt_real = os.path.realpath(checkpoint_dir)
    marker = log.find_stage("stream_source")
    if marker is not None:
        owner = (marker.get("metrics") or {}).get("checkpoint_dir")
        if owner is not None and os.path.realpath(owner) != ckpt_real:
            raise ValueError(
                f"snapshot root {snapshot_root} is bound to checkpoint "
                f"{owner!r}; refusing to commit from checkpoint "
                f"{checkpoint_dir!r} — use a fresh snapshot root (batch "
                "ids from a different checkpoint would alias the ledger)"
            )
    else:
        # Roots created before the marker scheme hold id-only
        # ``stream_batch_{id}`` ledger entries whose original checkpoint
        # is unknowable. Honoring them from an arbitrary checkpoint is
        # exactly the aliasing content-keying prevents (fresh checkpoints
        # restart ids at 0 and silently skip new batches), so refuse.
        if any(re.fullmatch(r"stream_batch_\d+", m["stage"]) for m in log.snapshots()):
            raise ValueError(
                f"snapshot root {snapshot_root} holds legacy id-only "
                "stream_batch_* ledger entries with no checkpoint marker; "
                "resuming it from an arbitrary checkpoint could silently "
                "skip batches whose ids alias old commits — use a fresh "
                "snapshot root."
            )
        log.commit("stream_source", {}, {"checkpoint_dir": ckpt_real})
    pages = read_page_stream(spark, input_dir)
    if lang is not None:
        pages = pages.filter(F.col("lang") == lang)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: on restart a batch can replay
        # after its commit but before the streaming checkpoint advanced.
        # The snapshot log is the idempotency ledger. Keyed on batch
        # CONTENT (source-file list), not batch_id alone — a fresh
        # checkpoint over a reused snapshot root restarts ids at 0, and
        # an id-only key would silently skip new batches whose id
        # happens to match an old commit.
        import hashlib

        try:
            files = sorted(batch_df.inputFiles())
        except Exception:
            files = []
        sig = (
            hashlib.md5("\n".join(files).encode()).hexdigest()[:12]
            if files
            else "nofiles"
        )
        stage = f"stream_batch_{batch_id}_{sig}"
        existing = log.find_stage(stage)
        if existing is not None:
            if on_batch is not None:
                on_batch(batch_id, existing)
            return
        records = extract_page_records(batch_df)
        meta = log.commit(stage, {"records": records}, {"batch_id": batch_id})
        if on_batch is not None:
            on_batch(batch_id, meta)

    return (
        pages.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=available_now)
        .start()
    )


def stream_node_registry(
    pages_stream: DataFrame,
    separator: str = SEPARATOR,
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): a
    first-wins node registry with per-id occurrence counts — the
    reference's insert-if-absent node semantics (src/graph.rs:123-125)
    carried as keyed state over an unbounded page stream.

    State per node id: (lat, lon, n_seen). The coordinates are pinned
    by the FIRST arrival (earlier micro-batch wins; within a batch the
    deterministic (url, pos) minimum stands in for stdin order, same
    contract as the batch dedup) and ``n_seen`` accumulates across
    batches/restarts via the state store. Output mode "update": one row
    per id per batch it appears in, carrying the pinned coords and the
    running count. State size is O(distinct node ids) — the same
    cardinality the batch dedup shuffles; for streams whose id space is
    unbounded, pass ``state_timeout_ms`` to evict ids idle longer than
    that processing-time horizon (evicted ids that reappear re-pin and
    restart their count — the bounded-state trade, same contract as the
    watermark dedup).

    The per-batch minimum is computed with vectorized pandas reductions
    (column-wise ``min``/``idxmin``), never a Python row loop — each
    Arrow chunk costs O(n) C-side.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    records = extract_page_records(pages_stream, separator)
    fields = F.split(F.col("line"), separator)
    nodes = records.filter(F.size(fields) == 3).select(
        fields[0].alias("id"),
        fields[1].alias("lat"),
        fields[2].alias("lon"),
        "url",
        "pos",
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state_timeout_ms is not None and state.hasTimedOut:
            state.remove()
            return
        first = None  # (url, pos, lat, lon) minimum within this batch
        n_batch = 0
        for pdf in pdfs:
            n_batch += len(pdf)
            if not len(pdf):
                continue
            # lexicographic (url, pos) min, vectorized: restrict to the
            # min-url rows, then idxmin over pos within them
            at_min_url = pdf[pdf["url"] == pdf["url"].min()]
            row = at_min_url.loc[at_min_url["pos"].idxmin()]
            cand = (row["url"], row["pos"], row["lat"], row["lon"])
            if first is None or cand[:2] < first[:2]:
                first = cand
        if state.exists:
            lat0, lon0, n0 = state.get
        else:
            lat0, lon0, n0 = first[2], first[3], 0
        n_total = n0 + n_batch
        state.update((lat0, lon0, n_total))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(
            {"id": [key[0]], "lat": [lat0], "lon": [lon0], "n_seen": [n_total]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return nodes.groupBy("id").applyInPandasWithState(
        update,
        outputStructType="id string, lat string, lon string, n_seen long",
        stateStructType="lat string, lon string, n_seen long",
        outputMode="update",
        timeoutConf=timeout,
    )


def stream_doc_registry(
    docs_stream: DataFrame, state_timeout_ms: int | None = None
) -> DataFrame:
    """Streaming corpus exact-dedup: a first-wins FINGERPRINT registry
    (``applyInPandasWithState``) over an unbounded document stream —
    the incremental twin of the corpus funnel's exact fingerprint
    stage (``content_fingerprint_col`` — whitespace-normalized, unlike
    the raw-text ``exact_dedup``), for continuously-arriving crawl
    data.

    Key = whitespace-normalized md5 content fingerprint. State per
    fingerprint: (rep_doc_id, n_seen). The representative is pinned by
    the FIRST batch in which the content appears (within a batch the
    minimum doc_id stands in for arrival order — the same deterministic
    winner the batch aggregation picks), so re-crawled bodies never
    churn the corpus; ``n_seen`` accumulates the duplicate pressure per
    content across batches/restarts via the state store. Output mode
    "update": one row per fingerprint per batch it appears in — the
    LAST row per fingerprint is the registry's current state, and
    feeding only first-appearance rows downstream IS the streaming
    dedup.

    State size is O(distinct contents) — the cardinality the batch
    dedup shuffles; for truly unbounded streams pass
    ``state_timeout_ms`` to evict idle fingerprints (re-appearing
    content re-pins, the same bounded-state trade as the node
    registry). Vectorized pandas reductions per Arrow chunk, no row
    loops.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ophois_spark.operators.textops import content_fingerprint_col

    keyed = docs_stream.filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    ).select(
        content_fingerprint_col(F.col("text")).alias("fp"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state_timeout_ms is not None and state.hasTimedOut:
            state.remove()
            return
        best = None
        n_batch = 0
        for pdf in pdfs:
            n_batch += len(pdf)
            if len(pdf):
                m = int(pdf["doc_id"].min())
                best = m if best is None else min(best, m)
        if state.exists:
            rep0, n0 = state.get
        else:
            rep0, n0 = best, 0
        n_total = n0 + n_batch
        state.update((rep0, n_total))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(
            {"fp": [key[0]], "rep_doc_id": [rep0], "n_seen": [n_total]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("fp").applyInPandasWithState(
        update,
        outputStructType="fp string, rep_doc_id long, n_seen long",
        stateStructType="rep_doc_id long, n_seen long",
        outputMode="update",
        timeoutConf=timeout,
    )


def band_key_rows(docs: DataFrame, n_hashes: int = 16, band_rows: int = 2, k: int = 3) -> DataFrame:
    """(doc_id, band, band_key) per document — the Arrow-batched twin of
    ``operators.dedup.lsh_band_keys`` (pinned equal by tests), computed
    per-row inside ``mapInPandas`` so it works on a STREAM: the batch
    formulation's explode→groupBy minhash aggregation is a shuffle,
    which would be a second stateful operator in front of the band
    registry; here each document's shingle set fits one kernel call
    (``kernels.text.minhash_sig``), so band keys are a narrow map stage.

    Documents with fewer than ``k`` tokens have no shingles and emit no
    band rows — identical to the batch path, where they never reach the
    minhash aggregation.
    """
    import re
    from collections.abc import Iterator

    import pandas as pd

    from ophois_spark.kernels.text import minhash_sig
    from ophois_spark.operators.textops import WS_RE

    ws = re.compile(WS_RE)
    n_bands = -(-n_hashes // band_rows)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bands, keys = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                # strip(' ') not strip(): Spark's trim removes ASCII
                # spaces ONLY, and split keeps the leading/trailing
                # empty token a \t/\n boundary produces — verified
                # equal on every edge (empty, all-space, tab-only)
                toks = ws.split(str(text).strip(" "))
                if len(toks) < k:
                    continue
                sh = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
                sig = minhash_sig(sh, n_hashes)
                for t in range(n_bands):
                    ids.append(doc_id)
                    bands.append(t)
                    keys.append(
                        ":".join(
                            str(sig[j])
                            for j in range(t * band_rows, min((t + 1) * band_rows, n_hashes))
                        )
                    )
            yield pd.DataFrame({"doc_id": ids, "band": bands, "band_key": keys})

    return docs.select("doc_id", "text").mapInPandas(
        gen, "doc_id long, band int, band_key string"
    )


def stream_band_registry(
    docs_stream: DataFrame,
    n_hashes: int = 16,
    band_rows: int = 2,
    k: int = 3,
    state_timeout_ms: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Streaming NEAR-dup candidate generation: a MinHash-LSH band
    registry (``applyInPandasWithState``) — the incremental twin of
    ``minhash_lsh_pairs``, extending the streaming corpus coverage from
    the exact-fingerprint stage (``stream_doc_registry``) to the
    near-dup stage.

    Key = (band, band_key) — an LSH bucket. State per bucket: the
    array of doc_ids it has accumulated (sorted; under ``max_bucket``
    it is first-arrival-ordered instead, because registered members
    must never be evicted). Each micro-batch, every
    NEW document in the bucket emits one candidate row per document
    already registered (plus the in-batch pairs among the new docs), as
    ``(band, band_key, doc_a, doc_b)`` with ``doc_a < doc_b``. The
    union of emitted rows over the stream's lifetime, made distinct
    over buckets, is EXACTLY the batch candidate set: docs sharing any
    band bucket — pinned by tests including a checkpointed restart
    whose delta file pairs with run-1 state. Replayed doc_ids (at-least-
    once delivery) are set-subtracted against state, so emission is
    idempotent.

    Downstream, candidates flow through the same verify (exact
    Jaccard) → components decision as the batch pipeline; candidate-set
    equality makes the CLUSTER decision equal by construction, and the
    tests pin it against ``near_dup_clusters`` anyway.

    State size is O(bucket membership) = the LSH skew profile; a hot
    bucket (boilerplate band collision) is the same key the batch join
    splits via AQE. For unbounded streams, ``max_bucket`` caps a
    bucket's registry at its first N members (later arrivals still pair
    with the capped registry but are not added — the standard
    bounded-state recall trade, disclosed, default off), and
    ``state_timeout_ms`` evicts idle buckets wholesale.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = band_key_rows(
        docs_stream.filter(F.col("doc_id").isNotNull()), n_hashes, band_rows, k
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state_timeout_ms is not None and state.hasTimedOut:
            state.remove()
            return
        batch_ids: set[int] = set()
        for pdf in pdfs:
            batch_ids.update(int(x) for x in pdf["doc_id"])
        prior = list(state.get[0]) if state.exists else []
        new = np.array(sorted(batch_ids - set(prior)), dtype=np.int64)
        prior_a = np.array(prior, dtype=np.int64)
        out_a, out_b = [], []
        if len(new):
            if len(prior_a):
                # every new doc × every registered doc (grid, no row loop)
                aa = np.repeat(prior_a, len(new))
                bb = np.tile(new, len(prior_a))
                out_a.append(np.minimum(aa, bb))
                out_b.append(np.maximum(aa, bb))
            if len(new) > 1:
                iu = np.triu_indices(len(new), 1)  # in-batch pairs, a < b
                out_a.append(new[iu[0]])
                out_b.append(new[iu[1]])
        if max_bucket is None:
            merged = sorted(set(prior) | batch_ids)
        else:
            # first-N-ARRIVALS cap: registered members are never
            # evicted (truncating the sorted union would let a later
            # small doc_id push out an already-registered member,
            # breaking emission idempotence); within one micro-batch
            # arrival order is undefined, so the new ids fill the
            # remaining room in doc_id order for determinism. Docs
            # that arrive with the bucket full still PAIR against the
            # registry (above) but are not added — on at-least-once
            # replay they re-emit those pairs, absorbed by the
            # downstream distinct that defines the candidate set.
            merged = list(prior)
            room = max_bucket - len(merged)
            if room > 0:
                merged.extend(sorted(batch_ids - set(prior))[:room])
        state.update((merged,))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        if out_a:
            a = np.concatenate(out_a)
            b = np.concatenate(out_b)
            yield pd.DataFrame(
                {
                    "band": np.full(len(a), key[0], dtype=np.int32),
                    "band_key": [key[1]] * len(a),
                    "doc_a": a,
                    "doc_b": b,
                }
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("band", "band_key").applyInPandasWithState(
        update,
        outputStructType="band int, band_key string, doc_a long, doc_b long",
        stateStructType="ids array<long>",
        outputMode="append",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# watermarked tumbling-window rollup
# ---------------------------------------------------------------------------


def windowed_event_rollup(
    events: DataFrame, window: str = "10 minutes", delay: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window per-type event rollup with a watermark — the
    canonical Structured Streaming aggregation shape (the streaming
    twin of the gated batch ``events_rollup`` family). One transform
    serves BOTH batch and streaming inputs (the Kappa discipline this
    module applies everywhere): on a stream the watermark bounds state
    (window state is dropped once the watermark passes its end) and
    defines the late-data contract (rows landing in an expired window
    are DROPPED, exactly once, deterministically); on a batch frame
    the same code is a plain windowed aggregation.

    Append-mode emission: a window is written to the sink only once
    the watermark passes its end — finalized exactly once, never
    updated — which is what makes the parquet sink idempotent to
    replay. ``tests/test_streaming.py`` pins the full lifecycle: late
    row below the watermark dropped, closed windows emitted once,
    still-open windows withheld.

    Scale shape: the aggregation is algebraic (map-side combined per
    micro-batch); state per key is one row per (window, type) — the
    watermark bounds the window count, so state size is
    O(types x windows-in-delay), independent of stream length.
    """
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast("long").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_windowed_rollup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    delay: str = "10 minutes",
    available_now: bool = True,
):
    """readStream(events parquet dir) → windowed_event_rollup →
    append-mode parquet sink. Returns the StreamingQuery."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    events = spark.readStream.schema(schema).parquet(input_dir)
    out = windowed_event_rollup(events, window=window, delay=delay)
    return (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=available_now)
        .start()
    )


def stream_sessionize(
    events: DataFrame,
    gap_us: int,
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Stateful gap sessionization over an unbounded event stream —
    the incremental twin of the batch ``sessionize`` operator
    (operators/temporal.py), keyed state via ``applyInPandasWithState``.

    Input: (user_id, t_us, event_id) — event time as epoch micros,
    per-key arrival assumed time-ordered ACROSS micro-batches (the
    usual watermarked-append contract; within a batch any order is
    fine, the batch is sorted). State per user: the OPEN session
    (ordinal, start_us, end_us, n_events). Each batch emits every
    session it touched with its current aggregate ("update" mode) —
    the last emit per (user_id, session_id) is the session's final
    row, and on a fully drained feed it matches the batch operator's
    output row-for-row (pinned in tests, including a checkpointed
    restart mid-session).

    Per-batch work is vectorized (numpy diff → cut flags → cumsum
    group ids → pandas groupby); no Python row loop. State size is
    O(active keys) × O(1); ``state_timeout_ms`` evicts idle keys (an
    evicted key's next event starts session 0 again — the bounded-
    state trade, disclosed as in the registries).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state_timeout_ms is not None and state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if not len(pdf):
            return
        pdf = pdf.sort_values(["t_us", "event_id"], ignore_index=True)
        t = pdf["t_us"].to_numpy(dtype=np.int64)
        cut = np.empty(len(t), dtype=bool)
        cut[0] = True
        cut[1:] = (t[1:] - t[:-1]) > gap_us
        if state.exists:
            sid0, st0, en0, n0 = state.get
            if t[0] - en0 <= gap_us:
                cut[0] = False  # first run extends the open session
        else:
            sid0, st0, en0, n0 = -1, 0, 0, 0
        sid = sid0 + np.cumsum(cut)
        agg = (
            pdf.assign(_sid=sid)
            .groupby("_sid", sort=True)["t_us"]
            .agg(n_events="size", start_us="min", end_us="max")
            .reset_index()
        )
        # merge the carried open-session aggregate into its run
        if state.exists and not cut[0]:
            agg.loc[0, "n_events"] += n0
            agg.loc[0, "start_us"] = st0
        last = agg.iloc[-1]
        state.update(
            (int(last["_sid"]), int(last["start_us"]), int(last["end_us"]),
             int(last["n_events"]))
        )
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": np.full(len(agg), key[0], dtype=np.int64),
                "session_id": agg["_sid"].to_numpy(dtype=np.int64),
                "n_events": agg["n_events"].to_numpy(dtype=np.int64),
                "start_us": agg["start_us"].to_numpy(dtype=np.int64),
                "end_us": agg["end_us"].to_numpy(dtype=np.int64),
            }
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, session_id long, n_events long, "
            "start_us long, end_us long"
        ),
        stateStructType="sid long, start_us long, end_us long, n_events long",
        outputMode="update",
        timeoutConf=timeout,
    )
