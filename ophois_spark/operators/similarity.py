"""Similarity search over the embeddings table (array<float>, dim 64).

- ``cosine_topk``      exact brute-force top-k (baseline + oracle twin)
- ``lsh_buckets``      deterministic sign-projection buckets (the scale
                       path: candidate generation within buckets)
- ``ann_topk``         ANN = top-k within the query's LSH bucket

Cosine math uses ``zip_with``/``aggregate`` Column folds (JVM, double
accumulation, sequential — deterministic). Rankings use values rounded
to 1e-6 with id tie-breaks so cross-backend float noise (~1e-13) can't
reorder them.

Hyperplanes for LSH are integer-weight vectors derived from (plane j,
dim d) arithmetic — deterministic and expressible in SQL for the
oracle; no RNG anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    embeddings: DataFrame, queries: DataFrame, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """Exact brute-force cosine top-k: (qid, rank, vec_id, sim)."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col("embedding")).alias("v")
    )
    q = queries.select(F.col(id_col).alias("qid"), _as_double(F.col("embedding")).alias("qv"))
    sims = q.crossJoin(base).select(
        "qid", "vec_id", F.round(cosine(F.col("qv"), F.col("v")), 6).alias("sim")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("int").alias("rank"), "vec_id", "sim")
    )


def plane_weight(j: Column | int, d: Column | int) -> Column:
    """Deterministic integer hyperplane weight in [-3, 3].

    Two-stage LCG hash: ``h1 = (1103515245·(d+1) + 12345) mod 2^31``,
    then ``w = (((h1·(2j+1) + j) mod 2^31) mod 7) - 3``. The per-plane
    odd multiplier decorrelates planes without any (j, d) → (j', d')
    aliasing family — a ``d + S·j`` stride would make plane j+1 an
    S-shifted window of plane j for dims > S, and a plain
    ``(a·d + b·j) mod 7`` family repeats with period 7 in j (only 7
    distinct planes). All products stay inside int64 for any embedding
    width (h1 < 2^31, 2j+1 ≤ 127); bit-identical in Spark and DuckDB
    (both use truncated ``%`` with non-negative operands here).
    """
    jj = (F.lit(j) if isinstance(j, int) else j).cast("long")
    dd = (F.lit(d) if isinstance(d, int) else d).cast("long")
    h1 = (F.lit(1103515245).cast("long") * (dd + 1) + 12345) % 2147483648
    h = (h1 * (jj * 2 + 1) + jj) % 2147483648
    return (h % 7 - 3).cast("double")


def band_buckets_col(
    n_bands: int, band_planes: int, emb_col: str = "embedding"
) -> Column:
    """Array of ``n_bands`` LSH bucket keys (band t uses planes
    ``t*band_planes .. t*band_planes+band_planes-1``) as ONE nested
    higher-order Column expression — per-row, no join, no shuffle, and
    expression size independent of n_bands×band_planes (the plane loop
    is a ``transform``/``aggregate`` fold, not Python unrolling)."""
    v = _as_double(F.col(emb_col))
    dims = F.sequence(F.lit(0), F.size(F.col(emb_col)) - 1)

    def proj(j: Column) -> Column:
        return F.round(
            F.aggregate(
                F.zip_with(v, dims, lambda x, d: x * plane_weight(j, d)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )

    # fold planes high→low: acc*2 + bit  ==  Σ bit_jj << jj
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda t: F.aggregate(
            F.sequence(F.lit(band_planes - 1), F.lit(0), F.lit(-1)),
            F.lit(0).cast("long"),
            lambda acc, jj: acc * 2 + (proj(t * band_planes + jj) >= 0).cast("long"),
        ),
    )


def bucket_col(n_planes: int = N_PLANES, emb_col: str = "embedding") -> Column:
    """Single-table LSH bucket (band 0 of ``band_buckets_col``)."""
    return band_buckets_col(1, n_planes, emb_col)[0]


def lsh_buckets(embeddings: DataFrame, n_planes: int = N_PLANES, id_col: str = "vec_id") -> DataFrame:
    """(vec_id, bucket): bucket bit j = (rounded projection onto plane j) >= 0."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"), bucket_col(n_planes).alias("bucket")
    )


N_BANDS = 4
BAND_PLANES = 8


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_bands: int = N_BANDS,
    band_planes: int = BAND_PLANES,
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded multi-table
    sign-LSH: candidate = same bucket in ANY of ``n_bands`` independent
    tables of ``band_planes`` planes each; exact cosine ≥ threshold
    confirms (the same band×row design as the MinHash LSH in
    dedup.py — recall comes from bands, precision from the filter).

    Scale contract: expected bucket size is N/2^band_planes, so pick
    band_planes ≈ log2(N / target_bucket_size) — bucket COUNT grows
    with N while per-bucket work stays constant; expected candidate
    pairs are O(n_bands · N · target_bucket_size), never O(N²/const).
    Candidates travel as (band, bucket, id) rows — ids only, the
    vectors join back in AFTER the distinct — so the shuffle payload
    is bounded too.
    """
    # lazy persist: the self-join would otherwise evaluate the
    # n_bands×band_planes projection folds twice (once per side). No
    # job runs at construction time (plan composition stays lazy); the
    # first action materializes the tiny (vid, band, bucket) table and
    # both join sides read the cache. The block lives in the named slot
    # ``near_dup.bands`` (plans/cache.py): re-invocation unpersists the
    # previous corpus's block; cache.release(...) frees it explicitly.
    from ophois_spark.plans.cache import swap_cached

    bb = swap_cached(
        "near_dup.bands",
        embeddings.select(
            F.col(id_col).alias("vid"),
            F.posexplode(band_buckets_col(n_bands, band_planes)).alias("band", "bucket"),
        ),
    )
    cand = (
        bb.alias("a")
        .join(bb.alias("b"), ["band", "bucket"])
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .distinct()
    )
    e = embeddings.select(
        F.col(id_col).alias("vid"), _as_double(F.col("embedding")).alias("v")
    )
    return (
        cand.join(e.withColumnsRenamed({"vid": "vec_a", "v": "va"}), "vec_a")
        .join(e.withColumnsRenamed({"vid": "vec_b", "v": "vb"}), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


N_CENTROIDS = 32


def ivf_centroids(
    embeddings: DataFrame, n_centroids: int = N_CENTROIDS, id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic coarse quantizer: a FIXED-SIZE hash sample — the
    ``n_centroids`` vectors whose md5(id) sorts lowest.

    The centroid count is a parameter independent of N (set it ~√N for
    classic IVF cost balance): the assign step stays O(N·n_centroids)
    with a boundable broadcast no matter how big the table grows —
    unlike a ``vec_id % mod`` sample, whose |centroids| = N/mod turns
    assignment into O(N²/mod). The global top-n compiles to a map-side
    partial TakeOrdered, not a full sort. (A production IVF trains
    k-means; the contract needs a deterministic, SQL-expressible
    quantizer so the whole index is oracle-checkable — swapping in
    trained centroids changes nothing downstream.)
    """
    return (
        embeddings.select(
            F.col(id_col).alias("cid"),
            _as_double(F.col("embedding")).alias("cv"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "cid")
        .limit(n_centroids)
        .drop("h")
    )


def ivf_centroids_kmeans(
    embeddings: DataFrame,
    n_centroids: int = N_CENTROIDS,
    n_iter: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Trained coarse quantizer: Lloyd iterations expressed entirely as
    DataFrame operations — assign = the existing broadcast cosine
    argmax (``ivf_assign``), update = per-cluster elementwise mean via
    ``dim`` avg() aggregates in ONE hash aggregation (map-side partial
    combine; the shuffle carries |clusters|×dim partial sums, never
    vectors). Seeded from the deterministic md5-hash sample
    (``ivf_centroids``) so runs start identically; float summation
    order inside avg() is still executor-nondeterministic, so trained
    centroids are for recall/cost (bench), while the deterministic
    quantizer remains the oracle-gated path. Empty clusters keep their
    previous centroid. Scale: each iteration is one O(N·k) assign + one
    scan-bound aggregation — the standard IVF build loop at 10^12 rows.
    """
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col("embedding")).alias("v")
    ).localCheckpoint(eager=True)
    head = base.select("v").first()
    if head is None:
        # empty input: nothing to train on — return the (empty) seed,
        # matching the untrained path's empty-result behavior instead
        # of raising on None["v"]
        return ivf_centroids(embeddings, n_centroids, id_col)
    dim = len(head["v"])
    cents = ivf_centroids(embeddings, n_centroids, id_col).localCheckpoint(eager=True)
    for _ in range(n_iter):
        assign = ivf_assign(base.withColumnRenamed("v", "embedding"), cents)
        means = (
            base.join(assign, "vec_id")
            .groupBy("cid")
            .agg(*[F.avg(F.col("v")[i]).alias(f"m{i}") for i in range(dim)])
            .select("cid", F.array(*[F.col(f"m{i}") for i in range(dim)]).alias("mv"))
        )
        cents = (
            cents.join(means, "cid", "left")
            .select("cid", F.coalesce("mv", "cv").alias("cv"))
            .localCheckpoint(eager=True)
        )
    return cents


def ivf_assign(
    embeddings: DataFrame, centroids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """(vec_id, cid): each vector → its nearest centroid (inverted list).

    The centroid set is tiny → broadcast; the argmax is a per-vector
    window over |centroids| candidates. At 10^12 scale this is the
    embarrassingly parallel "assign" step of IVF build.
    """
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col("embedding")).alias("v")
    )
    sims = base.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "cid", F.round(cosine(F.col("v"), F.col("cv")), 6).alias("sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cid"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 2,
    n_centroids: int = N_CENTROIDS,
    id_col: str = "vec_id",
    trained: bool = False,
    centroids: DataFrame | None = None,
    assignment: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: probe the ``nprobe`` nearest inverted lists per query,
    exact cosine re-rank inside them — the standard scale path (search
    cost ~ nprobe/n_centroids of brute force). ``trained=True`` swaps
    the deterministic hash-sample quantizer for k-means centroids
    (``ivf_centroids_kmeans``) — better-balanced lists and recall;
    bench.py reports recall@k for both against ``cosine_topk``. Pass
    ``centroids`` to reuse an already-built quantizer across nprobe
    settings (training is a pure function of the corpus — retraining
    per probe depth would redo identical Lloyd iterations), and
    ``assignment`` (the ivf_assign result for those centroids) to skip
    the O(N·k) list build too — nprobe affects only the probing."""
    if centroids is not None:
        cents = centroids
    elif trained:
        cents = ivf_centroids_kmeans(embeddings, n_centroids, id_col=id_col)
    else:
        cents = ivf_centroids(embeddings, n_centroids, id_col)
    assign = (
        assignment if assignment is not None else ivf_assign(embeddings, cents, id_col)
    )
    q = queries.select(F.col(id_col).alias("qid"), _as_double(F.col("embedding")).alias("qv"))

    qsims = q.crossJoin(F.broadcast(cents)).select(
        "qid", "cid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("csim")
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        qsims.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "cid")
    )

    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col("embedding")).alias("v")
    )
    cand = probes.join(assign, "cid").select("qid", "vec_id")
    sims = (
        cand.join(q, "qid")
        .join(base, "vec_id")
        .select("qid", "vec_id", F.round(cosine(F.col("qv"), F.col("v")), 6).alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("int").alias("rank"), "vec_id", "sim")
    )


def ann_topk(
    embeddings: DataFrame, queries: DataFrame, k: int, n_planes: int = N_PLANES
) -> DataFrame:
    """Approximate top-k: brute force restricted to the query's bucket.

    At 10^12 scale the bucket join replaces the O(Q×N) cross join with
    an equi join on the bucket key; recall is tested (pytest), not
    oracled — it's approximate by construction.
    """
    base = embeddings.select(
        bucket_col(n_planes).alias("bucket"),
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
    )
    qb = queries.select(
        F.col("vec_id").alias("qid"),
        bucket_col(n_planes).alias("bucket"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    sims = qb.join(base, "bucket").select(
        "qid", "vec_id", F.round(cosine(F.col("qv"), F.col("v")), 6).alias("sim")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("int").alias("rank"), "vec_id", "sim")
    )


def embedding_dedup_clusters(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_bands: int = N_BANDS,
    band_planes: int = BAND_PLANES,
    id_col: str = "vec_id",
) -> DataFrame:
    """The embedding-side dedup DECISION → (vec_id, cluster,
    is_canonical): sign-LSH candidates → exact-cosine verify →
    connected components → min-id representative. The exact mirror of
    the text side's ``near_dup_clusters`` (operators/dedup.py) — near-
    duplicacy is transitive only through its clusters, so the cluster
    is the unit of removal; ``WHERE is_canonical = 1`` IS the
    deduplicated embedding corpus.

    Scale shape: the component loop runs over the INDUCED pair
    subgraph only — verified pairs and their endpoints, both orders of
    magnitude smaller than the corpus; untouched vectors self-label
    through one left join; everything upstream inherits
    near_dup_pairs' banded-LSH bounds.
    """
    from ophois_spark.operators.dedup import _clusters_from_pairs

    pairs = near_dup_pairs(
        embeddings, threshold, n_bands=n_bands, band_planes=band_planes, id_col=id_col
    )
    labels = _clusters_from_pairs(
        embeddings.select(F.col(id_col).alias("id")),
        pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")),
    )
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("comp").alias("cluster"),
        (F.col("id") == F.col("comp")).cast("int").alias("is_canonical"),
    )


def quantize_embeddings_int8(vecs: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Int8 max-abs scalar quantization of an embedding column — the
    index-compression step an ANN store runs before serving (4x
    smaller than float32, dot products in int32 SIMD) → per-vector
    integer digest (vec_id, n_dims, sum_q, sum_q2, min_q, max_q).

    Per-DIMENSION symmetric scale: amax_j = max(|x_j|) over the
    dataset, q = floor(x * 127 / amax_j + 0.5) in [-127, 127]. The
    whole computation is +,*,/,floor,max on IEEE doubles — NO trig —
    so engines agree bit-for-bit and the gate needs no rounding
    tolerance. The digest covers every element (sum, energy, range)
    without shipping a 64-wide array through the hash compare.

    Scale shape: one posexplode pass (N x D rows), a map-side-
    combinable per-dimension max (D rows out), ONE broadcast join of
    the D-row scale table back onto the exploded stream, and a final
    map-side-combinable per-vector agg. Nothing document-scale
    shuffles twice; the scale table is dimension-sized by definition.
    """
    ex = vecs.select(
        "vec_id", F.posexplode(vec_col).alias("j", "_xf")
    ).select("vec_id", "j", F.col("_xf").cast("double").alias("x"))
    amax = ex.groupBy("j").agg(F.max(F.abs(F.col("x"))).alias("amax"))
    q = ex.join(F.broadcast(amax), "j").select(
        "vec_id",
        F.when(
            F.col("amax") > 0,
            F.floor(F.col("x") * F.lit(127.0) / F.col("amax") + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("q"),
    )
    return q.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.sum("q").cast("long").alias("sum_q"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sum_q2"),
        F.min("q").cast("long").alias("min_q"),
        F.max("q").cast("long").alias("max_q"),
    )


KNN_VOTE_K = 5


def knn_label_vote(
    embeddings: DataFrame, queries: DataFrame, k: int = KNN_VOTE_K
) -> DataFrame:
    """kNN classification by majority label vote → (qid, true_label,
    pred_label, n_votes): the quality-probe a labeled-corpus pipeline
    runs on its embedding space (label coherence = do my k nearest
    neighbors agree with my own label).

    Self is excluded BEFORE ranking (not truncate-then-drop, which
    diverges when duplicate vectors tie the self row past rank k+1);
    vote ties break to the smaller label (deterministic). This exact
    form is the oracle-aligned baseline — at 10^12 vectors stage 1
    swaps for the gated ANN candidate generation (ann_topk /
    embedding_ivf_topk) with the vote stage unchanged; the brute
    crossJoin here is the same labeled-baseline pattern as
    ``cosine_topk``.
    """
    base = embeddings.select(
        F.col("vec_id").alias("vec_id"),
        F.col("label").cast("int").alias("label"),
        _as_double(F.col("embedding")).alias("v"),
    )
    q = queries.select(
        F.col("vec_id").alias("qid"),
        F.col("label").cast("int").alias("true_label"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    sims = (
        q.crossJoin(base)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "true_label",
            "label",
            "vec_id",
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    nn = sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    votes = nn.groupBy("qid", "true_label", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") == 1)
        .select(
            "qid",
            "true_label",
            F.col("label").alias("pred_label"),
            "n_votes",
        )
    )


PQ_SUBSPACES = 4
PQ_CENTROIDS = 16
PQ_SCALE = 1 << 20  # float32 -> int64 grid; see pq_codes exactness note


def pq_codes(
    embeddings: DataFrame,
    n_subspaces: int = PQ_SUBSPACES,
    n_centroids: int = PQ_CENTROIDS,
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization codes → (vec_id, c0..c{M-1}): each vector
    split into M contiguous subvectors, each subvector assigned to its
    nearest of K codebook centroids — the vector-compression layer an
    ANN index at 10^11 vectors stores instead of raw floats (M·log2(K)
    bits per vector here = 16 bits vs 256 bytes; scan-time distances
    become M table lookups). Codebook: centroid j of subspace s is the
    s-th subvector of the j-th hash-sample seed (the deterministic
    ``ivf_centroids`` discipline — a trained codebook drops in without
    changing the assignment contract).

    Exactness: values are snapped to the 2^-20 grid FIRST
    (round(x·2^20) as int64 — float32 inputs cast to double exactly,
    and both engines round half-away-from-zero), so every subvector
    distance is an EXACT integer Σ(a−b)² (≤ 16 dims · (few·2^20)² ≪
    2^63) and the argmin tie rule (smaller centroid index) is exact —
    no float comparison anywhere in the gate, unlike the cosine paths
    whose oracles round at 6 dp.

    Scale shape: the codebook is K·M subvectors — a broadcast of
    K·D scaled ints; assignment is one broadcast join producing K
    candidate rows per (vector, subspace) with constant-size arrays,
    then two algebraic argmin/pivot aggs keyed by vec_id. O(N·K·D)
    work, no shuffle carries a vector payload wider than D ints.
    """
    vecs = _pq_scaled(embeddings, id_col)
    cents = _pq_codebook(vecs, n_subspaces, n_centroids)
    best = _pq_assign(vecs, cents, n_subspaces)
    return best.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("s") == k, F.col("b.j")))
            .cast("long")
            .alias(f"c{k}")
            for k in range(n_subspaces)
        ]
    )


def _pq_scaled(embeddings: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(vec_id, sv): the 2^-20-grid int64 vector (see pq_codes)."""
    sv = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * PQ_SCALE).cast("long")
    )
    return embeddings.select(F.col(id_col).alias("vec_id"), sv.alias("sv"))


def _pq_sub(arr, width, n_subspaces: int):
    """Subvector ``s`` of a scaled vector column (1-based slice)."""
    return F.slice(arr, (F.col("s") * width + 1).cast("int"), width.cast("int"))


def _pq_codebook(vecs: DataFrame, n_subspaces: int, n_centroids: int) -> DataFrame:
    """(j, s, carr): centroid j of subspace s = seed j's subvector —
    seeds are the md5-smallest ids (the ivf_centroids discipline)."""
    from pyspark.sql import Window

    w = Window.orderBy("h", "vec_id")
    seeds = (
        vecs.select("vec_id", "sv", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(n_centroids)
        .select((F.row_number().over(w) - 1).alias("j"), "sv")
    )
    width = F.size(F.col("sv")) / n_subspaces  # integral by contract
    return seeds.select(
        "j",
        F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("s"),
        "sv",
    ).select("j", "s", _pq_sub(F.col("sv"), width, n_subspaces).alias("carr"))


def _pq_l2(a, b):
    """Exact int64 squared L2 between two equal-length long arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _pq_assign(vecs: DataFrame, cents: DataFrame, n_subspaces: int) -> DataFrame:
    """(vec_id, s, b{dd, j}): nearest centroid per (vector, subspace)."""
    width = F.size(F.col("sv")) / n_subspaces
    cand = vecs.crossJoin(F.broadcast(cents))
    dist = _pq_l2(_pq_sub(F.col("sv"), width, n_subspaces), F.col("carr"))
    return (
        cand.select("vec_id", "s", "j", dist.alias("dd"))
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct(F.col("dd"), F.col("j"))).alias("b"))
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    n_subspaces: int = PQ_SUBSPACES,
    n_centroids: int = PQ_CENTROIDS,
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ asymmetric-distance top-k → (qid, rank, vec_id, adc): for
    each query, the k database vectors with the smallest ADC distance
    Σ_s ||q_s − centroid(code_s)||² — the query stays EXACT, the
    database is its 2-byte codes, which is how a PQ index actually
    scans (Jégou et al., TPAMI'11). All-integer: codes, the per-query
    lookup table, and the ADC sums are exact int64, so ranks and ties
    (smaller vec_id) are bit-replayable and the whole scan is
    oracle-gated — recall vs the exact-L2 baseline is quantified in
    bench.py (`recall_pq_adc`), the compression's honest cost.

    Scale shape: the LUT is |Q|·M·K rows (a broadcast — this is the
    table a real scanner keeps in registers); the scan joins the
    M-exploded code relation to the LUT on (s, code) + broadcast qid,
    sums M partials per (qid, vec), and takes top-k per query — the
    only shuffle keyed by (qid, vec_id), never a vector payload.
    """
    vecs = _pq_scaled(embeddings, id_col)
    cents = _pq_codebook(vecs, n_subspaces, n_centroids)
    codes = _pq_assign(vecs, cents, n_subspaces).select(
        "vec_id", "s", F.col("b.j").alias("code")
    )
    qv = _pq_scaled(queries, id_col).select(
        F.col("vec_id").alias("qid"), F.col("sv")
    )
    width = F.size(F.col("sv")) / n_subspaces
    lut = (
        qv.crossJoin(F.broadcast(cents))
        .select(
            "qid",
            "s",
            F.col("j").alias("code"),
            _pq_l2(_pq_sub(F.col("sv"), width, n_subspaces), F.col("carr")).alias("d"),
        )
    )
    part = codes.join(F.broadcast(lut), ["s", "code"]).groupBy("qid", "vec_id").agg(
        F.sum("d").cast("long").alias("adc")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "adc")
    )


PQ_RERANK_SHORTLIST = 100


def pq_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    shortlist: int = PQ_RERANK_SHORTLIST,
    n_subspaces: int = PQ_SUBSPACES,
    n_centroids: int = PQ_CENTROIDS,
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage PQ search → (qid, rank, vec_id, d2): ADC shortlist of
    ``shortlist`` candidates per query (pq_adc_topk, compressed-domain
    scan), then EXACT int64 squared-L2 rerank of only those candidates
    against the raw grid-scaled vectors, then top-k — the standard
    consumer of a PQ index (Jégou et al., TPAMI'11 §IV-D: IVFADC +
    reranking). Lifts the disclosed ADC recall (m=4: 0.14 @ k=10) to
    ≈1.0 whenever the true neighbor survives the shortlist, at the cost
    of fetching ``shortlist`` full vectors per query instead of zero.

    Exactness: both stages run on the 2^-20 int64 grid (see pq_codes),
    so shortlist membership, rerank distances, ranks, and ties (smaller
    vec_id) are all bit-replayable — the composed query is oracle-gated
    end to end.

    Scale shape at 10^11 vectors: stage 1 touches only codes (2 bytes/
    vector); stage 2 is an equi join of |Q|·shortlist candidate ids
    against the vector relation (partition-pruned fetch — the only
    stage that reads raw vectors), then a broadcast of the |Q| query
    vectors and a per-qid top-k. No shuffle ever carries more than
    |Q|·shortlist vector payloads.
    """
    from pyspark.sql import Window

    short = pq_adc_topk(
        embeddings, queries, shortlist, n_subspaces, n_centroids, id_col
    ).select("qid", "vec_id")
    vecs = _pq_scaled(embeddings, id_col)
    qv = _pq_scaled(queries, id_col).select(
        F.col("vec_id").alias("qid"), F.col("sv").alias("qsv")
    )
    cand = short.join(vecs, "vec_id").join(F.broadcast(qv), "qid")
    w = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("vec_id"))
    return (
        cand.select("qid", "vec_id", _pq_l2(F.col("sv"), F.col("qsv")).alias("d2"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "d2")
    )


def ivfadc_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    shortlist: int = PQ_RERANK_SHORTLIST,
    n_subspaces: int = PQ_SUBSPACES,
    n_pq_centroids: int = PQ_CENTROIDS,
    n_coarse: int = N_CENTROIDS,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFADC with reranking → (qid, rank, vec_id, d2): the LITERAL
    production PQ-index composition (Jégou et al., TPAMI'11 §V —
    IVFADC): a coarse quantizer restricts the search to ``nprobe``
    inverted lists, the ADC scan runs over ONLY those lists' 2-byte
    codes, and the top-``shortlist`` candidates get an exact int64
    squared-L2 rerank. The three stages reuse the gated building
    blocks verbatim: ivf_centroids/ivf_assign (coarse, rounded-cosine
    argmax), _pq_codebook/_pq_assign (codes, exact integer grid),
    _pq_l2 rerank — so the whole composition is oracle-gated.

    Scale shape at 10^11 vectors: the coarse probe is a broadcast of
    √N-ish centroids; the ADC scan's join is candidate-list-sized
    (nprobe/n_coarse of the corpus) against a broadcast |Q|·M·K LUT;
    only the |Q|·shortlist rerank rows ever touch raw vectors.
    """
    from pyspark.sql import Window

    # stage 1: coarse probe (same discipline as ivf_topk)
    cents = ivf_centroids(embeddings, n_coarse, id_col)
    assign = ivf_assign(embeddings, cents, id_col)
    q = queries.select(
        F.col(id_col).alias("qid"), _as_double(F.col("embedding")).alias("qv")
    )
    qsims = q.crossJoin(F.broadcast(cents)).select(
        "qid", "cid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("csim")
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        qsims.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "cid")
    )
    cand = probes.join(assign, "cid").select("qid", "vec_id")

    # stage 2: ADC scan restricted to the probed lists
    vecs = _pq_scaled(embeddings, id_col)
    pq_cents = _pq_codebook(vecs, n_subspaces, n_pq_centroids)
    codes = _pq_assign(vecs, pq_cents, n_subspaces).select(
        "vec_id", "s", F.col("b.j").alias("code")
    )
    qsv = _pq_scaled(queries, id_col).select(
        F.col("vec_id").alias("qid"), F.col("sv")
    )
    width = F.size(F.col("sv")) / n_subspaces
    lut = qsv.crossJoin(F.broadcast(pq_cents)).select(
        "qid",
        "s",
        F.col("j").alias("code"),
        _pq_l2(_pq_sub(F.col("sv"), width, n_subspaces), F.col("carr")).alias("d"),
    )
    part = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["qid", "s", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").cast("long").alias("adc"))
    )
    ws = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("vec_id"))
    short = (
        part.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= shortlist)
        .select("qid", "vec_id")
    )

    # stage 3: exact integer rerank of the shortlist
    qex = qsv.select("qid", F.col("sv").alias("qsv"))
    cand2 = short.join(vecs, "vec_id").join(F.broadcast(qex), "qid")
    wr = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("vec_id"))
    return (
        cand2.select("qid", "vec_id", _pq_l2(F.col("sv"), F.col("qsv")).alias("d2"))
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "d2")
    )
