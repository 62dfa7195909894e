"""Driver-contract queries: Spark implementation + DuckDB oracle pairs.

Each query exercises one engine operator (SURVEY.md §2) over the
driver-provided testdata tables. The graph is derived deterministically
from relational data with arithmetic both engines compute bit-identically
(int ops + exact double conversions):

    nodes:  id  = CAST(c_custkey AS string)
            lat = 45.0 + (c_custkey % 200) * 1e-4
            lon = 5.0  + ((c_custkey * 7) % 200) * 1e-4
    edges:  (o_custkey, (o_orderkey * 13 + 7) % n_customers)
            canonicalized lexicographically, self-loops dropped, distinct

Cross-engine float policy: returned doubles come only from +,-,*,/ on
exact inputs (bit-stable across engines); trig-derived values are
floored/rounded far above the ~1-ulp libm noise before comparison.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ophois_spark.functions import canonical_edge, cell_expr, haversine_m
from ophois_spark.kernels.geo import EARTH_RADIUS_M
from ophois_spark.operators.graph import StreetGraph
from ophois_spark.plans.cache import memo_resets, session_memo

CELL_RES = 18
DISC_DELTA = 25.0

# ---------------------------------------------------------------------------
# shared derivation
# ---------------------------------------------------------------------------


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def derived_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    lat = F.lit(45.0) + (F.col("c_custkey") % 200).cast("double") * F.lit(0.0001)
    lon = F.lit(5.0) + ((F.col("c_custkey") * 7) % 200).cast("double") * F.lit(0.0001)
    return c.select(
        F.col("c_custkey").cast("string").alias("id"),
        lat.alias("lat_d"),
        lon.alias("lon_d"),
    )


def derived_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "customer").select(F.count(F.lit(1)).alias("n_cust"))
    u = F.col("o_custkey").cast("string")
    v = ((F.col("o_orderkey") * 13 + 7) % F.col("n_cust")).cast("string")
    lo, hi = canonical_edge(u, v)
    return (
        o.crossJoin(F.broadcast(n))
        .select(lo.alias("src"), hi.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


@session_memo()
def derived_graph(spark: SparkSession, sf_dir: str) -> StreetGraph:
    """Session memo, MATERIALIZED once: ~20 registry queries start from
    this graph, and each would otherwise replay the scan +
    canonical-dedup lineage at its own first materialization."""
    nodes = derived_nodes(spark, sf_dir).select(
        "id",
        F.col("lat_d").cast("string").alias("lat"),
        F.col("lon_d").cast("string").alias("lon"),
        "lat_d",
        "lon_d",
    )
    return StreetGraph(nodes, derived_edges(spark, sf_dir)).checkpoint()


_NODES_SQL = """
  SELECT CAST(c_custkey AS VARCHAR) AS id,
         45.0 + (c_custkey % 200) * 0.0001 AS lat_d,
         5.0  + ((c_custkey * 7) % 200) * 0.0001 AS lon_d
  FROM customer
"""

_EDGES_SQL = """
  SELECT DISTINCT least(u, v) AS src, greatest(u, v) AS dst
  FROM (
    SELECT CAST(o_custkey AS VARCHAR) AS u,
           CAST((o_orderkey * 13 + 7) % (SELECT COUNT(*) FROM customer) AS VARCHAR) AS v
    FROM orders
  )
  WHERE u <> v
"""


def _hav_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Haversine in ANSI SQL, same formula shape/constant as the engine."""
    return f"""({EARTH_RADIUS_M!r} * (2.0 * atan2(
      sqrt(sin(radians(({lat2}) - ({lat1})) / 2.0) * sin(radians(({lat2}) - ({lat1})) / 2.0)
        + sin(radians(({lon2}) - ({lon1})) / 2.0) * sin(radians(({lon2}) - ({lon1})) / 2.0)
          * cos(radians({lat1})) * cos(radians({lat2}))),
      sqrt(1.0 - (sin(radians(({lat2}) - ({lat1})) / 2.0) * sin(radians(({lat2}) - ({lat1})) / 2.0)
        + sin(radians(({lon2}) - ({lon1})) / 2.0) * sin(radians(({lon2}) - ({lon1})) / 2.0)
          * cos(radians({lat1})) * cos(radians({lat2})))))))"""


def _cell_sql(lon: str, lat: str, res: int) -> str:
    n = 1 << res
    return (
        f"({res} * 288230376151711744 "
        f"+ ((CAST(floor((({lon}) + 180.0) / 360.0 * {float(n)!r}) AS BIGINT) % {n} + {n}) % {n}) * 536870912 "
        f"+ greatest(0, least({n - 1}, CAST(floor((({lat}) + 90.0) / 180.0 * {float(n)!r}) AS BIGINT))))"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_edge_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge canonicalization + dedup (S3/G4/M5 idioms)."""
    return derived_edges(spark, sf_dir)


SQL_EDGE_CANONICAL = f"SELECT src, dst FROM ({_EDGES_SQL})"


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — degree → node count, including isolated nodes (degree 0)."""
    g = derived_graph(spark, sf_dir)
    return (
        g.degrees()
        .groupBy(F.col("degree").cast("int").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


SQL_DEGREE_DISTRIBUTION = f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
deg AS (
  SELECT n.id, CAST(COUNT(e.id) AS INT) AS degree
  FROM nodes n LEFT JOIN ends e ON n.id = e.id GROUP BY n.id
)
SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
"""


def q_length_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — floor(haversine metres) → link count."""
    g = derived_graph(spark, sf_dir)
    return (
        g.edges_with_coords()
        .select(F.floor("dist_m").cast("long").alias("length_m"))
        .groupBy("length_m")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


SQL_LENGTH_DISTRIBUTION = f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
j AS (
  SELECT {_hav_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")} AS dist_m
  FROM edges e JOIN nodes a ON e.src = a.id JOIN nodes b ON e.dst = b.id
)
SELECT CAST(floor(dist_m) AS BIGINT) AS length_m, COUNT(*) AS n_links
FROM j GROUP BY 1
"""


def q_coord_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinate-hash node dedup on the cell index (north_star:
    'node deduplication by coordinate hashing' / same-cell grouping)."""
    nodes = derived_nodes(spark, sf_dir)
    return (
        nodes.withColumn("cell", cell_expr(F.col("lon_d"), F.col("lat_d"), CELL_RES))
        .groupBy("cell", "lat_d", "lon_d")
        .agg(F.min("id").alias("rep_id"), F.count(F.lit(1)).alias("n_dup"))
    )


SQL_COORD_DEDUP = f"""
WITH nodes AS ({_NODES_SQL})
SELECT {_cell_sql("lon_d", "lat_d", CELL_RES)} AS cell, lat_d, lon_d,
       min(id) AS rep_id, COUNT(*) AS n_dup
FROM nodes GROUP BY 1, 2, 3
"""


def q_way_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — way splitting: consecutive-pair edges from ordered refs
    (lineitem rows are the way's nd refs, ordered by linenumber)."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
    return (
        li.select(
            F.col("l_orderkey").alias("way_id"),
            F.col("l_partkey").cast("string").alias("src_ref"),
            F.lead(F.col("l_partkey").cast("string")).over(w).alias("dst_ref"),
        )
        .filter(F.col("dst_ref").isNotNull())
    )


SQL_WAY_SPLIT = """
SELECT way_id, src_ref, dst_ref FROM (
  SELECT l_orderkey AS way_id,
         CAST(l_partkey AS VARCHAR) AS src_ref,
         lead(CAST(l_partkey AS VARCHAR)) OVER (
           PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS dst_ref
  FROM lineitem
) WHERE dst_ref IS NOT NULL
"""


def q_discretize_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 core — per-link part count floor(dist/delta) for split links."""
    g = derived_graph(spark, sf_dir)
    return (
        g.edges_with_coords()
        .select("src", "dst", F.floor(F.col("dist_m") / F.lit(DISC_DELTA)).alias("part"))
        .filter(F.col("part") > 1)
    )


SQL_DISCRETIZE_PARTS = f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
j AS (
  SELECT e.src, e.dst,
         {_hav_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")} AS dist_m
  FROM edges e JOIN nodes a ON e.src = a.id JOIN nodes b ON e.dst = b.id
)
SELECT src, dst, CAST(floor(dist_m / {DISC_DELTA!r}) AS BIGINT) AS part
FROM j WHERE floor(dist_m / {DISC_DELTA!r}) > 1
"""


def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via md5 hash-groupBy over documents."""
    from ophois_spark.operators.dedup import exact_dedup

    return exact_dedup(load(spark, sf_dir, "documents"))


SQL_DOC_EXACT_DEDUP = """
SELECT md5(text) AS content_hash, min(doc_id) AS rep_doc_id, COUNT(*) AS n_docs
FROM documents GROUP BY 1
"""


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation —
# the split a byte-pair tokenizer applies before merges, so its match
# count tracks LLM token counts far better than whitespace splitting
# ("don't." = 1 whitespace token but 4 BPE-ish: don / ' / t / .).
# ASCII-only classes on purpose, with the whitespace class spelled out
# EXPLICITLY: Java's \s includes \x0B (vertical tab) while RE2's does
# not, so a literal \s would make the two engines disagree on texts
# containing \x0B. The explicit class is identical in both.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


def q_doc_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents, both contract variants: naive
    whitespace tokens and the BPE-ish pre-tokenizer match count."""
    from ophois_spark.operators.textops import n_tokens_col

    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        n_tokens_col(F.col("text")).cast("int").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), 0))
        .cast("int")
        .alias("n_bpe_tokens"),
    )


SQL_DOC_TOKEN_COUNT = rf"""
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS INT) AS n_bpe_tokens
FROM documents
"""


def q_event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap) — window functions over the events
    stream table, the batch equivalent of a session window."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp").cast("long") - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
    sess = F.sum(
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    ).over(w)
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max(F.col("ts").cast("timestamp").cast("long")) - F.min(F.col("ts").cast("timestamp").cast("long"))).alias(
                "dur_seconds"
            ),
        )
    )


SQL_EVENT_SESSIONIZATION = """
WITH g AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, tsec,
         CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY tsec, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       max(tsec) - min(tsec) AS dur_seconds
FROM s GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "edge_canonical_dedup": q_edge_canonical_dedup,
    "degree_distribution": q_degree_distribution,
    "length_distribution": q_length_distribution,
    "coord_dedup": q_coord_dedup,
    "way_split": q_way_split,
    "discretize_parts": q_discretize_parts,
    "doc_exact_dedup": q_doc_exact_dedup,
    "doc_token_count": q_doc_token_count,
    "event_sessionization": q_event_sessionization,
}

ORACLES: dict[str, str] = {
    "edge_canonical_dedup": SQL_EDGE_CANONICAL,
    "degree_distribution": SQL_DEGREE_DISTRIBUTION,
    "length_distribution": SQL_LENGTH_DISTRIBUTION,
    "coord_dedup": SQL_COORD_DEDUP,
    "way_split": SQL_WAY_SPLIT,
    "discretize_parts": SQL_DISCRETIZE_PARTS,
    "doc_exact_dedup": SQL_DOC_EXACT_DEDUP,
    "doc_token_count": SQL_DOC_TOKEN_COUNT,
    "event_sessionization": SQL_EVENT_SESSIONIZATION,
}


# ---------------------------------------------------------------------------
# spatial queries (appended registry below)
# ---------------------------------------------------------------------------

KNN_K = 5
KNN_RES = 18
TILE_ZOOM = 14

# concave admin polygon over the derived-node area [(lon, lat), ...]
PIP_POLYGON = [
    (5.0001, 44.9999),
    (5.0121, 44.9999),
    (5.0121, 45.0061),
    (5.0041, 45.0061),
    (5.0041, 45.0161),
    (5.0001, 45.0161),
]


def q_knn_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN nearest-node snapping via cell-ring expansion (north_star);
    exact — verified against a brute-force oracle."""
    from ophois_spark.operators.spatial import knn_join

    nodes = derived_nodes(spark, sf_dir)
    queries = nodes.filter((F.col("id").cast("long") % 29) == 0).select(
        F.col("id").alias("qid"), "lat_d", "lon_d"
    )
    out = knn_join(nodes, queries, k=KNN_K, res=KNN_RES)
    return out.select("qid", F.col("rank").cast("int").alias("rank"), "id")


SQL_KNN_NODES = f"""
WITH nodes AS ({_NODES_SQL}),
q AS (SELECT id AS qid, lat_d AS q_lat, lon_d AS q_lon FROM nodes
      WHERE CAST(id AS BIGINT) % 29 = 0),
c AS (
  SELECT q.qid, n.id,
         round({_hav_sql("q.q_lat", "q.q_lon", "n.lat_d", "n.lon_d")}, 6) AS d
  FROM q CROSS JOIN nodes n
),
r AS (SELECT qid, id, CAST(row_number() OVER (PARTITION BY qid ORDER BY d, id) AS INT) AS rank
      FROM c)
SELECT qid, rank, id FROM r WHERE rank <= {KNN_K}
"""


def q_pip_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon admin-boundary clipping (north_star) — exact
    ray casting as Column expressions, bbox prefiltered."""
    from ophois_spark.operators.spatial import point_in_polygon

    nodes = derived_nodes(spark, sf_dir)
    return point_in_polygon(nodes, PIP_POLYGON).select("id")


def _pip_sql() -> str:
    edges = list(zip(PIP_POLYGON, PIP_POLYGON[1:] + PIP_POLYGON[:1]))
    vals = ", ".join(f"({x1!r}, {y1!r}, {x2!r}, {y2!r})" for (x1, y1), (x2, y2) in edges)
    min_x = min(p[0] for p in PIP_POLYGON)
    max_x = max(p[0] for p in PIP_POLYGON)
    min_y = min(p[1] for p in PIP_POLYGON)
    max_y = max(p[1] for p in PIP_POLYGON)
    return f"""
WITH nodes AS ({_NODES_SQL}),
poly(x1, y1, x2, y2) AS (VALUES {vals}),
boxed AS (
  SELECT * FROM nodes
  WHERE lon_d >= {min_x!r} AND lon_d <= {max_x!r}
    AND lat_d >= {min_y!r} AND lat_d <= {max_y!r}
),
hits AS (
  SELECT b.id,
         SUM(CASE WHEN ((p.y1 > b.lat_d) <> (p.y2 > b.lat_d))
                   AND (b.lon_d < (p.x2 - p.x1) * (b.lat_d - p.y1) / (p.y2 - p.y1) + p.x1)
             THEN 1 ELSE 0 END) AS crossings
  FROM boxed b CROSS JOIN poly p GROUP BY b.id
)
SELECT id FROM hits WHERE crossings % 2 = 1
"""


SQL_PIP_CLIP = _pip_sql()


def _make_pip_polygons() -> list[tuple[str, list[float], list[float]]]:
    """Deterministic synthetic admin-boundary table: 12 regular rings
    (5-7 vertices, radii 0.0012-0.002 deg) scattered over the derived
    node lattice, plus a 13th ring offset from P00 so overlapping
    polygons (one point -> two admin rows) are exercised. Vertices are
    plain Python doubles injected identically into the Spark DataFrame
    and the DuckDB VALUES oracle."""
    polys = []
    for k in range(12):
        cx = 5.0 + (((k * 37) % 18) + 1) * 0.001
        cy = 45.0 + (((k * 53) % 18) + 1) * 0.001
        r = 0.0012 + (k % 3) * 0.0004
        nv = 5 + (k % 3)
        xs = [cx + r * math.cos(2.0 * math.pi * i / nv) for i in range(nv)]
        ys = [cy + r * math.sin(2.0 * math.pi * i / nv) for i in range(nv)]
        polys.append((f"P{k:02d}", xs, ys))
    xs0, ys0 = polys[0][1], polys[0][2]
    polys.append(("P12", [x + 0.0006 for x in xs0], [y + 0.0006 for y in ys0]))
    return polys


PIP_POLYGONS = _make_pip_polygons()


def q_pip_admin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-polygon admin clipping (north_rule): ONE cell-keyed equi
    join of all points against the whole boundary table — never a scan
    per polygon, never a cross join."""
    from ophois_spark.operators.spatial import pip_join

    polys = spark.createDataFrame(
        PIP_POLYGONS, "poly_id string, xs array<double>, ys array<double>"
    )
    nodes = derived_nodes(spark, sf_dir)
    return pip_join(nodes, polys, res=CELL_RES).select("id", "poly_id")


def _pip_join_sql() -> str:
    """Oracle: bbox candidate join + the same even-odd crossing sum.

    The engine's cell cover is a superset of each polygon's bbox and
    both sides apply the exact bbox refine, so bbox-join (DuckDB) and
    cell-join (engine) select identical candidate sets; float literals
    go through CAST(VARCHAR AS DOUBLE) to dodge DuckDB's DECIMAL
    double-rounding on long literals."""
    rows = []
    for pid, xs, ys in PIP_POLYGONS:
        nv = len(xs)
        for i in range(nv):
            x1, y1 = xs[i], ys[i]
            x2, y2 = xs[(i + 1) % nv], ys[(i + 1) % nv]
            rows.append(
                f"('{pid}', CAST('{x1!r}' AS DOUBLE), CAST('{y1!r}' AS DOUBLE),"
                f" CAST('{x2!r}' AS DOUBLE), CAST('{y2!r}' AS DOUBLE))"
            )
    vals = ",\n    ".join(rows)
    return f"""
WITH nodes AS ({_NODES_SQL}),
poly(poly_id, x1, y1, x2, y2) AS (VALUES {vals}),
bbox AS (
  SELECT poly_id,
         MIN(LEAST(x1, x2)) AS xmin, MAX(GREATEST(x1, x2)) AS xmax,
         MIN(LEAST(y1, y2)) AS ymin, MAX(GREATEST(y1, y2)) AS ymax
  FROM poly GROUP BY poly_id
),
cand AS (
  SELECT n.id, n.lon_d, n.lat_d, b.poly_id
  FROM nodes n JOIN bbox b
    ON n.lon_d >= b.xmin AND n.lon_d <= b.xmax
   AND n.lat_d >= b.ymin AND n.lat_d <= b.ymax
),
hits AS (
  SELECT c.id, c.poly_id,
         SUM(CASE WHEN ((p.y1 > c.lat_d) <> (p.y2 > c.lat_d))
                   AND (c.lon_d < (p.x2 - p.x1) * (c.lat_d - p.y1) / (p.y2 - p.y1) + p.x1)
             THEN 1 ELSE 0 END) AS crossings
  FROM cand c JOIN poly p ON p.poly_id = c.poly_id
  GROUP BY c.id, c.poly_id
)
SELECT id, poly_id FROM hits WHERE crossings % 2 = 1
"""


SQL_PIP_ADMIN_JOIN = _pip_join_sql()


def q_tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster tile assignment: every edge → the tiles its bbox overlaps
    (the per-tile edge assignment the north_star pins for parity)."""
    from ophois_spark.operators.spatial import tile_assignment

    g = derived_graph(spark, sf_dir)
    t = tile_assignment(g.edges_with_coords(), TILE_ZOOM)
    return t.select("src", "dst", F.col("tile_x").cast("long"), F.col("tile_y").cast("long"))


def _tile_sql() -> str:
    n = 1 << TILE_ZOOM
    def tx(c: str) -> str:
        return f"greatest(0, least({n - 1}, CAST(floor(({c} + 180.0) / 360.0 * {n}) AS BIGINT)))"
    def ty(c: str) -> str:
        return f"greatest(0, least({n - 1}, CAST(floor(({c} + 90.0) / 180.0 * {n}) AS BIGINT)))"
    return f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
j AS (
  SELECT e.src, e.dst,
         {tx("least(a.lon_d, b.lon_d)")} AS tx0, {tx("greatest(a.lon_d, b.lon_d)")} AS tx1,
         {ty("least(a.lat_d, b.lat_d)")} AS ty0, {ty("greatest(a.lat_d, b.lat_d)")} AS ty1
  FROM edges e JOIN nodes a ON e.src = a.id JOIN nodes b ON e.dst = b.id
),
xs AS (SELECT src, dst, ty0, ty1, unnest(generate_series(tx0, tx1)) AS tile_x FROM j)
SELECT src, dst, tile_x, unnest(generate_series(ty0, ty1)) AS tile_y FROM xs
"""


SQL_TILE_ASSIGNMENT = _tile_sql()

PYRAMID_MIN_ZOOM = 11


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-pyramid rollup: per-tile edge-assignment counts at the base
    zoom folded up to coarser levels (hypertable-rollup shape — each
    level aggregates the previous, never rescanning the edges)."""
    from ophois_spark.operators.spatial import tile_pyramid

    g = derived_graph(spark, sf_dir)
    return tile_pyramid(g.edges_with_coords(), TILE_ZOOM, PYRAMID_MIN_ZOOM)


def _pyramid_sql() -> str:
    per_level = []
    for z in range(PYRAMID_MIN_ZOOM, TILE_ZOOM + 1):
        shift = 1 << (TILE_ZOOM - z)
        per_level.append(
            f"""SELECT {z} AS zoom, tile_x // {shift} AS tile_x,
       tile_y // {shift} AS tile_y, CAST(SUM(n) AS BIGINT) AS n_edges
FROM base GROUP BY 2, 3"""
        )
    union = "\nUNION ALL\n".join(per_level)
    return f"""
WITH t AS ({SQL_TILE_ASSIGNMENT}),
base AS (SELECT tile_x, tile_y, COUNT(*) AS n FROM t GROUP BY 1, 2)
{union}
"""


SQL_TILE_PYRAMID = _pyramid_sql()


RENDER_PX = 256
RENDER_ZOOM = 16  # ~2.4 m/px at 256px: tens of tiles over the fixture city


def q_render_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster tile rendering, gated on its SQL-expressible projection:
    per-tile set-pixel counts. The engine rasterizes (Liang-Barsky clip
    + DDA walk, numpy inside applyInPandas — spatial.render_tiles) and
    the oracle reconstructs the identical float pipeline in DuckDB;
    the binary pixel buffer itself stays pytest-verified (raster bytes
    aren't SQL)."""
    from ophois_spark.operators.spatial import render_tiles

    g = derived_graph(spark, sf_dir)
    r = render_tiles(g.edges_with_coords(), RENDER_ZOOM, RENDER_PX)
    return r.select("zoom", "tile_x", "tile_y", "n_edges", "lit_px")


def _render_pix_cte() -> str:
    """Shared CTE chain reconstructing spatial.render_tiles' pixel set
    (clip + DDA walk) in DuckDB, ending at the ``pix`` relation —
    consumed by both the renderer oracle (per-tile lit counts) and the
    raster_to_points oracle (per-pixel rows).

    Every float op mirrors the numpy kernel exactly (same IEEE ops in
    the same order): pixel-space projection, Liang-Barsky t0/t1 via
    one-sided divisions, numpy-linspace semantics (last sample = exact
    endpoint; single-sample segments stay at the start), floor(x+0.5)
    rounding. Scale constants are embedded as CAST('<repr>' AS DOUBLE)
    so DuckDB string-parses them instead of double-rounding a DECIMAL
    literal."""
    n = 1 << RENDER_ZOOM
    px = RENDER_PX
    t = px - 1  # clip box upper bound, as in the kernel
    sx = repr(px / (360.0 / n))
    sy = repr(px / (180.0 / n))

    def lin(start: str, stop: str) -> str:
        return (
            f"CASE WHEN i = steps - 1 THEN "
            f"(CASE WHEN steps = 1 THEN {start} ELSE {stop} END) "
            f"ELSE i * (({stop} - {start}) / (steps - 1)) + {start} END"
        )

    return f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
j AS (
  SELECT e.src, e.dst, a.lon_d AS slon, a.lat_d AS slat, b.lon_d AS dlon, b.lat_d AS dlat,
         greatest(0, least({n - 1}, CAST(floor((least(a.lon_d, b.lon_d) + 180.0) / 360.0 * {n}) AS BIGINT))) AS tx0,
         greatest(0, least({n - 1}, CAST(floor((greatest(a.lon_d, b.lon_d) + 180.0) / 360.0 * {n}) AS BIGINT))) AS tx1,
         greatest(0, least({n - 1}, CAST(floor((least(a.lat_d, b.lat_d) + 90.0) / 180.0 * {n}) AS BIGINT))) AS ty0,
         greatest(0, least({n - 1}, CAST(floor((greatest(a.lat_d, b.lat_d) + 90.0) / 180.0 * {n}) AS BIGINT))) AS ty1
  FROM edges e JOIN nodes a ON e.src = a.id JOIN nodes b ON e.dst = b.id
),
tx AS (SELECT *, unnest(generate_series(tx0, tx1)) AS tile_x FROM j),
tt AS (SELECT *, unnest(generate_series(ty0, ty1)) AS tile_y FROM tx),
ep AS (
  SELECT tile_x, tile_y,
         (slon - (CAST(tile_x AS DOUBLE) / {n} * 360.0 - 180.0)) * CAST('{sx}' AS DOUBLE) AS a,
         (slat - (CAST(tile_y AS DOUBLE) / {n} * 180.0 - 90.0)) * CAST('{sy}' AS DOUBLE) AS b,
         (dlon - (CAST(tile_x AS DOUBLE) / {n} * 360.0 - 180.0)) * CAST('{sx}' AS DOUBLE) AS c,
         (dlat - (CAST(tile_y AS DOUBLE) / {n} * 180.0 - 90.0)) * CAST('{sy}' AS DOUBLE) AS d
  FROM tt
),
cl AS (SELECT *, c - a AS dx, d - b AS dy FROM ep),
cl2 AS (
  SELECT *,
    NOT ((dx = 0 AND (a < 0 OR {t} - a < 0)) OR (dy = 0 AND (b < 0 OR {t} - b < 0))) AS ok,
    GREATEST(0.0,
      CASE WHEN dx > 0 THEN a / (-dx) WHEN dx < 0 THEN ({t} - a) / dx ELSE 0.0 END,
      CASE WHEN dy > 0 THEN b / (-dy) WHEN dy < 0 THEN ({t} - b) / dy ELSE 0.0 END) AS t0,
    LEAST(1.0,
      CASE WHEN dx > 0 THEN ({t} - a) / dx WHEN dx < 0 THEN a / (-dx) ELSE 1.0 END,
      CASE WHEN dy > 0 THEN ({t} - b) / dy WHEN dy < 0 THEN b / (-dy) ELSE 1.0 END) AS t1
  FROM cl
),
seg AS (
  SELECT tile_x, tile_y,
         a + t0 * dx AS ca, b + t0 * dy AS cb, a + t1 * dx AS cc, b + t1 * dy AS cd
  FROM cl2 WHERE ok AND t0 <= t1
),
stp AS (
  SELECT *, CAST(floor(GREATEST(abs(cc - ca), abs(cd - cb))) AS BIGINT) + 1 AS steps FROM seg
),
walk AS (SELECT *, unnest(generate_series(0, steps - 1)) AS i FROM stp),
pix AS (
  SELECT DISTINCT tile_x, tile_y,
         CAST(floor(({lin("ca", "cc")}) + 0.5) AS BIGINT) AS ix,
         CAST(floor(({lin("cb", "cd")}) + 0.5) AS BIGINT) AS iy
  FROM walk
)"""


def _render_sql() -> str:
    """Renderer oracle: per-tile lit-pixel counts over the shared
    pixel CTE (see _render_pix_cte)."""
    px = RENDER_PX
    return f"""{_render_pix_cte()},
lit AS (
  SELECT tile_x, tile_y, COUNT(*) AS lit_px FROM pix
  WHERE ix >= 0 AND ix < {px} AND iy >= 0 AND iy < {px}
  GROUP BY 1, 2
),
cnt AS (SELECT tile_x, tile_y, COUNT(*) AS n_edges FROM tt GROUP BY 1, 2)
SELECT CAST({RENDER_ZOOM} AS INT) AS zoom, c.tile_x, c.tile_y,
       CAST(c.n_edges AS BIGINT) AS n_edges,
       CAST(COALESCE(l.lit_px, 0) AS BIGINT) AS lit_px
FROM cnt c LEFT JOIN lit l ON c.tile_x = l.tile_x AND c.tile_y = l.tile_y
"""


SQL_RENDER_TILES = _render_sql()


def q_render_tiles_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-split raster (band_bits=2: each tile's edges rasterize as 4
    independent hash-band tasks, bitmaps OR-merged per tile). Gated on
    the IDENTICAL oracle as render_tiles — bitmap OR is commutative and
    idempotent and per-edge pixels depend only on (edge, tile frame),
    so the banded plan must reproduce the single-pass raster bit for
    bit. This is the scale path for mega-dense urban tiles that AQE
    cannot split (one groupBy key = one task)."""
    from ophois_spark.operators.spatial import render_tiles

    g = derived_graph(spark, sf_dir)
    r = render_tiles(g.edges_with_coords(), RENDER_ZOOM, RENDER_PX, band_bits=2)
    return r.select("zoom", "tile_x", "tile_y", "n_edges", "lit_px")


def q_raster_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector bridge: render the graph's tiles, then decode the
    binary pixel grids back into geographic points (one row per lit
    pixel, exact preimage centers — spatial.raster_to_points). Gated
    end-to-end including the decoded lon/lat doubles: the oracle never
    sees the raster bytes, it reconstructs the pixel set from the
    vector edges, so a hash match proves render→decode is lossless."""
    from ophois_spark.operators.spatial import raster_to_points, render_tiles

    g = derived_graph(spark, sf_dir)
    r = render_tiles(g.edges_with_coords(), RENDER_ZOOM, RENDER_PX)
    return raster_to_points(r, RENDER_ZOOM, RENDER_PX)


def _raster_points_sql() -> str:
    """Per-pixel twin of spatial.raster_to_points: pixel ix decodes to
    ``lon0 + ix / sx`` (the floor(x+0.5) preimage center is x = ix
    exactly), same op order as the numpy kernel."""
    n = 1 << RENDER_ZOOM
    px = RENDER_PX
    sx = repr(px / (360.0 / n))
    sy = repr(px / (180.0 / n))
    return f"""{_render_pix_cte()}
SELECT CAST({RENDER_ZOOM} AS INT) AS zoom, tile_x, tile_y,
       ix AS px_x, iy AS px_y,
       (CAST(tile_x AS DOUBLE) / {n} * 360.0 - 180.0)
         + CAST(ix AS DOUBLE) / CAST('{sx}' AS DOUBLE) AS lon_d,
       (CAST(tile_y AS DOUBLE) / {n} * 180.0 - 90.0)
         + CAST(iy AS DOUBLE) / CAST('{sy}' AS DOUBLE) AS lat_d
FROM pix
WHERE ix >= 0 AND ix < {px} AND iy >= 0 AND iy < {px}
"""


SQL_RASTER_POINTS = _raster_points_sql()


def q_raster_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector RLE vectorization: render the graph's tiles, decode,
    and extract maximal horizontal runs of lit pixels in GLOBAL pixel
    space (runs stitch across tile borders — spatial.raster_runs via
    the slab_run_ids kernel). Gated end-to-end: the oracle reconstructs
    the pixel set from the vector edges and re-derives the runs with a
    gaps-and-islands window, so a hash match proves render → decode →
    RLE is exact."""
    from ophois_spark.operators.spatial import raster_runs, render_tiles

    g = derived_graph(spark, sf_dir)
    r = render_tiles(g.edges_with_coords(), RENDER_ZOOM, RENDER_PX)
    return raster_runs(r, RENDER_ZOOM, RENDER_PX)


def _raster_runs_sql() -> str:
    """Gaps-and-islands twin of spatial.raster_runs over the shared
    pixel CTE: group key = gx − row_number per scanline (constant
    within a maximal run, strictly decreasing across a gap)."""
    px = RENDER_PX
    return f"""{_render_pix_cte()},
gp AS (
  SELECT tile_x * {px} + ix AS gx, tile_y * {px} + iy AS gy
  FROM pix WHERE ix >= 0 AND ix < {px} AND iy >= 0 AND iy < {px}
),
r AS (
  SELECT gx, gy,
         gx - ROW_NUMBER() OVER (PARTITION BY gy ORDER BY gx) AS grp
  FROM gp
)
SELECT gy, MIN(gx) AS gx0, MAX(gx) AS gx1, COUNT(*) AS run_len
FROM r GROUP BY gy, grp
"""


SQL_RASTER_RUNS = _raster_runs_sql()


def q_raster_blob_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertical run-adjacency edges of the rendered raster — the novel
    relational step inside blob labeling (spatial.raster_blobs): run A
    on scanline gy touches run B on gy+1 iff their x-intervals overlap.
    The engine generates candidates via covering-cell equi-join +
    reference-point dedup; the oracle states the naive interval
    self-join over the same runs — an exact pair-set match proves the
    cell decomposition loses and fabricates nothing. (The blob
    composition itself is pytest-gated against a flood-fill oracle;
    its component stage is the already-gated component operator.)"""
    from ophois_spark.operators.spatial import (
        raster_runs,
        render_tiles,
        run_overlap_edges,
    )

    g = derived_graph(spark, sf_dir)
    r = render_tiles(g.edges_with_coords(), RENDER_ZOOM, RENDER_PX)
    runs = raster_runs(r, RENDER_ZOOM, RENDER_PX)
    world_w = (1 << RENDER_ZOOM) * RENDER_PX
    return run_overlap_edges(runs, world_w)


def _raster_blob_edges_sql() -> str:
    px = RENDER_PX
    world_w = (1 << RENDER_ZOOM) * px
    return f"""{_render_pix_cte()},
gp AS (
  SELECT tile_x * {px} + ix AS gx, tile_y * {px} + iy AS gy
  FROM pix WHERE ix >= 0 AND ix < {px} AND iy >= 0 AND iy < {px}
),
rr AS (
  SELECT gx, gy,
         gx - ROW_NUMBER() OVER (PARTITION BY gy ORDER BY gx) AS grp
  FROM gp
),
runs AS (
  SELECT gy, MIN(gx) AS gx0, MAX(gx) AS gx1 FROM rr GROUP BY gy, grp
)
SELECT a.gy * {world_w} + a.gx0 AS run_a,
       b.gy * {world_w} + b.gx0 AS run_b
FROM runs a JOIN runs b
  ON b.gy = a.gy + 1 AND a.gx0 <= b.gx1 AND b.gx0 <= a.gx1
"""


SQL_RASTER_BLOB_EDGES = _raster_blob_edges_sql()


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets rollup: event counts by (day, event_type) with the
    per-day and grand totals — date_trunc + ROLLUP in one pass."""
    e = load(spark, sf_dir, "events")
    day = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
    return (
        e.select(day.alias("day"), "event_type")
        .rollup("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n_events",
        )
    )


SQL_EVENTS_ROLLUP = """
SELECT coalesce(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
       coalesce(event_type, 'ALL') AS event_type,
       COUNT(*) AS n_events
FROM events GROUP BY ROLLUP (strftime(ts, '%Y-%m-%d'), event_type)
"""

QUERIES.update(
    {
        "knn_nodes": q_knn_nodes,
        "pip_clip": q_pip_clip,
        "pip_admin_join": q_pip_admin_join,
        "tile_assignment": q_tile_assignment,
        "tile_pyramid": q_tile_pyramid,
        "render_tiles": q_render_tiles,
        "render_tiles_banded": q_render_tiles_banded,
        "raster_points": q_raster_points,
        "raster_runs": q_raster_runs,
        "raster_blob_edges": q_raster_blob_edges,
        "events_rollup": q_events_rollup,
    }
)
ORACLES.update(
    {
        "knn_nodes": SQL_KNN_NODES,
        "pip_clip": SQL_PIP_CLIP,
        "pip_admin_join": SQL_PIP_ADMIN_JOIN,
        "tile_assignment": SQL_TILE_ASSIGNMENT,
        "tile_pyramid": SQL_TILE_PYRAMID,
        "render_tiles": SQL_RENDER_TILES,
        "render_tiles_banded": SQL_RENDER_TILES,
        "raster_points": SQL_RASTER_POINTS,
        "raster_runs": SQL_RASTER_RUNS,
        "raster_blob_edges": SQL_RASTER_BLOB_EDGES,
        "events_rollup": SQL_EVENTS_ROLLUP,
    }
)


# ---------------------------------------------------------------------------
# text analysis / dedup / similarity queries
# ---------------------------------------------------------------------------

_TOKS_SQL = r"""
  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents
"""

_SHINGLES_SQL = f"""
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM ({_TOKS_SQL}) WHERE len(t) >= 3)
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.textops import quality_features

    return quality_features(load(spark, sf_dir, "documents"))


def _quality_sql() -> str:
    from ophois_spark.operators.textops import STOPWORDS_EN

    stops = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return rf"""
WITH toks AS ({_TOKS_SQL})
SELECT d.doc_id,
       CAST(length(d.text) AS INT) AS n_chars,
       CAST(CASE WHEN trim(d.text) = '' THEN 0 ELSE len(t.t) END AS INT) AS n_tokens,
       CASE WHEN length(d.text) > 0 THEN
         CAST(length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
           / CAST(length(d.text) AS DOUBLE) END AS alpha_ratio,
       CASE WHEN trim(d.text) <> '' AND len(t.t) > 0 THEN
         CAST(len(list_filter(t.t, x -> x IN ({stops}))) AS DOUBLE)
           / CAST(len(t.t) AS DOUBLE) END AS stop_ratio,
       CASE WHEN trim(d.text) <> '' AND len(t.t) > 0 THEN
         CAST(length(d.text) AS DOUBLE) / CAST(len(t.t) AS DOUBLE) END AS chars_per_token
FROM documents d JOIN toks t ON d.doc_id = t.doc_id
"""


SQL_DOC_QUALITY = _quality_sql()


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.textops import lang_id

    return lang_id(load(spark, sf_dir, "documents"))


def _lang_sql() -> str:
    from ophois_spark.operators.textops import LANG_PROFILES

    def score(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        return f"len(list_filter(lt, x -> x IN ({words})))"

    return rf"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS lt FROM documents),
s AS (SELECT doc_id, {score("de")} AS s_de, {score("en")} AS s_en, {score("fr")} AS s_fr FROM toks)
SELECT doc_id,
       CASE WHEN s_de >= s_en AND s_de >= s_fr THEN 'de'
            WHEN s_en >= s_fr THEN 'en' ELSE 'fr' END AS pred_lang
FROM s
"""


SQL_DOC_LANG_ID = _lang_sql()


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.textops import fingerprint

    return fingerprint(load(spark, sf_dir, "documents"))


SQL_DOC_FINGERPRINT = r"""
SELECT doc_id, md5(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fp FROM documents
"""


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (Karp–Rabin) winnowing fingerprint — one row per
    (doc_id, selected k-gram hash); pure codegen, no shuffle."""
    from ophois_spark.operators.textops import winnow_fingerprint

    return winnow_fingerprint(load(spark, sf_dir, "documents"))


def _winnow_sql() -> str:
    """DuckDB twin of winnow_fingerprint: identical canonicalization,
    polynomial k-gram hash, window minima, distinct set — list lambdas
    mirror the engine's transform/slice/array_min step for step."""
    from ophois_spark.operators.textops import WINNOW_B, WINNOW_K, WINNOW_P, WINNOW_W

    k, w = WINNOW_K, WINNOW_W
    terms = " + ".join(
        f"CAST(ascii(substr(s, i + {j}, 1)) AS BIGINT) * {pow(WINNOW_B, k - 1 - j, WINNOW_P)}"
        for j in range(k)
    )
    return f"""
WITH c AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s FROM documents
),
h AS (
  SELECT doc_id,
         list_transform(generate_series(1, length(s) - {k - 1}),
                        i -> ({terms}) % {WINNOW_P}) AS hs
  FROM c WHERE length(s) >= {k + w - 1}
),
m AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(hs) - {w - 1}),
                                      t -> list_min(list_slice(hs, t, t + {w - 1})))) AS fps
  FROM h
)
SELECT doc_id, unnest(fps) AS fp FROM m
"""


SQL_DOC_WINNOW = _winnow_sql()


def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing overlap JOIN: document pairs sharing >= m fingerprint
    hashes (boilerplate-df-capped) — the SIGMOD'03 guarantee made
    relational; reuses the gated doc_winnow fingerprint lineage."""
    from ophois_spark.operators.textops import winnow_overlap_pairs

    out = winnow_overlap_pairs(load(spark, sf_dir, "documents"))
    return out.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("n_shared").cast("long").alias("n_shared"),
    )


def _winnow_overlap_sql() -> str:
    from ophois_spark.operators.textops import WINNOW_MAX_DF, WINNOW_MIN_SHARED

    return f"""
WITH w AS ({SQL_DOC_WINNOW}),
dfc AS (SELECT fp, COUNT(*) AS df FROM w GROUP BY fp),
r AS (SELECT w.doc_id, w.fp FROM w JOIN dfc USING (fp) WHERE dfc.df <= {WINNOW_MAX_DF}),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       CAST(n_shared AS BIGINT) AS n_shared
FROM p WHERE n_shared >= {WINNOW_MIN_SHARED}
"""


SQL_WINNOW_OVERLAP_PAIRS = _winnow_overlap_sql()


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(load(spark, sf_dir, "documents"))


def _lsh_pair_ctes(sh: str) -> str:
    """CTE chain ``seeds → mh_h → mh_sig → mh_bands → mh_pairs``
    computing the banded-MinHash candidate pairs over the shingle
    relation named ``sh`` — the ONE restatement of the engine's
    ``lsh_band_keys``/``minhash_lsh_pairs`` chain, shared by the
    standalone pair oracle and every composed oracle that replays the
    same candidate generation (so engine and oracle can never disagree
    on WHICH pair set is being verified).

    Band layout mirrors dedup.lsh_band_keys: band = j // BAND_ROWS,
    which is exactly the ceil(n/band_rows)-bands-with-short-trailing-
    band layout the engine builds (sig j lands in band t iff
    t*band_rows <= j < min((t+1)*band_rows, n)).
    """
    from ophois_spark.operators.dedup import (
        BAND_ROWS,
        MINHASH_P,
        N_HASHES,
        minhash_affine,
    )

    seeds = ", ".join(
        f"({j}, {minhash_affine(j)[0]}, {minhash_affine(j)[1]})" for j in range(N_HASHES)
    )
    return f"""
seeds(j, a, b) AS (VALUES {seeds}),
mh_h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h0 FROM {sh}),
mh_sig AS (
  SELECT doc_id, j, min((a * h0 + b) % {MINHASH_P}) AS sig
  FROM mh_h CROSS JOIN seeds GROUP BY doc_id, j
),
mh_bands AS (
  SELECT doc_id, CAST(j // {BAND_ROWS} AS INT) AS band,
         string_agg(CAST(sig AS VARCHAR), ':' ORDER BY j) AS band_key
  FROM mh_sig GROUP BY doc_id, CAST(j // {BAND_ROWS} AS INT)
),
mh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM mh_bands a JOIN mh_bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
)"""


def _minhash_pairs_sql() -> str:
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
{_lsh_pair_ctes("sh")}
SELECT doc_a, doc_b FROM mh_pairs
"""


SQL_MINHASH_LSH_PAIRS = _minhash_pairs_sql()


def q_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.dedup import shingle_jaccard_pairs

    return shingle_jaccard_pairs(load(spark, sf_dir, "documents"))


SQL_SHINGLE_JACCARD = f"""
WITH sh AS ({_SHINGLES_SQL}),
pairs AS ({SQL_MINHASH_LSH_PAIRS}),
sets AS (SELECT doc_id, list(shingle) AS s, COUNT(*) AS n FROM sh GROUP BY doc_id)
SELECT p.doc_a, p.doc_b,
       CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
       CAST(a.n + b.n - len(list_intersect(a.s, b.s)) AS BIGINT) AS union_n,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / CAST(a.n + b.n - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
FROM pairs p JOIN sets a ON p.doc_a = a.doc_id JOIN sets b ON p.doc_b = b.doc_id
"""


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.dedup import simhash

    return simhash(load(spark, sf_dir, "documents"))


SQL_DOC_SIMHASH = f"""
WITH toks AS ({_TOKS_SQL}),
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
bits AS (
  SELECT doc_id, b, SUM(((h >> b) & 1) * 2 - 1) AS s
  FROM (SELECT doc_id, h, unnest(generate_series(0, 59)) AS b FROM h)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""

EMB_K = 3


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk(emb, q, k=EMB_K)


SQL_EMBEDDING_TOPK = f"""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
c AS (
  SELECT q.qid, e.vec_id,
         round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS sim
  FROM q CROSS JOIN embeddings e
),
r AS (SELECT qid, vec_id, sim,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM c)
SELECT qid, rank, vec_id, sim FROM r WHERE rank <= {EMB_K}
"""


def q_embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.similarity import lsh_buckets

    return lsh_buckets(load(spark, sf_dir, "embeddings"))


# plane weight mirror of similarity.plane_weight (two-stage LCG hash)
_W_SQL = (
    "(((((1103515245 * (d + 1) + 12345) % 2147483648) * (2 * j + 1) + j)"
    " % 2147483648) % 7 - 3)"
)

SQL_EMBEDDING_LSH_BUCKETS = f"""
WITH z AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
         unnest(generate_series(0, len(embedding) - 1)) AS d
  FROM embeddings
),
p AS (
  SELECT vec_id, j, round(SUM(val * {_W_SQL}), 6) AS proj
  FROM (SELECT vec_id, val, d, unnest(generate_series(0, 7)) AS j FROM z)
  GROUP BY vec_id, j
)
SELECT vec_id,
       CAST(SUM(CASE WHEN proj >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
FROM p GROUP BY vec_id
"""

# ---------------------------------------------------------------------------
# graph-transform queries (A1 / H1 / H3 / D1) with recursive-CTE oracles
# ---------------------------------------------------------------------------

# connected-component labels (comp = min node id, string order) via a
# transitive-closure recursive CTE — exact oracle for the engine's
# iterative min-label propagation; fine at sf<=0.01 scale (|comp|^2 pairs)
_LABELS_SQL = f"""
nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
bi AS (SELECT src AS a, dst AS b FROM edges
       UNION ALL SELECT dst, src FROM edges),
r(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT bi.b, r.comp FROM r JOIN bi ON r.id = bi.a
),
labels AS (SELECT id, min(comp) AS comp FROM r GROUP BY id)
"""


def q_order_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — graph order and size (canonical links already halved)."""
    from ophois_spark.operators.metrics import order_size

    return order_size(derived_graph(spark, sf_dir))


SQL_ORDER_SIZE = f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL})
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_links
"""


@session_memo(produces="component_labels")
def _component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session memo: three registry queries consume the labels; the
    iterative propagation runs once (localCheckpoint'ed). A new key
    evicts the old entry, so checkpoint blocks (and stopped-session
    references) never accumulate."""
    from ophois_spark.operators.components import connected_components

    return connected_components(derived_graph(spark, sf_dir)).localCheckpoint(eager=True)


def q_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 core — per-node connected-component label (min id in comp)."""
    return _component_labels(spark, sf_dir)


SQL_COMPONENT_LABELS = f"WITH RECURSIVE {_LABELS_SQL} SELECT id, comp FROM labels"


def q_component_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — component-size distribution (the reference computes and
    discards this; the engine keeps it)."""
    from ophois_spark.operators.components import component_size_distribution

    return component_size_distribution(_component_labels(spark, sf_dir))


SQL_COMPONENT_SIZE_DIST = f"""
WITH RECURSIVE {_LABELS_SQL},
sizes AS (SELECT comp, COUNT(*) AS size FROM labels GROUP BY comp)
SELECT size, COUNT(*) AS n_components FROM sizes GROUP BY size
"""


def q_largest_component_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 — node ids of the largest component (tie → smallest label)."""
    labels = _component_labels(spark, sf_dir)
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("size"))
    winner = sizes.orderBy(F.desc("size"), F.asc("comp")).limit(1).select("comp")
    return labels.join(F.broadcast(winner), "comp", "left_semi").select("id")


SQL_LARGEST_COMPONENT_NODES = f"""
WITH RECURSIVE {_LABELS_SQL},
sizes AS (SELECT comp, COUNT(*) AS n FROM labels GROUP BY comp),
win AS (SELECT comp FROM sizes ORDER BY n DESC, comp LIMIT 1)
SELECT l.id FROM labels l JOIN win w ON l.comp = w.comp
"""


def q_degree2_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 — edge set after contracting all degree-2 chains (closed form:
    paths of degree-2 nodes become endpoint-to-endpoint edges, cycles
    vanish)."""
    from ophois_spark.operators.contraction import remove_degree_two_nodes

    return remove_degree_two_nodes(derived_graph(spark, sf_dir)).edges


SQL_DEGREE2_CONTRACTION = f"""
WITH RECURSIVE nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
ends_all AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
deg AS (
  SELECT n.id, COUNT(e.id) AS degree
  FROM nodes n LEFT JOIN ends_all e ON n.id = e.id GROUP BY n.id
),
s AS (SELECT id FROM deg WHERE degree = 2),
ess AS (SELECT src, dst FROM edges
        WHERE src IN (SELECT id FROM s) AND dst IN (SELECT id FROM s)),
bi AS (SELECT src AS a, dst AS b FROM ess UNION ALL SELECT dst, src FROM ess),
r(id, comp) AS (
  SELECT id, id FROM s
  UNION
  SELECT bi.b, r.comp FROM r JOIN bi ON r.id = bi.a
),
lab AS (SELECT id, min(comp) AS comp FROM r GROUP BY id),
boundary AS (
  SELECT e.src AS sid, e.dst AS outside FROM edges e
  WHERE e.src IN (SELECT id FROM s) AND e.dst NOT IN (SELECT id FROM s)
  UNION ALL
  SELECT e.dst, e.src FROM edges e
  WHERE e.dst IN (SELECT id FROM s) AND e.src NOT IN (SELECT id FROM s)
),
new_edges AS (
  SELECT min(b.outside) AS src, max(b.outside) AS dst
  FROM boundary b JOIN lab ON b.sid = lab.id
  GROUP BY lab.comp HAVING min(b.outside) <> max(b.outside)
),
kept AS (SELECT src, dst FROM edges
         WHERE src NOT IN (SELECT id FROM s) AND dst NOT IN (SELECT id FROM s))
SELECT DISTINCT src, dst FROM (
  SELECT * FROM kept UNION ALL SELECT * FROM new_edges
)
"""


def q_discretize_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — interior node ids ``"{min}-{max}:{i}/{part}"`` of the
    discretized graph. The id fully determines the interpolated point;
    coordinate bit-parity is pinned by the reference-fixture unit tests
    (cross-engine doubles drift 1 ulp — DuckDB contracts mul-add to FMA
    — so the oracle compares the discrete columns)."""
    g = derived_graph(spark, sf_dir)
    split = (
        g.edges_with_coords()
        .withColumn("part", F.floor(F.col("dist_m") / F.lit(DISC_DELTA)))
        .filter(F.col("part") > 1)
    )
    pts = split.withColumn(
        "i", F.explode(F.sequence(F.lit(1), (F.col("part") - 1).cast("int")))
    )
    node_id = F.concat(
        F.concat_ws("-", "src", "dst"), F.lit(":"), F.col("i"), F.lit("/"), F.col("part")
    )
    return pts.select(
        node_id.alias("id"), F.col("i").cast("long").alias("i"), F.col("part").alias("part")
    )


SQL_DISCRETIZE_POINTS = f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
j AS (
  SELECT e.src, e.dst, a.lat_d AS s_lat, a.lon_d AS s_lon,
         b.lat_d AS t_lat, b.lon_d AS t_lon,
         {_hav_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")} AS dist_m
  FROM edges e JOIN nodes a ON e.src = a.id JOIN nodes b ON e.dst = b.id
),
sp AS (SELECT *, CAST(floor(dist_m / {DISC_DELTA!r}) AS BIGINT) AS part
       FROM j WHERE floor(dist_m / {DISC_DELTA!r}) > 1),
x AS (SELECT *, unnest(generate_series(1, part - 1)) AS i FROM sp)
SELECT src || '-' || dst || ':' || CAST(i AS VARCHAR) || '/' || CAST(part AS VARCHAR) AS id,
       i, part
FROM x
"""

QUERIES.update(
    {
        "order_size": q_order_size,
        "component_labels": q_component_labels,
        "component_size_dist": q_component_size_dist,
        "largest_component_nodes": q_largest_component_nodes,
        "degree2_contraction": q_degree2_contraction,
        "discretize_points": q_discretize_points,
    }
)
ORACLES.update(
    {
        "order_size": SQL_ORDER_SIZE,
        "component_labels": SQL_COMPONENT_LABELS,
        "component_size_dist": SQL_COMPONENT_SIZE_DIST,
        "largest_component_nodes": SQL_LARGEST_COMPONENT_NODES,
        "degree2_contraction": SQL_DEGREE2_CONTRACTION,
        "discretize_points": SQL_DISCRETIZE_POINTS,
    }
)


# ---------------------------------------------------------------------------
# multimodal (opaque binary payload) queries
# ---------------------------------------------------------------------------

# the synthetic payload's byte stream, reconstructed in ANSI SQL (hex
# digest chars are ASCII, so VARCHAR ops reproduce the bytes exactly)
_MEDIA_SQL = """
  SELECT doc_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         repeat(md5(text), 1 + doc_id % 7) AS h
  FROM documents WHERE text IS NOT NULL
"""


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.multimodal import media_from_documents

    return media_from_documents(
        load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.multimodal import media_metadata

    return media_metadata(_media(spark, sf_dir))


SQL_MEDIA_METADATA = f"""
WITH m AS ({_MEDIA_SQL})
SELECT doc_id, media_type, CAST(length(h) AS INT) AS n_bytes, md5(h) AS checksum
FROM m
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage: deterministic 2× downsample of the
    fake-decoded pixel stream (see operators.multimodal.resize_media) —
    the codec is a stub, the Arrow plumbing and signature are real."""
    from ophois_spark.operators.multimodal import resize_media

    return resize_media(_media(spark, sf_dir), factor=2)


SQL_MEDIA_RESIZE = f"""
WITH m AS ({_MEDIA_SQL}),
dims AS (
  SELECT doc_id, h,
         CAST(1 + ascii(substr(h, 1, 1)) % 64 AS INT) AS width,
         CAST(1 + ascii(substr(h, 2, 1)) % 64 AS INT) AS height
  FROM m
),
resized AS (
  SELECT doc_id, md5(string_agg(substr(h, i, 1), '' ORDER BY i)) AS resized_sig
  FROM (SELECT doc_id, h, unnest(generate_series(1, length(h), 2)) AS i FROM dims)
  GROUP BY doc_id
)
SELECT d.doc_id, d.width, d.height,
       CAST(greatest(1, d.width // 2) AS INT) AS resized_w,
       CAST(greatest(1, d.height // 2) AS INT) AS resized_h,
       r.resized_sig
FROM dims d JOIN resized r ON d.doc_id = r.doc_id
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.multimodal import media_features

    return media_features(_media(spark, sf_dir))


SQL_MEDIA_FEATURES = f"""
WITH m AS ({_MEDIA_SQL}),
samp AS (
  SELECT doc_id, avg(ascii(substr(h, i, 1))) AS mean_val
  FROM (SELECT doc_id, h, unnest(generate_series(1, length(h), 4)) AS i FROM m)
  GROUP BY doc_id
)
SELECT m.doc_id, CAST(length(m.h) AS INT) AS n_bytes,
       CAST(1 + ascii(substr(m.h, 1, 1)) % 64 AS INT) AS width,
       CAST(1 + ascii(substr(m.h, 2, 1)) % 64 AS INT) AS height,
       samp.mean_val
FROM m JOIN samp ON m.doc_id = samp.doc_id
"""


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.multimodal import sample_frames

    return sample_frames(_media(spark, sf_dir), every=3)


SQL_MEDIA_FRAME_SAMPLE = f"""
WITH m AS ({_MEDIA_SQL}),
f AS (SELECT doc_id, h, CAST(length(h) // 8 AS INT) AS n_frames FROM m
      WHERE media_type = 'video' AND length(h) >= 8)
SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(i * 8 AS INT) AS byte_off,
       md5(substr(h, i * 8 + 1, 8)) AS frame_sig
FROM (SELECT doc_id, h, unnest(generate_series(0, n_frames - 1, 3)) AS i FROM f)
"""


IVF_NPROBE = 2
IVF_N_CENTROIDS = 32


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (fixed-size deterministic quantizer, nprobe lists, exact
    re-rank) — the scale path for similarity search."""
    from ophois_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk(emb, q, k=EMB_K, nprobe=IVF_NPROBE, n_centroids=IVF_N_CENTROIDS)


SQL_EMBEDDING_IVF_TOPK = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {IVF_N_CENTROIDS}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
    FROM e CROSS JOIN c) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0),
probes AS (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cid) AS rn
    FROM q CROSS JOIN c) WHERE rn <= {IVF_NPROBE}
),
cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN assign a ON p.cid = a.cid),
sims AS (
  SELECT cand.qid, cand.vec_id,
         round(list_cosine_similarity(q.qv, e.v), 6) AS sim
  FROM cand JOIN q ON cand.qid = q.qid JOIN e ON cand.vec_id = e.vec_id
),
r AS (SELECT qid, vec_id, sim,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM sims)
SELECT qid, rank, vec_id, sim FROM r WHERE rank <= {EMB_K}
"""


# fixpoint contraction operators (H4/H6): the loops converge in ≤2
# rounds on the derived graph (measured at sf0.001 and sf0.01), and one
# round IS SQL-expressible — the oracles below UNROLL _CONTRACT_ROUNDS
# (6) rounds as a CTE chain (a round at fixpoint has an empty candidate
# set and is an exact identity, so the surplus rounds are harmless
# no-ops). The ported reference fixtures additionally pin exact
# semantics in tests/.
H4_DELTA = 40.0
H6_DELTA = 30.0


def q_under_delta_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4 — contract nodes whose every incident link ≤ delta (isolated
    nodes qualify too); runs on the ≤150 m subgraph of the derived
    graph, where short-link clusters and isolated nodes actually exist,
    and returns the surviving node ids (deterministic fixpoint)."""
    from ophois_spark.operators.contraction import remove_under_delta_nodes
    from ophois_spark.operators.graph import StreetGraph

    g = derived_graph(spark, sf_dir)
    short_edges = (
        g.edges_with_coords().filter(F.col("dist_m") <= 150.0).select("src", "dst")
    )
    sub = StreetGraph(g.nodes, short_edges)
    return remove_under_delta_nodes(sub, H4_DELTA).nodes.select("id")


def q_under_delta_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6 — contract links shorter than delta to a fixpoint; returns
    surviving node ids (merged ids look like "a-b" / "a-b-c")."""
    from ophois_spark.operators.contraction import remove_under_delta_links

    return remove_under_delta_links(derived_graph(spark, sf_dir), H6_DELTA).nodes.select(
        "id", "lat", "lon"
    )


# measured fixpoint depth: 2 rounds at sf0.01 (the gated SF), 3 at
# sf0.1; surplus rounds are exact identities. A pytest guard
# (tests/test_contraction.py::test_oracle_unroll_depth_covers_gated_sf)
# runs the engine loops with max_iter=_CONTRACT_ROUNDS at sf0.01 so a
# data change that deepens the fixpoint fails loudly in CI instead of
# surfacing as a silent oracle-too-shallow hash mismatch.
_CONTRACT_ROUNDS = 6


def _rust_fmt_sql(v: str) -> str:
    """Rust f64::to_string in DuckDB: shortest-round-trip cast, minus the
    trailing ".0" on integral doubles (parity pinned over the full
    derived-coordinate lattice in tests)."""
    return (
        f"CASE WHEN floor({v}) = ({v}) THEN CAST(CAST({v} AS BIGINT) AS VARCHAR) "
        f"ELSE CAST({v} AS VARCHAR) END"
    )


def _h4_chain(p: str, rounds: int, coords: str = "coords", delta: float = H4_DELTA) -> list[str]:
    """Unrolled H4 round CTEs with name prefix ``p``: expects
    ``{p}n0`` (id), ``{p}e0`` (src, dst) and a ``coords`` CTE
    (id, lat_d, lon_d) to exist; produces ``{p}n{rounds}`` /
    ``{p}e{rounds}``. Mirrors ophois_spark.operators.contraction:
    candidates = nodes whose every incident link ≤ delta (isolated
    included), selected = candidates minus dst-endpoints of
    candidate-candidate edges (an independent set), then remove +
    clique-complete."""
    hav = _hav_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")
    parts = []
    for k in range(rounds):
        parts.append(
            f"""{p}inc{k} AS MATERIALIZED (
  SELECT e.src AS id, {hav} AS dist FROM {p}e{k} e
  JOIN {coords} a ON e.src = a.id JOIN {coords} b ON e.dst = b.id
  UNION ALL
  SELECT e.dst, {hav} FROM {p}e{k} e
  JOIN {coords} a ON e.src = a.id JOIN {coords} b ON e.dst = b.id
),
{p}c{k} AS MATERIALIZED (
  SELECT n.id FROM {p}n{k} n
  LEFT JOIN (SELECT id, max(dist) AS md FROM {p}inc{k} GROUP BY id) m ON n.id = m.id
  WHERE m.md IS NULL OR m.md <= {delta!r}
),
{p}sel{k} AS MATERIALIZED (
  SELECT id FROM {p}c{k} WHERE id NOT IN (
    SELECT e.dst FROM {p}e{k} e
    WHERE e.src IN (SELECT id FROM {p}c{k}) AND e.dst IN (SELECT id FROM {p}c{k}))
),
{p}nb{k} AS MATERIALIZED (
  SELECT e.src AS vid, e.dst AS n FROM {p}e{k} e WHERE e.src IN (SELECT id FROM {p}sel{k})
  UNION ALL
  SELECT e.dst, e.src FROM {p}e{k} e WHERE e.dst IN (SELECT id FROM {p}sel{k})
),
{p}n{k + 1} AS MATERIALIZED (SELECT id FROM {p}n{k} WHERE id NOT IN (SELECT id FROM {p}sel{k})),
{p}e{k + 1} AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM {p}e{k}
    WHERE src NOT IN (SELECT id FROM {p}sel{k}) AND dst NOT IN (SELECT id FROM {p}sel{k})
    UNION ALL
    SELECT a.n AS src, b.n AS dst FROM {p}nb{k} a JOIN {p}nb{k} b
      ON a.vid = b.vid AND a.n < b.n)
)"""
        )
    return parts


def _h6_chain(p: str, rounds: int, delta: float = H6_DELTA) -> list[str]:
    """Unrolled H6 round CTEs with name prefix ``p``: expects ``{p}n0``
    (id, lat, lon, lat_d, lon_d) and ``{p}e0`` (src, dst); produces
    ``{p}n{rounds}``. Per round: matching = short links that are the
    (dist, src, dst)-minimum at BOTH endpoints; contract via relabeling
    with minted "{src}-{dst}" midpoint nodes (Rust-formatted strings),
    collision winner = min (lat, lon, lat_d, lon_d), survivors win
    over minted."""
    hav = _hav_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")
    parts = []
    for k in range(rounds):
        parts.append(
            f"""{p}sh{k} AS MATERIALIZED (
  SELECT e.src, e.dst, {hav} AS dist FROM {p}e{k} e
  JOIN {p}n{k} a ON e.src = a.id JOIN {p}n{k} b ON e.dst = b.id
  WHERE {hav} < {delta!r}
),
{p}lm{k} AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY endpoint ORDER BY dist, src, dst) AS rn
    FROM (SELECT src AS endpoint, src, dst, dist FROM {p}sh{k}
          UNION ALL SELECT dst, src, dst, dist FROM {p}sh{k}))
  WHERE rn = 1
),
{p}mc{k} AS MATERIALIZED (
  SELECT m.src, m.dst, m.src || '-' || m.dst AS new_id,
         (a.lon_d + b.lon_d) / 2.0 AS mx, (a.lat_d + b.lat_d) / 2.0 AS my
  FROM (SELECT src, dst FROM {p}lm{k} GROUP BY src, dst HAVING COUNT(*) = 2) m
  JOIN {p}n{k} a ON m.src = a.id JOIN {p}n{k} b ON m.dst = b.id
),
{p}map{k} AS MATERIALIZED (SELECT src AS old, new_id FROM {p}mc{k}
           UNION ALL SELECT dst, new_id FROM {p}mc{k}),
{p}e{k + 1} AS MATERIALIZED (
  SELECT DISTINCT least(s2, d2) AS src, greatest(s2, d2) AS dst FROM (
    SELECT coalesce(ms.new_id, e.src) AS s2, coalesce(md.new_id, e.dst) AS d2
    FROM {p}e{k} e LEFT JOIN {p}map{k} ms ON e.src = ms.old
                LEFT JOIN {p}map{k} md ON e.dst = md.old)
  WHERE s2 <> d2
),
{p}sv{k} AS MATERIALIZED (SELECT * FROM {p}n{k} WHERE id NOT IN (SELECT old FROM {p}map{k})),
{p}n{k + 1} AS MATERIALIZED (
  SELECT * FROM {p}sv{k}
  UNION ALL
  SELECT new_id AS id, lat, lon, my AS lat_d, mx AS lon_d FROM (
    SELECT new_id, mx, my, {_rust_fmt_sql("my")} AS lat, {_rust_fmt_sql("mx")} AS lon,
           row_number() OVER (PARTITION BY new_id
             ORDER BY {_rust_fmt_sql("my")}, {_rust_fmt_sql("mx")}, my, mx) AS rn
    FROM {p}mc{k})
  WHERE rn = 1 AND new_id NOT IN (SELECT id FROM {p}sv{k})
)"""
        )
    return parts


def _h4_sql(rounds: int = _CONTRACT_ROUNDS) -> str:
    """remove_under_delta_nodes oracle on the ≤150 m subgraph."""
    hav = _hav_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")
    parts = [
        f"n0 AS MATERIALIZED (SELECT id FROM ({_NODES_SQL}))",
        f"coords AS MATERIALIZED ({_NODES_SQL})",
        f"""e0 AS MATERIALIZED (
  SELECT e.src, e.dst FROM ({_EDGES_SQL}) e
  JOIN coords a ON e.src = a.id JOIN coords b ON e.dst = b.id
  WHERE {hav} <= 150.0
)""",
    ] + _h4_chain("", rounds)
    return "WITH " + ",\n".join(parts) + f"\nSELECT id FROM n{rounds}"


def _h6_sql(rounds: int = _CONTRACT_ROUNDS) -> str:
    """remove_under_delta_links oracle on the full derived graph."""
    parts = [
        # CAST to DOUBLE first: DuckDB evaluates the node arithmetic in
        # DECIMAL, whose VARCHAR rendering keeps trailing zeros
        f"""n0 AS MATERIALIZED (
  SELECT id, CAST(CAST(lat_d AS DOUBLE) AS VARCHAR) AS lat,
         CAST(CAST(lon_d AS DOUBLE) AS VARCHAR) AS lon,
         CAST(lat_d AS DOUBLE) AS lat_d, CAST(lon_d AS DOUBLE) AS lon_d
  FROM ({_NODES_SQL})
)""",
        f"e0 AS MATERIALIZED ({_EDGES_SQL})",
    ] + _h6_chain("", rounds)
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, lat, lon FROM n{rounds}"


SQL_UNDER_DELTA_NODES = _h4_sql()
SQL_UNDER_DELTA_LINKS = _h6_sql()


SIMPLIFY_DELTA = 30.0  # the reference CLI uses ONE delta for H4 and H6


def q_simplify_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE main query (``ophois simplify --delta``,
    src/main.rs:66-74) end-to-end under the oracle gate: largest
    component → degree-2 chain contraction → under-delta node fixpoint
    → under-delta link fixpoint; returns the surviving nodes with their
    (possibly minted, Rust-formatted) coordinates."""
    from ophois_spark.operators.components import largest_component
    from ophois_spark.operators.contraction import (
        remove_degree_two_nodes,
        remove_under_delta_links,
        remove_under_delta_nodes,
    )

    g = derived_graph(spark, sf_dir)
    # session-cached labels: the propagation runs once per (session, sf)
    # across the registry; the operator owns the winner/filter semantics
    g = largest_component(g, labels=_component_labels(spark, sf_dir))
    # stage-boundary cuts: each contraction stage reads its input graph
    # through several independent consumers; without the checkpoint the
    # previous stages' join lineage replays per consumer (~30% of the
    # pipeline's wall time measured at sf0.1)
    g = remove_degree_two_nodes(g.checkpoint())
    g = remove_under_delta_nodes(g.checkpoint(), SIMPLIFY_DELTA)
    g = remove_under_delta_links(g, SIMPLIFY_DELTA)
    return g.nodes.select("id", "lat", "lon")


def _simplify_sql(rounds: int = _CONTRACT_ROUNDS) -> str:
    """Composed oracle for the whole simplify pipeline: recursive-CTE
    component labels (largest wins, ties → smallest label), the deg-2
    closed form (chains → endpoint edges, cycles vanish), then the
    prefixed H4 ("a") and H6 ("b") unrolled chains at SIMPLIFY_DELTA."""
    r = rounds
    parts = [
        f"coords AS MATERIALIZED ({_NODES_SQL})",
        f"edges_all AS MATERIALIZED ({_EDGES_SQL})",
    ] + _lc_deg2_chain()
    parts += _h4_chain("a", r, coords="coords", delta=SIMPLIFY_DELTA)
    parts += [
        f"""bn0 AS MATERIALIZED (
  SELECT c.id, CAST(CAST(c.lat_d AS DOUBLE) AS VARCHAR) AS lat,
         CAST(CAST(c.lon_d AS DOUBLE) AS VARCHAR) AS lon,
         CAST(c.lat_d AS DOUBLE) AS lat_d, CAST(c.lon_d AS DOUBLE) AS lon_d
  FROM coords c JOIN an{r} n ON c.id = n.id)""",
        f"be0 AS MATERIALIZED (SELECT src, dst FROM ae{r})",
    ]
    parts += _h6_chain("b", r, delta=SIMPLIFY_DELTA)
    return "WITH RECURSIVE " + ",\n".join(parts) + f"\nSELECT id, lat, lon FROM bn{r}"


def _lc_deg2_chain() -> list[str]:
    """Largest-component + degree-2 closed-form CTE prefix.

    Expects base CTEs ``coords(id, …)`` and ``edges_all(src, dst)``;
    yields ``an0`` (surviving node ids) and ``ae0`` (surviving edges).
    Pinned against ``largest_component`` + ``remove_degree_two_nodes``
    on random graphs by tests/test_oracle_generators.py — the closed
    form's corner cases (pure cycles vanish, chains whose both ends
    attach to one outside node drop their edge) are covered there, not
    just on the derived graph the gate runs."""
    return [
        """bi AS (SELECT src AS a, dst AS b FROM edges_all
       UNION ALL SELECT dst, src FROM edges_all)""",
        """rr(id, comp) AS (
  SELECT id, id FROM coords
  UNION
  SELECT bi.b, rr.comp FROM rr JOIN bi ON rr.id = bi.a
)""",
        "labels AS MATERIALIZED (SELECT id, min(comp) AS comp FROM rr GROUP BY id)",
        """winner AS MATERIALIZED (
  SELECT comp FROM (SELECT comp, COUNT(*) AS n FROM labels GROUP BY comp)
  ORDER BY n DESC, comp LIMIT 1)""",
        "kn AS MATERIALIZED (SELECT l.id FROM labels l JOIN winner w ON l.comp = w.comp)",
        # edges never cross components: filtering on src suffices (same
        # shortcut as operators.components.largest_component)
        "ke AS MATERIALIZED (SELECT src, dst FROM edges_all WHERE src IN (SELECT id FROM kn))",
        """ends2 AS (SELECT src AS id FROM ke UNION ALL SELECT dst FROM ke)""",
        """deg2t AS MATERIALIZED (
  SELECT n.id, COUNT(e.id) AS degree
  FROM kn n LEFT JOIN ends2 e ON n.id = e.id GROUP BY n.id)""",
        "s2 AS MATERIALIZED (SELECT id FROM deg2t WHERE degree = 2)",
        """ess AS (SELECT src, dst FROM ke
        WHERE src IN (SELECT id FROM s2) AND dst IN (SELECT id FROM s2))""",
        "bi2 AS (SELECT src AS a, dst AS b FROM ess UNION ALL SELECT dst, src FROM ess)",
        """r2(id, comp) AS (
  SELECT id, id FROM s2
  UNION
  SELECT bi2.b, r2.comp FROM r2 JOIN bi2 ON r2.id = bi2.a
)""",
        "lab2 AS MATERIALIZED (SELECT id, min(comp) AS comp FROM r2 GROUP BY id)",
        """boundary AS (
  SELECT e.src AS sid, e.dst AS outside FROM ke e
  WHERE e.src IN (SELECT id FROM s2) AND e.dst NOT IN (SELECT id FROM s2)
  UNION ALL
  SELECT e.dst, e.src FROM ke e
  WHERE e.dst IN (SELECT id FROM s2) AND e.src NOT IN (SELECT id FROM s2))""",
        """new_edges AS (
  SELECT min(b.outside) AS src, max(b.outside) AS dst
  FROM boundary b JOIN lab2 ON b.sid = lab2.id
  GROUP BY lab2.comp HAVING min(b.outside) <> max(b.outside))""",
        "an0 AS MATERIALIZED (SELECT id FROM kn WHERE id NOT IN (SELECT id FROM s2))",
        """ae0 AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ke
    WHERE src NOT IN (SELECT id FROM s2) AND dst NOT IN (SELECT id FROM s2)
    UNION ALL SELECT src, dst FROM new_edges))""",
    ]


SQL_SIMPLIFY_PIPELINE = _simplify_sql()


NEAR_DUP_THRESHOLD = 0.35  # synthetic embeddings are near-orthogonal
# (max pairwise cosine ≈ 0.51); 0.35 yields a small non-empty pair set


NEAR_DUP_BANDS = 4
NEAR_DUP_BAND_PLANES = 8


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded multi-table sign-LSH
    candidates + exact cosine filter."""
    from ophois_spark.operators.similarity import near_dup_pairs

    return near_dup_pairs(
        load(spark, sf_dir, "embeddings"),
        NEAR_DUP_THRESHOLD,
        n_bands=NEAR_DUP_BANDS,
        band_planes=NEAR_DUP_BAND_PLANES,
    )


SQL_EMBEDDING_NEAR_DUP = f"""
WITH z AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
         unnest(generate_series(0, len(embedding) - 1)) AS d
  FROM embeddings
),
p AS (
  SELECT vec_id, j, round(SUM(val * {_W_SQL}), 6) AS proj
  FROM (SELECT vec_id, val, d,
               unnest(generate_series(0, {NEAR_DUP_BANDS * NEAR_DUP_BAND_PLANES - 1})) AS j
        FROM z)
  GROUP BY vec_id, j
),
bb AS (
  SELECT vec_id, j // {NEAR_DUP_BAND_PLANES} AS band,
         CAST(SUM(CASE WHEN proj >= 0
                  THEN (CAST(1 AS BIGINT) << (j % {NEAR_DUP_BAND_PLANES}))
                  ELSE 0 END) AS BIGINT) AS bucket
  FROM p GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
                      AND a.vec_id < b.vec_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT cand.vec_a, cand.vec_b,
       round(list_cosine_similarity(ea.v, eb.v), 6) AS sim
FROM cand JOIN e ea ON cand.vec_a = ea.vec_id
          JOIN e eb ON cand.vec_b = eb.vec_id
WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= {NEAR_DUP_THRESHOLD!r}
"""


def q_graph_show(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — ``Graph::show`` sink format (reference src/graph.rs:104-121):
    one ``line`` per node (``id␟lat␟lon``) and per canonical link
    (``src␟dst``); set-equality parity (the reference prints in
    HashMap order)."""
    from ophois_spark.sources.graph_io import show_records

    return show_records(derived_graph(spark, sf_dir))


def _graph_show_sql() -> str:
    from ophois_spark import SEPARATOR as S

    return f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL})
SELECT id || '{S}' || CAST(CAST(lat_d AS DOUBLE) AS VARCHAR)
          || '{S}' || CAST(CAST(lon_d AS DOUBLE) AS VARCHAR) AS line FROM nodes
UNION ALL
SELECT src || '{S}' || dst FROM edges
"""


SQL_GRAPH_SHOW = _graph_show_sql()


def q_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P1–P3 ingest path under the oracle gate: deterministic OSM-XML
    pages derived from ``documents`` run through the REAL fused
    format+extract kernel (``extract_page_records`` → mapInPandas over
    ``kernels.osmxml``), while the oracle constructs the byte-exact
    expected records independently from the format spec
    (reference src/openstreetmap.rs:24-88). Exercises self-closing
    nodes, multi-line node buffering (no-joiner concatenation),
    multi-line ways with tag children, and non-XML noise pages that
    must yield zero records."""
    from ophois_spark.operators.extract import extract_page_records

    d = load(spark, sf_dir, "documents").select("doc_id")
    a = (F.col("doc_id") % 997).cast("string")
    b = ((F.col("doc_id") * 13) % 997).cast("string")
    n1 = (F.col("doc_id") * 3 + 1).cast("string")
    n2 = (F.col("doc_id") * 3 + 2).cast("string")
    w = (F.col("doc_id") * 3 + 3).cast("string")
    r1 = (F.col("doc_id") * 7 + 1).cast("string")
    r2 = (F.col("doc_id") * 7 + 2).cast("string")
    r3 = (F.col("doc_id") * 7 + 3).cast("string")
    xml = F.concat_ws(
        "\n",
        F.lit('<?xml version="1.0" encoding="UTF-8"?>'),
        F.lit("<osm>"),
        F.format_string('  <node id="%s" lat="45.%s" lon="5.%s"/>', n1, a, b),
        F.format_string('  <node id="%s" lat="46.%s"', n2, a),
        F.format_string('    lon="6.%s">', b),
        F.lit("  </node>"),
        F.format_string('  <way id="%s">', w),
        F.format_string('    <nd ref="%s"/>', r1),
        F.format_string('    <nd ref="%s"/>', r2),
        F.format_string('    <nd ref="%s"/>', r3),
        F.lit('    <tag k="highway" v="residential"/>'),
        F.lit("  </way>"),
        F.lit("</osm>"),
    )
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("no map content, just prose"))
        .otherwise(xml)
        .alias("text"),
    )
    return extract_page_records(pages)


def _xml_extract_sql() -> str:
    from ophois_spark import SEPARATOR as S

    return f"""
WITH d AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
         CAST(doc_id % 997 AS VARCHAR) AS a,
         CAST((doc_id * 13) % 997 AS VARCHAR) AS b,
         CAST(doc_id * 3 + 1 AS VARCHAR) AS n1,
         CAST(doc_id * 3 + 2 AS VARCHAR) AS n2,
         CAST(doc_id * 7 + 1 AS VARCHAR) AS r1,
         CAST(doc_id * 7 + 2 AS VARCHAR) AS r2,
         CAST(doc_id * 7 + 3 AS VARCHAR) AS r3
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT url, CAST(0 AS INT) AS pos, n1 || '{S}' || '45.' || a || '{S}' || '5.' || b AS line FROM d
UNION ALL SELECT url, CAST(1 AS INT), n2 || '{S}' || '46.' || a || '{S}' || '6.' || b FROM d
UNION ALL SELECT url, CAST(2 AS INT), r1 || '{S}' || r2 FROM d
UNION ALL SELECT url, CAST(3 AS INT), r2 || '{S}' || r3 FROM d
"""


SQL_XML_EXTRACT = _xml_extract_sql()


QUERIES.update(
    {
        "graph_show": q_graph_show,
        "xml_extract": q_xml_extract,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "under_delta_nodes": q_under_delta_nodes,
        "under_delta_links": q_under_delta_links,
        "simplify_pipeline": q_simplify_pipeline,
        "media_metadata": q_media_metadata,
        "media_features": q_media_features,
        "media_resize": q_media_resize,
        "media_frame_sample": q_media_frame_sample,
        "doc_quality": q_doc_quality,
        "doc_lang_id": q_doc_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_winnow": q_doc_winnow,
        "winnow_overlap_pairs": q_winnow_overlap_pairs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "shingle_jaccard": q_shingle_jaccard,
        "doc_simhash": q_doc_simhash,
        "embedding_topk": q_embedding_topk,
        "embedding_lsh_buckets": q_embedding_lsh_buckets,
    }
)
ORACLES.update(
    {
        "graph_show": SQL_GRAPH_SHOW,
        "xml_extract": SQL_XML_EXTRACT,
        "embedding_ivf_topk": SQL_EMBEDDING_IVF_TOPK,
        "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
        "under_delta_nodes": SQL_UNDER_DELTA_NODES,
        "under_delta_links": SQL_UNDER_DELTA_LINKS,
        "simplify_pipeline": SQL_SIMPLIFY_PIPELINE,
        "media_metadata": SQL_MEDIA_METADATA,
        "media_features": SQL_MEDIA_FEATURES,
        "media_resize": SQL_MEDIA_RESIZE,
        "media_frame_sample": SQL_MEDIA_FRAME_SAMPLE,
        "doc_quality": SQL_DOC_QUALITY,
        "doc_lang_id": SQL_DOC_LANG_ID,
        "doc_fingerprint": SQL_DOC_FINGERPRINT,
        "doc_winnow": SQL_DOC_WINNOW,
        "winnow_overlap_pairs": SQL_WINNOW_OVERLAP_PAIRS,
        "minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
        "shingle_jaccard": SQL_SHINGLE_JACCARD,
        "doc_simhash": SQL_DOC_SIMHASH,
        "embedding_topk": SQL_EMBEDDING_TOPK,
        "embedding_lsh_buckets": SQL_EMBEDDING_LSH_BUCKETS,
    }
)


# ---------------------------------------------------------------------------
# round-3 depth: dedup decision, corpus stats, decontamination
# ---------------------------------------------------------------------------


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: LSH pairs -> exact-Jaccard verify -> connected
    components -> canonical min-doc_id per cluster. The oracle replays
    the verified pair set (the already-gated jaccard SQL) and closes it
    transitively with a recursive CTE."""
    from ophois_spark.operators.dedup import near_dup_clusters

    return near_dup_clusters(load(spark, sf_dir, "documents"))


def _near_dup_clusters_sql() -> str:
    from ophois_spark.operators.dedup import NEAR_DUP_JACCARD

    return f"""
WITH RECURSIVE
jp AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({SQL_SHINGLE_JACCARD}) x WHERE jaccard >= {NEAR_DUP_JACCARD}
),
e AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM jp
  UNION ALL SELECT doc_b AS u, doc_a AS v FROM jp
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u
)
SELECT id AS doc_id, MIN(r) AS cluster,
       CAST(id = MIN(r) AS INT) AS is_canonical
FROM reach GROUP BY id
"""


SQL_NEAR_DUP_CLUSTERS = _near_dup_clusters_sql()

NGRAM_TOPN = 20


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.dedup import ngram_topk

    return ngram_topk(load(spark, sf_dir, "documents"), topn=NGRAM_TOPN)


SQL_NGRAM_TOPK = f"""
WITH toks AS ({_TOKS_SQL}),
g AS (
  SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ngram
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks WHERE len(t) >= 3)
),
c AS (SELECT ngram, COUNT(*) AS n FROM g GROUP BY ngram)
SELECT ngram, n FROM c ORDER BY n DESC, ngram LIMIT {NGRAM_TOPN}
"""


def q_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ophois_spark.operators.textops import source_rollup

    return source_rollup(load(spark, sf_dir, "documents"))


SQL_SOURCE_ROLLUP = r"""
WITH tc AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS BIGINT) AS n_tokens
  FROM documents
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tc.n_tokens) AS BIGINT) AS sum_tokens,
       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(tc.n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_tokens
FROM documents d JOIN tc ON d.doc_id = tc.doc_id
GROUP BY d.source
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination check: even doc_ids play the training corpus,
    odd doc_ids the eval set; per eval doc, what fraction of its
    3-token shingles appears ANYWHERE in train."""
    from ophois_spark.operators.dedup import shingle_contamination

    docs = load(spark, sf_dir, "documents")
    return shingle_contamination(
        docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)
    )


SQL_CONTAMINATION = f"""
WITH sh AS ({_SHINGLES_SQL}),
tsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
esh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 2 = 1),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM esh GROUP BY doc_id),
hits AS (
  SELECT e.doc_id, COUNT(*) AS n_hit
  FROM esh e JOIN tsh t ON e.shingle = t.shingle
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(tot.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_hit,
       CASE WHEN COALESCE(tot.n_shingles, 0) > 0 THEN
         CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / CAST(tot.n_shingles AS DOUBLE)
       END AS hit_ratio
FROM documents d
LEFT JOIN tot ON d.doc_id = tot.doc_id
LEFT JOIN hits ON d.doc_id = hits.doc_id
WHERE d.doc_id % 2 = 1
"""


QUERIES.update(
    {
        "near_dup_clusters": q_near_dup_clusters,
        "ngram_topk": q_ngram_topk,
        "source_rollup": q_source_rollup,
        "contamination": q_contamination,
    }
)
ORACLES.update(
    {
        "near_dup_clusters": SQL_NEAR_DUP_CLUSTERS,
        "ngram_topk": SQL_NGRAM_TOPK,
        "source_rollup": SQL_SOURCE_ROLLUP,
        "contamination": SQL_CONTAMINATION,
    }
)


# ---------------------------------------------------------------------------
# round-3 depth: temporal + hamming near-dup + recrawl dedup
# ---------------------------------------------------------------------------


def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming <= 3 via 4x15-bit banding.
    The oracle is the brute-force ALL-PAIRS scan over the already-gated
    signature SQL — a hash match therefore proves the pigeonhole recall
    guarantee end-to-end, not merely the refine arithmetic."""
    from ophois_spark.operators.dedup import simhash_hamming_pairs

    return q_result_sorted_ham(simhash_hamming_pairs(load(spark, sf_dir, "documents")))


def q_result_sorted_ham(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def _simhash_hamming_sql() -> str:
    from ophois_spark.operators.dedup import SIMHASH_MAX_HAMMING

    return f"""
WITH s AS MATERIALIZED ({SQL_DOC_SIMHASH})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


SQL_SIMHASH_HAMMING = _simhash_hamming_sql()

# deterministic recrawl synthesis: 97 urls, minute-granular capture times
# (collisions in (url, warc_ts) exercise the id tie-break)
_CRAWL_BASE_EPOCH = 1767225600  # 2026-01-01T00:00:00Z


def q_latest_crawl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl dedup over a synthesized (url, warc_ts, doc_id) capture
    log: keep the newest capture per url (ties -> max doc_id) with the
    capture count — the Common-Crawl freshest-snapshot pass, as one
    map-side-combinable struct-max aggregation."""
    from ophois_spark.operators.dedup import latest_snapshot_dedup

    d = load(spark, sf_dir, "documents")
    us = (
        F.lit(_CRAWL_BASE_EPOCH) + ((F.col("doc_id") * 37) % 1440) * F.lit(60)
    ).cast("long") * F.lit(1000000).cast("long")
    pages = d.select(
        F.concat(F.lit("doc://"), (F.col("doc_id") % 97).cast("string")).alias("url"),
        F.timestamp_micros(us).alias("warc_ts"),
        F.col("doc_id"),
    )
    out = latest_snapshot_dedup(pages)
    return out.select(
        "url",
        F.unix_micros(F.col("warc_ts")).alias("warc_us"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_crawls").cast("long").alias("n_crawls"),
    )


SQL_LATEST_CRAWL_DEDUP = f"""
WITH c AS (
  SELECT 'doc://' || CAST(doc_id % 97 AS VARCHAR) AS url,
         CAST(({_CRAWL_BASE_EPOCH} + ((doc_id * 37) % 1440) * 60) AS BIGINT) * 1000000 AS us,
         doc_id
  FROM documents
),
m AS (SELECT url, MAX(us) AS warc_us, COUNT(*) AS n_crawls FROM c GROUP BY url)
SELECT m.url, m.warc_us, CAST(MAX(c.doc_id) AS BIGINT) AS doc_id,
       CAST(m.n_crawls AS BIGINT) AS n_crawls
FROM m JOIN c ON c.url = m.url AND c.us = m.warc_us
GROUP BY m.url, m.warc_us, m.n_crawls
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every 'purchase' event picks up the latest 'click'
    by the same user at-or-before it (ties -> max click event_id).
    Runs the merge-formulation asof_join (one shuffle, ZERO join
    operators — plan-asserted); the oracle states the SEMANTICS
    independently as correlated max-subqueries."""
    from ophois_spark.operators.temporal import asof_join

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "value",
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t_us"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "t_us", "event_id", "value"
    )
    j = asof_join(
        left,
        right,
        key="user_id",
        ts="t_us",
        tie="event_id",
        payload=["event_id", "t_us", "value"],
        prefix="click_",
    )
    # NULL-free gate projection: unmatched rows carry typed sentinels +
    # an explicit flag (cross-engine NaN ordering/hashing is the one
    # thing the float policy can't pin).
    return j.select(
        "event_id",
        "user_id",
        "t_us",
        F.col("click_event_id").isNotNull().cast("int").alias("matched"),
        F.coalesce(F.col("click_event_id"), F.lit(-1)).cast("long").alias("click_event_id"),
        F.coalesce(F.col("click_t_us"), F.lit(-1)).cast("long").alias("click_t_us"),
        F.coalesce(F.col("click_value"), F.lit(0.0)).alias("click_value"),
    )


SQL_EVENTS_ASOF = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         CAST(epoch_us(ts) AS BIGINT) AS t_us, value
  FROM events
),
p AS (SELECT event_id, user_id, t_us FROM ev WHERE event_type = 'purchase'),
c AS (SELECT user_id, t_us, event_id, value FROM ev WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.t_us,
  CAST((SELECT c.event_id FROM c WHERE c.user_id = p.user_id AND c.t_us <= p.t_us
   ORDER BY c.t_us DESC, c.event_id DESC LIMIT 1) IS NOT NULL AS INT) AS matched,
  CAST(COALESCE((SELECT c.event_id FROM c WHERE c.user_id = p.user_id AND c.t_us <= p.t_us
   ORDER BY c.t_us DESC, c.event_id DESC LIMIT 1), -1) AS BIGINT) AS click_event_id,
  CAST(COALESCE((SELECT c.t_us FROM c WHERE c.user_id = p.user_id AND c.t_us <= p.t_us
   ORDER BY c.t_us DESC, c.event_id DESC LIMIT 1), -1) AS BIGINT) AS click_t_us,
  COALESCE((SELECT c.value FROM c WHERE c.user_id = p.user_id AND c.t_us <= p.t_us
   ORDER BY c.t_us DESC, c.event_id DESC LIMIT 1), 0.0) AS click_value
FROM p
"""


QUERIES.update(
    {
        "simhash_hamming": q_simhash_hamming,
        "latest_crawl_dedup": q_latest_crawl_dedup,
        "events_asof": q_events_asof,
    }
)
ORACLES.update(
    {
        "simhash_hamming": SQL_SIMHASH_HAMMING,
        "latest_crawl_dedup": SQL_LATEST_CRAWL_DEDUP,
        "events_asof": SQL_EVENTS_ASOF,
    }
)


# ---------------------------------------------------------------------------
# round-3 flagship: end-to-end corpus construction
# ---------------------------------------------------------------------------


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The webtext flagship end-to-end under the oracle gate: quality +
    language gate -> exact fingerprint dedup -> near-dup cluster dedup
    -> surviving (doc_id, source, n_tokens). The corpus mirror of
    ``simplify_pipeline`` (reference src/main.rs:66-74 composes its CLI
    the same way from operator parts)."""
    from ophois_spark.operators.corpus import corpus_pipeline

    out = corpus_pipeline(load(spark, sf_dir, "documents"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


def _corpus_pipeline_sql() -> str:
    from ophois_spark.operators.corpus import KEEP_LANG, MIN_ALPHA, MIN_TOKENS
    from ophois_spark.operators.dedup import NEAR_DUP_JACCARD
    from ophois_spark.operators.textops import LANG_PROFILES

    def score(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        return f"len(list_filter(lt, x -> x IN ({words})))"

    return rf"""
WITH RECURSIVE
toks AS MATERIALIZED ({_TOKS_SQL}),
ltoks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS lt FROM documents),
ls AS (SELECT doc_id, {score("de")} AS s_de, {score("en")} AS s_en, {score("fr")} AS s_fr FROM ltoks),
lang AS (SELECT doc_id, CASE WHEN s_de >= s_en AND s_de >= s_fr THEN 'de'
                             WHEN s_en >= s_fr THEN 'en' ELSE 'fr' END AS pred_lang FROM ls),
keep AS MATERIALIZED (
  SELECT d.doc_id, d.source,
         CAST(CASE WHEN trim(d.text) = '' THEN 0 ELSE len(t.t) END AS INT) AS n_tokens
  FROM documents d JOIN toks t USING (doc_id) JOIN lang USING (doc_id)
  WHERE (CASE WHEN trim(d.text) = '' THEN 0 ELSE len(t.t) END) >= {MIN_TOKENS}
    AND length(d.text) > 0
    AND CAST(length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
          / CAST(length(d.text) AS DOUBLE) >= {MIN_ALPHA}
    AND lang.pred_lang = '{KEEP_LANG}'
),
fp AS (SELECT k.doc_id, md5(regexp_replace(trim(d.text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fp
       FROM keep k JOIN documents d USING (doc_id)),
reps AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
sh AS MATERIALIZED (
  SELECT s.* FROM ({_SHINGLES_SQL}) s JOIN reps USING (doc_id)
),
{_lsh_pair_ctes("sh")},
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT p.doc_a AS da, p.doc_b AS db, COUNT(*) AS i
          FROM mh_pairs p
          JOIN sh a ON a.doc_id = p.doc_a
          JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
          GROUP BY 1, 2),
jp AS (SELECT da, db FROM inter
       JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {NEAR_DUP_JACCARD}),
e AS (SELECT da AS u, db AS v FROM jp UNION ALL SELECT db AS u, da AS v FROM jp),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM reps
  UNION
  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u
),
cl AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id)
SELECT CAST(k.doc_id AS BIGINT) AS doc_id, k.source, k.n_tokens
FROM cl JOIN keep k USING (doc_id)
WHERE cl.doc_id = cl.cluster
"""


SQL_CORPUS_PIPELINE = _corpus_pipeline_sql()

QUERIES.update({"corpus_pipeline": q_corpus_pipeline})
ORACLES.update({"corpus_pipeline": SQL_CORPUS_PIPELINE})


# ---------------------------------------------------------------------------
# round-3 depth: link-graph scoring, corpus sampling, sequence packing
# ---------------------------------------------------------------------------


def _link_overlay(spark: SparkSession, sf_dir: str):
    """Deterministic link overlay on documents (doc i links to
    (i*31 + 97*j) mod N for j = 1..1+i%3) → (nodes(id), edges(src,
    dst)) — the shared input of every link-graph scoring query."""
    d = load(spark, sf_dir, "documents")
    n = d.count()
    nodes = d.select(F.col("doc_id").alias("id"))
    j = nodes.select(
        "id",
        F.explode(
            F.sequence(F.lit(1).cast("long"), F.lit(1) + F.col("id") % 3)
        ).alias("j"),
    )
    dst = (F.col("id") * 31 + 97 * F.col("j")) % F.lit(n)
    edges = (
        j.select(F.col("id").alias("src"), dst.cast("long").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return nodes, edges


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the deterministic link overlay: the corpus-
    curation importance score, in exactly-replayable 64-bit arithmetic
    so the oracle pins every rank value, not a float approximation."""
    from ophois_spark.operators.webgraph import pagerank

    nodes, edges = _link_overlay(spark, sf_dir)
    r = pagerank(nodes, edges)
    return r.select(
        F.col("id").cast("long").alias("doc_id"), F.col("rank").cast("long").alias("rank")
    )


# Fixpoint pin for the CONVERGED variant's oracle: at the gate scales
# the engine stops at the exact integer fixed point (measured round 62
# on the 500-doc overlay, pinned by tests/test_webgraph_pack.py);
# every round past a fixpoint is an identity, so the oracle may unroll
# to any count >= the measured round and 64 leaves margin without
# bloating the CTE chain. (On overlays where the truncating map enters
# a short limit cycle instead — the 5000-doc one does at round 72 —
# the engine returns the first recurrent state, equally deterministic;
# only fixpoint scales are oracle-gated.)
PAGERANK_PIN_ROUNDS = 64


@session_memo(produces="link_pagerank_converged")
def q_link_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank with the REAL stopping rule (state recurrence —
    exact fixed point or first limit-cycle re-entry, detected on an
    order-independent integer signature, one aggregation action per
    round) instead of a fixed unroll; integer arithmetic makes the
    orbit exactly deterministic, which is what lets a SQL oracle pin a
    convergence-driven result at all.

    A session memo like ``derived_graph``: the converged relation is a
    pure function of the overlay and its loop runs eagerly (one action
    per round), so a consumer such as ``top_pages_by_rank`` must not
    replay the whole orbit. The result is already round-checkpointed;
    the memo stores the final relation.
    """
    from ophois_spark.operators.webgraph import pagerank_converged

    nodes, edges = _link_overlay(spark, sf_dir)
    r, _rounds = pagerank_converged(nodes, edges)
    return r.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("rank").cast("long").alias("rank"),
    )


TOP_PAGES_N = 25


def q_top_pages_by_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer of the converged ranks: top-N pages by importance
    (rank desc, doc_id tiebreak — a deterministic SET either engine
    reproduces). Executes as TakeOrderedAndProject over the converged
    rank relation, never a full sort."""
    r = q_link_pagerank_converged(spark, sf_dir)
    return r.orderBy(F.desc("rank"), F.asc("doc_id")).limit(TOP_PAGES_N)


def _pagerank_sql(iters: int | None = None) -> str:
    from ophois_spark.operators.webgraph import (
        DAMPING_DEN,
        DAMPING_NUM,
        PAGERANK_ITERS,
        PAGERANK_SCALE,
    )

    if iters is None:
        iters = PAGERANK_ITERS
    base = (DAMPING_DEN - DAMPING_NUM) * PAGERANK_SCALE // DAMPING_DEN
    parts = [
        "n AS MATERIALIZED (SELECT doc_id AS id FROM documents)",
        "c AS (SELECT COUNT(*) AS cnt FROM documents)",
        "j0 AS (SELECT id, unnest(generate_series(1, 1 + (id % 3))) AS j FROM n)",
        """e AS MATERIALIZED (
  SELECT DISTINCT id AS src, (id*31 + 97*j) % (SELECT cnt FROM c) AS dst
  FROM j0 WHERE (id*31 + 97*j) % (SELECT cnt FROM c) <> id)""",
        "od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src)",
        f"r0 AS (SELECT id, CAST({PAGERANK_SCALE} AS BIGINT) AS rank FROM n)",
    ]
    for k in range(1, iters + 1):
        parts.append(f"""r{k} AS MATERIALIZED (
  SELECT n.id,
         CAST({base} + ({DAMPING_NUM} * COALESCE(x.s, 0)) // {DAMPING_DEN} AS BIGINT) AS rank
  FROM n LEFT JOIN (
    SELECT e.dst AS id, SUM(r{k - 1}.rank // od.d) AS s
    FROM e JOIN r{k - 1} ON r{k - 1}.id = e.src JOIN od ON od.src = e.src
    GROUP BY e.dst) x ON x.id = n.id)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT CAST(id AS BIGINT) AS doc_id, rank FROM r{iters}"
    )


SQL_LINK_PAGERANK = _pagerank_sql()
SQL_LINK_PAGERANK_CONVERGED = _pagerank_sql(PAGERANK_PIN_ROUNDS)
SQL_TOP_PAGES_BY_RANK = f"""
SELECT doc_id, rank FROM ({SQL_LINK_PAGERANK_CONVERGED}) x
ORDER BY rank DESC, doc_id LIMIT {TOP_PAGES_N}
"""


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling with a per-source mixture
    recipe (rates derived from the source name hash so the dim table
    is reproducible): broadcast the recipe, hash-gate on the scan."""
    from ophois_spark.operators.corpus import corpus_sample

    d = load(spark, sf_dir, "documents")
    rates = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (
                F.lit(1000)
                + F.conv(F.substring(F.md5("source"), 1, 7), 16, 10).cast("long")
                % 8000
            )
            .cast("int")
            .alias("rate_permyriad"),
        )
    )
    out = corpus_sample(d, rates)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("rate_permyriad").cast("int").alias("rate_permyriad"),
    )


def _corpus_sample_sql() -> str:
    from ophois_spark.operators.corpus import SAMPLE_DENOM

    return f"""
WITH rates AS (
  SELECT source,
         CAST(1000 + ('0x' || substr(md5(source), 1, 7))::BIGINT % 8000 AS INT) AS rate_permyriad
  FROM (SELECT DISTINCT source FROM documents)
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, r.rate_permyriad
FROM documents d JOIN rates r USING (source)
WHERE ('0x' || substr(md5(d.source || ':' || CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
        % {SAMPLE_DENOM} < r.rate_permyriad
"""


SQL_CORPUS_SAMPLE = _corpus_sample_sql()


def q_source_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic quota cap (per-host cap): each
    source's n docs with the smallest identity hash, computed as a
    two-phase salted tournament (no single-window hot-source
    serialization); the oracle states the naive single window and the
    gate checks exact equality of rows AND ranks."""
    from ophois_spark.operators.corpus import source_topn

    return source_topn(load(spark, sf_dir, "documents"))


def _source_topn_sql() -> str:
    from ophois_spark.operators.corpus import TOPN_PER_SOURCE

    return f"""
SELECT doc_id, source, CAST(rnk AS INT) AS sample_rank
FROM (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT,
                    doc_id
         ) AS rnk
  FROM documents
)
WHERE rnk <= {TOPN_PER_SOURCE}
"""


SQL_SOURCE_TOPN = _source_topn_sql()


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing of the corpus into fixed token budgets
    (the pretraining-loader layout), as an exact running-sum window."""
    from ophois_spark.operators.corpus import pack_sequences

    out = pack_sequences(load(spark, sf_dir, "documents"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("start_tok").cast("long").alias("start_tok"),
        F.col("pack_id").cast("long").alias("pack_id"),
    )


def _pack_sequences_sql() -> str:
    from ophois_spark.operators.corpus import PACK_BUDGET

    return rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS BIGINT) AS n_tok
  FROM documents
),
s AS (
  SELECT doc_id, source,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_tok
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(start_tok // {PACK_BUDGET} AS BIGINT) AS pack_id
FROM s
"""


SQL_PACK_SEQUENCES = _pack_sequences_sql()


def q_pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-source-safe packing variant: the packing group pre-shards
    to (source, doc_id mod K), so one giant source's sort + running sum
    spreads across K tasks instead of serializing onto one — the shard
    key is a pure function of content identity, so offsets are
    deterministic under any partitioning and the oracle restates the
    identical key."""
    from ophois_spark.operators.corpus import PACK_SHARDS, pack_sequences

    out = pack_sequences(load(spark, sf_dir, "documents"), shards=PACK_SHARDS)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("shard").cast("int").alias("shard"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.col("pack_id").cast("long").alias("pack_id"),
    )


def _pack_sequences_sharded_sql() -> str:
    from ophois_spark.operators.corpus import PACK_BUDGET, PACK_SHARDS

    return rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS BIGINT) AS n_tok
  FROM documents
),
s AS (
  SELECT doc_id, source, shard,
         SUM(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_tok
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, shard,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(start_tok // {PACK_BUDGET} AS BIGINT) AS pack_id
FROM s
"""


SQL_PACK_SEQUENCES_SHARDED = _pack_sequences_sharded_sql()

QUERIES.update(
    {
        "link_pagerank": q_link_pagerank,
        "link_pagerank_converged": q_link_pagerank_converged,
        "top_pages_by_rank": q_top_pages_by_rank,
        "corpus_sample": q_corpus_sample,
        "source_topn": q_source_topn,
        "pack_sequences": q_pack_sequences,
        "pack_sequences_sharded": q_pack_sequences_sharded,
    }
)
ORACLES.update(
    {
        "link_pagerank": SQL_LINK_PAGERANK,
        "link_pagerank_converged": SQL_LINK_PAGERANK_CONVERGED,
        "top_pages_by_rank": SQL_TOP_PAGES_BY_RANK,
        "corpus_sample": SQL_CORPUS_SAMPLE,
        "source_topn": SQL_SOURCE_TOPN,
        "pack_sequences": SQL_PACK_SEQUENCES,
        "pack_sequences_sharded": SQL_PACK_SEQUENCES_SHARDED,
    }
)


# ---------------------------------------------------------------------------
# round-3 depth: URL identity + index build
# ---------------------------------------------------------------------------


def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup over a synthesized messy-URL
    overlay (five spelling variants per identity: case, default ports,
    www, fragments, utm params, param order): → (canon_url,
    n_variants, doc_id). The oracle replays the SAME regex/list
    pipeline in DuckDB — the canonicalization itself is gated, not
    just the group-by."""
    from ophois_spark.operators.urls import url_canonical_dedup

    d = load(spark, sf_dir, "documents")
    h = (F.col("doc_id") % 40).cast("string")
    p = F.concat(F.lit("/p/"), (F.col("doc_id") % 8).cast("string"))
    # variant index must be independent of the identity (doc_id % 40)
    # so each group mixes spellings: use the copy index doc_id div 40
    v = F.expr("(doc_id div 40) % 5")
    url = (
        F.when(v == 0, F.concat(F.lit("http://www.example"), h, F.lit(".com:80"), p, F.lit("?b=2&a=1")))
        .when(v == 1, F.concat(F.lit("HTTP://EXAMPLE"), h, F.lit(".COM"), p, F.lit("?a=1&b=2#frag")))
        .when(v == 2, F.concat(F.lit("http://example"), h, F.lit(".com"), p, F.lit("?utm_source=x&b=2&a=1")))
        .when(v == 3, F.concat(F.lit("https://www.example"), h, F.lit(".com:443"), p))
        .otherwise(F.concat(F.lit("https://example"), h, F.lit(".com"), p))
    )
    out = url_canonical_dedup(d.select("doc_id", url.alias("url")))
    return out.select(
        "canon_url",
        F.col("n_variants").cast("long").alias("n_variants"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )


def _url_dedup_sql() -> str:
    from ophois_spark.operators.urls import URL_RX

    # DuckDB needs the raw pattern; single backslashes survive in a
    # standard string literal, so interpolate the pattern verbatim
    rx = URL_RX
    return rf"""
WITH u AS (
  SELECT doc_id,
    CASE (doc_id // 40) % 5
      WHEN 0 THEN 'http://www.example' || h || '.com:80' || p || '?b=2&a=1'
      WHEN 1 THEN 'HTTP://EXAMPLE' || h || '.COM' || p || '?a=1&b=2#frag'
      WHEN 2 THEN 'http://example' || h || '.com' || p || '?utm_source=x&b=2&a=1'
      WHEN 3 THEN 'https://www.example' || h || '.com:443' || p
      ELSE 'https://example' || h || '.com' || p END AS url
  FROM (SELECT doc_id, CAST(doc_id % 40 AS VARCHAR) AS h,
               '/p/' || CAST(doc_id % 8 AS VARCHAR) AS p FROM documents)
),
parts AS (
  SELECT doc_id,
    lower(regexp_extract(url, '{rx}', 1)) AS scheme,
    regexp_replace(lower(regexp_extract(url, '{rx}', 2)), '^www\.', '') AS hostport,
    regexp_extract(url, '{rx}', 3) AS path,
    regexp_extract(url, '{rx}', 4) AS q
  FROM u
),
canon AS (
  SELECT doc_id,
    scheme || '://' ||
    CASE WHEN (scheme = 'http' AND hostport LIKE '%:80')
           OR (scheme = 'https' AND hostport LIKE '%:443')
         THEN string_split(hostport, ':')[1] ELSE hostport END ||
    CASE WHEN path = '' THEN '/' ELSE path END ||
    CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url
  FROM (SELECT doc_id, scheme, hostport, path,
               COALESCE(array_to_string(list_sort(list_filter(string_split(q, '&'),
                 x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&'), '') AS qs
        FROM parts)
)
SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MIN(doc_id) AS BIGINT) AS doc_id
FROM canon GROUP BY canon_url
"""


SQL_URL_CANONICAL_DEDUP = _url_dedup_sql()


def q_doc_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index postings (term, doc_id, tf, df) — the retrieval
    index build over the corpus; integer tf/df are the exact core of
    tf-idf ranking."""
    from ophois_spark.operators.textops import index_postings

    out = index_postings(load(spark, sf_dir, "documents"))
    return out.select(
        "term",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
    )


SQL_DOC_POSTINGS = f"""
WITH toks AS ({_TOKS_SQL}),
ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM ex WHERE term <> '' GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
SELECT term, CAST(tf.doc_id AS BIGINT) AS doc_id, CAST(tf.tf AS BIGINT) AS tf,
       CAST(df.df AS BIGINT) AS df
FROM tf JOIN df USING (term)
"""

QUERIES.update(
    {
        "url_canonical_dedup": q_url_canonical_dedup,
        "doc_postings": q_doc_postings,
    }
)
ORACLES.update(
    {
        "url_canonical_dedup": SQL_URL_CANONICAL_DEDUP,
        "doc_postings": SQL_DOC_POSTINGS,
    }
)


# ---------------------------------------------------------------------------
# round-3 depth: embedding-side dedup decision
# ---------------------------------------------------------------------------


def q_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERS (candidates -> verify -> connected
    components -> canonical representative); oracle closes the gated
    pair SQL transitively with a recursive CTE."""
    from ophois_spark.operators.similarity import embedding_dedup_clusters

    out = embedding_dedup_clusters(
        load(spark, sf_dir, "embeddings"),
        NEAR_DUP_THRESHOLD,
        n_bands=NEAR_DUP_BANDS,
        band_planes=NEAR_DUP_BAND_PLANES,
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster").cast("long").alias("cluster"),
        F.col("is_canonical").cast("int").alias("is_canonical"),
    )


SQL_EMBEDDING_DEDUP_CLUSTERS = f"""
WITH RECURSIVE
jp AS MATERIALIZED (SELECT vec_a, vec_b FROM ({SQL_EMBEDDING_NEAR_DUP}) x),
e AS MATERIALIZED (
  SELECT vec_a AS u, vec_b AS v FROM jp
  UNION ALL SELECT vec_b AS u, vec_a AS v FROM jp
),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.id, e.v FROM reach JOIN e ON reach.r = e.u
)
SELECT CAST(id AS BIGINT) AS vec_id, CAST(MIN(r) AS BIGINT) AS cluster,
       CAST(id = MIN(r) AS INT) AS is_canonical
FROM reach GROUP BY id
"""

QUERIES.update({"embedding_dedup_clusters": q_embedding_dedup_clusters})
ORACLES.update({"embedding_dedup_clusters": SQL_EMBEDDING_DEDUP_CLUSTERS})


def q_source_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-statistic token-count quantiles per source (lower /
    type-1 selection — integers drawn from the data, so cross-engine
    bit-stable, unlike interpolated quantiles)."""
    from ophois_spark.operators.textops import source_token_quantiles

    out = source_token_quantiles(load(spark, sf_dir, "documents"))
    return out.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("p50").cast("long").alias("p50"),
        F.col("p90").cast("long").alias("p90"),
        F.col("p99").cast("long").alias("p99"),
    )


def _source_quantiles_sql() -> str:
    from ophois_spark.operators.textops import QUANTILES

    picks = ",\n       ".join(
        f"CAST(MAX(CASE WHEN rk = (({q} * n) + 99) // 100 THEN n_tok END) AS BIGINT) AS p{q}"
        for q in QUANTILES
    )
    return rf"""
WITH t AS (
  SELECT source,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS BIGINT) AS n_tok
  FROM documents
),
r AS (
  SELECT source, n_tok,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM t
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
       {picks}
FROM r GROUP BY source
"""


SQL_SOURCE_TOKEN_QUANTILES = _source_quantiles_sql()

QUERIES.update({"source_token_quantiles": q_source_token_quantiles})
ORACLES.update({"source_token_quantiles": SQL_SOURCE_TOKEN_QUANTILES})


# ---------------------------------------------------------------------------
# round-3 depth: admin-region geometry + density stats
# ---------------------------------------------------------------------------


def q_admin_region_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per admin polygon: vertex count, shoelace area (deg², rounded at
    1e-12 so double summation ORDER can't flip a last ulp — the same
    round-then-compare policy the cosine paths use), node count from
    the gated PIP join, and nodes-per-deg² density. The area fold is a
    fixed-order Column aggregate over the vertex arrays (codegen, no
    shuffle); the oracle recomputes it from the SAME injected vertex
    doubles as an edge-table SUM."""
    from ophois_spark.operators.spatial import pip_join

    polys = spark.createDataFrame(
        PIP_POLYGONS, "poly_id string, xs array<double>, ys array<double>"
    )
    n = F.size("xs")
    idx = F.sequence(F.lit(1), n)

    def cross_term(j):
        nxt = (j % n) + 1
        return F.element_at("xs", j) * F.element_at("ys", nxt) - F.element_at(
            "xs", nxt
        ) * F.element_at("ys", j)

    cross = F.aggregate(
        F.transform(idx, cross_term), F.lit(0.0), lambda acc, v: acc + v
    )
    area = F.round(F.abs(cross) / 2, 12)
    geo = polys.select(
        "poly_id", n.cast("int").alias("n_vertices"), area.alias("area_deg2")
    )
    counts = (
        pip_join(derived_nodes(spark, sf_dir), polys, res=CELL_RES)
        .groupBy("poly_id")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return geo.join(counts, "poly_id", "left").select(
        "poly_id",
        "n_vertices",
        "area_deg2",
        F.coalesce("n_nodes", F.lit(0)).cast("long").alias("n_nodes"),
        F.round(
            F.coalesce("n_nodes", F.lit(0)).cast("double") / F.col("area_deg2"), 6
        ).alias("density"),
    )


def _admin_stats_sql() -> str:
    rows = []
    for pid, xs, ys in PIP_POLYGONS:
        nv = len(xs)
        for i in range(nv):
            x1, y1 = xs[i], ys[i]
            x2, y2 = xs[(i + 1) % nv], ys[(i + 1) % nv]
            rows.append(
                f"('{pid}', CAST('{x1!r}' AS DOUBLE), CAST('{y1!r}' AS DOUBLE),"
                f" CAST('{x2!r}' AS DOUBLE), CAST('{y2!r}' AS DOUBLE))"
            )
    vals = ",\n    ".join(rows)
    return f"""
WITH pip AS ({SQL_PIP_ADMIN_JOIN}),
counts AS (SELECT poly_id, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM pip GROUP BY poly_id),
poly(poly_id, x1, y1, x2, y2) AS (VALUES {vals}),
geo AS (
  SELECT poly_id, CAST(COUNT(*) AS INT) AS n_vertices,
         ROUND(ABS(SUM(x1 * y2 - x2 * y1)) / 2, 12) AS area_deg2
  FROM poly GROUP BY poly_id
)
SELECT g.poly_id, g.n_vertices, g.area_deg2,
       CAST(COALESCE(c.n_nodes, 0) AS BIGINT) AS n_nodes,
       ROUND(CAST(COALESCE(c.n_nodes, 0) AS DOUBLE) / g.area_deg2, 6) AS density
FROM geo g LEFT JOIN counts c USING (poly_id)
"""


SQL_ADMIN_REGION_STATS = _admin_stats_sql()

QUERIES.update({"admin_region_stats": q_admin_region_stats})
ORACLES.update({"admin_region_stats": SQL_ADMIN_REGION_STATS})


# ---------------------------------------------------------------------------
# round-4: per-source data card (volume + length profile + dup rates)
# ---------------------------------------------------------------------------


def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shipping artifact of a corpus build: one row per source with
    volume (source_rollup), exact order-statistic token quantiles
    (source_token_quantiles), and duplication rates (global-md5 exact
    dups + near_dup_clusters non-canonical members) — three gated
    operators composed through ONE plan."""
    from ophois_spark.operators.corpus import data_card

    return data_card(load(spark, sf_dir, "documents"))


def _data_card_sql() -> str:
    return f"""
WITH roll AS ({SQL_SOURCE_ROLLUP}),
quant AS ({SQL_SOURCE_TOKEN_QUANTILES}),
reps AS (SELECT md5(text) AS h, MIN(doc_id) AS rep FROM documents GROUP BY 1),
ex AS (
  SELECT d.source,
         CAST(SUM(CASE WHEN d.doc_id <> r.rep THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups
  FROM documents d JOIN reps r ON md5(d.text) = r.h
  GROUP BY d.source
),
cl AS ({SQL_NEAR_DUP_CLUSTERS}),
nd AS (
  SELECT d.source, CAST(SUM(1 - cl.is_canonical) AS BIGINT) AS n_near_dups
  FROM cl JOIN documents d ON cl.doc_id = d.doc_id
  GROUP BY d.source
)
SELECT roll.source, roll.n_docs, roll.sum_tokens, roll.mean_tokens,
       quant.p50, quant.p90, quant.p99,
       ex.n_exact_dups,
       CAST(ex.n_exact_dups AS DOUBLE) / CAST(roll.n_docs AS DOUBLE) AS exact_dup_rate,
       nd.n_near_dups,
       CAST(nd.n_near_dups AS DOUBLE) / CAST(roll.n_docs AS DOUBLE) AS near_dup_rate
FROM roll
JOIN quant ON roll.source = quant.source
JOIN ex ON roll.source = ex.source
JOIN nd ON roll.source = nd.source
"""


SQL_DATA_CARD = _data_card_sql()

QUERIES.update({"data_card": q_data_card})
ORACLES.update({"data_card": SQL_DATA_CARD})


# ---------------------------------------------------------------------------
# round-4: segment crossings (cell-bucketed spatial self-join)
# ---------------------------------------------------------------------------

SEG_RES = 17  # grid cell ~2.7e-3 x 1.37e-3 deg >= the 1e-3-deg max
# segment extent below, so every bbox cover is <= 2x2 cells


def derived_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic street-scale segments from ``orders``: start point
    on a 1000x1000 lattice of 2^-13-deg steps, displacement in
    [-10, 10] lattice steps per axis (<= ~136 m), zero-length segments
    dropped. The dyadic step makes every derived coordinate AND every
    CCW cross-product exactly representable, so the crossing predicate
    is bit-identical across engines (and across DECIMAL vs DOUBLE)."""
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    # lattice step 2^-13 deg (~13.6 m lat): every coordinate, difference
    # and CCW product below is an EXACT double (integer * 2^-26 within
    # 53 bits), so the strict sign tests are engine-independent — DuckDB
    # parses plain decimal literals as exact DECIMAL, and with a 1e-4
    # step its exact-zero verdict on touching endpoints diverged from
    # the double residual (measured: d = -7.5e-18 vs DECIMAL 0).
    step = F.lit(0.0001220703125)
    x0 = F.lit(5.0) + (k % 1000).cast("double") * step
    y0 = F.lit(45.0) + ((k * 7) % 1000).cast("double") * step
    dx = ((k * 13) % 21 - 10).cast("double") * step
    dy = ((k * 17) % 21 - 10).cast("double") * step
    return (
        o.select(
            k.cast("string").alias("sid"),
            x0.alias("x0"),
            y0.alias("y0"),
            dx.alias("dx"),
            dy.alias("dy"),
        )
        .filter(~((F.col("dx") == 0) & (F.col("dy") == 0)))
        .select(
            "sid",
            "x0",
            "y0",
            (F.col("x0") + F.col("dx")).alias("x1"),
            (F.col("y0") + F.col("dy")).alias("y1"),
        )
    )


def q_segment_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proper segment-segment crossings (no shared endpoint geometry):
    cell-bucketed candidate join + exact CCW predicate, pair-dedup via
    the reference-point rule (zero distinct shuffles). The geometric
    complement of the reference's shared-node intersection model
    (src/graph.rs)."""
    from ophois_spark.operators.spatial import segment_crossings

    return segment_crossings(derived_segments(spark, sf_dir), SEG_RES)


# oracle: same cell-cover candidate generation restated in SQL (the
# _tile_sql unnest pattern) + the IDENTICAL CCW arithmetic, but with
# pair dedup via DISTINCT instead of the engine's reference-point rule
# — so the zero-extra-shuffle dedup is still checked against the naive
# formulation. Exact-equal pair sets, not approximate. (A pure
# bbox-overlap inequality join would be fully bucketing-independent,
# but DuckDB's IEJoin raises an internal flat-vector assertion on the
# 4-range predicate — worked around, not a semantics choice.)


def _segment_crossings_sql() -> str:
    n = 1 << SEG_RES
    gx = lambda c: f"greatest(0, least({n - 1}, CAST(floor(({c} + 180.0) / 360.0 * {n}) AS BIGINT)))"  # noqa: E731
    gy = lambda c: f"greatest(0, least({n - 1}, CAST(floor(({c} + 90.0) / 180.0 * {n}) AS BIGINT)))"  # noqa: E731
    return f"""
WITH raw AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS sid,
         5.0 + (o_orderkey % 1000) * CAST(0.0001220703125 AS DOUBLE) AS x0,
         45.0 + ((o_orderkey * 7) % 1000) * CAST(0.0001220703125 AS DOUBLE) AS y0,
         ((o_orderkey * 13) % 21 - 10) * CAST(0.0001220703125 AS DOUBLE) AS dx,
         ((o_orderkey * 17) % 21 - 10) * CAST(0.0001220703125 AS DOUBLE) AS dy
  FROM orders
),
s AS (
  SELECT sid, x0, y0, x0 + dx AS x1, y0 + dy AS y1 FROM raw
  WHERE NOT (dx = 0 AND dy = 0)
),
xs AS (
  SELECT sid, x0, y0, x1, y1,
         {gy("least(y0, y1)")} AS gy0, {gy("greatest(y0, y1)")} AS gy1,
         unnest(generate_series({gx("least(x0, x1)")}, {gx("greatest(x0, x1)")})) AS gx
  FROM s
),
cov AS (
  SELECT sid, x0, y0, x1, y1, gx, unnest(generate_series(gy0, gy1)) AS gy FROM xs
)
SELECT DISTINCT a.sid AS sid_a, b.sid AS sid_b
FROM cov a JOIN cov b ON a.gx = b.gx AND a.gy = b.gy AND a.sid < b.sid
WHERE least(a.x0, a.x1) <= greatest(b.x0, b.x1)
  AND least(b.x0, b.x1) <= greatest(a.x0, a.x1)
  AND least(a.y0, a.y1) <= greatest(b.y0, b.y1)
  AND least(b.y0, b.y1) <= greatest(a.y0, a.y1)
  AND ((a.x1 - a.x0) * (b.y0 - a.y0) - (a.y1 - a.y0) * (b.x0 - a.x0))
    * ((a.x1 - a.x0) * (b.y1 - a.y0) - (a.y1 - a.y0) * (b.x1 - a.x0)) < 0
  AND ((b.x1 - b.x0) * (a.y0 - b.y0) - (b.y1 - b.y0) * (a.x0 - b.x0))
    * ((b.x1 - b.x0) * (a.y1 - b.y0) - (b.y1 - b.y0) * (a.x1 - b.x0)) < 0
"""


SQL_SEGMENT_CROSSINGS = _segment_crossings_sql()

QUERIES.update({"segment_crossings": q_segment_crossings})
ORACLES.update({"segment_crossings": SQL_SEGMENT_CROSSINGS})


# ---------------------------------------------------------------------------
# round-4 depth: BM25 retrieval over the postings index
# ---------------------------------------------------------------------------

# three fixed audit queries over the synthetic vocabulary (terms chosen
# from the generator's word list; df ~380-400 of 500 at sf0.01, so the
# +1-shifted idf stays small but positive and rank order is contestable)
BM25_QUERIES: list[tuple[int, str]] = [
    (0, "hash"),
    (0, "join"),
    (1, "vector"),
    (1, "scan"),
    (1, "filter"),
    (2, "stream"),
    (2, "window"),
    (2, "agg"),
]
BM25_K = 10


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document retrieval for a fixed query set — the
    consumer of the inverted index (`doc_postings`); the retrieval leg
    of a contamination / corpus-audit pipeline."""
    from ophois_spark.operators.textops import bm25_topk

    return bm25_topk(load(spark, sf_dir, "documents"), BM25_QUERIES, k=BM25_K)


def _bm25_sql() -> str:
    from ophois_spark.operators.textops import BM25_B, BM25_K1

    k1, b = BM25_K1, BM25_B
    k1p1, one_minus_b = k1 + 1.0, 1.0 - b
    qvals = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    # constants string-cast from Python reprs: both engines compute on
    # the IDENTICAL doubles (shortest round-trip parse, no re-rounding)
    ck1 = f"CAST('{k1!r}' AS DOUBLE)"
    cb = f"CAST('{b!r}' AS DOUBLE)"
    ck1p1 = f"CAST('{k1p1!r}' AS DOUBLE)"
    c1mb = f"CAST('{one_minus_b!r}' AS DOUBLE)"
    return f"""
WITH toks AS ({_TOKS_SQL}),
ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM ex WHERE term <> '' GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id,
              CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS dl
       FROM documents),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
qt AS (SELECT * FROM (VALUES {qvals}) AS v(query_id, term)),
per_term AS (
  SELECT qt.query_id, tf.doc_id, tf.term,
         round(
           ln((CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
           * (CAST(tf.tf AS DOUBLE) * {ck1p1})
           / (CAST(tf.tf AS DOUBLE)
              + {ck1} * ({c1mb} + {cb} * CAST(dl.dl AS DOUBLE)
                                  / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))),
           9) AS contrib
  FROM tf
  JOIN df USING (term)
  JOIN qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id,
         round(list_reduce(list(contrib ORDER BY term), (x, y) -> x + y), 6) AS score
  FROM per_term GROUP BY query_id, doc_id
),
r AS (SELECT query_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM scored)
SELECT CAST(query_id AS INT) AS query_id, rank, CAST(doc_id AS BIGINT) AS doc_id, score
FROM r WHERE rank <= {BM25_K}
"""


SQL_BM25_TOPK = _bm25_sql()

QUERIES.update({"bm25_topk": q_bm25_topk})
ORACLES.update({"bm25_topk": SQL_BM25_TOPK})


# ---------------------------------------------------------------------------
# round-4 depth: multi-source traversal (BFS hops + bounded shortest path)
# ---------------------------------------------------------------------------

# deterministic scale-independent seed set: the ROUTE_N_SEEDS nodes with
# the smallest md5(id) — both engines hash the VARCHAR id to the same
# lowercase hex and sort it identically (ASCII), so the seed set is
# restatable as ORDER BY md5(id) LIMIT n with no ties possible
ROUTE_N_SEEDS = 5
ROUTE_BFS_HOPS = 6
ROUTE_DIST_HOPS = 3


def _route_seeds(g: StreetGraph) -> DataFrame:
    return g.nodes.select("id").orderBy(F.md5(F.col("id"))).limit(ROUTE_N_SEEDS)


def q_seed_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: minimum hop count from the seed set, bounded at
    ROUTE_BFS_HOPS (frontier-join iteration; see operators/routing.py)."""
    from ophois_spark.operators.routing import bfs_hops

    g = derived_graph(spark, sf_dir)
    return bfs_hops(g, _route_seeds(g), max_hops=ROUTE_BFS_HOPS)


SQL_SEED_HOP_DISTANCE = f"""
WITH RECURSIVE nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
bi AS (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst, src FROM edges),
seeds AS (SELECT id FROM nodes ORDER BY md5(id) LIMIT {ROUTE_N_SEEDS}),
r(id, hops) AS (
  SELECT id, 0 FROM seeds
  UNION
  SELECT bi.b, r.hops + 1 FROM r JOIN bi ON r.id = bi.a
  WHERE r.hops < {ROUTE_BFS_HOPS}
)
SELECT id, CAST(MIN(hops) AS INT) AS hops FROM r GROUP BY id
"""


def q_seed_distance_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop multi-source shortest path in integer metres
    (floor(haversine) edge weights, exact min-plus — ROUTE_DIST_HOPS
    Bellman-Ford rounds; see operators/routing.py)."""
    from ophois_spark.operators.routing import bounded_dist_m

    g = derived_graph(spark, sf_dir)
    return bounded_dist_m(g, _route_seeds(g), max_hops=ROUTE_DIST_HOPS)


SQL_SEED_DISTANCE_M = f"""
WITH RECURSIVE nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
w AS (
  SELECT e.src, e.dst,
         CAST(floor({_hav_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")}) AS BIGINT) AS w
  FROM edges e JOIN nodes a ON e.src = a.id JOIN nodes b ON e.dst = b.id
),
bi AS (SELECT src AS a, dst AS b, w FROM w UNION ALL SELECT dst, src, w FROM w),
seeds AS (SELECT id FROM nodes ORDER BY md5(id) LIMIT {ROUTE_N_SEEDS}),
r(id, d, h) AS (
  SELECT id, CAST(0 AS BIGINT), 0 FROM seeds
  UNION
  SELECT bi.b, r.d + bi.w, r.h + 1 FROM r JOIN bi ON r.id = bi.a
  WHERE r.h < {ROUTE_DIST_HOPS}
)
SELECT id, MIN(d) AS dist_m FROM r GROUP BY id
"""


QUERIES.update(
    {"seed_hop_distance": q_seed_hop_distance, "seed_distance_m": q_seed_distance_m}
)
ORACLES.update(
    {"seed_hop_distance": SQL_SEED_HOP_DISTANCE, "seed_distance_m": SQL_SEED_DISTANCE_M}
)


# ---------------------------------------------------------------------------
# round-4 depth: exact-substring duplication coverage (Lee et al. ACL'22)
# ---------------------------------------------------------------------------


def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of token positions covered by a corpus-repeated
    w-token n-gram — the exact-substring complement of the MinHash leg
    (operators/textops.py: dup_ngram_coverage)."""
    from ophois_spark.operators.textops import dup_ngram_coverage

    return dup_ngram_coverage(load(spark, sf_dir, "documents"))


def _dup_ngram_sql() -> str:
    from ophois_spark.operators.textops import DUPSPAN_W

    w = DUPSPAN_W
    return f"""
WITH toks AS ({_TOKS_SQL}),
base AS (SELECT doc_id, t, len(t) AS n FROM toks),
occ AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i+1: i+{w}], ' ')) AS gh
  FROM base, unnest(generate_series(0, n - {w})) AS u(i)
  WHERE n >= {w}
),
dup AS (SELECT gh FROM occ GROUP BY gh HAVING COUNT(*) > 1),
cov AS (
  SELECT DISTINCT doc_id, pos + j AS p
  FROM occ JOIN dup USING (gh), unnest(generate_series(0, {w} - 1)) AS g(j)
),
cnt AS (SELECT doc_id, COUNT(*) AS n_dup FROM cov GROUP BY doc_id),
ntok AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS n_tokens
  FROM documents
)
SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_dup, 0) AS BIGINT) AS n_dup_positions,
       CASE WHEN n.n_tokens = 0 THEN 0.0
            ELSE round(CAST(COALESCE(c.n_dup, 0) AS DOUBLE)
                       / CAST(n.n_tokens AS DOUBLE), 9) END AS dup_fraction
FROM ntok n LEFT JOIN cnt c USING (doc_id)
"""


SQL_DUP_NGRAM_COVERAGE = _dup_ngram_sql()

QUERIES.update({"dup_ngram_coverage": q_dup_ngram_coverage})
ORACLES.update({"dup_ngram_coverage": SQL_DUP_NGRAM_COVERAGE})


# ---------------------------------------------------------------------------
# round-4 depth: triangle counting (degree-ordered wedge enumeration)
# ---------------------------------------------------------------------------


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation via degree-ordered orientation
    (operators/metrics.py: triangle_counts; skew capped by construction)."""
    from ophois_spark.operators.metrics import triangle_counts

    return triangle_counts(derived_graph(spark, sf_dir))


# oracle enumerates each triangle once as x < y < z over canonical edges
SQL_TRIANGLE_COUNTS = f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
tri AS (
  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
  FROM edges e1
  JOIN edges e2 ON e2.src = e1.dst
  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
corners AS (
  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
),
cnt AS (SELECT id, COUNT(*) AS n_triangles FROM corners GROUP BY id)
SELECT n.id, CAST(COALESCE(c.n_triangles, 0) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN cnt c ON n.id = c.id
"""

QUERIES.update({"triangle_counts": q_triangle_counts})
ORACLES.update({"triangle_counts": SQL_TRIANGLE_COUNTS})


# ---------------------------------------------------------------------------
# round-4 depth: bbox range query through the cell index
# ---------------------------------------------------------------------------

BBOX = (45.004, 45.012, 5.003, 5.009)  # lat_min, lat_max, lon_min, lon_max


def q_bbox_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-box spatial range query, cell-index pruned (covering-cell
    isin pushdown + exact filter; operators/spatial.py: bbox_query).
    Result must equal the oracle's naive full-scan WHERE."""
    from ophois_spark.operators.spatial import bbox_query

    return bbox_query(derived_nodes(spark, sf_dir), *BBOX, res=CELL_RES)


def _bbox_sql() -> str:
    lat_min, lat_max, lon_min, lon_max = BBOX
    return f"""
WITH nodes AS ({_NODES_SQL})
SELECT id, lat_d, lon_d FROM nodes
WHERE lat_d >= CAST('{lat_min!r}' AS DOUBLE) AND lat_d <= CAST('{lat_max!r}' AS DOUBLE)
  AND lon_d >= CAST('{lon_min!r}' AS DOUBLE) AND lon_d <= CAST('{lon_max!r}' AS DOUBLE)
"""


SQL_BBOX_QUERY = _bbox_sql()

QUERIES.update({"bbox_query": q_bbox_query})
ORACLES.update({"bbox_query": SQL_BBOX_QUERY})


# ---------------------------------------------------------------------------
# round-4 depth: clustering coefficient, bearing histogram, in-doc repetition
# ---------------------------------------------------------------------------


def q_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (Watts-Strogatz), composed
    from the gated triangle + degree relations
    (operators/metrics.py: clustering_coefficients)."""
    from ophois_spark.operators.metrics import clustering_coefficients

    return clustering_coefficients(derived_graph(spark, sf_dir))


SQL_CLUSTERING_COEFFICIENTS = f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
tri AS (
  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
  FROM edges e1
  JOIN edges e2 ON e2.src = e1.dst
  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
corners AS (
  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
),
tcnt AS (SELECT id, COUNT(*) AS t FROM corners GROUP BY id),
ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
dcnt AS (SELECT id, COUNT(*) AS d FROM ends GROUP BY id)
SELECT n.id,
       CAST(COALESCE(dc.d, 0) AS INT) AS degree,
       CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_triangles,
       CASE WHEN COALESCE(dc.d, 0) < 2 THEN 0.0
            ELSE round(2.0 * COALESCE(tc.t, 0) / (dc.d * (dc.d - 1)), 9)
       END AS lcc
FROM nodes n LEFT JOIN dcnt dc ON n.id = dc.id LEFT JOIN tcnt tc ON n.id = tc.id
"""


def q_bearing_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Street-orientation histogram: floor(initial bearing) -> link
    count (operators/metrics.py: bearing_distribution)."""
    from ophois_spark.operators.metrics import bearing_distribution

    return bearing_distribution(derived_graph(spark, sf_dir))


def _bearing_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Initial bearing in [0, 360) degrees — same formula shape as
    functions.bearing_deg so doubles agree to the last ulp."""
    return (
        f"((degrees(atan2("
        f"sin(radians(({lon2}) - ({lon1}))) * cos(radians({lat2})), "
        f"cos(radians({lat1})) * sin(radians({lat2})) "
        f"- sin(radians({lat1})) * cos(radians({lat2})) * cos(radians(({lon2}) - ({lon1})))"
        f")) + 360.0) % 360.0)"
    )


SQL_BEARING_DISTRIBUTION = f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
b AS (
  SELECT CAST(floor({_bearing_sql("n1.lat_d", "n1.lon_d", "n2.lat_d", "n2.lon_d")}) AS INT)
           AS bearing_deg
  FROM edges e JOIN nodes n1 ON e.src = n1.id JOIN nodes n2 ON e.dst = n2.id
)
SELECT bearing_deg, CAST(COUNT(*) AS BIGINT) AS n_links
FROM b GROUP BY bearing_deg
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition: top n-gram count + token share (Gopher
    A1.1 signal; operators/textops.py: doc_repetition)."""
    from ophois_spark.operators.textops import doc_repetition

    return doc_repetition(load(spark, sf_dir, "documents"))


def _doc_repetition_sql() -> str:
    from ophois_spark.operators.textops import REP_GRAM_N

    n = REP_GRAM_N
    return f"""
WITH toks AS ({_TOKS_SQL}),
base AS (SELECT doc_id, t, len(t) AS n FROM toks),
grams AS (
  SELECT doc_id, array_to_string(t[i+1: i+{n}], ' ') AS g
  FROM base, unnest(generate_series(0, n - {n})) AS u(i)
  WHERE n >= {n}
),
top AS (
  SELECT doc_id, MAX(c) AS top_gram_count
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
  GROUP BY doc_id
),
ntok AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS n_tokens
  FROM documents
)
SELECT nt.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(tp.top_gram_count, 0) AS BIGINT) AS top_gram_count,
       CASE WHEN nt.n_tokens = 0 THEN 0.0
            ELSE round(CAST(COALESCE(tp.top_gram_count, 0) AS DOUBLE) * {float(n)!r}
                       / CAST(nt.n_tokens AS DOUBLE), 9) END AS top_gram_share
FROM ntok nt LEFT JOIN top tp ON nt.doc_id = tp.doc_id
"""


SQL_DOC_REPETITION = _doc_repetition_sql()

QUERIES.update(
    {
        "clustering_coefficients": q_clustering_coefficients,
        "bearing_distribution": q_bearing_distribution,
        "doc_repetition": q_doc_repetition,
    }
)
ORACLES.update(
    {
        "clustering_coefficients": SQL_CLUSTERING_COEFFICIENTS,
        "bearing_distribution": SQL_BEARING_DISTRIBUTION,
        "doc_repetition": SQL_DOC_REPETITION,
    }
)


# ---------------------------------------------------------------------------
# round-4 depth: host-level webgraph rollup
# ---------------------------------------------------------------------------


def _dirty_url_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Messy-URL overlay on documents → (doc_id, url): 40 host
    identities (doc_id % 40), each spelled five deterministic dirty
    ways (case, www, default/explicit/odd ports — the same variant
    set as ``url_canonical_dedup``'s overlay), so every host-keyed
    query exercises regex host extraction on adversarial input. The
    ground truth an oracle restates: host(doc) = 'example' ||
    (doc_id % 40) || '.com'."""
    d = load(spark, sf_dir, "documents")
    h = (F.col("doc_id") % 40).cast("string")
    p = F.concat(F.lit("/p/"), (F.col("doc_id") % 8).cast("string"))
    v = F.expr("(doc_id div 40) % 5")
    url = (
        F.when(v == 0, F.concat(F.lit("http://www.example"), h, F.lit(".com:80"), p))
        .when(v == 1, F.concat(F.lit("HTTP://EXAMPLE"), h, F.lit(".COM"), p))
        .when(v == 2, F.concat(F.lit("http://example"), h, F.lit(".com:8080"), p))
        .when(v == 3, F.concat(F.lit("https://www.example"), h, F.lit(".com:443"), p))
        .otherwise(F.concat(F.lit("https://example"), h, F.lit(".com"), p))
    )
    return d.select("doc_id", url.alias("url"))


# The oracle-side restatement of _dirty_url_pages' ground-truth host
# key plus the shared link overlay, used by every host-graph oracle.
_SQL_HOST_CTES = """
n AS MATERIALIZED (SELECT doc_id AS id FROM documents),
c AS (SELECT COUNT(*) AS cnt FROM documents),
j0 AS (SELECT id, unnest(generate_series(1, 1 + (id % 3))) AS j FROM n),
e AS MATERIALIZED (
  SELECT DISTINCT id AS src, (id*31 + 97*j) % (SELECT cnt FROM c) AS dst
  FROM j0 WHERE (id*31 + 97*j) % (SELECT cnt FROM c) <> id),
h AS MATERIALIZED (
  SELECT doc_id, 'example' || CAST(doc_id % 40 AS VARCHAR) || '.com' AS host
  FROM documents)"""


def q_host_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl rollup over the messy-URL overlay (the same five
    spelling variants per host identity as ``url_canonical_dedup``, so
    host extraction is exercised on dirty input) joined with the
    deterministic link overlay: → (host, n_docs, n_out_links,
    n_intra_links, n_inter_links, n_dst_hosts). The oracle states the
    host key from the overlay's ground truth — the gate therefore
    asserts the engine's regex host extraction AND the two endpoint
    joins AND the rollup, end to end."""
    from ophois_spark.operators.webgraph import host_rollup

    pages = _dirty_url_pages(spark, sf_dir)
    _, edges = _link_overlay(spark, sf_dir)
    out = host_rollup(pages, edges)
    return out.select(
        "host",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_out_links").cast("long").alias("n_out_links"),
        F.col("n_intra_links").cast("long").alias("n_intra_links"),
        F.col("n_inter_links").cast("long").alias("n_inter_links"),
        F.col("n_dst_hosts").cast("long").alias("n_dst_hosts"),
    )


SQL_HOST_ROLLUP = f"""
WITH {_SQL_HOST_CTES},
eh AS (
  SELECT hs.host AS src_host, hd.host AS dst_host
  FROM e JOIN h hs ON hs.doc_id = e.src JOIN h hd ON hd.doc_id = e.dst),
la AS (
  SELECT src_host AS host,
         COUNT(*) AS n_out_links,
         SUM(CASE WHEN src_host = dst_host THEN 1 ELSE 0 END) AS n_intra_links,
         COUNT(DISTINCT dst_host) AS n_dst_hosts
  FROM eh GROUP BY src_host),
da AS (SELECT host, COUNT(*) AS n_docs FROM h GROUP BY host)
SELECT da.host,
       CAST(da.n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(la.n_out_links, 0) AS BIGINT) AS n_out_links,
       CAST(COALESCE(la.n_intra_links, 0) AS BIGINT) AS n_intra_links,
       CAST(COALESCE(la.n_out_links, 0) - COALESCE(la.n_intra_links, 0) AS BIGINT)
         AS n_inter_links,
       CAST(COALESCE(la.n_dst_hosts, 0) AS BIGINT) AS n_dst_hosts
FROM da LEFT JOIN la ON la.host = da.host
"""

QUERIES.update({"host_rollup": q_host_rollup})
ORACLES.update({"host_rollup": SQL_HOST_ROLLUP})


# ---------------------------------------------------------------------------
# round-4 depth: host-graph centrality + link-spam forensics
# ---------------------------------------------------------------------------

# DISTINCT simple inter-host graph, the oracle twin of
# operators.webgraph.host_graph over the shared overlays.
_SQL_HOST_EDGES_CTE = """
he AS MATERIALIZED (
  SELECT DISTINCT hs.host AS src, hd.host AS dst
  FROM e JOIN h hs ON hs.doc_id = e.src JOIN h hd ON hd.doc_id = e.dst
  WHERE hs.host <> hd.host)"""


def _host_graph(spark: SparkSession, sf_dir: str):
    """Engine-side shared lineage for the host-graph queries: dirty-URL
    overlay → host extraction → distinct simple inter-host graph."""
    from ophois_spark.operators.webgraph import host_graph

    pages = _dirty_url_pages(spark, sf_dir)
    _, edges = _link_overlay(spark, sf_dir)
    return host_graph(pages, edges)


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the HOST graph — the crawl-scheduling /
    seed-quality score (host-level centrality is what frontier
    prioritization actually consumes; page-level rank is too sparse on
    a fresh crawl). Composes three gated layers end to end: dirty-URL
    host extraction, the distinct inter-host projection, and the
    exactly-replayable integer PageRank loop."""
    from ophois_spark.operators.webgraph import pagerank

    hosts, he = _host_graph(spark, sf_dir)
    r = pagerank(hosts, he)
    return r.select(
        F.col("id").alias("host"), F.col("rank").cast("long").alias("rank")
    )


def _host_pagerank_sql() -> str:
    from ophois_spark.operators.webgraph import (
        DAMPING_DEN,
        DAMPING_NUM,
        PAGERANK_ITERS,
        PAGERANK_SCALE,
    )

    base = (DAMPING_DEN - DAMPING_NUM) * PAGERANK_SCALE // DAMPING_DEN
    parts = [
        _SQL_HOST_CTES.strip(),
        _SQL_HOST_EDGES_CTE.strip(),
        "hn AS MATERIALIZED (SELECT DISTINCT host AS id FROM h)",
        "od AS (SELECT src, COUNT(*) AS d FROM he GROUP BY src)",
        f"r0 AS (SELECT id, CAST({PAGERANK_SCALE} AS BIGINT) AS rank FROM hn)",
    ]
    for k in range(1, PAGERANK_ITERS + 1):
        parts.append(f"""r{k} AS MATERIALIZED (
  SELECT hn.id,
         CAST({base} + ({DAMPING_NUM} * COALESCE(x.s, 0)) // {DAMPING_DEN} AS BIGINT) AS rank
  FROM hn LEFT JOIN (
    SELECT he.dst AS id, SUM(r{k - 1}.rank // od.d) AS s
    FROM he JOIN r{k - 1} ON r{k - 1}.id = he.src JOIN od ON od.src = he.src
    GROUP BY he.dst) x ON x.id = hn.id)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id AS host, rank FROM r{PAGERANK_ITERS}"
    )


SQL_HOST_PAGERANK = _host_pagerank_sql()


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS hubs/authorities over the page-level link overlay
    in exact integer arithmetic (fixed unroll, no normalization — the
    ordering-preserving replayable form; see operators/webgraph.py):
    → (doc_id, hub, auth)."""
    from ophois_spark.operators.webgraph import hits_scores

    nodes, edges = _link_overlay(spark, sf_dir)
    s = hits_scores(nodes, edges)
    return s.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("hub").cast("long").alias("hub"),
        F.col("auth").cast("long").alias("auth"),
    )


def _hits_sql() -> str:
    from ophois_spark.operators.webgraph import HITS_ITERS

    parts = [
        "n AS MATERIALIZED (SELECT doc_id AS id FROM documents)",
        "c AS (SELECT COUNT(*) AS cnt FROM documents)",
        "j0 AS (SELECT id, unnest(generate_series(1, 1 + (id % 3))) AS j FROM n)",
        """e AS MATERIALIZED (
  SELECT DISTINCT id AS src, (id*31 + 97*j) % (SELECT cnt FROM c) AS dst
  FROM j0 WHERE (id*31 + 97*j) % (SELECT cnt FROM c) <> id)""",
        "h0 AS (SELECT id, CAST(1 AS BIGINT) AS hub FROM n)",
    ]
    for k in range(1, HITS_ITERS + 1):
        parts.append(f"""a{k} AS MATERIALIZED (
  SELECT n.id, CAST(COALESCE(x.s, 0) AS BIGINT) AS auth
  FROM n LEFT JOIN (
    SELECT e.dst AS id, SUM(h{k - 1}.hub) AS s
    FROM e JOIN h{k - 1} ON h{k - 1}.id = e.src GROUP BY e.dst) x
  ON x.id = n.id)""")
        parts.append(f"""h{k} AS MATERIALIZED (
  SELECT n.id, CAST(COALESCE(x.s, 0) AS BIGINT) AS hub
  FROM n LEFT JOIN (
    SELECT e.src AS id, SUM(a{k}.auth) AS s
    FROM e JOIN a{k} ON a{k}.id = e.dst GROUP BY e.src) x
  ON x.id = n.id)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(n.id AS BIGINT) AS doc_id, h{HITS_ITERS}.hub, a{HITS_ITERS}.auth
FROM n JOIN h{HITS_ITERS} ON h{HITS_ITERS}.id = n.id
       JOIN a{HITS_ITERS} ON a{HITS_ITERS}.id = n.id"""
    )


SQL_HITS_SCORES = _hits_sql()


def q_host_reciprocal_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-farm forensics over the host graph: per host, the share of
    its distinct outgoing inter-host links that are reciprocated
    (→ host, n_out, n_reciprocal, reciprocal_pct; percentage floored
    to whole percent per the integer cross-engine contract)."""
    from ophois_spark.operators.webgraph import reciprocal_link_share

    _, he = _host_graph(spark, sf_dir)
    out = reciprocal_link_share(he)
    return out.select(
        "host",
        F.col("n_out").cast("long").alias("n_out"),
        F.col("n_reciprocal").cast("long").alias("n_reciprocal"),
        F.col("reciprocal_pct").cast("long").alias("reciprocal_pct"),
    )


SQL_HOST_RECIPROCAL_LINKS = f"""
WITH {_SQL_HOST_CTES},
{_SQL_HOST_EDGES_CTE},
r AS (
  SELECT e1.src, e1.dst FROM he e1
  WHERE EXISTS (SELECT 1 FROM he e2 WHERE e2.src = e1.dst AND e2.dst = e1.src)),
no AS (SELECT src AS host, COUNT(*) AS n_out FROM he GROUP BY src),
nr AS (SELECT src AS host, COUNT(*) AS n_reciprocal FROM r GROUP BY src)
SELECT no.host,
       CAST(no.n_out AS BIGINT) AS n_out,
       CAST(COALESCE(nr.n_reciprocal, 0) AS BIGINT) AS n_reciprocal,
       CAST((100 * COALESCE(nr.n_reciprocal, 0)) // no.n_out AS BIGINT)
         AS reciprocal_pct
FROM no LEFT JOIN nr ON nr.host = no.host
"""

QUERIES.update(
    {
        "host_pagerank": q_host_pagerank,
        "hits_scores": q_hits_scores,
        "host_reciprocal_links": q_host_reciprocal_links,
    }
)
ORACLES.update(
    {
        "host_pagerank": SQL_HOST_PAGERANK,
        "hits_scores": SQL_HITS_SCORES,
        "host_reciprocal_links": SQL_HOST_RECIPROCAL_LINKS,
    }
)


# ---------------------------------------------------------------------------
# round-4 depth: Ramer-Douglas-Peucker polyline simplification
# ---------------------------------------------------------------------------

RDP_WAY_LEN = 25  # vertices per synthetic way (bounded, scale-realistic)
RDP_EPS = 600  # integer tolerance on the micro-degree-style grid
# Oracle unroll bound: recursion depth <= interior vertices per way
# (each round every active segment either splits, removing its pivot,
# or retires) and way length is pinned at ~RDP_WAY_LEN by construction,
# so depth <= RDP_WAY_LEN - 1 at EVERY sf; rounds past the fixpoint are
# no-ops on an empty active set. 28 = 24 worst case + margin for the
# +-1-vertex remainder ways.
RDP_UNROLL = 28


def _walk_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer random-walk polylines over customer:
    n_cust/25 ways of ~25 vertices each (way COUNT scales with sf, way
    LENGTH stays bounded — the shape real road/trace data has), steps
    in [-1000, 1000] from two Knuth multiplicative hashes, coordinates
    the exact running integer sums."""
    c = load(spark, sf_dir, "customer")
    n = c.select(F.count(F.lit(1)).alias("n_cust"))
    d = c.crossJoin(F.broadcast(n)).select(
        F.expr(f"c_custkey % (n_cust div {RDP_WAY_LEN})").alias("way_id"),
        F.expr(f"c_custkey div (n_cust div {RDP_WAY_LEN})").alias("seq"),
        F.expr("((c_custkey * 2654435761) % 2001) - 1000").alias("sx"),
        F.expr("((c_custkey * 2246822519) % 2001) - 1000").alias("sy"),
    )
    w = (
        Window.partitionBy("way_id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        "way_id",
        "seq",
        F.sum("sx").over(w).alias("x"),
        F.sum("sy").over(w).alias("y"),
    )


def q_rdp_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDP polyline simplification at integer tolerance RDP_EPS over
    the random-walk way overlay: -> the kept vertices (way_id, seq, x,
    y). Exact integer point-to-segment comparisons (DECIMAL(38,0) /
    HUGEINT squares), recursion parallelized by depth; the oracle
    unrolls the identical rounds to the PROVEN depth bound, so no
    measured round count needs pinning (see operators/polyline.py)."""
    from ophois_spark.operators.polyline import rdp_simplify

    kept, _rounds = rdp_simplify(_walk_points(spark, sf_dir), eps=RDP_EPS)
    return kept.select(
        F.col("way_id").cast("long").alias("way_id"),
        F.col("seq").cast("long").alias("seq"),
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )


def _rdp_sql() -> str:
    eps2 = RDP_EPS * RDP_EPS
    win = (
        "OVER (PARTITION BY way_id ORDER BY seq "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    parts = [
        f"""w0 AS (
  SELECT c_custkey % ((SELECT COUNT(*) FROM customer) // {RDP_WAY_LEN}) AS way_id,
         c_custkey // ((SELECT COUNT(*) FROM customer) // {RDP_WAY_LEN}) AS seq,
         ((c_custkey * 2654435761) % 2001) - 1000 AS sx,
         ((c_custkey * 2246822519) % 2001) - 1000 AS sy
  FROM customer)""",
        f"""p0 AS MATERIALIZED (
  SELECT way_id, seq,
         CAST(SUM(sx) {win} AS BIGINT) AS x,
         CAST(SUM(sy) {win} AS BIGINT) AS y
  FROM w0)""",
        "en AS (SELECT way_id, MIN(seq) AS lo, MAX(seq) AS hi FROM p0 GROUP BY way_id)",
        """ke AS (
  SELECT p.way_id, p.seq, p.x, p.y
  FROM p0 p JOIN en ON en.way_id = p.way_id
  WHERE p.seq = en.lo OR p.seq = en.hi)""",
        """c0 AS MATERIALIZED (
  SELECT p.way_id, p.seq, p.x, p.y, en.lo, en.hi,
         pl.x AS ax, pl.y AS ay, ph.x AS bx, ph.y AS bby
  FROM p0 p
  JOIN en ON en.way_id = p.way_id
  JOIN p0 pl ON pl.way_id = p.way_id AND pl.seq = en.lo
  JOIN p0 ph ON ph.way_id = p.way_id AND ph.seq = en.hi
  WHERE p.seq > en.lo AND p.seq < en.hi)""",
    ]
    for k in range(1, RDP_UNROLL + 1):
        parts.append(f"""s{k} AS (
  SELECT way_id, seq, x, y, lo, hi, ax, ay, bx, bby,
         CASE WHEN len2 = 0 THEN d2 ELSE cr * cr END AS lhs,
         CASE WHEN len2 = 0 THEN CAST({eps2} AS HUGEINT)
              ELSE CAST({eps2} AS HUGEINT) * len2 END AS rhs
  FROM (
    SELECT *,
           CAST((bx-ax)*(y-ay) - (x-ax)*(bby-ay) AS HUGEINT) AS cr,
           CAST((bx-ax)*(bx-ax) + (bby-ay)*(bby-ay) AS HUGEINT) AS len2,
           CAST((x-ax)*(x-ax) + (y-ay)*(y-ay) AS HUGEINT) AS d2
    FROM c{k - 1}))""")
        parts.append(f"""t{k} AS MATERIALIZED (
  SELECT way_id, lo, hi, seq AS s_seq, x AS sx, y AS sy FROM (
    SELECT way_id, lo, hi, seq, x, y,
           row_number() OVER (PARTITION BY way_id, lo, hi
                              ORDER BY lhs DESC, seq) AS rn,
           lhs, rhs
    FROM s{k})
  WHERE rn = 1 AND lhs > rhs)""")
        parts.append(f"""c{k} AS MATERIALIZED (
  SELECT p.way_id, p.seq, p.x, p.y,
         CASE WHEN p.seq < t.s_seq THEN p.lo ELSE t.s_seq END AS lo,
         CASE WHEN p.seq < t.s_seq THEN t.s_seq ELSE p.hi END AS hi,
         CASE WHEN p.seq < t.s_seq THEN p.ax ELSE t.sx END AS ax,
         CASE WHEN p.seq < t.s_seq THEN p.ay ELSE t.sy END AS ay,
         CASE WHEN p.seq < t.s_seq THEN t.sx ELSE p.bx END AS bx,
         CASE WHEN p.seq < t.s_seq THEN t.sy ELSE p.bby END AS bby
  FROM s{k} p JOIN t{k} t
    ON t.way_id = p.way_id AND t.lo = p.lo AND t.hi = p.hi
  WHERE p.seq <> t.s_seq)""")
    keeps = ["SELECT way_id, seq, x, y FROM ke"] + [
        f"SELECT way_id, s_seq AS seq, sx AS x, sy AS y FROM t{k}"
        for k in range(1, RDP_UNROLL + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(keeps)


SQL_RDP_SIMPLIFY = _rdp_sql()

QUERIES.update({"rdp_simplify": q_rdp_simplify})
ORACLES.update({"rdp_simplify": SQL_RDP_SIMPLIFY})


# ---------------------------------------------------------------------------
# round-4 depth: kring-smoothed cell density
# ---------------------------------------------------------------------------


def q_cell_density_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-filter density surface at CELL_RES: per populated cell, its
    node count and the kring(1) 3x3-neighborhood sum (wrap x, clamp y
    -- kernels.cells.kring made relational). Constant 9-way explode on
    the already-aggregated cell relation + one algebraic agg."""
    from ophois_spark.operators.spatial import cell_density_smooth, with_cells

    counts = (
        with_cells(derived_nodes(spark, sf_dir), CELL_RES)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = cell_density_smooth(counts, CELL_RES, k=1)
    return out.select(
        "cell",
        F.col("n_pts").cast("long").alias("n_pts"),
        F.col("n_smooth").cast("long").alias("n_smooth"),
    )


def _cell_density_smooth_sql() -> str:
    n = 1 << CELL_RES
    res_shift = 1 << 58
    x_shift = 1 << 29
    return f"""
WITH nodes AS ({_NODES_SQL}),
cc AS (
  SELECT {_cell_sql("lon_d", "lat_d", CELL_RES)} AS cell, COUNT(*) AS n
  FROM nodes GROUP BY 1),
o(dx, dy) AS (VALUES (-1,-1),(0,-1),(1,-1),(-1,0),(0,0),(1,0),(-1,1),(0,1),(1,1)),
ex AS (
  SELECT {CELL_RES} * {res_shift}
         + ((((cell % {res_shift}) // {x_shift} + dx) % {n} + {n}) % {n}) * {x_shift}
         + ((cell % {x_shift}) + dy) AS ncell,
         n
  FROM cc, o
  WHERE (cell % {x_shift}) + dy >= 0 AND (cell % {x_shift}) + dy < {n})
SELECT cc.cell, CAST(cc.n AS BIGINT) AS n_pts, CAST(s.n_smooth AS BIGINT) AS n_smooth
FROM cc JOIN (SELECT ncell AS cell, SUM(n) AS n_smooth FROM ex GROUP BY 1) s
  ON s.cell = cc.cell
"""


SQL_CELL_DENSITY_SMOOTH = _cell_density_smooth_sql()

QUERIES.update({"cell_density_smooth": q_cell_density_smooth})
ORACLES.update({"cell_density_smooth": SQL_CELL_DENSITY_SMOOTH})


# ---------------------------------------------------------------------------
# round-4 depth: funnel analytics + integer token-rarity quality signal
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ["view", "click", "purchase"]


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase, each stage
    anchored at the earliest qualifying occurrence strictly after the
    previous stage's anchor: -> (stage, n_users). Stage relations are
    one row per surviving user, so the per-stage join side shrinks
    monotonically (see operators/temporal.py)."""
    from ophois_spark.operators.temporal import event_funnel

    out = event_funnel(load(spark, sf_dir, "events"), FUNNEL_STEPS)
    return out.select("stage", F.col("n_users").cast("long").alias("n_users"))


SQL_EVENT_FUNNEL = """
WITH s1 AS (
  SELECT user_id AS u, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1),
s2 AS (
  SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
  JOIN s1 ON s1.u = e.user_id AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY 1),
s3 AS (
  SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
  JOIN s2 ON s2.u = e.user_id AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY 1)
SELECT 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
UNION ALL
SELECT 'view > click', CAST(COUNT(*) AS BIGINT) FROM s2
UNION ALL
SELECT 'view > click > purchase', CAST(COUNT(*) AS BIGINT) FROM s3
"""


def q_doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer token-rarity (bit-log IDF) quality mass per document:
    -> (doc_id, n_tokens, surprisal, mean_x1000). flog2 = binary
    length - 1 is exact on every engine, so the idf-shaped signal
    carries no libm float anywhere (see operators/textops.py)."""
    from ophois_spark.operators.textops import doc_surprisal

    out = doc_surprisal(load(spark, sf_dir, "documents"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("surprisal").cast("long").alias("surprisal"),
        F.col("mean_x1000").cast("long").alias("mean_x1000"),
    )


SQL_DOC_SURPRISAL = f"""
WITH toks AS ({_TOKS_SQL}),
ex AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM ex WHERE term <> '' GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT length(bin(COUNT(*))) - 1 AS fl_n FROM documents),
pd AS (
  SELECT tf.doc_id,
         SUM(tf.tf * ((SELECT fl_n FROM nd) - (length(bin(df.df)) - 1))) AS surprisal
  FROM tf JOIN df USING (term) GROUP BY 1),
nt AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS n_tokens
  FROM documents)
SELECT nt.doc_id,
       CAST(nt.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(pd.surprisal, 0) AS BIGINT) AS surprisal,
       CAST(CASE WHEN nt.n_tokens = 0 THEN 0
                 ELSE (1000 * COALESCE(pd.surprisal, 0)) // nt.n_tokens END AS BIGINT)
         AS mean_x1000
FROM nt LEFT JOIN pd ON pd.doc_id = nt.doc_id
"""

QUERIES.update(
    {"event_funnel": q_event_funnel, "doc_surprisal": q_doc_surprisal}
)
ORACLES.update(
    {"event_funnel": SQL_EVENT_FUNNEL, "doc_surprisal": SQL_DOC_SURPRISAL}
)


# ---------------------------------------------------------------------------
# round-4 depth: k-core decomposition (webgraph forensics)
# ---------------------------------------------------------------------------

KCORE_KMAX = 4
# Oracle unroll per k: measured peel depth on the gated overlay is 1
# round at k=1..3 and 4 rounds at k=4 (both gate scales share the
# 500-doc overlay structure); rounds past the fixpoint are exact
# identities (the peeled set is a deterministic function of the
# surviving subgraph). 8 = 4 measured worst case + 100% margin,
# pytest-guarded in tests/test_webgraph_pack.py.
KCORE_UNROLL = 8


def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core decomposition of the undirected page link graph up to
    k=4 -> (doc_id, coreness): parallel Matula-Beck peeling, nested
    across k (each peel starts from the previous survivor subgraph).
    The dense-subgraph / link-farm forensics primitive."""
    from ophois_spark.operators.components import coreness

    nodes, edges = _link_overlay(spark, sf_dir)
    und = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).distinct()
    labels, _rounds = coreness(nodes, und, KCORE_KMAX)
    return labels.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("coreness").cast("long").alias("coreness"),
    )


def _kcore_sql() -> str:
    parts = [
        "n AS MATERIALIZED (SELECT doc_id AS id FROM documents)",
        "c AS (SELECT COUNT(*) AS cnt FROM documents)",
        "j0 AS (SELECT id, unnest(generate_series(1, 1 + (id % 3))) AS j FROM n)",
        """e AS MATERIALIZED (
  SELECT DISTINCT id AS src, (id*31 + 97*j) % (SELECT cnt FROM c) AS dst
  FROM j0 WHERE (id*31 + 97*j) % (SELECT cnt FROM c) <> id)""",
        """ue AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst FROM e)""",
    ]
    finals = []
    for k in range(1, KCORE_KMAX + 1):
        prev = "ue"
        for j in range(1, KCORE_UNROLL + 1):
            parts.append(f"""k{k}d{j} AS (
  SELECT id, COUNT(*) AS d FROM (
    SELECT src AS id FROM {prev} UNION ALL SELECT dst FROM {prev}) GROUP BY id)""")
            parts.append(
                f"k{k}n{j} AS MATERIALIZED (SELECT id FROM k{k}d{j} WHERE d >= {k})"
            )
            parts.append(f"""k{k}e{j} AS MATERIALIZED (
  SELECT src, dst FROM {prev}
  WHERE src IN (SELECT id FROM k{k}n{j})
    AND dst IN (SELECT id FROM k{k}n{j}))""")
            prev = f"k{k}e{j}"
        finals.append(f"SELECT id, {k} AS k FROM k{k}n{KCORE_UNROLL}")
    parts.append("cores AS (" + "\nUNION ALL ".join(finals) + ")")
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT CAST(n.id AS BIGINT) AS doc_id,
       CAST(COALESCE(MAX(cr.k), 0) AS BIGINT) AS coreness
FROM n LEFT JOIN cores cr ON cr.id = n.id
GROUP BY n.id"""
    )


SQL_KCORE_DECOMPOSITION = _kcore_sql()

QUERIES.update({"kcore_decomposition": q_kcore_decomposition})
ORACLES.update({"kcore_decomposition": SQL_KCORE_DECOMPOSITION})


# ---------------------------------------------------------------------------
# round-4 depth: CCNet-style boilerplate line dedup
# ---------------------------------------------------------------------------

LINE_DF_MAX = 3


def _boilerplate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate overlay on documents (same discipline as the dirty-
    URL overlay): each doc becomes four lines — a per-source copyright
    header and a global nav line (site chrome, df = docs-per-source,
    dropped), the original body (kept unless the corpus' planted
    exact-duplicates push its within-source df over the cap), and a
    unique footer (always kept)."""
    d = load(spark, sf_dir, "documents")
    lined = F.concat_ws(
        "\n",
        F.concat(F.lit("copyright "), F.col("source")),
        F.lit("nav home about contact"),
        F.col("text"),
        F.concat(F.lit("doc "), F.col("doc_id").cast("string")),
    )
    return d.select("doc_id", "source", lined.alias("text"))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-source boilerplate line removal over the
    boilerplate overlay -> (doc_id, n_lines, n_kept, cleaned_text);
    the cleaned text is byte-reproducible so the gate compares it
    exactly (see operators/textops.py)."""
    from ophois_spark.operators.textops import line_dedup

    out = line_dedup(_boilerplate_docs(spark, sf_dir), LINE_DF_MAX)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"),
        "cleaned_text",
    )


SQL_LINE_DEDUP = f"""
WITH lined AS (
  SELECT doc_id, source,
         'copyright ' || source || chr(10) ||
         'nav home about contact' || chr(10) ||
         text || chr(10) ||
         'doc ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents),
ls AS (SELECT doc_id, source, string_split(text, chr(10)) AS a FROM lined),
exj AS (SELECT doc_id, source, a, unnest(generate_series(1, len(a))) AS j FROM ls),
ex AS (SELECT doc_id, source, j - 1 AS idx, a[j] AS line FROM exj),
ldf AS (SELECT source, line, COUNT(DISTINCT doc_id) AS ldf
        FROM ex GROUP BY source, line),
kept AS (
  SELECT e.doc_id, e.idx, e.line
  FROM ex e JOIN ldf ON ldf.source = e.source AND ldf.line = e.line
  WHERE ldf.ldf <= {LINE_DF_MAX}),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY idx) AS cleaned_text
  FROM kept GROUP BY doc_id),
nl AS (SELECT doc_id, COUNT(*) AS n_lines FROM ex GROUP BY doc_id)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(nl.n_lines AS BIGINT) AS n_lines,
       CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(agg.cleaned_text, '') AS cleaned_text
FROM documents d
JOIN nl ON nl.doc_id = d.doc_id
LEFT JOIN agg ON agg.doc_id = d.doc_id
"""

QUERIES.update({"line_dedup": q_line_dedup})
ORACLES.update({"line_dedup": SQL_LINE_DEDUP})


# ---------------------------------------------------------------------------
# round-4 depth: slab-bucketed interval containment join
# ---------------------------------------------------------------------------

SPAN_SLAB_US = 600 * 1000000  # 10-minute slabs ~ typical span length


def q_span_contain_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-point containment join per user over events: signup
    events open a span of (event_id % 30 + 1) minutes; click events
    are points; output every (span, click) containment pair -> one
    row per pair (user_id, span_id, click_id, offset_us). Runs as the
    slab-bucketed hash equi-join (NO range join / nested loop --
    plan-asserted in tests), see operators/temporal.py."""
    from ophois_spark.operators.temporal import interval_point_join

    e = load(spark, sf_dir, "events")
    spans = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("span_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.col("event_id") % 30 + 1) * F.lit(60 * 1000000).cast("long")
        ).alias("e_us"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    out = interval_point_join(spans, clicks, "user_id", SPAN_SLAB_US)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("span_id").cast("long").alias("span_id"),
        F.col("click_id").cast("long").alias("click_id"),
        (F.col("t_us") - F.col("s_us")).cast("long").alias("offset_us"),
    )


SQL_SPAN_CONTAIN_JOIN = """
WITH spans AS (
  SELECT user_id, event_id AS span_id,
         epoch_us(ts) AS s_us,
         epoch_us(ts) + (event_id % 30 + 1) * 60000000 AS e_us
  FROM events WHERE event_type = 'signup'),
clicks AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS t_us
  FROM events WHERE event_type = 'click')
SELECT s.user_id, s.span_id, c.click_id,
       CAST(c.t_us - s.s_us AS BIGINT) AS offset_us
FROM spans s JOIN clicks c
  ON c.user_id = s.user_id AND c.t_us >= s.s_us AND c.t_us <= s.e_us
"""

QUERIES.update({"span_contain_join": q_span_contain_join})
ORACLES.update({"span_contain_join": SQL_SPAN_CONTAIN_JOIN})


# ---------------------------------------------------------------------------
# round-4 depth: incremental crawl snapshot diff
# ---------------------------------------------------------------------------

CRAWL_T1_US = (_CRAWL_BASE_EPOCH + 720 * 60) * 1000000  # mid-day cutoff
CRAWL_T2_US = (_CRAWL_BASE_EPOCH + 1440 * 60) * 1000000  # end of log


def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-recrawl diff over the capture-log overlay: per URL,
    did the representative capture change between the mid-day and
    end-of-log snapshots -> (url, status, old_id, new_id). BOTH
    snapshots come out of ONE conditional struct-max aggregation
    (single shuffle; see operators/dedup.py snapshot_delta)."""
    from ophois_spark.operators.dedup import snapshot_delta

    d = load(spark, sf_dir, "documents")
    # minute layout forces all three statuses to occur at gate scale:
    # url group u%10==0 -> all captures in the morning (unchanged at
    # the mid-day cutoff), u%10==1 -> all in the afternoon (added),
    # everything else spread over the day (mostly updated)
    u = F.col("doc_id") % 97
    minute = (
        F.when(u % 10 == 0, (F.col("doc_id") * 37) % 720)
        .when(u % 10 == 1, F.lit(720) + (F.col("doc_id") * 37) % 720)
        .otherwise((F.col("doc_id") * 37) % 1440)
    )
    us = (F.lit(_CRAWL_BASE_EPOCH) + minute * F.lit(60)).cast(
        "long"
    ) * F.lit(1000000).cast("long")
    caps = d.select(
        F.concat(F.lit("doc://"), u.cast("string")).alias("url"),
        us.alias("us"),
        "doc_id",
    )
    out = snapshot_delta(caps, CRAWL_T1_US, CRAWL_T2_US)
    return out.select(
        "url",
        "status",
        F.col("old_id").cast("long").alias("old_id"),
        F.col("new_id").cast("long").alias("new_id"),
    )


SQL_CRAWL_DELTA = f"""
WITH c AS (
  SELECT 'doc://' || CAST(doc_id % 97 AS VARCHAR) AS url,
         CAST(({_CRAWL_BASE_EPOCH} + (CASE
             WHEN (doc_id % 97) % 10 = 0 THEN (doc_id * 37) % 720
             WHEN (doc_id % 97) % 10 = 1 THEN 720 + (doc_id * 37) % 720
             ELSE (doc_id * 37) % 1440 END) * 60) AS BIGINT) * 1000000 AS us,
         doc_id
  FROM documents),
m1 AS (SELECT url, MAX(us) AS ts1 FROM c WHERE us <= {CRAWL_T1_US} GROUP BY url),
r1 AS (
  SELECT m1.url, m1.ts1, MAX(c.doc_id) AS id1
  FROM m1 JOIN c ON c.url = m1.url AND c.us = m1.ts1 GROUP BY m1.url, m1.ts1),
m2 AS (SELECT url, MAX(us) AS ts2 FROM c WHERE us <= {CRAWL_T2_US} GROUP BY url),
r2 AS (
  SELECT m2.url, m2.ts2, MAX(c.doc_id) AS id2
  FROM m2 JOIN c ON c.url = m2.url AND c.us = m2.ts2 GROUP BY m2.url, m2.ts2)
SELECT r2.url,
       CASE WHEN r1.url IS NULL THEN 'added'
            WHEN r1.ts1 = r2.ts2 AND r1.id1 = r2.id2 THEN 'unchanged'
            ELSE 'updated' END AS status,
       CAST(COALESCE(r1.id1, -1) AS BIGINT) AS old_id,
       CAST(r2.id2 AS BIGINT) AS new_id
FROM r2 LEFT JOIN r1 ON r1.url = r2.url
"""

QUERIES.update({"crawl_delta": q_crawl_delta})
ORACLES.update({"crawl_delta": SQL_CRAWL_DELTA})


# ---------------------------------------------------------------------------
# round-4 depth: hierarchical cell compaction
# ---------------------------------------------------------------------------

COMPACT_MIN_RES = 14


def q_cell_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-style compact of the node coverage: the distinct res-18 cell
    set collapses complete 4-sibling groups into parents recursively
    down to res 14 -> (cell). Fixed res-span unroll (never data-
    dependent), so the oracle replays the identical rounds with no
    measured pinning (see operators/spatial.py cell_compact)."""
    from ophois_spark.operators.spatial import cell_compact, with_cells

    cells = with_cells(derived_nodes(spark, sf_dir), CELL_RES).select("cell")
    return cell_compact(cells, CELL_RES, COMPACT_MIN_RES).select(
        F.col("cell").cast("long").alias("cell")
    )


def _cell_compact_sql() -> str:
    rs = 1 << 58
    xs = 1 << 29
    parts = [
        f"nodes AS ({_NODES_SQL})",
        f"""l{CELL_RES} AS MATERIALIZED (
  SELECT DISTINCT {_cell_sql("lon_d", "lat_d", CELL_RES)} AS cell FROM nodes)""",
    ]
    finals = []
    for r in range(CELL_RES, COMPACT_MIN_RES, -1):
        parts.append(f"""g{r} AS (
  SELECT CAST({r - 1} AS BIGINT) * {rs}
         + (((cell % {rs}) // {xs}) // 2) * {xs}
         + ((cell % {xs}) // 2) AS parent,
         cell
  FROM l{r})""")
        parts.append(
            f"f{r} AS MATERIALIZED "
            f"(SELECT parent FROM g{r} GROUP BY parent HAVING COUNT(*) = 4)"
        )
        parts.append(f"""o{r} AS (
  SELECT g.cell FROM g{r} g LEFT JOIN f{r} f ON f.parent = g.parent
  WHERE f.parent IS NULL)""")
        parts.append(
            f"l{r - 1} AS MATERIALIZED (SELECT parent AS cell FROM f{r})"
        )
        finals.append(f"SELECT cell FROM o{r}")
    finals.append(f"SELECT cell FROM l{COMPACT_MIN_RES}")
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(finals)


SQL_CELL_COMPACT = _cell_compact_sql()

QUERIES.update({"cell_compact": q_cell_compact})
ORACLES.update({"cell_compact": SQL_CELL_COMPACT})


# ---------------------------------------------------------------------------
# round-4 depth: gap sessionization (two-level prefix sum)
# ---------------------------------------------------------------------------

SESSION_GAP_US = 43200 * 1000000  # 12 h
SESSION_SLAB_US = 172800 * 1000000  # 48 h slabs: hot keys shard across slabs


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event log -> one row per
    (user, session): id in time order, event count, span. The ordered
    per-user scan is decomposed into a TWO-LEVEL prefix sum over fixed
    time slabs so a bot user cannot serialize onto one task — the
    pack_sequences trap closed for window-lag sessionization (see
    operators/temporal.py sessionize; engine == naive single-window
    twin pinned in tests/test_temporal.py)."""
    from ophois_spark.operators.temporal import sessionize

    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "event_id",
    )
    out = sessionize(e, SESSION_GAP_US, SESSION_SLAB_US)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_id").cast("long").alias("session_id"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("start_us").cast("long").alias("start_us"),
        F.col("end_us").cast("long").alias("end_us"),
    )


SQL_SESSIONIZE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
g AS (
  SELECT user_id, t, event_id,
         lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
  FROM e),
s AS (
  SELECT user_id, t,
         CASE WHEN pt IS NULL OR t - pt > {SESSION_GAP_US} THEN 1 ELSE 0 END AS st,
         event_id
  FROM g),
c AS (
  SELECT user_id, t,
         SUM(st) OVER (PARTITION BY user_id ORDER BY t, event_id
                       ROWS UNBOUNDED PRECEDING) - 1 AS sid
  FROM s)
SELECT user_id, CAST(sid AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       MIN(t) AS start_us, MAX(t) AS end_us
FROM c GROUP BY user_id, sid
"""

QUERIES.update({"sessionize": q_sessionize})
ORACLES.update({"sessionize": SQL_SESSIONIZE})


# ---------------------------------------------------------------------------
# round-4 depth: redirect-chain resolution (pointer doubling)
# ---------------------------------------------------------------------------

REDIRECT_MAX_DEPTH = 16  # crawl-policy cap; chains are <= 15 by construction


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization leg 2: resolve every redirecting URL to its
    terminal target through the 3xx map — pointer doubling, a FIXED
    ceil(log2(depth-cap)) unroll of self equi-joins (the oracle replays
    the identical rounds; see operators/webgraph.py resolve_redirects).
    Overlay: urls in blocks of 16, position p > 0 redirects back by
    min(p, 1 + u%3) — variable-step chains, depth up to 15, terminal at
    each block start."""
    from ophois_spark.operators.webgraph import resolve_redirects

    d = load(spark, sf_dir, "documents")
    edges = d.filter(F.col("doc_id") % 16 != 0).select(
        F.col("doc_id").alias("src"),
        (
            F.col("doc_id")
            - F.least(F.col("doc_id") % 16, F.lit(1) + F.col("doc_id") % 3)
        ).cast("long").alias("dst"),
    )
    out = resolve_redirects(edges, REDIRECT_MAX_DEPTH)
    return out.select(
        F.col("src").cast("long").alias("url"),
        F.col("final").cast("long").alias("final_url"),
        F.col("hops").cast("long").alias("hops"),
    )


def _redirect_sql() -> str:
    rounds = max(1, (REDIRECT_MAX_DEPTH - 1).bit_length())
    parts = [
        """e AS (
  SELECT doc_id AS src,
         doc_id - LEAST(doc_id % 16, 1 + doc_id % 3) AS dst
  FROM documents WHERE doc_id % 16 <> 0)""",
        "r0 AS (SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM e)",
    ]
    for k in range(1, rounds + 1):
        parts.append(f"""r{k} AS MATERIALIZED (
  SELECT a.src, COALESCE(b.dst, a.dst) AS dst,
         a.hops + COALESCE(b.hops, 0) AS hops
  FROM r{k - 1} a LEFT JOIN r{k - 1} b ON b.src = a.dst)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT src AS url, dst AS final_url, hops FROM r{rounds}"
    )


SQL_REDIRECT_RESOLVE = _redirect_sql()

QUERIES.update({"redirect_resolve": q_redirect_resolve})
ORACLES.update({"redirect_resolve": SQL_REDIRECT_RESOLVE})


# ---------------------------------------------------------------------------
# round-4 depth: training-mixture planning (integer waterfill)
# ---------------------------------------------------------------------------


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget acceptance rates toward a target mix —
    operators/corpus.py mixture_plan (two-pass integer waterfill; the
    oracle replays the identical CTE chain). Weights: the synthetic
    sources are srcN, weight = N + 1 (a deliberately non-uniform mix so
    high-weight sources cap at availability and pass 2 redistributes);
    budget = total available tokens (constant-volume reshape)."""
    from ophois_spark.operators.corpus import mixture_plan

    d = load(spark, sf_dir, "documents")
    w = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (
                F.coalesce(
                    F.nullif(F.regexp_extract("source", r"(\d+)$", 1), F.lit("")),
                    F.lit("0"),
                ).cast("long")
                + 1
            ).alias("weight"),
        )
    )
    return mixture_plan(d, w)


SQL_MIXTURE_PLAN = r"""
WITH tc AS (
  SELECT source,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS BIGINT) AS n_tokens
  FROM documents),
avail AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS available_tokens
  FROM tc GROUP BY source),
w AS (
  SELECT source,
         CAST(COALESCE(NULLIF(regexp_extract(source, '(\d+)$', 1), ''), '0') AS BIGINT) + 1 AS weight
  FROM (SELECT DISTINCT source FROM documents)),
d AS (
  SELECT a.source, a.available_tokens, w.weight
  FROM avail a JOIN w USING (source)),
tot AS (
  SELECT CAST(SUM(available_tokens) AS BIGINT) AS tot_avail,
         CAST(SUM(weight) AS BIGINT) AS sum_w
  FROM d),
p1 AS (
  SELECT d.source, d.available_tokens, d.weight,
         tot.tot_avail AS budget,
         (tot.tot_avail * d.weight) // tot.sum_w AS target_tokens
  FROM d, tot),
p1c AS (
  SELECT *, LEAST(target_tokens, available_tokens) AS a1 FROM p1),
tot2 AS (
  SELECT CAST(SUM(a1) AS BIGINT) AS a1_sum,
         CAST(SUM(CASE WHEN available_tokens > a1 THEN weight ELSE 0 END) AS BIGINT) AS sum_w2
  FROM p1c),
p2 AS (
  SELECT p1c.*,
         CASE WHEN available_tokens > a1 AND tot2.sum_w2 > 0
              THEN ((p1c.budget - tot2.a1_sum) * weight) // tot2.sum_w2
              ELSE 0 END AS extra
  FROM p1c, tot2)
SELECT source,
       CAST(weight AS BIGINT) AS weight,
       available_tokens,
       CAST(target_tokens AS BIGINT) AS target_tokens,
       CAST(LEAST(available_tokens, a1 + extra) AS BIGINT) AS planned_tokens,
       CAST(CASE WHEN available_tokens > 0
            THEN (LEAST(available_tokens, a1 + extra) * 1000000) // available_tokens
            ELSE 0 END AS BIGINT) AS rate_ppm
FROM p2
"""

QUERIES.update({"mixture_plan": q_mixture_plan})
ORACLES.update({"mixture_plan": SQL_MIXTURE_PLAN})


# ---------------------------------------------------------------------------
# round-4 depth: PII scrubbing (typed-mask redaction)
# ---------------------------------------------------------------------------


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email / IPv4 / phone redaction with typed masks —
    operators/textops.py pii_scrub (the gate asserts the full redacted
    string via md5+length, not just counts). Overlay: the synthetic
    corpus carries no '@' and no digits, so PII is injected
    deterministically from doc_id (doc_id%4 selects 0/1/2 emails,
    doc_id%3==0 one IP from doc_id-derived octets, doc_id%5==0 one
    +1-555 phone) and the expected counts are exact."""
    from ophois_spark.operators.textops import pii_scrub

    d = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    aug = F.concat(
        F.col("text"),
        F.when(
            i % 4 == 1,
            F.concat(F.lit(" contact user"), s(i), F.lit("@example.com")),
        )
        .when(
            i % 4 == 2,
            F.concat(
                F.lit(" contact a"), s(i), F.lit("@mail.org b"), s(i),
                F.lit("@mail.org"),
            ),
        )
        .otherwise(F.lit("")),
        F.when(
            i % 3 == 0,
            F.concat(
                F.lit(" ip "), s(i % 256), F.lit("."), s((i * 7) % 256),
                F.lit("."), s((i * 13) % 256), F.lit("."), s(1 + i % 254),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 5 == 0,
            F.concat(F.lit(" call +1-555-"), s(1000 + i % 9000)),
        ).otherwise(F.lit("")),
    )
    return pii_scrub(d.select("doc_id", aug.alias("text")))


def _pii_sql() -> str:
    from ophois_spark.operators.textops import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    return rf"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE doc_id % 4
              WHEN 1 THEN ' contact user' || doc_id || '@example.com'
              WHEN 2 THEN ' contact a' || doc_id || '@mail.org b' || doc_id || '@mail.org'
              ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' ip ' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                      || '.' || ((doc_id * 13) % 256) || '.' || (1 + doc_id % 254)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +1-555-' || (1000 + doc_id % 9000)
                 ELSE '' END AS t
  FROM documents),
c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(t, '{PII_IPV4_RE}')) AS BIGINT) AS n_ipv4,
         CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_IPV4_RE}', '<IP>', 'g'),
           '{PII_PHONE_RE}', '<PHONE>', 'g') AS s
  FROM aug)
SELECT doc_id, n_emails, n_ipv4, n_phones,
       n_emails + n_ipv4 + n_phones AS n_pii,
       CAST(len(s) AS BIGINT) AS scrubbed_len,
       md5(s) AS scrubbed_md5
FROM c
"""


SQL_PII_SCRUB = _pii_sql()

QUERIES.update({"pii_scrub": q_pii_scrub})
ORACLES.update({"pii_scrub": SQL_PII_SCRUB})


# ---------------------------------------------------------------------------
# round-4 depth: cohort retention matrix
# ---------------------------------------------------------------------------


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over events — operators/temporal.py
    retention_cohorts: users keyed by first-active epoch day, counted
    per (cohort_day, age_days). All-integer day arithmetic (epoch
    micros div day), so no engine timezone/date semantics in play."""
    from ophois_spark.operators.temporal import retention_cohorts

    return retention_cohorts(load(spark, sf_dir, "events"))


SQL_RETENTION_COHORTS = r"""
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
  FROM events),
f AS (
  SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id)
SELECT f.cohort_day,
       CAST(ud.day - f.cohort_day AS BIGINT) AS age_days,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM ud JOIN f USING (user_id)
GROUP BY 1, 2
"""

QUERIES.update({"retention_cohorts": q_retention_cohorts})
ORACLES.update({"retention_cohorts": SQL_RETENTION_COHORTS})


# ---------------------------------------------------------------------------
# round-4 depth: point-to-edge snapping (map-matching primitive)
# ---------------------------------------------------------------------------

SNAP_RADIUS_M = 25.0
SNAP_GRID_DEG = 0.001
SNAP_K = 2


def q_trace_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS-point → nearest road-segment snapping (k=2, 25 m radius) —
    operators/spatial.py snap_points_to_edges: dilated-bbox grid cover
    makes the cell equi-join a SUPERSET of in-radius pairs, so the
    result is exact and the oracle can brute-force the identical
    planar point-to-segment formula. Overlay: short segments hang off
    each customer node (±2e-4 deg jitter from c_custkey); GPS points
    jitter ±20e-6 deg off order-addressed nodes (every 4th order)."""
    from ophois_spark.operators.spatial import snap_points_to_edges

    c = load(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    alat = F.lit(45.0) + (ck % 200).cast("double") * F.lit(1e-4)
    alon = F.lit(5.0) + ((ck * 7) % 200).cast("double") * F.lit(1e-4)
    segments = c.select(
        ck.cast("long").alias("edge_id"),
        alat.alias("alat"),
        alon.alias("alon"),
        (alat + ((ck * 3) % 5 - 2).cast("double") * F.lit(1e-4)).alias("blat"),
        (alon + ((ck * 11) % 5 - 2).cast("double") * F.lit(1e-4)).alias("blon"),
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0)
    ok, oc = F.col("o_orderkey"), F.col("o_custkey")
    points = o.select(
        ok.cast("long").alias("qid"),
        (
            F.lit(45.0)
            + (oc % 200).cast("double") * F.lit(1e-4)
            + (ok % 21 - 10).cast("double") * F.lit(2e-6)
        ).alias("lat_d"),
        (
            F.lit(5.0)
            + ((oc * 7) % 200).cast("double") * F.lit(1e-4)
            + ((ok * 3) % 21 - 10).cast("double") * F.lit(2e-6)
        ).alias("lon_d"),
    )
    return snap_points_to_edges(
        points, segments, radius_m=SNAP_RADIUS_M, grid_deg=SNAP_GRID_DEG, k=SNAP_K
    )


def _trace_snap_sql() -> str:
    from ophois_spark.operators.spatial import M_PER_DEG

    m = repr(M_PER_DEG)
    return f"""
WITH seg AS (
  SELECT CAST(c_custkey AS BIGINT) AS edge_id,
         45.0 + CAST(c_custkey % 200 AS DOUBLE) * 1e-4 AS alat,
         5.0 + CAST((c_custkey * 7) % 200 AS DOUBLE) * 1e-4 AS alon,
         (45.0 + CAST(c_custkey % 200 AS DOUBLE) * 1e-4)
           + CAST((c_custkey * 3) % 5 - 2 AS DOUBLE) * 1e-4 AS blat,
         (5.0 + CAST((c_custkey * 7) % 200 AS DOUBLE) * 1e-4)
           + CAST((c_custkey * 11) % 5 - 2 AS DOUBLE) * 1e-4 AS blon
  FROM customer),
pts AS (
  SELECT CAST(o_orderkey AS BIGINT) AS qid,
         45.0 + CAST(o_custkey % 200 AS DOUBLE) * 1e-4
              + CAST(o_orderkey % 21 - 10 AS DOUBLE) * 2e-6 AS plat,
         5.0 + CAST((o_custkey * 7) % 200 AS DOUBLE) * 1e-4
             + CAST((o_orderkey * 3) % 21 - 10 AS DOUBLE) * 2e-6 AS plon
  FROM orders WHERE o_orderkey % 4 = 0),
e AS (
  SELECT qid, edge_id,
         (alon - plon) * cos(radians(plat)) * {m} AS ax,
         (alat - plat) * {m} AS ay,
         (blon - plon) * cos(radians(plat)) * {m} AS bxx,
         (blat - plat) * {m} AS byy
  FROM pts CROSS JOIN seg),
f AS (SELECT qid, edge_id, ax, ay, bxx - ax AS dx, byy - ay AS dy FROM e),
g AS (SELECT qid, edge_id, ax, ay, dx, dy,
             dx * dx + dy * dy AS len2, -(ax * dx + ay * dy) AS dot FROM f),
h AS (SELECT qid, edge_id, ax, ay, dx, dy,
             CASE WHEN len2 > 0 THEN greatest(0.0, least(1.0, dot / len2))
                  ELSE 0.0 END AS t FROM g),
i AS (SELECT qid, edge_id, ax + t * dx AS cx, ay + t * dy AS cy FROM h),
d AS (SELECT qid, edge_id, round(sqrt(cx * cx + cy * cy), 6) AS dist_m FROM i),
r AS (SELECT qid, edge_id, dist_m,
             row_number() OVER (PARTITION BY qid ORDER BY dist_m, edge_id) AS rank
      FROM d WHERE dist_m <= {SNAP_RADIUS_M!r})
SELECT qid, CAST(rank AS INT) AS rank, edge_id, dist_m FROM r WHERE rank <= {SNAP_K}
"""


SQL_TRACE_SNAP = _trace_snap_sql()

QUERIES.update({"trace_snap": q_trace_snap})
ORACLES.update({"trace_snap": SQL_TRACE_SNAP})


# ---------------------------------------------------------------------------
# round-4 depth: int8 embedding quantization
# ---------------------------------------------------------------------------


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-abs int8 scalar quantization digest per vector —
    operators/similarity.py quantize_embeddings_int8. Trig-free IEEE
    double arithmetic: the gate is bit-exact, no rounding tolerance."""
    from ophois_spark.operators.similarity import quantize_embeddings_int8

    return quantize_embeddings_int8(load(spark, sf_dir, "embeddings"))


SQL_EMBEDDING_QUANTIZE = r"""
WITH v AS (
  SELECT vec_id, j, CAST(embedding[j] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS j
        FROM embeddings)),
a AS (SELECT j, MAX(abs(x)) AS amax FROM v GROUP BY j),
q AS (
  SELECT vec_id,
         CASE WHEN a.amax > 0
              THEN CAST(floor((x * 127.0) / a.amax + 0.5) AS BIGINT)
              ELSE 0 END AS q
  FROM v JOIN a USING (j))
SELECT vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_dims,
       CAST(SUM(q) AS BIGINT) AS sum_q,
       CAST(SUM(q * q) AS BIGINT) AS sum_q2,
       CAST(MIN(q) AS BIGINT) AS min_q,
       CAST(MAX(q) AS BIGINT) AS max_q
FROM q GROUP BY vec_id
"""

QUERIES.update({"embedding_quantize": q_embedding_quantize})
ORACLES.update({"embedding_quantize": SQL_EMBEDDING_QUANTIZE})


# ---------------------------------------------------------------------------
# round-4 depth: degree assortativity (integer-moment graph metric)
# ---------------------------------------------------------------------------


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman assortativity over the canonical street-graph edges —
    operators/metrics.py degree_assortativity: all aggregation in
    exact int64 moments, ONE final double expression on a 1-row frame
    (mirrored verbatim by the oracle)."""
    from ophois_spark.operators.metrics import degree_assortativity

    return degree_assortativity(derived_edges(spark, sf_dir))


SQL_DEGREE_ASSORTATIVITY = f"""
WITH edges AS ({_EDGES_SQL}),
deg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
  GROUP BY id),
m AS (
  SELECT a.deg AS du, b.deg AS dv
  FROM edges e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
         CAST(SUM(du * dv) AS BIGINT) AS sum_prod,
         CAST(SUM(du + dv) AS BIGINT) AS sum_deg,
         CAST(SUM(du * du + dv * dv) AS BIGINT) AS sum_deg2
  FROM m)
SELECT m_edges, sum_prod, sum_deg, sum_deg2,
       CASE WHEN (2.0 * CAST(m_edges AS DOUBLE) * CAST(sum_deg2 AS DOUBLE)
                  - CAST(sum_deg AS DOUBLE) * CAST(sum_deg AS DOUBLE)) <> 0.0
            THEN (4.0 * CAST(m_edges AS DOUBLE) * CAST(sum_prod AS DOUBLE)
                  - CAST(sum_deg AS DOUBLE) * CAST(sum_deg AS DOUBLE))
                 / (2.0 * CAST(m_edges AS DOUBLE) * CAST(sum_deg2 AS DOUBLE)
                    - CAST(sum_deg AS DOUBLE) * CAST(sum_deg AS DOUBLE))
            END AS assortativity
FROM mom
"""

QUERIES.update({"degree_assortativity": q_degree_assortativity})
ORACLES.update({"degree_assortativity": SQL_DEGREE_ASSORTATIVITY})


# ---------------------------------------------------------------------------
# round-4 depth: KMV distinct-cardinality sketch
# ---------------------------------------------------------------------------


def q_shingle_cardinality_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-shingle cardinality: KMV sketch beside its exact twin
    — operators/dedup.py shingle_cardinality_kmv. The sketch state is
    exact integer min-k, so the gate has no sampling tolerance."""
    from ophois_spark.operators.dedup import shingle_cardinality_kmv

    return shingle_cardinality_kmv(load(spark, sf_dir, "documents"))


def _kmv_sql() -> str:
    from ophois_spark.operators.dedup import KMV_HEX, KMV_K, KMV_SPACE

    num = repr((KMV_K - 1) * KMV_SPACE)
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
hs AS (
  SELECT DISTINCT ('0x' || substr(md5(shingle), 1, {KMV_HEX}))::BIGINT AS h
  FROM sh),
mins AS (SELECT h FROM hs ORDER BY h LIMIT {KMV_K}),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_mins, MAX(h) AS kth_min FROM mins),
x AS (SELECT CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_exact FROM sh)
SELECT CAST({KMV_K} AS BIGINT) AS k, x.n_exact, m.n_mins, m.kth_min,
       CASE WHEN m.n_mins >= {KMV_K}
            THEN {num} / CAST(m.kth_min AS DOUBLE)
            ELSE CAST(x.n_exact AS DOUBLE) END AS est_distinct
FROM m, x
"""


SQL_SHINGLE_CARDINALITY_KMV = _kmv_sql()

QUERIES.update({"shingle_cardinality_kmv": q_shingle_cardinality_kmv})
ORACLES.update({"shingle_cardinality_kmv": SQL_SHINGLE_CARDINALITY_KMV})


# ---------------------------------------------------------------------------
# round-4 depth: grid-density clustering (cell-DBSCAN)
# ---------------------------------------------------------------------------


def q_cell_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-DBSCAN over an order-derived point cloud —
    operators/spatial.py cell_dbscan (3×3 density gate → components
    over 8-adjacent core cells; the oracle replays density in plain
    SQL and the clustering as the same recursive min-label CTE the
    street-graph components use). Overlay: 12 dense blobs on a 3×4
    degree lattice + every-17th-order scatter noise that stays below
    min_pts and must produce NO rows."""
    from ophois_spark.operators.spatial import cell_dbscan

    o = load(spark, sf_dir, "orders")
    ok, oc = F.col("o_orderkey"), F.col("o_custkey")
    noise = ok % 17 == 0
    plat = F.when(
        noise, F.lit(48.0) + (ok % 89).cast("double") * F.lit(0.01)
    ).otherwise(
        F.lit(45.0)
        + (oc % 3).cast("double") * F.lit(1.0)
        + (oc % 200).cast("double") * F.lit(1e-4)
        + (ok % 21 - 10).cast("double") * F.lit(2e-6)
    )
    plon = F.when(
        noise, F.lit(3.0) + ((ok * 13) % 97).cast("double") * F.lit(0.01)
    ).otherwise(
        F.lit(5.0)
        + ((oc * 7) % 4).cast("double") * F.lit(1.0)
        + ((oc * 7) % 200).cast("double") * F.lit(1e-4)
        + ((ok * 3) % 21 - 10).cast("double") * F.lit(2e-6)
    )
    points = o.select(plat.alias("lat_d"), plon.alias("lon_d"))
    return cell_dbscan(points, grid_deg=0.001, min_pts=5)


SQL_CELL_DBSCAN = r"""
WITH RECURSIVE pts AS (
  SELECT CASE WHEN o_orderkey % 17 = 0
              THEN 48.0 + CAST(o_orderkey % 89 AS DOUBLE) * 0.01
              ELSE 45.0 + CAST(o_custkey % 3 AS DOUBLE) * 1.0
                   + CAST(o_custkey % 200 AS DOUBLE) * 1e-4
                   + CAST(o_orderkey % 21 - 10 AS DOUBLE) * 2e-6 END AS plat,
         CASE WHEN o_orderkey % 17 = 0
              THEN 3.0 + CAST((o_orderkey * 13) % 97 AS DOUBLE) * 0.01
              ELSE 5.0 + CAST((o_custkey * 7) % 4 AS DOUBLE) * 1.0
                   + CAST((o_custkey * 7) % 200 AS DOUBLE) * 1e-4
                   + CAST((o_orderkey * 3) % 21 - 10 AS DOUBLE) * 2e-6 END AS plon
  FROM orders),
cells AS (
  SELECT CAST(floor(plon / 0.001) AS INT) AS gx,
         CAST(floor(plat / 0.001) AS INT) AS gy,
         CAST(COUNT(*) AS BIGINT) AS n_points
  FROM pts GROUP BY 1, 2),
nb AS (
  SELECT c.gx + o.dx AS gx, c.gy + o.dy AS gy,
         CAST(SUM(c.n_points) AS BIGINT) AS nbhd_points
  FROM cells c
  CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)
  GROUP BY 1, 2),
core AS (
  SELECT c.gx, c.gy, c.n_points, n.nbhd_points,
         printf('%07d%07d', c.gx + 1000000, c.gy + 1000000) AS key
  FROM cells c JOIN nb n USING (gx, gy) WHERE n.nbhd_points >= 5),
e AS (
  SELECT a.key AS a, b.key AS b FROM core a JOIN core b
  ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
     AND NOT (a.gx = b.gx AND a.gy = b.gy)),
r(id, comp) AS (
  SELECT key, key FROM core
  UNION
  SELECT e.b, r.comp FROM r JOIN e ON r.id = e.a),
labels AS (SELECT id, min(comp) AS comp FROM r GROUP BY id)
SELECT c.gx, c.gy, c.n_points, c.nbhd_points, l.comp AS cluster
FROM core c JOIN labels l ON c.key = l.id
"""

QUERIES.update({"cell_dbscan": q_cell_dbscan})
ORACLES.update({"cell_dbscan": SQL_CELL_DBSCAN})


# ---------------------------------------------------------------------------
# round-4 breadth: spatiotemporal cube, choropleth classing, cell majority
# ---------------------------------------------------------------------------


def q_st_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatiotemporal OLAP cube over events — operators/temporal.py
    st_cube_rollup: one pass emits every (cell, hour, event_type)
    group plus all roll-up margins with an engine-neutral grouping
    bitmask. The reference's metrics files (src/graph.rs order/size)
    are the zero-dimension corner of this cube."""
    from ophois_spark.operators.temporal import st_cube_rollup

    ev = load(spark, sf_dir, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    pts = ev.select(
        (
            F.lit(45.0)
            + (uid % 50).cast("double") * F.lit(0.002)
            + (eid % 21 - 10).cast("double") * F.lit(1e-5)
        ).alias("lat_d"),
        (
            F.lit(5.0)
            + ((uid * 7) % 50).cast("double") * F.lit(0.002)
            + ((eid * 3) % 21 - 10).cast("double") * F.lit(1e-5)
        ).alias("lon_d"),
        "ts",
        "event_type",
        "user_id",
    )
    return st_cube_rollup(pts, 0.002)


SQL_ST_CUBE = r"""
WITH pts AS (
  SELECT 45.0 + CAST(user_id % 50 AS DOUBLE) * 0.002
              + CAST(event_id % 21 - 10 AS DOUBLE) * 0.00001 AS lat_d,
         5.0 + CAST((user_id * 7) % 50 AS DOUBLE) * 0.002
             + CAST((event_id * 3) % 21 - 10 AS DOUBLE) * 0.00001 AS lon_d,
         ts, event_type, user_id
  FROM events),
d AS (
  SELECT CAST(floor(lon_d / 0.002) AS BIGINT) * 1048576
         + CAST(floor(lat_d / 0.002) AS BIGINT) AS cell,
         CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hour,
         event_type, user_id
  FROM pts)
SELECT COALESCE(cell, -4611686018427387904) AS cell,
       COALESCE(hour, -1) AS hour,
       COALESCE(event_type, 'ALL') AS event_type,
       CAST(GROUPING(cell) * 4 + GROUPING(hour) * 2 + GROUPING(event_type) AS INT) AS g,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM d
GROUP BY CUBE(cell, hour, event_type)
"""


def q_choropleth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile choropleth classing of cell densities —
    operators/spatial.py choropleth_classes: class = f(exact rank of
    the density VALUE), so equal-density cells always share a class
    and the global sort touches only the distinct-density histogram."""
    from ophois_spark.operators.spatial import choropleth_classes

    o = load(spark, sf_dir, "orders")
    ok, oc = F.col("o_orderkey"), F.col("o_custkey")
    plat = (
        F.lit(45.0)
        + (oc % 200).cast("double") * F.lit(1e-4)
        + (ok % 21 - 10).cast("double") * F.lit(2e-6)
    )
    plon = (
        F.lit(5.0)
        + ((oc * 7) % 200).cast("double") * F.lit(1e-4)
        + ((ok * 3) % 21 - 10).cast("double") * F.lit(2e-6)
    )
    g = F.lit(0.001)
    counts = (
        o.select(
            F.floor(plon / g).cast("int").alias("gx"),
            F.floor(plat / g).cast("int").alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return choropleth_classes(counts, k=5)


SQL_CHOROPLETH = r"""
WITH pts AS (
  SELECT 45.0 + CAST(o_custkey % 200 AS DOUBLE) * 0.0001
              + CAST(o_orderkey % 21 - 10 AS DOUBLE) * 0.000002 AS plat,
         5.0 + CAST((o_custkey * 7) % 200 AS DOUBLE) * 0.0001
             + CAST((o_orderkey * 3) % 21 - 10 AS DOUBLE) * 0.000002 AS plon
  FROM orders),
counts AS (
  SELECT CAST(floor(plon / 0.001) AS INT) AS gx,
         CAST(floor(plat / 0.001) AS INT) AS gy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY 1, 2),
hist AS (
  SELECT n, COUNT(*) AS cnt FROM counts GROUP BY n),
ranked AS (
  SELECT n, CAST(COALESCE(SUM(cnt) OVER (ORDER BY n
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
  FROM hist),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells FROM counts)
SELECT c.gx, c.gy, c.n,
       CAST((5 * r.below) // t.n_cells AS INT) AS cls
FROM counts c JOIN ranked r USING (n) CROSS JOIN tot t
"""


def q_geo_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority language per map cell over geotagged documents —
    operators/spatial.py cell_majority: per-cell dominant category
    with exact share (one IEEE division of two int64 counts; ranked
    (count DESC, lang DESC) so ties are engine-stable)."""
    from ophois_spark.operators.spatial import cell_majority

    d = load(spark, sf_dir, "documents").select(
        ((F.col("doc_id") * 7) % 8).cast("int").alias("gx"),
        ((F.col("doc_id") * 13) % 8).cast("int").alias("gy"),
        "lang",
    )
    return cell_majority(d, "lang")


SQL_GEO_LANGUAGE_MIX = r"""
WITH d AS (
  SELECT CAST((doc_id * 7) % 8 AS INT) AS gx,
         CAST((doc_id * 13) % 8 AS INT) AS gy,
         lang
  FROM documents),
per_val AS (
  SELECT gx, gy, lang, CAST(COUNT(*) AS BIGINT) AS n_top
  FROM d GROUP BY 1, 2, 3),
tot AS (
  SELECT gx, gy, CAST(SUM(n_top) AS BIGINT) AS n_rows
  FROM per_val GROUP BY 1, 2),
top AS (
  SELECT gx, gy, lang, n_top,
         ROW_NUMBER() OVER (PARTITION BY gx, gy
                            ORDER BY n_top DESC, lang DESC) AS r
  FROM per_val)
SELECT t.gx, t.gy, t.lang AS top, t.n_top, o.n_rows,
       CAST(t.n_top AS DOUBLE) / CAST(o.n_rows AS DOUBLE) AS share
FROM top t JOIN tot o USING (gx, gy) WHERE t.r = 1
"""


QUERIES.update(
    {
        "st_cube": q_st_cube,
        "choropleth": q_choropleth,
        "geo_language_mix": q_geo_language_mix,
    }
)
ORACLES.update(
    {
        "st_cube": SQL_ST_CUBE,
        "choropleth": SQL_CHOROPLETH,
        "geo_language_mix": SQL_GEO_LANGUAGE_MIX,
    }
)


ISO_CUTOFF_M = 1500
ISO_GRID_DEG = 0.001


def q_isochrone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isochrone cell cover — operators/routing.py isochrone_cells:
    the grid cells reachable from the md5-smallest seed set within
    ISO_CUTOFF_M integer metres (bounded min-plus, ROUTE_DIST_HOPS
    rounds), with per-cell reachable-node count and closest approach."""
    from ophois_spark.operators.routing import isochrone_cells

    g = derived_graph(spark, sf_dir)
    return isochrone_cells(
        g,
        _route_seeds(g),
        cutoff_m=ISO_CUTOFF_M,
        grid_deg=ISO_GRID_DEG,
        max_hops=ROUTE_DIST_HOPS,
    )


SQL_ISOCHRONE = f"""
WITH RECURSIVE nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
w AS (
  SELECT e.src, e.dst,
         CAST(floor({_hav_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")}) AS BIGINT) AS w
  FROM edges e JOIN nodes a ON e.src = a.id JOIN nodes b ON e.dst = b.id
),
bi AS (SELECT src AS a, dst AS b, w FROM w UNION ALL SELECT dst, src, w FROM w),
seeds AS (SELECT id FROM nodes ORDER BY md5(id) LIMIT {ROUTE_N_SEEDS}),
r(id, d, h) AS (
  SELECT id, CAST(0 AS BIGINT), 0 FROM seeds
  UNION
  SELECT bi.b, r.d + bi.w, r.h + 1 FROM r JOIN bi ON r.id = bi.a
  WHERE r.h < {ROUTE_DIST_HOPS}
),
dist AS (SELECT id, MIN(d) AS dist_m FROM r GROUP BY id),
reach AS (
  SELECT n.lat_d, n.lon_d, dist.dist_m
  FROM dist JOIN nodes n ON dist.id = n.id
  WHERE dist.dist_m <= {ISO_CUTOFF_M}
)
SELECT CAST(floor(lon_d / {ISO_GRID_DEG}) AS INT) AS gx,
       CAST(floor(lat_d / {ISO_GRID_DEG}) AS INT) AS gy,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       MIN(dist_m) AS min_dist_m
FROM reach GROUP BY 1, 2
"""


def q_geo_lang_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell Simpson language concentration — operators/spatial.py
    cell_simpson: Σ(n_i/n)² with an exact int64 numerator and ONE
    exactly-rounded IEEE division (the diversity metric that gates
    bit-identically cross-engine, unlike ln-based entropy)."""
    from ophois_spark.operators.spatial import cell_simpson

    d = load(spark, sf_dir, "documents").select(
        ((F.col("doc_id") * 7) % 8).cast("int").alias("gx"),
        ((F.col("doc_id") * 13) % 8).cast("int").alias("gy"),
        "lang",
    )
    return cell_simpson(d, "lang")


SQL_GEO_LANG_DIVERSITY = r"""
WITH d AS (
  SELECT CAST((doc_id * 7) % 8 AS INT) AS gx,
         CAST((doc_id * 13) % 8 AS INT) AS gy,
         lang
  FROM documents),
per_val AS (
  SELECT gx, gy, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM d GROUP BY 1, 2, 3)
SELECT gx, gy,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(n * n) AS BIGINT) AS sum_sq,
       CAST(SUM(n * n) AS DOUBLE)
         / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)) AS simpson
FROM per_val GROUP BY 1, 2
"""


QUERIES.update(
    {"isochrone": q_isochrone, "geo_lang_diversity": q_geo_lang_diversity}
)
ORACLES.update(
    {"isochrone": SQL_ISOCHRONE, "geo_lang_diversity": SQL_GEO_LANG_DIVERSITY}
)


# ---------------------------------------------------------------------------
# round-4 breadth: trajectory analytics (trips + OD matrix)
# ---------------------------------------------------------------------------

TRIP_GAP_US = 21_600_000_000  # 6 h — median inter-event gap is ~7 h
TRIP_JUMP_M = 100
TRIP_SLAB_US = 604_800_000_000  # 7-day slabs (~28x the gap)
TRIP_GRID_DEG = 0.001


def _event_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic geotagged event stream: position = per-user home
    cell + per-event jitter large enough that some consecutive steps
    exceed TRIP_JUMP_M (so the spatial cut fires) and some don't."""
    ev = load(spark, sf_dir, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("t_us"),
        (
            F.lit(45.0)
            + (uid % 50).cast("double") * F.lit(0.002)
            + ((eid * 3) % 7).cast("double") * F.lit(2e-4)
        ).alias("lat_d"),
        (
            F.lit(5.0)
            + ((uid * 7) % 50).cast("double") * F.lit(0.002)
            + ((eid * 5) % 7).cast("double") * F.lit(2e-4)
        ).alias("lon_d"),
    )


def q_trip_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trip segmentation — operators/trajectory.py trip_segments: the
    sessionize two-level slab prefix sum extended with a spatial cut
    (slab carry = previous slab's last POINT, so the head row checks
    both the time gap and the distance jump). Exact int64 path sums
    (floored-metre steps, the A3 length discipline)."""
    from ophois_spark.operators.trajectory import trip_segments

    return trip_segments(
        _event_points(spark, sf_dir),
        gap_us=TRIP_GAP_US,
        jump_m=TRIP_JUMP_M,
        slab_us=TRIP_SLAB_US,
        grid_deg=TRIP_GRID_DEG,
    )


def _trip_ctes() -> str:
    hav = _hav_sql("plat", "plon", "lat_d", "lon_d")
    return f"""
p AS (
  SELECT user_id, event_id AS i, epoch_us(ts) AS t,
         45.0 + CAST(user_id % 50 AS DOUBLE) * 0.002
              + CAST((event_id * 3) % 7 AS DOUBLE) * 0.0002 AS lat_d,
         5.0 + CAST((user_id * 7) % 50 AS DOUBLE) * 0.002
             + CAST((event_id * 5) % 7 AS DOUBLE) * 0.0002 AS lon_d
  FROM events),
g AS (
  SELECT *, CAST(floor(lon_d / {TRIP_GRID_DEG!r}) AS INT) AS gx,
            CAST(floor(lat_d / {TRIP_GRID_DEG!r}) AS INT) AS gy
  FROM p),
l AS (
  SELECT *, lag(t) OVER w AS pt,
            lag(lat_d) OVER w AS plat, lag(lon_d) OVER w AS plon
  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY t, i)),
c AS (
  SELECT *,
    CASE WHEN pt IS NULL THEN NULL
         ELSE CAST(floor({hav}) AS BIGINT) END AS step
  FROM l),
c2 AS (
  SELECT *,
    CASE WHEN pt IS NULL OR t - pt > {TRIP_GAP_US}
              OR step > {TRIP_JUMP_M} THEN 1 ELSE 0 END AS cut
  FROM c),
t2 AS (
  SELECT *, SUM(cut) OVER (PARTITION BY user_id ORDER BY t, i
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS trip_id
  FROM c2),
trips AS (
  SELECT user_id, CAST(trip_id AS BIGINT) AS trip_id,
         CAST(COUNT(*) AS BIGINT) AS n_points,
         MIN(t) AS start_us, MAX(t) AS end_us,
         CAST(COALESCE(SUM(CASE WHEN cut = 0 THEN step END), 0) AS BIGINT) AS path_m,
         (MIN({{'t': t, 'i': i, 'gx': gx, 'gy': gy}})).gx AS o_gx,
         (MIN({{'t': t, 'i': i, 'gx': gx, 'gy': gy}})).gy AS o_gy,
         (MAX({{'t': t, 'i': i, 'gx': gx, 'gy': gy}})).gx AS d_gx,
         (MAX({{'t': t, 'i': i, 'gx': gx, 'gy': gy}})).gy AS d_gy
  FROM t2 GROUP BY 1, 2)"""


SQL_TRIP_SEGMENTS = f"""
WITH {_trip_ctes()}
SELECT * FROM trips
"""


def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix over the trip relation —
    operators/trajectory.py od_matrix (one map-side-combinable groupBy
    on the endpoint cells)."""
    from ophois_spark.operators.trajectory import od_matrix, trip_segments

    trips = trip_segments(
        _event_points(spark, sf_dir),
        gap_us=TRIP_GAP_US,
        jump_m=TRIP_JUMP_M,
        slab_us=TRIP_SLAB_US,
        grid_deg=TRIP_GRID_DEG,
    )
    return od_matrix(trips)


SQL_OD_MATRIX = f"""
WITH {_trip_ctes()}
SELECT o_gx, o_gy, d_gx, d_gy,
       CAST(COUNT(*) AS BIGINT) AS n_trips,
       CAST(SUM(path_m) AS BIGINT) AS total_path_m
FROM trips GROUP BY 1, 2, 3, 4
"""


QUERIES.update({"trip_segments": q_trip_segments, "od_matrix": q_od_matrix})
ORACLES.update({"trip_segments": SQL_TRIP_SEGMENTS, "od_matrix": SQL_OD_MATRIX})


def q_polygon_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ring metrics over the admin-boundary table —
    operators/spatial.py polygon_metrics: nanodegree-quantized integer
    shoelace (min-vertex offset keeps products far from int64
    overflow), winding sign, and floored-haversine perimeter."""
    from ophois_spark.operators.spatial import polygon_metrics

    rows = []
    for pid, xs, ys in PIP_POLYGONS:
        rows += [(pid, i, xs[i], ys[i]) for i in range(len(xs))]
    verts = spark.createDataFrame(
        rows, "poly_id string, idx int, x double, y double"
    )
    return polygon_metrics(verts)


def _polygon_metrics_sql() -> str:
    hav = _hav_sql("y1", "x1", "y2", "x2")
    rows = []
    for pid, xs, ys in PIP_POLYGONS:
        nv = len(xs)
        for i in range(nv):
            x1, y1 = xs[i], ys[i]
            x2, y2 = xs[(i + 1) % nv], ys[(i + 1) % nv]
            rows.append(
                f"('{pid}', CAST('{x1!r}' AS DOUBLE), CAST('{y1!r}' AS DOUBLE),"
                f" CAST('{x2!r}' AS DOUBLE), CAST('{y2!r}' AS DOUBLE))"
            )
    vals = ",\n    ".join(rows)
    return f"""
WITH poly(poly_id, x1, y1, x2, y2) AS (VALUES {vals}),
q AS (
  SELECT poly_id, x1, y1, x2, y2,
         CAST(floor(x1 * 1000000000.0) AS BIGINT) AS qx1,
         CAST(floor(y1 * 1000000000.0) AS BIGINT) AS qy1,
         CAST(floor(x2 * 1000000000.0) AS BIGINT) AS qx2,
         CAST(floor(y2 * 1000000000.0) AS BIGINT) AS qy2
  FROM poly),
m AS (SELECT poly_id, MIN(qx1) AS mx, MIN(qy1) AS my FROM q GROUP BY poly_id),
agg AS (
  SELECT q.poly_id,
         CAST(COUNT(*) AS BIGINT) AS n_vertices,
         CAST(SUM((qx1 - mx) * (qy2 - my) - (qx2 - mx) * (qy1 - my)) AS BIGINT) AS s,
         CAST(SUM(CAST(floor({hav}) AS BIGINT)) AS BIGINT) AS perimeter_m
  FROM q JOIN m USING (poly_id) GROUP BY q.poly_id)
SELECT poly_id, n_vertices,
       CAST(ABS(s) AS BIGINT) AS area2_q,
       CAST(CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END AS INT) AS orientation,
       perimeter_m
FROM agg
"""


SQL_POLYGON_METRICS = _polygon_metrics_sql()

QUERIES.update({"polygon_metrics": q_polygon_metrics})
ORACLES.update({"polygon_metrics": SQL_POLYGON_METRICS})


def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell detection between consecutive trips —
    operators/trajectory.py stay_points: where a user's previous trip
    ended in the cell the next one departs from, emit the dwell
    (arrive/depart/duration), gated at TRIP_GAP_US so only real stops
    count. One lead window over the trip relation."""
    from ophois_spark.operators.trajectory import stay_points, trip_segments

    trips = trip_segments(
        _event_points(spark, sf_dir),
        gap_us=TRIP_GAP_US,
        jump_m=TRIP_JUMP_M,
        slab_us=TRIP_SLAB_US,
        grid_deg=TRIP_GRID_DEG,
    )
    return stay_points(trips, min_dwell_us=TRIP_GAP_US)


SQL_STAY_POINTS = f"""
WITH {_trip_ctes()},
led AS (
  SELECT user_id, trip_id, end_us, d_gx, d_gy,
         lead(start_us) OVER w AS n_start,
         lead(o_gx) OVER w AS n_ogx,
         lead(o_gy) OVER w AS n_ogy
  FROM trips WINDOW w AS (PARTITION BY user_id ORDER BY trip_id))
SELECT user_id, d_gx AS gx, d_gy AS gy,
       end_us AS arrive_us, n_start AS depart_us,
       n_start - end_us AS dwell_us
FROM led
WHERE n_start IS NOT NULL AND n_ogx = d_gx AND n_ogy = d_gy
  AND n_start - end_us >= {TRIP_GAP_US}
"""

QUERIES.update({"stay_points": q_stay_points})
ORACLES.update({"stay_points": SQL_STAY_POINTS})


def q_place_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Popular-places rollup over detected stays —
    operators/trajectory.py place_popularity (visits, distinct
    visitors, total dwell per cell)."""
    from ophois_spark.operators.trajectory import (
        place_popularity,
        stay_points,
        trip_segments,
    )

    trips = trip_segments(
        _event_points(spark, sf_dir),
        gap_us=TRIP_GAP_US,
        jump_m=TRIP_JUMP_M,
        slab_us=TRIP_SLAB_US,
        grid_deg=TRIP_GRID_DEG,
    )
    return place_popularity(stay_points(trips, min_dwell_us=TRIP_GAP_US))


SQL_PLACE_POPULARITY = f"""
WITH {_trip_ctes()},
led AS (
  SELECT user_id, trip_id, end_us, d_gx, d_gy,
         lead(start_us) OVER w AS n_start,
         lead(o_gx) OVER w AS n_ogx,
         lead(o_gy) OVER w AS n_ogy
  FROM trips WINDOW w AS (PARTITION BY user_id ORDER BY trip_id)),
stays AS (
  SELECT user_id, d_gx AS gx, d_gy AS gy, n_start - end_us AS dwell_us
  FROM led
  WHERE n_start IS NOT NULL AND n_ogx = d_gx AND n_ogy = d_gy
    AND n_start - end_us >= {TRIP_GAP_US})
SELECT gx, gy,
       CAST(COUNT(*) AS BIGINT) AS n_visits,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_visitors,
       CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us
FROM stays GROUP BY 1, 2
"""

QUERIES.update({"place_popularity": q_place_popularity})
ORACLES.update({"place_popularity": SQL_PLACE_POPULARITY})


# ---------------------------------------------------------------------------
# round-4: asymmetric containment dedup (doc-inside-doc)
# ---------------------------------------------------------------------------


def q_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment C = |A∩B|/|A| (A = smaller shingle set) over
    the gated LSH candidate pairs — flags quote/boilerplate inclusion
    that symmetric Jaccard scores near zero."""
    from ophois_spark.operators.dedup import containment_pairs

    return containment_pairs(load(spark, sf_dir, "documents"))


def _containment_sql() -> str:
    from ophois_spark.operators.dedup import CONTAINMENT_MIN

    return f"""
WITH sh AS ({_SHINGLES_SQL}),
{_lsh_pair_ctes("sh")},
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS i
  FROM mh_pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
scored AS (
  SELECT CASE WHEN sa.n <= sb.n THEN doc_a ELSE doc_b END AS doc_contained,
         CASE WHEN sa.n <= sb.n THEN doc_b ELSE doc_a END AS doc_container,
         CAST(i AS BIGINT) AS inter,
         CAST(least(sa.n, sb.n) AS BIGINT) AS n_contained,
         CAST(i AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) AS containment
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)
SELECT * FROM scored WHERE containment >= {CONTAINMENT_MIN}
"""


SQL_MINHASH_CONTAINMENT = _containment_sql()

QUERIES.update({"minhash_containment": q_minhash_containment})
ORACLES.update({"minhash_containment": SQL_MINHASH_CONTAINMENT})


# ---------------------------------------------------------------------------
# round-4: per-doc tf-idf keyword digest
# ---------------------------------------------------------------------------


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per document by smoothed tf-idf — the keyword digest
    leg of the corpus card, composing the gated doc_postings lineage
    under the bm25 float discipline."""
    from ophois_spark.operators.textops import tfidf_topterms

    return tfidf_topterms(load(spark, sf_dir, "documents"))


def _tfidf_sql() -> str:
    from ophois_spark.operators.textops import TFIDF_TOP_K

    return f"""
WITH p AS ({SQL_DOC_POSTINGS}),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT p.doc_id, p.term,
         round(CAST(p.tf AS DOUBLE)
               * round(ln((CAST(n.n_docs AS DOUBLE) + 1.0)
                          / (CAST(p.df AS DOUBLE) + 1.0)) + 1.0, 9), 6) AS score
  FROM p CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rank AS INT) AS rank, term, score
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


SQL_TFIDF_TOPTERMS = _tfidf_sql()

QUERIES.update({"tfidf_topterms": q_tfidf_topterms})
ORACLES.update({"tfidf_topterms": SQL_TFIDF_TOPTERMS})


# ---------------------------------------------------------------------------
# round-4: exact distributed convex hull
# ---------------------------------------------------------------------------

HULL_N_POINTS = 256  # deterministic md5-smallest subset (keeps the O(n^3)
HULL_MOD = 2039      # edge-definition oracle tractable at every sf)


def _hull_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer-lattice points from customer: two coprime
    multiplicative scatters mod a prime, over the HULL_N_POINTS
    md5-smallest keys (scale-independent subset, no ties possible on
    md5 of distinct keys). All-integer, so every hull cross product is
    exact on both engines."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"),
        F.md5(F.col("c_custkey").cast("string")).alias("m"),
    )
    sub = c.orderBy("m").limit(HULL_N_POINTS)
    return sub.select(
        ((F.col("k") * 48271) % HULL_MOD).alias("gx"),
        ((F.col("k") * 16807) % HULL_MOD).alias("gy"),
    )


def q_hull_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact convex hull: per-partition monotone chain →
    merge (hull-of-hulls), CCW vertex sequence from the lexicographic
    minimum. Gated against the O(n^3) directed-hull-edge definition +
    a recursive-CTE boundary walk."""
    from ophois_spark.operators.spatial import convex_hull

    return convex_hull(_hull_points(spark, sf_dir))


SQL_HULL_POINTS = f"""
WITH RECURSIVE sub AS (
  SELECT c_custkey AS k FROM customer
  ORDER BY md5(CAST(c_custkey AS VARCHAR)) LIMIT {HULL_N_POINTS}),
v AS (SELECT DISTINCT (k * 48271) % {HULL_MOD} AS gx, (k * 16807) % {HULL_MOD} AS gy FROM sub),
-- directed hull edge a->b (interior strictly left): no point is strictly
-- right of a->b, and any collinear point lies strictly between a and b
-- (so collinear boundary midpoints are excluded as vertices: the edge
-- that SKIPS them qualifies, the edges that end on them do not).
edges AS (
  SELECT a.gx AS ax, a.gy AS ay, b.gx AS bx, b.gy AS by
  FROM v a JOIN v b ON NOT (a.gx = b.gx AND a.gy = b.gy)
  WHERE NOT EXISTS (
    SELECT 1 FROM v p
    WHERE NOT (p.gx = a.gx AND p.gy = a.gy)
      AND NOT (p.gx = b.gx AND p.gy = b.gy)
      AND ((b.gx - a.gx) * (p.gy - a.gy) - (b.gy - a.gy) * (p.gx - a.gx) < 0
           OR ((b.gx - a.gx) * (p.gy - a.gy) - (b.gy - a.gy) * (p.gx - a.gx) = 0
               AND NOT (p.gx BETWEEN least(a.gx, b.gx) AND greatest(a.gx, b.gx)
                        AND p.gy BETWEEN least(a.gy, b.gy) AND greatest(a.gy, b.gy)))))),
start AS (SELECT gx, gy FROM v ORDER BY gx, gy LIMIT 1),
walk(seq, x, y) AS (
  SELECT 0, gx, gy FROM start
  UNION ALL
  SELECT w.seq + 1, e.bx, e.by
  FROM walk w JOIN edges e ON e.ax = w.x AND e.ay = w.y
  WHERE NOT (e.bx = (SELECT gx FROM start) AND e.by = (SELECT gy FROM start)))
SELECT CAST(seq AS INT) AS seq, CAST(x AS BIGINT) AS gx, CAST(y AS BIGINT) AS gy FROM walk
"""

QUERIES.update({"hull_points": q_hull_points})
ORACLES.update({"hull_points": SQL_HULL_POINTS})


# ---------------------------------------------------------------------------
# round-4: stays x admin-boundary composition
# ---------------------------------------------------------------------------


def q_stays_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell rollup per admin polygon: the gated stay-detection lineage
    (trip_segments → stay_points) joined against the gated PIP
    admin-boundary clipping through each stay cell's center point —
    visits, distinct visitors and total dwell per region. Three gated
    operators composed in ONE plan; the PIP join stays ONE cell-keyed
    equi join (never per-polygon scans), and the final rollup moves
    ~|polygons| rows."""
    from ophois_spark.operators.spatial import pip_join
    from ophois_spark.operators.trajectory import stay_points, trip_segments

    trips = trip_segments(
        _event_points(spark, sf_dir),
        gap_us=TRIP_GAP_US,
        jump_m=TRIP_JUMP_M,
        slab_us=TRIP_SLAB_US,
        grid_deg=TRIP_GRID_DEG,
    )
    stays = stay_points(trips, min_dwell_us=TRIP_GAP_US)
    half = F.lit(0.5)
    grid = F.lit(TRIP_GRID_DEG)
    pts = stays.select(
        "user_id",
        "dwell_us",
        ((F.col("gy").cast("double") + half) * grid).alias("lat_d"),
        ((F.col("gx").cast("double") + half) * grid).alias("lon_d"),
    )
    polys = spark.createDataFrame(
        PIP_POLYGONS, "poly_id string, xs array<double>, ys array<double>"
    )
    j = pip_join(pts, polys, res=CELL_RES)
    return j.groupBy("poly_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_stays"),
        F.countDistinct("user_id").cast("long").alias("n_visitors"),
        F.sum("dwell_us").cast("long").alias("total_dwell_us"),
    )


def _stays_by_region_sql() -> str:
    rows = []
    for pid, xs, ys in PIP_POLYGONS:
        nv = len(xs)
        for i in range(nv):
            x1, y1 = xs[i], ys[i]
            x2, y2 = xs[(i + 1) % nv], ys[(i + 1) % nv]
            rows.append(
                f"('{pid}', CAST('{x1!r}' AS DOUBLE), CAST('{y1!r}' AS DOUBLE),"
                f" CAST('{x2!r}' AS DOUBLE), CAST('{y2!r}' AS DOUBLE))"
            )
    vals = ",\n    ".join(rows)
    return f"""
WITH {_trip_ctes()},
led AS (
  SELECT user_id, trip_id, end_us, d_gx, d_gy,
         lead(start_us) OVER w AS n_start,
         lead(o_gx) OVER w AS n_ogx,
         lead(o_gy) OVER w AS n_ogy
  FROM trips WINDOW w AS (PARTITION BY user_id ORDER BY trip_id)),
stays AS (
  SELECT user_id, end_us AS arrive_us, n_start - end_us AS dwell_us,
         (CAST(d_gy AS DOUBLE) + 0.5) * CAST('{TRIP_GRID_DEG!r}' AS DOUBLE) AS lat_d,
         (CAST(d_gx AS DOUBLE) + 0.5) * CAST('{TRIP_GRID_DEG!r}' AS DOUBLE) AS lon_d
  FROM led
  WHERE n_start IS NOT NULL AND n_ogx = d_gx AND n_ogy = d_gy
    AND n_start - end_us >= {TRIP_GAP_US}),
poly(poly_id, x1, y1, x2, y2) AS (VALUES {vals}),
bbox AS (
  SELECT poly_id,
         MIN(LEAST(x1, x2)) AS xmin, MAX(GREATEST(x1, x2)) AS xmax,
         MIN(LEAST(y1, y2)) AS ymin, MAX(GREATEST(y1, y2)) AS ymax
  FROM poly GROUP BY poly_id),
cand AS (
  SELECT s.user_id, s.arrive_us, s.dwell_us, s.lon_d, s.lat_d, b.poly_id
  FROM stays s JOIN bbox b
    ON s.lon_d >= b.xmin AND s.lon_d <= b.xmax
   AND s.lat_d >= b.ymin AND s.lat_d <= b.ymax),
hits AS (
  SELECT c.user_id, c.arrive_us, c.dwell_us, c.poly_id,
         SUM(CASE WHEN ((p.y1 > c.lat_d) <> (p.y2 > c.lat_d))
                   AND (c.lon_d < (p.x2 - p.x1) * (c.lat_d - p.y1) / (p.y2 - p.y1) + p.x1)
             THEN 1 ELSE 0 END) AS crossings
  FROM cand c JOIN poly p ON p.poly_id = c.poly_id
  GROUP BY 1, 2, 3, 4)
SELECT poly_id,
       CAST(COUNT(*) AS BIGINT) AS n_stays,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_visitors,
       CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us
FROM hits WHERE crossings % 2 = 1
GROUP BY poly_id
"""


SQL_STAYS_BY_REGION = _stays_by_region_sql()

QUERIES.update({"stays_by_region": q_stays_by_region})
ORACLES.update({"stays_by_region": SQL_STAYS_BY_REGION})


# ---------------------------------------------------------------------------
# round-4 flagship: distributed BPE tokenizer training
# ---------------------------------------------------------------------------


@session_memo()
def _trained_merges(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str]]:
    """Session memo — bpe_merges and bpe_token_counts both consume the
    trained table; without the memo each replays the 12-round driver
    loop."""
    from ophois_spark.operators.bpe import BPE_MERGES, bpe_train

    return bpe_train(load(spark, sf_dir, "documents"), n_merges=BPE_MERGES)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained BPE merge table (rank, left, right) — learned by the
    distributed loop in operators/bpe.py (one corpus pass to word
    counts, then vocabulary-sized pair-count rounds). The oracle
    re-learns the SAME merges independently: per round, pair counts +
    argmax + the greedy leftmost-first merge restated as a
    gaps-and-islands parity rule over exploded symbol positions —
    fully unrolled to BPE_MERGES rounds of CTEs."""
    merges = _trained_merges(spark, sf_dir)
    return spark.createDataFrame(
        [(int(r), l, rr) for r, l, rr in merges], "rank int, left string, right string"
    )


def _bpe_round_ctes(r: int) -> str:
    """One BPE round: positions → pair counts → argmax → greedy merge.

    Greedy-as-parity: the engine's fold merges leftmost-first, which on
    a maximal RUN of consecutive qualifying positions (only possible
    when left == right, e.g. (a,a) on 'aaaa') merges offsets 0, 2, 4…
    of the run — i.e. even offsets. Non-run positions are their own
    runs (offset 0, always merged)."""
    return f"""
pos{r} AS MATERIALIZED (
  SELECT wid, n, CAST(t.i AS INT) AS i, sym[t.i] AS s, sym[t.i + 1] AS s2
  FROM words{r}, unnest(generate_series(1, len(sym))) AS t(i)),
pc{r} AS (
  SELECT s AS l, s2 AS r2, SUM(n) AS c FROM pos{r} WHERE s2 IS NOT NULL GROUP BY 1, 2),
best{r} AS MATERIALIZED (SELECT l, r2 FROM pc{r} ORDER BY c DESC, l, r2 LIMIT 1),
q{r} AS (
  SELECT wid, n, i, s,
         (s = (SELECT l FROM best{r}) AND s2 = (SELECT r2 FROM best{r})) AS q
  FROM pos{r}),
runs{r} AS (
  SELECT wid, n, i, s, q,
         CASE WHEN q THEN i - ROW_NUMBER() OVER
           (PARTITION BY wid, q ORDER BY i) END AS grp
  FROM q{r}),
m{r} AS MATERIALIZED (
  SELECT wid, i FROM (
    SELECT wid, i,
           ROW_NUMBER() OVER (PARTITION BY wid, grp ORDER BY i) - 1 AS off
    FROM runs{r} WHERE q)
  WHERE off % 2 = 0),
tok{r} AS (
  SELECT p.wid, p.n, p.i,
         CASE WHEN m.i IS NOT NULL
              THEN (SELECT l || r2 FROM best{r}) ELSE p.s END AS tk,
         (m2.i IS NOT NULL) AS dropped
  FROM pos{r} p
  LEFT JOIN m{r} m ON m.wid = p.wid AND m.i = p.i
  LEFT JOIN m{r} m2 ON m2.wid = p.wid AND m2.i = p.i - 1),
words{r + 1} AS MATERIALIZED (
  SELECT wid, n, list(tk ORDER BY i) AS sym
  FROM tok{r} WHERE NOT dropped GROUP BY wid, n)"""


def _bpe_merges_sql() -> str:
    from ophois_spark.operators.bpe import BPE_MERGES, EOW

    rounds = "".join("," + _bpe_round_ctes(r) for r in range(BPE_MERGES))
    finals = "\nUNION ALL\n".join(
        f'SELECT {r} AS "rank", (SELECT l FROM best{r}) AS "left",'
        f' (SELECT r2 FROM best{r}) AS "right"' for r in range(BPE_MERGES)
    )
    return f"""
WITH toks AS ({_TOKS_SQL}),
wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(t) AS word FROM toks) WHERE word <> '' GROUP BY word),
words0 AS (
  SELECT word AS wid, n, list_append(string_split(word, ''), '{EOW}') AS sym
  FROM wc)
{rounds}
SELECT CAST("rank" AS INT) AS "rank", "left", "right" FROM ({finals}) AS u
"""


SQL_BPE_MERGES = _bpe_merges_sql()

QUERIES.update({"bpe_merges": q_bpe_merges})
ORACLES.update({"bpe_merges": SQL_BPE_MERGES})


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE token count under the trained merge table — the
    packing/pricing quantity. Trains (gated by bpe_merges), then
    applies the merge chain once per DISTINCT word and equi-joins the
    lengths back to occurrences."""
    from ophois_spark.operators.bpe import bpe_apply

    docs = load(spark, sf_dir, "documents")
    return bpe_apply(docs, _trained_merges(spark, sf_dir))


def _bpe_token_counts_sql() -> str:
    from ophois_spark.operators.bpe import BPE_MERGES, EOW

    rounds = "".join("," + _bpe_round_ctes(r) for r in range(BPE_MERGES))
    return f"""
WITH toks AS MATERIALIZED ({_TOKS_SQL}),
wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(t) AS word FROM toks) WHERE word <> '' GROUP BY word),
words0 AS (
  SELECT word AS wid, n, list_append(string_split(word, ''), '{EOW}') AS sym
  FROM wc)
{rounds},
wl AS (SELECT wid, len(sym) AS k FROM words{BPE_MERGES}),
dw AS (SELECT doc_id, unnest(t) AS word FROM toks)
SELECT CAST(dw.doc_id AS BIGINT) AS doc_id,
       CAST(SUM(wl.k) AS BIGINT) AS n_bpe_tokens
FROM dw JOIN wl ON dw.word = wl.wid
GROUP BY dw.doc_id
"""


SQL_BPE_TOKEN_COUNTS = _bpe_token_counts_sql()

QUERIES.update({"bpe_token_counts": q_bpe_token_counts})
ORACLES.update({"bpe_token_counts": SQL_BPE_TOKEN_COUNTS})


# ---------------------------------------------------------------------------
# round-4: character-level near-identity verification
# ---------------------------------------------------------------------------


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein <= EDIT_MAX over the gated SimHash candidate pairs —
    thresholded banded DP engine-side, full DP + filter oracle-side
    (identical surviving pairs/distances either way)."""
    from ophois_spark.operators.dedup import edit_distance_pairs

    return edit_distance_pairs(load(spark, sf_dir, "documents"))


def _edit_distance_sql() -> str:
    from ophois_spark.operators.dedup import EDIT_MAX

    return f"""
WITH p AS ({SQL_SIMHASH_HAMMING}),
t AS (SELECT doc_id, text FROM documents)
SELECT CAST(p.doc_a AS BIGINT) AS doc_a, CAST(p.doc_b AS BIGINT) AS doc_b,
       CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
FROM p JOIN t a ON a.doc_id = p.doc_a JOIN t b ON b.doc_id = p.doc_b
WHERE levenshtein(a.text, b.text) <= {EDIT_MAX}
"""


SQL_EDIT_DISTANCE_PAIRS = _edit_distance_sql()

QUERIES.update({"edit_distance_pairs": q_edit_distance_pairs})
ORACLES.update({"edit_distance_pairs": SQL_EDIT_DISTANCE_PAIRS})


# ---------------------------------------------------------------------------
# round-4: robots-style crawl-policy filtering
# ---------------------------------------------------------------------------


def _make_robots_rules() -> list[tuple[str, str, int]]:
    """Deterministic per-host rule table over the 40 synthetic hosts:
    every host allows "/", selected hosts block /admin, /p (with a
    longest-prefix /p/1 override) and /static — so the gate exercises
    the default, the block, and the override on every run."""
    rules = []
    for h in range(40):
        host = f"example{h}.com"
        rules.append((host, "/", 1))
        if h % 3 == 0:
            rules.append((host, "/admin", 0))
        if h % 4 == 0:
            rules.append((host, "/p", 0))
            rules.append((host, "/p/1", 1))
        if h % 5 == 0:
            rules.append((host, "/static", 0))
    return rules


ROBOTS_RULES = _make_robots_rules()


def _robots_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    h = (F.col("doc_id") % 40).cast("string")
    v = F.expr("(doc_id div 40) % 5")
    path = (
        F.when(v == 0, F.lit("/"))
        .when(v == 1, F.concat(F.lit("/p/"), (F.col("doc_id") % 8).cast("string")))
        .when(v == 2, F.concat(F.lit("/admin/x"), (F.col("doc_id") % 3).cast("string")))
        .when(v == 3, F.concat(F.lit("/static/css/"), (F.col("doc_id") % 2).cast("string")))
        .otherwise(F.lit("/p/1/edit"))
    )
    return d.select(
        "doc_id",
        F.concat(F.lit("example"), h, F.lit(".com")).alias("host"),
        path.alias("path"),
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix-match robots policy over synthesized per-host
    paths: one host-keyed equi join + max_by on prefix length, default
    allow when no rule matches."""
    from ophois_spark.operators.urls import robots_filter

    rules = spark.createDataFrame(ROBOTS_RULES, "host string, prefix string, allow int")
    return robots_filter(_robots_urls(spark, sf_dir), rules)


def _robots_filter_sql() -> str:
    vals = ",\n    ".join(f"('{h}', '{p}', {a})" for h, p, a in ROBOTS_RULES)
    return f"""
WITH u AS (
  SELECT doc_id,
         'example' || CAST(doc_id % 40 AS VARCHAR) || '.com' AS host,
         CASE (doc_id // 40) % 5
           WHEN 0 THEN '/'
           WHEN 1 THEN '/p/' || CAST(doc_id % 8 AS VARCHAR)
           WHEN 2 THEN '/admin/x' || CAST(doc_id % 3 AS VARCHAR)
           WHEN 3 THEN '/static/css/' || CAST(doc_id % 2 AS VARCHAR)
           ELSE '/p/1/edit' END AS path
  FROM documents),
rules(host, prefix, allow) AS (VALUES {vals}),
m AS (
  SELECT u.doc_id, u.host, u.path, r.prefix, r.allow
  FROM u LEFT JOIN rules r
    ON u.host = r.host AND starts_with(u.path, r.prefix)),
best AS (
  SELECT doc_id, host, path,
         arg_max(prefix, length(prefix)) AS rule_prefix,
         arg_max(allow, length(prefix)) AS a
  FROM m GROUP BY 1, 2, 3)
SELECT CAST(doc_id AS BIGINT) AS doc_id, host, path, rule_prefix,
       CAST(COALESCE(a, 1) AS INT) AS allowed
FROM best
"""


SQL_ROBOTS_FILTER = _robots_filter_sql()

QUERIES.update({"robots_filter": q_robots_filter})
ORACLES.update({"robots_filter": SQL_ROBOTS_FILTER})


# ---------------------------------------------------------------------------
# round-4: kNN label-vote classification probe
# ---------------------------------------------------------------------------


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote kNN classification over the embedding space for
    the md5-free deterministic query subset (vec_id % 50 = 0) — the
    label-coherence probe of a labeled corpus."""
    from ophois_spark.operators.similarity import KNN_VOTE_K, knn_label_vote

    emb = load(spark, sf_dir, "embeddings")
    return knn_label_vote(emb, emb.filter(F.col("vec_id") % 50 == 0), k=KNN_VOTE_K)


def _knn_label_vote_sql() -> str:
    from ophois_spark.operators.similarity import KNN_VOTE_K

    return f"""
WITH q AS (SELECT vec_id AS qid, CAST(label AS INT) AS true_label,
                  embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 50 = 0),
c AS (
  SELECT q.qid, q.true_label, CAST(e.label AS INT) AS label, e.vec_id,
         round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.qid),
r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      FROM c),
votes AS (
  SELECT qid, true_label, label, CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM r WHERE rnk <= {KNN_VOTE_K} GROUP BY 1, 2, 3),
best AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, label) AS vr
         FROM votes)
SELECT qid, true_label, label AS pred_label, n_votes FROM best WHERE vr = 1
"""


SQL_KNN_LABEL_VOTE = _knn_label_vote_sql()

QUERIES.update({"knn_label_vote": q_knn_label_vote})
ORACLES.update({"knn_label_vote": SQL_KNN_LABEL_VOTE})


# ---------------------------------------------------------------------------
# round-4: incremental tile invalidation (snapshot delta -> dirty tiles)
# ---------------------------------------------------------------------------


def _after_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot B: A minus a deterministic tenth of its edges, plus a
    fresh derived edge family (canonicalized; overlaps with A are
    neither added nor removed — the set ops decide, not the synth)."""
    g = derived_graph(spark, sf_dir)
    drop = (F.col("src").cast("long") * 31 + F.col("dst").cast("long")) % 10 == 0
    kept = g.edges.select("src", "dst").filter(~drop)
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "customer").select(F.count(F.lit(1)).alias("n_cust"))
    u = F.col("o_custkey").cast("string")
    v = ((F.col("o_orderkey") * 17 + 3) % F.col("n_cust")).cast("string")
    new = (
        o.crossJoin(F.broadcast(n))
        .select(F.least(u, v).alias("src"), F.greatest(u, v).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return kept.union(new).distinct()


def q_tiles_dirty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-tile planning between two graph snapshots: delta-first
    anti-joins, coords joined on delta rows only, per-tile added/
    removed rollups."""
    from ophois_spark.operators.spatial import tiles_dirty

    g = derived_graph(spark, sf_dir)
    return tiles_dirty(
        g.edges.select("src", "dst"),
        _after_edges(spark, sf_dir),
        g.nodes,
        TILE_ZOOM,
    )


def _tiles_dirty_sql() -> str:
    n = 1 << TILE_ZOOM
    tx = lambda c: f"greatest(0, least({n - 1}, CAST(floor(({c} + 180.0) / 360.0 * {n}) AS BIGINT)))"  # noqa: E731
    ty = lambda c: f"greatest(0, least({n - 1}, CAST(floor(({c} + 90.0) / 180.0 * {n}) AS BIGINT)))"  # noqa: E731
    return f"""
WITH nodes AS MATERIALIZED ({_NODES_SQL}),
before_e AS MATERIALIZED ({_EDGES_SQL}),
after_e AS MATERIALIZED (
  SELECT src, dst FROM before_e
  WHERE (CAST(src AS BIGINT) * 31 + CAST(dst AS BIGINT)) % 10 <> 0
  UNION
  SELECT least(u, v) AS src, greatest(u, v) AS dst
  FROM (SELECT CAST(o_custkey AS VARCHAR) AS u,
               CAST((o_orderkey * 17 + 3) % (SELECT COUNT(*) FROM customer) AS VARCHAR) AS v
        FROM orders)
  WHERE u <> v),
delta AS (
  SELECT src, dst, 1 AS is_add FROM (SELECT src, dst FROM after_e EXCEPT SELECT src, dst FROM before_e)
  UNION ALL
  SELECT src, dst, 0 AS is_add FROM (SELECT src, dst FROM before_e EXCEPT SELECT src, dst FROM after_e)),
j AS (
  SELECT d.is_add,
         {tx("least(a.lon_d, b.lon_d)")} AS tx0, {tx("greatest(a.lon_d, b.lon_d)")} AS tx1,
         {ty("least(a.lat_d, b.lat_d)")} AS ty0, {ty("greatest(a.lat_d, b.lat_d)")} AS ty1
  FROM delta d JOIN nodes a ON d.src = a.id JOIN nodes b ON d.dst = b.id),
xs AS (SELECT is_add, ty0, ty1, unnest(generate_series(tx0, tx1)) AS tile_x FROM j),
cov AS (SELECT is_add, tile_x, unnest(generate_series(ty0, ty1)) AS tile_y FROM xs)
SELECT CAST(tile_x AS BIGINT) AS tile_x, CAST(tile_y AS BIGINT) AS tile_y,
       CAST(SUM(is_add) AS BIGINT) AS n_added,
       CAST(SUM(1 - is_add) AS BIGINT) AS n_removed
FROM cov GROUP BY 1, 2
"""


SQL_TILES_DIRTY = _tiles_dirty_sql()

QUERIES.update({"tiles_dirty": q_tiles_dirty})
ORACLES.update({"tiles_dirty": SQL_TILES_DIRTY})


# ---------------------------------------------------------------------------
# round-4: bigram LM quality scoring (integer-bits cross entropy)
# ---------------------------------------------------------------------------


def q_doc_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram LM score in whole bits — the CCNet perplexity
    quality signal with the float-LM trap removed (flog2 integer
    cross entropy, exact int64 sums)."""
    from ophois_spark.operators.textops import doc_bigram_nll

    return doc_bigram_nll(load(spark, sf_dir, "documents"))


SQL_DOC_BIGRAM_NLL = f"""
WITH toks AS MATERIALIZED ({_TOKS_SQL}),
bg AS MATERIALIZED (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT w) AS v
      FROM (SELECT unnest(t) AS w FROM toks) WHERE w <> ''),
pd AS (
  SELECT bg.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM((length(bin(c1.c1 + (SELECT v FROM v))) - 1)
                  - (length(bin(c12.c12)) - 1)) AS BIGINT) AS nll_bits
  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
  GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(pd.nll_bits, 0) AS BIGINT) AS nll_bits,
       CAST(CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN 0
                 ELSE (1000 * COALESCE(pd.nll_bits, 0)) // pd.n_bigrams END AS BIGINT)
         AS mean_x1000
FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
"""

QUERIES.update({"doc_bigram_nll": q_doc_bigram_nll})
ORACLES.update({"doc_bigram_nll": SQL_DOC_BIGRAM_NLL})


# ---------------------------------------------------------------------------
# round-4: double-sweep diameter probe
# ---------------------------------------------------------------------------

DIAM_HOPS = 8  # per-sweep hop bound (both sweeps share it; the probe's
# contract is "diameter lower bound within H hops per sweep")


def q_graph_diameter_lb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep BFS diameter lower bound: BFS from the md5-min
    node, re-sweep from the farthest node found (tie → min id), report
    that sweep's eccentricity — the standard cheap diameter probe
    (two gated BFS compositions, one 1-row driver action between)."""
    from ophois_spark.operators.routing import bfs_hops

    g = derived_graph(spark, sf_dir)
    seed1 = g.nodes.select("id").orderBy(F.md5("id")).limit(1)
    p1 = bfs_hops(g, seed1, max_hops=DIAM_HOPS)
    far = (
        p1.orderBy(F.desc("hops"), F.asc("id")).limit(1).collect()
    )
    far_id = far[0]["id"]
    p2 = bfs_hops(g, spark.createDataFrame([(far_id,)], "id string"), max_hops=DIAM_HOPS)
    return p2.agg(
        F.lit(far_id).alias("far_node"),
        F.max("hops").cast("int").alias("diameter_lb"),
        F.count(F.lit(1)).cast("long").alias("n_reached"),
    )


SQL_GRAPH_DIAMETER_LB = f"""
WITH RECURSIVE nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
bi AS (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst, src FROM edges),
s1 AS (SELECT id FROM nodes ORDER BY md5(id) LIMIT 1),
r1(id, hops) AS (
  SELECT id, 0 FROM s1
  UNION
  SELECT bi.b, r1.hops + 1 FROM r1 JOIN bi ON r1.id = bi.a
  WHERE r1.hops < {DIAM_HOPS}),
d1 AS (SELECT id, MIN(hops) AS hops FROM r1 GROUP BY id),
far AS (SELECT id FROM d1 ORDER BY hops DESC, id LIMIT 1),
r2(id, hops) AS (
  SELECT id, 0 FROM far
  UNION
  SELECT bi.b, r2.hops + 1 FROM r2 JOIN bi ON r2.id = bi.a
  WHERE r2.hops < {DIAM_HOPS}),
d2 AS (SELECT id, MIN(hops) AS hops FROM r2 GROUP BY id)
SELECT (SELECT id FROM far) AS far_node,
       CAST(MAX(hops) AS INT) AS diameter_lb,
       CAST(COUNT(*) AS BIGINT) AS n_reached
FROM d2
"""

QUERIES.update({"graph_diameter_lb": q_graph_diameter_lb})
ORACLES.update({"graph_diameter_lb": SQL_GRAPH_DIAMETER_LB})


# ---------------------------------------------------------------------------
# round-4: windowed co-occurrence statistics
# ---------------------------------------------------------------------------


def q_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 windowed co-occurrence pairs with integer whole-bit PMI
    — the collocation table of a corpus statistics pass."""
    from ophois_spark.operators.textops import term_cooccurrence

    return term_cooccurrence(load(spark, sf_dir, "documents"))


def _term_cooccurrence_sql() -> str:
    from ophois_spark.operators.textops import COOC_TOP, COOC_WINDOW

    dists = " UNION ALL ".join(
        f"SELECT least(t[i], t[i + {d}]) AS wa, greatest(t[i], t[i + {d}]) AS wb"
        f" FROM toks, unnest(generate_series(1, len(t) - {d})) AS u{d}(i)"
        f" WHERE len(t) >= 2"
        for d in range(1, COOC_WINDOW + 1)
    )
    return f"""
WITH toks AS MATERIALIZED ({_TOKS_SQL}),
p AS (SELECT wa, wb FROM ({dists}) q WHERE wa <> '' AND wb <> ''),
c12 AS MATERIALIZED (SELECT wa, wb, COUNT(*) AS c12 FROM p GROUP BY 1, 2),
ends AS (SELECT wa AS w, c12 AS c FROM c12 UNION ALL SELECT wb, c12 FROM c12),
c1 AS (SELECT w, SUM(c) AS c1 FROM ends GROUP BY 1),
n AS (SELECT SUM(c12) AS n_total FROM c12)
SELECT c12.wa AS w_a, c12.wb AS w_b,
       CAST(c12.c12 AS BIGINT) AS n_pairs,
       CAST((length(bin(c12.c12)) - 1) + (length(bin((SELECT n_total FROM n))) - 1)
            - (length(bin(a.c1)) - 1) - (length(bin(b.c1)) - 1) AS INT) AS pmi_bits
FROM c12 JOIN c1 a ON a.w = c12.wa JOIN c1 b ON b.w = c12.wb
ORDER BY n_pairs DESC, w_a, w_b LIMIT {COOC_TOP}
"""


SQL_TERM_COOCCURRENCE = _term_cooccurrence_sql()

QUERIES.update({"term_cooccurrence": q_term_cooccurrence})
ORACLES.update({"term_cooccurrence": SQL_TERM_COOCCURRENCE})


# ---------------------------------------------------------------------------
# round-4: Z-order layout key + integer MAD rate outliers
# ---------------------------------------------------------------------------


def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton layout keys for the derived nodes at res = ZORDER_BITS —
    the write-side clustering key of the cell-clustered layout
    (measured in BENCH/BASELINE.md, "Cell-clustered layout A/B"; this is
    the exact-bit projection gate)."""
    from ophois_spark.operators.spatial import ZORDER_BITS, zorder_cells

    return zorder_cells(derived_nodes(spark, sf_dir), res=ZORDER_BITS)


def _zorder_sql() -> str:
    from ophois_spark.operators.spatial import ZORDER_BITS

    n = 1 << ZORDER_BITS
    gx = f"greatest(0, least({n - 1}, CAST(floor((lon_d + 180.0) / 360.0 * {n}) AS BIGINT)))"
    gy = f"greatest(0, least({n - 1}, CAST(floor((lat_d + 90.0) / 180.0 * {n}) AS BIGINT)))"
    terms = " + ".join(
        f"(((ix // {1 << b}) % 2) * {1 << (2 * b)})"
        f" + (((iy // {1 << b}) % 2) * {1 << (2 * b + 1)})"
        for b in range(ZORDER_BITS)
    )
    return f"""
WITH nodes AS ({_NODES_SQL}),
g AS (SELECT id, {gx} AS ix, {gy} AS iy FROM nodes)
SELECT id, CAST(ix AS BIGINT) AS ix, CAST(iy AS BIGINT) AS iy,
       CAST({terms} AS BIGINT) AS zkey
FROM g
"""


SQL_ZORDER_CELLS = _zorder_sql()

QUERIES.update({"zorder_cells": q_zorder_cells})
ORACLES.update({"zorder_cells": SQL_ZORDER_CELLS})


def q_user_rate_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-MAD per-user daily-rate anomalies over events — the
    abuse/bot probe; medians are deterministic lower-median order
    statistics, no float percentile anywhere."""
    from ophois_spark.operators.temporal import user_rate_outliers

    return user_rate_outliers(load(spark, sf_dir, "events"))


def _user_rate_outliers_sql() -> str:
    from ophois_spark.operators.temporal import OUTLIER_K, OUTLIER_MIN_ABS

    return f"""
WITH d AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events),
daily AS (SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_events FROM d GROUP BY 1, 2),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events, day) AS r,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM daily),
med AS (SELECT user_id, n_events AS med FROM r1 WHERE r = CAST(ceil(n / 2.0) AS BIGINT)),
dev AS (
  SELECT daily.user_id, daily.day, daily.n_events, med.med,
         abs(daily.n_events - med.med) AS ad
  FROM daily JOIN med USING (user_id)),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ad, day) AS r,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM dev),
mad AS (SELECT user_id, ad AS mad FROM r2 WHERE r = CAST(ceil(n / 2.0) AS BIGINT))
SELECT dev.user_id, dev.day, dev.n_events,
       CAST(dev.med AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad,
       CAST(CASE WHEN dev.ad > {OUTLIER_K} * mad.mad AND dev.ad > {OUTLIER_MIN_ABS}
                 THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM dev JOIN mad USING (user_id)
"""


SQL_USER_RATE_OUTLIERS = _user_rate_outliers_sql()

QUERIES.update({"user_rate_outliers": q_user_rate_outliers})
ORACLES.update({"user_rate_outliers": SQL_USER_RATE_OUTLIERS})


# ---------------------------------------------------------------------------
# round-4: adaptive quadtree bins, local Moran's I, trip Hausdorff
# ---------------------------------------------------------------------------

QUADTREE_GRID_DEG = 0.0008
QUADTREE_LEVELS = 4
QUADTREE_THRESHOLD = 100
MORAN_GRID_DEG = 0.002

_EVENT_POINTS_CTE = """
  SELECT user_id, event_id,
         45.0 + CAST(user_id % 50 AS DOUBLE) * 0.002
              + CAST((event_id * 3) % 7 AS DOUBLE) * 0.0002 AS lat_d,
         5.0 + CAST((user_id * 7) % 50 AS DOUBLE) * 0.002
             + CAST((event_id * 5) % 7 AS DOUBLE) * 0.0002 AS lon_d
  FROM events
"""


def q_quadtree_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree binning over the event point field —
    operators/spatial.py quadtree_bins: dense cells split to the
    finest level, sparse stay coarse; leaves partition the input."""
    from ophois_spark.operators.spatial import quadtree_bins

    return quadtree_bins(
        _event_points(spark, sf_dir),
        grid_deg=QUADTREE_GRID_DEG,
        levels=QUADTREE_LEVELS,
        threshold=QUADTREE_THRESHOLD,
    )


def _quadtree_sql() -> str:
    g, T = QUADTREE_GRID_DEG, QUADTREE_THRESHOLD
    return f"""
WITH p AS ({_EVENT_POINTS_CTE}),
f AS (SELECT CAST(floor(lon_d / {g!r}) AS BIGINT) AS gx,
             CAST(floor(lat_d / {g!r}) AS BIGINT) AS gy FROM p),
c0 AS (SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS n FROM f GROUP BY 1, 2),
c1 AS (SELECT CAST(floor(gx / 2.0) AS BIGINT) AS gx,
              CAST(floor(gy / 2.0) AS BIGINT) AS gy,
              CAST(SUM(n) AS BIGINT) AS n FROM c0 GROUP BY 1, 2),
c2 AS (SELECT CAST(floor(gx / 2.0) AS BIGINT) AS gx,
              CAST(floor(gy / 2.0) AS BIGINT) AS gy,
              CAST(SUM(n) AS BIGINT) AS n FROM c1 GROUP BY 1, 2),
c3 AS (SELECT CAST(floor(gx / 2.0) AS BIGINT) AS gx,
              CAST(floor(gy / 2.0) AS BIGINT) AS gy,
              CAST(SUM(n) AS BIGINT) AS n FROM c2 GROUP BY 1, 2),
leaf AS (
  SELECT c0.gx, c0.gy, c0.n,
         CAST(floor(c0.gx / 2.0) AS BIGINT) AS a1x, CAST(floor(c0.gy / 2.0) AS BIGINT) AS a1y,
         CAST(floor(c0.gx / 4.0) AS BIGINT) AS a2x, CAST(floor(c0.gy / 4.0) AS BIGINT) AS a2y,
         CAST(floor(c0.gx / 8.0) AS BIGINT) AS a3x, CAST(floor(c0.gy / 8.0) AS BIGINT) AS a3y
  FROM c0),
lv AS (
  SELECT leaf.*, CASE WHEN c3.n <= {T} THEN 0
                      WHEN c2.n <= {T} THEN 1
                      WHEN c1.n <= {T} THEN 2
                      ELSE 3 END AS lvl
  FROM leaf
  JOIN c3 ON leaf.a3x = c3.gx AND leaf.a3y = c3.gy
  JOIN c2 ON leaf.a2x = c2.gx AND leaf.a2y = c2.gy
  JOIN c1 ON leaf.a1x = c1.gx AND leaf.a1y = c1.gy)
SELECT CAST(lvl AS INT) AS lvl,
       CASE lvl WHEN 0 THEN a3x WHEN 1 THEN a2x WHEN 2 THEN a1x ELSE gx END AS gx,
       CASE lvl WHEN 0 THEN a3y WHEN 1 THEN a2y WHEN 2 THEN a1y ELSE gy END AS gy,
       CAST(SUM(n) AS BIGINT) AS n_points
FROM lv GROUP BY 1, 2, 3
"""


SQL_QUADTREE_BINS = _quadtree_sql()

QUERIES.update({"quadtree_bins": q_quadtree_bins})
ORACLES.update({"quadtree_bins": SQL_QUADTREE_BINS})


def q_cell_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Moran's I components (integer LISA) over the derived node
    field — operators/spatial.py cell_moran."""
    from ophois_spark.operators.spatial import cell_moran

    return cell_moran(derived_nodes(spark, sf_dir), grid_deg=MORAN_GRID_DEG)


def _cell_moran_sql() -> str:
    g = MORAN_GRID_DEG
    return f"""
WITH nodes AS ({_NODES_SQL}),
cells AS (SELECT CAST(floor(lon_d / {g!r}) AS BIGINT) AS gx,
                 CAST(floor(lat_d / {g!r}) AS BIGINT) AS gy,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM nodes GROUP BY 1, 2),
gstats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                CAST(SUM(x) AS BIGINT) AS s FROM cells),
dev AS (SELECT gx, gy, x, CAST(x * n_cells - s AS BIGINT) AS d
        FROM cells CROSS JOIN gstats),
offs AS (SELECT * FROM (VALUES (-1,-1),(0,-1),(1,-1),(-1,0),(1,0),(-1,1),(0,1),(1,1)) t(dx, dy)),
lag AS (SELECT dev.gx + dx AS gx, dev.gy + dy AS gy,
               CAST(COUNT(*) AS BIGINT) AS w_n,
               CAST(SUM(d) AS BIGINT) AS lag_d
        FROM dev CROSS JOIN offs GROUP BY 1, 2)
SELECT dev.gx, dev.gy, x, d,
       CAST(COALESCE(w_n, 0) AS BIGINT) AS w_n,
       CAST(COALESCE(lag_d, 0) AS BIGINT) AS lag_d,
       CAST(d * COALESCE(lag_d, 0) AS BIGINT) AS local_i
FROM dev LEFT JOIN lag ON dev.gx = lag.gx AND dev.gy = lag.gy
"""


SQL_CELL_MORAN = _cell_moran_sql()

QUERIES.update({"cell_moran": q_cell_moran})
ORACLES.update({"cell_moran": SQL_CELL_MORAN})


def q_trip_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Hausdorff distance between each trip and the same
    user's next trip — operators/trajectory.py trip_hausdorff over
    trip_points (the shared slab segmentation lineage)."""
    from ophois_spark.operators.trajectory import trip_hausdorff, trip_points

    labeled = trip_points(
        _event_points(spark, sf_dir),
        gap_us=TRIP_GAP_US,
        jump_m=TRIP_JUMP_M,
        slab_us=TRIP_SLAB_US,
        grid_deg=TRIP_GRID_DEG,
    )
    return trip_hausdorff(labeled)


def _trip_hausdorff_sql() -> str:
    hav = _hav_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")
    return f"""
WITH {_trip_ctes()},
pts AS (SELECT user_id, CAST(trip_id AS BIGINT) AS trip_id, i, lat_d, lon_d FROM t2),
j AS (
  SELECT a.user_id, a.trip_id AS trip_a, a.i AS ia, b.i AS ib,
         CAST(floor({hav}) AS BIGINT) AS d
  FROM pts a JOIN pts b
    ON a.user_id = b.user_id AND b.trip_id = a.trip_id + 1),
hab AS (
  SELECT user_id, trip_a, CAST(MAX(m) AS BIGINT) AS h_ab_m
  FROM (SELECT user_id, trip_a, ia, MIN(d) AS m FROM j GROUP BY 1, 2, 3)
  GROUP BY 1, 2),
hba AS (
  SELECT user_id, trip_a, CAST(MAX(m) AS BIGINT) AS h_ba_m
  FROM (SELECT user_id, trip_a, ib, MIN(d) AS m FROM j GROUP BY 1, 2, 3)
  GROUP BY 1, 2)
SELECT hab.user_id, hab.trip_a, hab.trip_a + 1 AS trip_b, h_ab_m, h_ba_m,
       greatest(h_ab_m, h_ba_m) AS hausdorff_m
FROM hab JOIN hba ON hab.user_id = hba.user_id AND hab.trip_a = hba.trip_a
"""


SQL_TRIP_HAUSDORFF = _trip_hausdorff_sql()

QUERIES.update({"trip_hausdorff": q_trip_hausdorff})
ORACLES.update({"trip_hausdorff": SQL_TRIP_HAUSDORFF})


# ---------------------------------------------------------------------------
# round-4: k-truss (edge-support peeling — one notch past k-core)
# ---------------------------------------------------------------------------

KTRUSS_K = 3
# Oracle unroll: measured peel depth on the link overlay is small (the
# peeled set per round is a pure function of the surviving subgraph, so
# rounds past the fixpoint are identities — the kcore/H4/H6 replay
# contract). 6 = measured worst case + 100% margin, pytest-guarded in
# tests/test_ktruss.py at both gate scales.
KTRUSS_UNROLL = 6


def q_ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss (k=3) of the undirected link overlay → (src, dst,
    support): surviving edges each in ≥1 triangle of the truss itself
    — operators/components.py ktruss, the mutual-citation / link-farm
    cohesion screen one notch stricter than kcore_decomposition."""
    from ophois_spark.operators.components import ktruss

    _nodes, edges = _link_overlay(spark, sf_dir)
    truss, _rounds = ktruss(edges, KTRUSS_K)
    return truss.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("support").cast("long").alias("support"),
    )


def _ktruss_sql() -> str:
    k = KTRUSS_K
    parts = [
        "n AS MATERIALIZED (SELECT doc_id AS id FROM documents)",
        "c AS (SELECT COUNT(*) AS cnt FROM documents)",
        "j0 AS (SELECT id, unnest(generate_series(1, 1 + (id % 3))) AS j FROM n)",
        """le AS MATERIALIZED (
  SELECT DISTINCT id AS src, (id*31 + 97*j) % (SELECT cnt FROM c) AS dst
  FROM j0 WHERE (id*31 + 97*j) % (SELECT cnt FROM c) <> id)""",
        """e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst FROM le)""",
    ]
    prev = "e0"
    for j in range(1, KTRUSS_UNROLL + 1):
        parts.append(f"""t{j} AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM {prev} e1
  JOIN {prev} e2 ON e2.src = e1.src AND e1.dst < e2.dst
  JOIN {prev} e3 ON e3.src = e1.dst AND e3.dst = e2.dst)""")
        parts.append(f"""s{j} AS (
  SELECT src, dst, COUNT(*) AS sup FROM (
    SELECT a AS src, b AS dst FROM t{j}
    UNION ALL SELECT b, c FROM t{j}
    UNION ALL SELECT a, c FROM t{j}) GROUP BY 1, 2)""")
        parts.append(f"""e{j} AS MATERIALIZED (
  SELECT src, dst, CAST(sup AS BIGINT) AS support
  FROM s{j} WHERE sup >= {k - 2})""")
        prev = f"e{j}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, support
FROM e{KTRUSS_UNROLL}"""
    )


SQL_KTRUSS_EDGES = _ktruss_sql()

QUERIES.update({"ktruss_edges": q_ktruss_edges})
ORACLES.update({"ktruss_edges": SQL_KTRUSS_EDGES})


# ---------------------------------------------------------------------------
# round-4: host-level mirror detection
# ---------------------------------------------------------------------------


def _mirror_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror overlay on documents (the boilerplate/dirty-URL overlay
    discipline): every source keeps its originals, and 2 of every 3
    docs are re-hosted under ``source || '_m'`` — a planted mirror
    whose fingerprint set is a ~2/3 subset of its origin's, so the
    (src, src_m) pairs clear Jaccard 1/2 and nothing else meets."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    m = d.filter(F.col("doc_id") % 3 < 2).select(
        "doc_id", F.concat(F.col("source"), F.lit("_m")).alias("source"), "text"
    )
    return d.unionByName(m)


def q_source_mirror_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level mirror detection over the mirror overlay —
    operators/dedup.py source_mirror_pairs (fingerprint-set Jaccard
    via one fp equi-join, integer cross-multiplied threshold)."""
    from ophois_spark.operators.dedup import source_mirror_pairs

    return source_mirror_pairs(_mirror_docs(spark, sf_dir))


def _source_mirror_sql() -> str:
    from ophois_spark.operators.dedup import MIRROR_FP_DF_MAX

    return rf"""
WITH docs AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id, source || '_m' AS source, text FROM documents WHERE doc_id % 3 < 2),
sfp AS (
  SELECT DISTINCT source,
         md5(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fp
  FROM docs),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sfp GROUP BY 1),
rare AS (
  SELECT sfp.* FROM sfp
  JOIN (SELECT fp FROM sfp GROUP BY fp HAVING COUNT(*) <= {MIRROR_FP_DF_MAX}) r
  USING (fp)),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM rare a JOIN rare b ON a.fp = b.fp AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_shared,
       CAST(floor(100 * n_shared / (sa.n + sb.n - n_shared)) AS BIGINT) AS jac_pct
FROM shared
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
WHERE 2 * n_shared >= 1 * (sa.n + sb.n - n_shared)
"""


SQL_SOURCE_MIRROR_PAIRS = _source_mirror_sql()

QUERIES.update({"source_mirror_pairs": q_source_mirror_pairs})
ORACLES.update({"source_mirror_pairs": SQL_SOURCE_MIRROR_PAIRS})


# ---------------------------------------------------------------------------
# round-4: label-propagation communities (fixed-round sync LPA)
# ---------------------------------------------------------------------------

# Fixed-round semantics, not a pinned fixpoint: sync LPA can 2-cycle, so
# the deterministic contract is "labels after exactly R min-tie-break
# rounds" and the oracle unrolls the SAME R rounds (no margin needed —
# contrast KTRUSS_UNROLL, where rounds past the fixpoint are identities).
LPA_ROUNDS = 4


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (R=4 rounds, min
    tie-break) over the undirected link overlay → (id, label) —
    operators/components.py lpa_communities, the topic-cluster /
    link-farm screen one level below connected components."""
    from ophois_spark.operators.components import lpa_communities

    nodes, edges = _link_overlay(spark, sf_dir)
    out = lpa_communities(nodes, edges, rounds=LPA_ROUNDS)
    return out.select(
        F.col("id").cast("long").alias("id"), F.col("label").cast("long").alias("label")
    )


def _lpa_sql() -> str:
    parts = [
        "n AS MATERIALIZED (SELECT doc_id AS id FROM documents)",
        "c AS (SELECT COUNT(*) AS cnt FROM documents)",
        "j0 AS (SELECT id, unnest(generate_series(1, 1 + (id % 3))) AS j FROM n)",
        """le AS (
  SELECT DISTINCT id AS src, (id*31 + 97*j) % (SELECT cnt FROM c) AS dst
  FROM j0 WHERE (id*31 + 97*j) % (SELECT cnt FROM c) <> id)""",
        """eu AS (
  SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS d FROM le)""",
        """adj AS MATERIALIZED (
  SELECT s AS src, d AS dst FROM eu UNION ALL SELECT d, s FROM eu)""",
        "l0 AS (SELECT id, id AS label FROM n)",
    ]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(f"""nb{r} AS (
  SELECT a.src AS id, l.label AS nlbl, COUNT(*) AS cn
  FROM adj a JOIN l{r-1} l ON l.id = a.dst GROUP BY 1, 2)""")
        parts.append(f"""m{r} AS (
  SELECT id, nlbl AS label FROM (
    SELECT id, nlbl,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY cn DESC, nlbl ASC) AS rn
    FROM nb{r}) WHERE rn = 1)""")
        parts.append(f"""l{r} AS MATERIALIZED (
  SELECT p.id, COALESCE(m.label, p.label) AS label
  FROM l{r-1} p LEFT JOIN m{r} m USING (id))""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label FROM l{LPA_ROUNDS}"""
    )


SQL_LPA_COMMUNITIES = _lpa_sql()

QUERIES.update({"lpa_communities": q_lpa_communities})
ORACLES.update({"lpa_communities": SQL_LPA_COMMUNITIES})


# ---------------------------------------------------------------------------
# round-4: politeness-scheduled crawl frontier
# ---------------------------------------------------------------------------

FRONTIER_ROUNDS = 5


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl scheduling over the converged importance ranks: each host
    (= document source) releases pages rank-first, one per politeness
    round; keep the first 5 rounds — operators/webgraph.py
    crawl_frontier composing the link_pagerank_converged memo."""
    from ophois_spark.operators.webgraph import crawl_frontier

    r = q_link_pagerank_converged(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    ranked = r.join(d, "doc_id")
    out = crawl_frontier(ranked, FRONTIER_ROUNDS)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("host"),
        F.col("rank").cast("long").alias("rank"),
        F.col("fetch_round").cast("long").alias("fetch_round"),
    )


SQL_CRAWL_FRONTIER = f"""
WITH ranks AS ({SQL_LINK_PAGERANK_CONVERGED}),
ranked AS (
  SELECT r.doc_id, d.source AS host, r.rank,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY d.source ORDER BY r.rank DESC, r.doc_id ASC
         ) AS BIGINT) AS fetch_round
  FROM ranks r JOIN documents d USING (doc_id))
SELECT doc_id, host, rank, fetch_round
FROM ranked WHERE fetch_round <= {FRONTIER_ROUNDS}
"""

QUERIES.update({"crawl_frontier": q_crawl_frontier})
ORACLES.update({"crawl_frontier": SQL_CRAWL_FRONTIER})


# ---------------------------------------------------------------------------
# round-4: fixed-epoch trace resampling
# ---------------------------------------------------------------------------

RESAMPLE_STEP_US = 86_400_000_000  # daily boundaries over the 30-day overlay


def q_trace_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-boundary position interpolation over the event-point
    overlay — operators/trajectory.py trace_resample: int64 epoch
    ranges per consecutive-ping pair, fixed IEEE lat/lon-linear
    interpolation, floored integer microdegrees."""
    from ophois_spark.operators.trajectory import trace_resample

    out = trace_resample(_event_points(spark, sf_dir), RESAMPLE_STEP_US)
    return out.select(
        F.col("user").cast("long").alias("user_id"),
        "epoch_us",
        "mlat",
        "mlon",
    )


def _trace_resample_sql() -> str:
    step = RESAMPLE_STEP_US
    return f"""
WITH p AS (
  SELECT user_id, event_id AS i, epoch_us(ts) AS t,
         45.0 + CAST(user_id % 50 AS DOUBLE) * 0.002
              + CAST((event_id * 3) % 7 AS DOUBLE) * 0.0002 AS lat_d,
         5.0 + CAST((user_id * 7) % 50 AS DOUBLE) * 0.002
             + CAST((event_id * 5) % 7 AS DOUBLE) * 0.0002 AS lon_d
  FROM events),
l AS (
  SELECT user_id, t, lat_d, lon_d,
         lag(t) OVER w AS pt, lag(lat_d) OVER w AS plat, lag(lon_d) OVER w AS plon
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY t, i)),
e AS (
  SELECT *, CAST(floor(pt / {step}) + 1 AS BIGINT) AS k0,
            CAST(floor(t / {step}) AS BIGINT) AS k1
  FROM l WHERE pt IS NOT NULL),
x AS (
  SELECT e.*, unnest(generate_series(k0, k1)) AS k FROM e WHERE k1 >= k0),
y AS (
  SELECT user_id, k,
         (CAST(k * {step} AS DOUBLE) - CAST(pt AS DOUBLE))
           / (CAST(t AS DOUBLE) - CAST(pt AS DOUBLE)) AS f,
         plat, plon, lat_d, lon_d
  FROM x)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(k * {step} AS BIGINT) AS epoch_us,
       CAST(floor((plat + (lat_d - plat) * f) * 1000000.0) AS BIGINT) AS mlat,
       CAST(floor((plon + (lon_d - plon) * f) * 1000000.0) AS BIGINT) AS mlon
FROM y
"""


SQL_TRACE_RESAMPLE = _trace_resample_sql()

QUERIES.update({"trace_resample": q_trace_resample})
ORACLES.update({"trace_resample": SQL_TRACE_RESAMPLE})


# ---------------------------------------------------------------------------
# round-4: emerging-hotspot trend (per-cell Mann-Kendall over daily counts)
# ---------------------------------------------------------------------------

TREND_GRID_DEG = 0.01
TREND_DAY_US = 86_400_000_000


def q_cell_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell Mann-Kendall S over zero-filled daily point counts of
    the event-point overlay — operators/spatial.py cell_trend, the
    space-time-cube emerging-hotspot statistic in exact int64."""
    from ophois_spark.operators.spatial import cell_trend

    return cell_trend(_event_points(spark, sf_dir), grid_deg=TREND_GRID_DEG, day_us=TREND_DAY_US)


def _cell_trend_sql() -> str:
    g, du = TREND_GRID_DEG, TREND_DAY_US
    return f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         45.0 + CAST(user_id % 50 AS DOUBLE) * 0.002
              + CAST((event_id * 3) % 7 AS DOUBLE) * 0.0002 AS lat_d,
         5.0 + CAST((user_id * 7) % 50 AS DOUBLE) * 0.002
             + CAST((event_id * 5) % 7 AS DOUBLE) * 0.0002 AS lon_d
  FROM events),
c AS (SELECT CAST(floor(lon_d / {g!r}) AS BIGINT) AS gx,
             CAST(floor(lat_d / {g!r}) AS BIGINT) AS gy,
             CAST(floor(t_us / {du}) AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM p GROUP BY 1, 2, 3),
span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM c),
days AS (SELECT unnest(generate_series(d0, d1)) AS day FROM span),
filled AS (
  SELECT k.gx, k.gy, days.day, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
  FROM (SELECT DISTINCT gx, gy FROM c) k
  CROSS JOIN days
  LEFT JOIN c ON c.gx = k.gx AND c.gy = k.gy AND c.day = days.day),
stats AS (SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(x) AS BIGINT) AS total
          FROM filled GROUP BY 1, 2),
s AS (SELECT a.gx, a.gy,
             CAST(SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM filled a JOIN filled b
        ON a.gx = b.gx AND a.gy = b.gy AND a.day < b.day
      GROUP BY 1, 2)
SELECT stats.gx, stats.gy, n_days, total,
       CAST(COALESCE(s_stat, 0) AS BIGINT) AS s_stat
FROM stats LEFT JOIN s ON stats.gx = s.gx AND stats.gy = s.gy
"""


SQL_CELL_TREND = _cell_trend_sql()

QUERIES.update({"cell_trend": q_cell_trend})
ORACLES.update({"cell_trend": SQL_CELL_TREND})


# ---------------------------------------------------------------------------
# round-4: spatiotemporal co-location contact graph
# ---------------------------------------------------------------------------

COLOC_GRID_DEG = 0.002
COLOC_BIN_US = 86_400_000_000
COLOC_CROWD_MAX = 32


def q_colocation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users sharing a (cell, day-bin) slot over the event-point
    overlay, crowd slots dropped — operators/spatial.py
    colocation_pairs, the co-travel / account-farm contact query."""
    from ophois_spark.operators.spatial import colocation_pairs

    out = colocation_pairs(
        _event_points(spark, sf_dir),
        grid_deg=COLOC_GRID_DEG,
        bin_us=COLOC_BIN_US,
        crowd_max=COLOC_CROWD_MAX,
    )
    return out.select(
        F.col("user_a").cast("long").alias("user_a"),
        F.col("user_b").cast("long").alias("user_b"),
        "n_bins",
    )


def _colocation_sql() -> str:
    g, bu, cm = COLOC_GRID_DEG, COLOC_BIN_US, COLOC_CROWD_MAX
    return f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         45.0 + CAST(user_id % 50 AS DOUBLE) * 0.002
              + CAST((event_id * 3) % 7 AS DOUBLE) * 0.0002 AS lat_d,
         5.0 + CAST((user_id * 7) % 50 AS DOUBLE) * 0.002
             + CAST((event_id * 5) % 7 AS DOUBLE) * 0.0002 AS lon_d
  FROM events),
slots AS (
  SELECT DISTINCT user_id AS u,
         CAST(floor(lon_d / {g!r}) AS BIGINT) AS gx,
         CAST(floor(lat_d / {g!r}) AS BIGINT) AS gy,
         CAST(floor(t_us / {bu}) AS BIGINT) AS bin
  FROM p),
quiet AS (
  SELECT slots.* FROM slots
  JOIN (SELECT gx, gy, bin FROM slots GROUP BY 1, 2, 3 HAVING COUNT(*) <= {cm}) q
  USING (gx, gy, bin))
SELECT CAST(a.u AS BIGINT) AS user_a, CAST(b.u AS BIGINT) AS user_b,
       CAST(COUNT(*) AS BIGINT) AS n_bins
FROM quiet a JOIN quiet b
  ON a.gx = b.gx AND a.gy = b.gy AND a.bin = b.bin AND a.u < b.u
GROUP BY 1, 2
"""


SQL_COLOCATION_PAIRS = _colocation_sql()

QUERIES.update({"colocation_pairs": q_colocation_pairs})
ORACLES.update({"colocation_pairs": SQL_COLOCATION_PAIRS})


# ---------------------------------------------------------------------------
# round-4: Voronoi service-area assignment
# ---------------------------------------------------------------------------

VORONOI_N_SEEDS = 8


def q_voronoi_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voronoi partition of the derived node field: every node assigned
    to its nearest of the 8 md5-selected seed nodes (floored-metre
    haversine, ties to the smaller seed id) — operators/spatial.py
    voronoi_assign, the catchment/service-area decomposition."""
    from ophois_spark.operators.spatial import voronoi_assign

    nodes = derived_nodes(spark, sf_dir)
    seeds = (
        nodes.orderBy(F.md5(F.col("id")))
        .limit(VORONOI_N_SEEDS)
        .select("id", "lon_d", "lat_d")
    )
    return voronoi_assign(nodes, seeds)


def _voronoi_sql() -> str:
    hav = _hav_sql("n.lat_d", "n.lon_d", "s.lat_d", "s.lon_d")
    return f"""
WITH nodes AS ({_NODES_SQL}),
seeds AS (SELECT id, lon_d, lat_d FROM nodes ORDER BY md5(id) LIMIT {VORONOI_N_SEEDS}),
cand AS (
  SELECT n.id, s.id AS seed_id,
         CAST(floor({hav}) AS BIGINT) AS dist_m
  FROM nodes n CROSS JOIN seeds s),
r AS (
  SELECT id, seed_id, dist_m,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist_m, seed_id) AS rn
  FROM cand)
SELECT id, seed_id, dist_m FROM r WHERE rn = 1
"""


SQL_VORONOI_REGIONS = _voronoi_sql()

QUERIES.update({"voronoi_regions": q_voronoi_regions})
ORACLES.update({"voronoi_regions": SQL_VORONOI_REGIONS})


# ---------------------------------------------------------------------------
# round-4: product-quantization codes (exact-integer PQ assignment)
# ---------------------------------------------------------------------------


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression codes over the embeddings table (M=4 subspaces,
    K=16 hash-sample centroids, exact int64 grid distances) —
    operators/similarity.py pq_codes."""
    from ophois_spark.operators.similarity import pq_codes

    return pq_codes(load(spark, sf_dir, "embeddings"))


def _pq_sql() -> str:
    from ophois_spark.operators.similarity import PQ_CENTROIDS, PQ_SCALE, PQ_SUBSPACES

    m, k, sc = PQ_SUBSPACES, PQ_CENTROIDS, PQ_SCALE
    pivot = ", ".join(
        f"CAST(MAX(CASE WHEN s = {i} THEN j END) AS BIGINT) AS c{i}" for i in range(m)
    )
    return f"""
WITH z AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
         unnest(generate_series(0, len(embedding) - 1)) AS d
  FROM embeddings),
si AS (
  SELECT vec_id, d, d // (SELECT len(embedding) // {m} FROM embeddings LIMIT 1) AS s,
         CAST(round(val * {sc}) AS BIGINT) AS sv
  FROM z),
seeds AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
  FROM (SELECT vec_id FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})),
cent AS (
  SELECT seeds.j, si.s, si.d, si.sv AS cv
  FROM si JOIN seeds USING (vec_id)),
dist AS (
  SELECT v.vec_id, v.s, c.j, SUM((v.sv - c.cv) * (v.sv - c.cv)) AS dd
  FROM si v JOIN cent c ON c.s = v.s AND c.d = v.d
  GROUP BY 1, 2, 3),
best AS (
  SELECT vec_id, s, j FROM (
    SELECT vec_id, s, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dd, j) AS rn
    FROM dist) WHERE rn = 1)
SELECT CAST(vec_id AS BIGINT) AS vec_id, {pivot}
FROM best GROUP BY vec_id
"""


SQL_PQ_CODES = _pq_sql()

QUERIES.update({"pq_codes": q_pq_codes})
ORACLES.update({"pq_codes": SQL_PQ_CODES})


# ---------------------------------------------------------------------------
# round-4: standard geohash interchange keys
# ---------------------------------------------------------------------------


def q_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash strings (precision 7 + parent prefix) for the derived
    nodes — operators/spatial.py geohash_cells: the Morton interleave
    read MSB-first in base32, one codegen projection."""
    from ophois_spark.operators.spatial import geohash_cells

    return geohash_cells(derived_nodes(spark, sf_dir))


def _geohash_sql() -> str:
    from ophois_spark.operators.spatial import GEOHASH_ALPHABET, GEOHASH_PRECISION

    p = GEOHASH_PRECISION
    nbits = 5 * p
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    nx, ny = 1 << lon_bits, 1 << lat_bits
    gx = f"greatest(0, least({nx - 1}, CAST(floor((lon_d + 180.0) / 360.0 * {nx}) AS BIGINT)))"
    gy = f"greatest(0, least({ny - 1}, CAST(floor((lat_d + 90.0) / 180.0 * {ny}) AS BIGINT)))"
    terms = " + ".join(
        [f"(((ix // {1 << b}) % 2) * {1 << (2 * b)})" for b in range(lon_bits)]
        + [f"(((iy // {1 << b}) % 2) * {1 << (2 * b + 1)})" for b in range(lat_bits)]
    )
    chars = " || ".join(
        f"substring('{GEOHASH_ALPHABET}', CAST((z // {1 << (5 * (p - 1 - c))}) % 32 + 1 AS INT), 1)"
        for c in range(p)
    )
    return f"""
WITH nodes AS ({_NODES_SQL}),
g AS (SELECT id, {gx} AS ix, {gy} AS iy FROM nodes),
zz AS (SELECT id, CAST({terms} AS BIGINT) AS z FROM g),
h AS (SELECT id, {chars} AS gh FROM zz)
SELECT id, gh, substring(gh, 1, {p - 2}) AS gh_parent FROM h
"""


SQL_GEOHASH_CELLS = _geohash_sql()

QUERIES.update({"geohash_cells": q_geohash_cells})
ORACLES.update({"geohash_cells": SQL_GEOHASH_CELLS})


# ---------------------------------------------------------------------------
# round-4: CCNet head/middle/tail quality bucketing
# ---------------------------------------------------------------------------


def q_doc_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tercile quality buckets over the bigram-LM cost —
    operators/textops.py doc_quality_buckets (value order-statistic
    cuts; the CCNet corpus split)."""
    from ophois_spark.operators.textops import doc_quality_buckets

    return doc_quality_buckets(load(spark, sf_dir, "documents"))


SQL_DOC_QUALITY_BUCKETS = f"""
WITH nll AS ({SQL_DOC_BIGRAM_NLL}),
d AS (
  SELECT doc.doc_id, doc.lang, nll.mean_x1000
  FROM documents doc JOIN nll ON nll.doc_id = doc.doc_id),
counts AS (
  SELECT lang, mean_x1000, CAST(COUNT(*) AS BIGINT) AS m
  FROM d GROUP BY 1, 2),
cum AS (
  SELECT lang, mean_x1000, m,
         SUM(m) OVER (PARTITION BY lang ORDER BY mean_x1000
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts),
sizes AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
cuts AS (
  SELECT cum.lang,
         MIN(CASE WHEN cum >= (n + 2) // 3 THEN mean_x1000 END) AS cut1,
         MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN mean_x1000 END) AS cut2
  FROM cum JOIN sizes ON sizes.lang = cum.lang
  GROUP BY 1)
SELECT d.doc_id, d.lang, d.mean_x1000,
       CASE WHEN d.mean_x1000 <= cuts.cut1 THEN 'head'
            WHEN d.mean_x1000 <= cuts.cut2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM d JOIN cuts ON cuts.lang = d.lang
"""

QUERIES.update({"doc_quality_buckets": q_doc_quality_buckets})
ORACLES.update({"doc_quality_buckets": SQL_DOC_QUALITY_BUCKETS})


# ---------------------------------------------------------------------------
# round-4: street-grid orientation per cell (Boeing-style urban form)
# ---------------------------------------------------------------------------


def q_cell_orientation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell folded-bearing orientation histogram + dominant share
    over the derived street graph — operators/spatial.py
    cell_orientation (grid MORAN_GRID_DEG)."""
    from ophois_spark.operators.spatial import cell_orientation

    g = derived_graph(spark, sf_dir)
    return cell_orientation(g.nodes, g.edges, grid_deg=MORAN_GRID_DEG)


def _cell_orientation_sql() -> str:
    g = MORAN_GRID_DEG
    bear = _bearing_sql("n1.lat_d", "n1.lon_d", "n2.lat_d", "n2.lon_d")
    return f"""
WITH nodes AS ({_NODES_SQL}), edges AS ({_EDGES_SQL}),
b AS (
  SELECT CAST(floor(n1.lon_d / {g!r}) AS BIGINT) AS gx,
         CAST(floor(n1.lat_d / {g!r}) AS BIGINT) AS gy,
         (CAST(floor({bear}) AS BIGINT) % 180) // 45 AS bin
  FROM edges e JOIN nodes n1 ON e.src = n1.id JOIN nodes n2 ON e.dst = n2.id),
agg AS (
  SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
         CAST(SUM(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(SUM(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         CAST(SUM(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3
  FROM b GROUP BY 1, 2)
SELECT gx, gy, n_edges, b0, b1, b2, b3,
       CAST(floor(greatest(b0, b1, b2, b3) * 1000 / n_edges) AS BIGINT) AS dom_permille
FROM agg
"""


SQL_CELL_ORIENTATION = _cell_orientation_sql()

QUERIES.update({"cell_orientation": q_cell_orientation})
ORACLES.update({"cell_orientation": SQL_CELL_ORIENTATION})


def q_source_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality fingerprint: head/middle/tail doc counts and
    the integer head share — the data-card row corpus buyers read
    first. Composes doc_quality_buckets through one conditional-sum
    rollup (joins move |docs| rows once, the agg is map-side
    combinable)."""
    from ophois_spark.operators.textops import doc_quality_buckets

    d = load(spark, sf_dir, "documents")
    b = doc_quality_buckets(d).join(d.select("doc_id", "source"), "doc_id")
    agg = b.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum((F.col("bucket") == lbl).cast("long")).cast("long").alias(f"n_{lbl}")
            for lbl in ("head", "middle", "tail")
        ],
    )
    return agg.select(
        "source",
        "n_docs",
        "n_head",
        "n_middle",
        "n_tail",
        F.floor(F.col("n_head") * 1000 / F.col("n_docs")).cast("long").alias("head_permille"),
    )


SQL_SOURCE_QUALITY_MIX = f"""
WITH b AS ({SQL_DOC_QUALITY_BUCKETS}),
j AS (
  SELECT b.doc_id, d.source, b.bucket
  FROM b JOIN documents d ON d.doc_id = b.doc_id),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
         CAST(SUM(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END) AS BIGINT) AS n_middle,
         CAST(SUM(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END) AS BIGINT) AS n_tail
  FROM j GROUP BY 1)
SELECT source, n_docs, n_head, n_middle, n_tail,
       CAST(floor(n_head * 1000 / n_docs) AS BIGINT) AS head_permille
FROM agg
"""

QUERIES.update({"source_quality_mix": q_source_quality_mix})
ORACLES.update({"source_quality_mix": SQL_SOURCE_QUALITY_MIX})


# ---------------------------------------------------------------------------
# round-4: PQ asymmetric-distance top-k scan
# ---------------------------------------------------------------------------

PQ_ADC_K = 10


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC scan: exact query vs 2-byte database codes, all-integer
    distances — operators/similarity.py pq_adc_topk; recall vs the
    exact baseline is quantified in bench.py (recall_pq_adc)."""
    from ophois_spark.operators.similarity import pq_adc_topk

    emb = load(spark, sf_dir, "embeddings")
    qset = emb.filter(F.col("vec_id") % 50 == 0)
    return pq_adc_topk(emb, qset, PQ_ADC_K)


def _pq_adc_sql() -> str:
    from ophois_spark.operators.similarity import PQ_CENTROIDS, PQ_SCALE, PQ_SUBSPACES

    m, k, sc = PQ_SUBSPACES, PQ_CENTROIDS, PQ_SCALE
    return f"""
WITH z AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
         unnest(generate_series(0, len(embedding) - 1)) AS d
  FROM embeddings),
si AS (
  SELECT vec_id, d, d // (SELECT len(embedding) // {m} FROM embeddings LIMIT 1) AS s,
         CAST(round(val * {sc}) AS BIGINT) AS sv
  FROM z),
seeds AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
  FROM (SELECT vec_id FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})),
cent AS (
  SELECT seeds.j, si.s, si.d, si.sv AS cv
  FROM si JOIN seeds USING (vec_id)),
dist AS (
  SELECT v.vec_id, v.s, c.j, SUM((v.sv - c.cv) * (v.sv - c.cv)) AS dd
  FROM si v JOIN cent c ON c.s = v.s AND c.d = v.d
  GROUP BY 1, 2, 3),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dd, j) AS rn
    FROM dist) WHERE rn = 1),
lut AS (
  SELECT q.vec_id AS qid, q.s, c.j AS code,
         SUM((q.sv - c.cv) * (q.sv - c.cv)) AS d
  FROM si q JOIN cent c ON c.s = q.s AND c.d = q.d
  WHERE q.vec_id % 50 = 0
  GROUP BY 1, 2, 3),
part AS (
  SELECT lut.qid, codes.vec_id, CAST(SUM(lut.d) AS BIGINT) AS adc
  FROM codes JOIN lut ON lut.s = codes.s AND lut.code = codes.code
  GROUP BY 1, 2),
r AS (
  SELECT qid, vec_id, adc,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS INT) AS rank
  FROM part)
SELECT qid, rank, vec_id, adc FROM r WHERE rank <= {PQ_ADC_K}
"""


SQL_PQ_ADC_TOPK = _pq_adc_sql()

QUERIES.update({"pq_adc_topk": q_pq_adc_topk})
ORACLES.update({"pq_adc_topk": SQL_PQ_ADC_TOPK})


# ---------------------------------------------------------------------------
# round-4: directed web structure — SCC condensation + Broder bowtie
# ---------------------------------------------------------------------------

# Deterministic directed "site graph" overlay: sites are doc_id mod 257
# (a prime, fully covered at every sf), with two arithmetic edge rules —
# a quadratic map s → s²+1 (non-injective: rho-shaped tendrils feeding
# cycles, the IN/tendril surface) and a sparse affine map s → 2s+5 on
# s ≡ 0 (mod 3) (cross-links that merge cycles into a giant CORE). At
# 257 sites this yields a 117-site CORE, one 4-cycle, 136 singleton
# SCCs and all four bowtie classes non-empty (CORE 117 / IN 123 /
# OUT 4 / OTHER 13) — the Broder WWW'00 shape in miniature.
SITE_MOD = 257


def _site_graph(spark: SparkSession, sf_dir: str):
    d = load(spark, sf_dir, "documents")
    s = d.select((F.col("doc_id") % SITE_MOD).cast("long").alias("id")).distinct()
    e1 = s.select(
        F.col("id").alias("src"),
        ((F.col("id") * F.col("id") + 1) % SITE_MOD).cast("long").alias("dst"),
    )
    e2 = s.filter(F.col("id") % 3 == 0).select(
        F.col("id").alias("src"),
        ((F.col("id") * 2 + 5) % SITE_MOD).cast("long").alias("dst"),
    )
    edges = (
        e1.unionByName(e2).filter(F.col("src") != F.col("dst")).distinct()
    )
    return s, edges


# Oracle twin: the same overlay + transitive closure. SCC membership is
# algorithm-independent (scc = min id under mutual reachability), so
# unlike the pinned fixpoint oracles no round count appears here — the
# engine's FW-BW-Trim peeling and the closure must agree exactly.
_SQL_SITE_CTES = f"""
sites AS MATERIALIZED (SELECT DISTINCT doc_id % {SITE_MOD} AS s FROM documents),
e AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT s AS src, (s * s + 1) % {SITE_MOD} AS dst FROM sites
    UNION
    SELECT s, (2 * s + 5) % {SITE_MOD} FROM sites WHERE s % 3 = 0
  ) WHERE src <> dst),
r(a, b) AS (
  SELECT s, s FROM sites
  UNION
  SELECT r.a, e.dst FROM r JOIN e ON r.b = e.src
),
scc AS MATERIALIZED (
  SELECT r1.a AS site, MIN(r1.b) AS scc
  FROM r r1 JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a
  GROUP BY r1.a),
sizes AS (SELECT scc, COUNT(*) AS scc_size FROM scc GROUP BY scc)"""


@session_memo(produces="site_scc")
def _site_scc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session memo: the peeling loop runs once; site_scc, web_bowtie
    and scc_dag_edges consume the labels."""
    from ophois_spark.operators.scc import strongly_connected_components

    nodes, edges = _site_graph(spark, sf_dir)
    return strongly_connected_components(nodes, edges).localCheckpoint(eager=True)


def q_site_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly-connected components of the directed site graph →
    (site, scc, scc_size): the condensation a crawl scheduler reads
    (mutually-reachable site clusters = link neighborhoods to budget
    together; operators/scc.py FW-BW-Trim, labels = min site id)."""
    labels = _site_scc_labels(spark, sf_dir)
    sizes = labels.groupBy("scc").agg(F.count(F.lit(1)).cast("long").alias("scc_size"))
    return labels.join(sizes, "scc").select(
        F.col("id").cast("long").alias("site"),
        F.col("scc").cast("long").alias("scc"),
        "scc_size",
    )


SQL_SITE_SCC = f"""
WITH RECURSIVE {_SQL_SITE_CTES}
SELECT CAST(site AS BIGINT) AS site, CAST(scc.scc AS BIGINT) AS scc,
       CAST(sizes.scc_size AS BIGINT) AS scc_size
FROM scc JOIN sizes ON sizes.scc = scc.scc
"""


def q_web_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder bowtie decomposition (WWW'00) of the site graph →
    (site, cls) with cls in CORE / IN / OUT / OTHER — the structure
    report a 10^12-page crawl publishes (how much of the web feeds the
    core vs leaks out of it). CORE = largest SCC (tie → min label);
    IN reaches it, OUT is reached from it, OTHER is tendrils + islands.
    Reuses the memoized SCC labels; reachability is two min-label
    flag propagations (operators/scc.py bowtie_classes)."""
    from ophois_spark.operators.scc import bowtie_classes

    nodes, edges = _site_graph(spark, sf_dir)
    labels = _site_scc_labels(spark, sf_dir)
    out = bowtie_classes(nodes, edges, labels)
    return out.select(F.col("id").cast("long").alias("site"), "cls")


SQL_WEB_BOWTIE = f"""
WITH RECURSIVE {_SQL_SITE_CTES},
core AS (SELECT scc FROM sizes ORDER BY scc_size DESC, scc ASC LIMIT 1),
corenodes AS (SELECT site FROM scc WHERE scc = (SELECT scc FROM core)),
fromcore AS (SELECT DISTINCT r.b AS site FROM r
             WHERE r.a IN (SELECT site FROM corenodes)),
tocore AS (SELECT DISTINCT r.a AS site FROM r
           WHERE r.b IN (SELECT site FROM corenodes))
SELECT CAST(s.s AS BIGINT) AS site,
       CASE WHEN s.s IN (SELECT site FROM corenodes) THEN 'CORE'
            WHEN s.s IN (SELECT site FROM tocore) THEN 'IN'
            WHEN s.s IN (SELECT site FROM fromcore) THEN 'OUT'
            ELSE 'OTHER' END AS cls
FROM sites s
"""

QUERIES.update({"site_scc": q_site_scc, "web_bowtie": q_web_bowtie})
ORACLES.update({"site_scc": SQL_SITE_SCC, "web_bowtie": SQL_WEB_BOWTIE})


# ---------------------------------------------------------------------------
# round-4: Boruvka minimum spanning forest of the street graph
# ---------------------------------------------------------------------------


def q_mst_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest of the haversine-weighted street graph →
    (src, dst, w): the generalization backbone (operators/mst.py,
    Boruvka). Weights are floor(metres) — the same integer contract
    length_distribution already gates — and ties break on (w, src,
    dst), so the MSF is unique and fully SQL-restatable."""
    from ophois_spark.operators.mst import minimum_spanning_forest

    g = derived_graph(spark, sf_dir)
    we = g.edges_with_coords().select(
        "src", "dst", F.floor("dist_m").cast("long").alias("w")
    )
    out = minimum_spanning_forest(g.nodes.select("id"), we)
    return out.select("src", "dst", F.col("w").cast("long").alias("w"))


def _mst_sql(rounds: int = 12, jumps: int = 12) -> str:
    """Boruvka unrolled in SQL: `rounds` merge rounds, each with a
    pinned `jumps`-step pointer-doubling chain. Both bounds are
    idempotent upper limits (extra rounds choose nothing; doubling a
    rooted map is a no-op), sized for ≤4096 components — the sf0.01
    street graph has 1500 nodes. Every stage is MATERIALIZED so DuckDB
    evaluates the DAG, not an exponentially inlined tree."""
    hav = _hav_sql("a.lat_d", "a.lon_d", "b.lat_d", "b.lon_d")
    parts = [
        f"nodes AS ({_NODES_SQL})",
        f"edges AS ({_EDGES_SQL})",
        f"""we AS MATERIALIZED (
  SELECT e.src, e.dst, CAST(floor({hav}) AS BIGINT) AS w
  FROM edges e JOIN nodes a ON e.src = a.id JOIN nodes b ON e.dst = b.id)""",
        "c0 AS MATERIALIZED (SELECT id AS node, id AS comp FROM nodes)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(f"""x{k} AS MATERIALIZED (
  SELECT we.src, we.dst, we.w, ca.comp AS ca, cb.comp AS cb
  FROM we JOIN c{p} ca ON ca.node = we.src JOIN c{p} cb ON cb.node = we.dst
  WHERE ca.comp <> cb.comp)""")
        parts.append(f"""ch{k} AS MATERIALIZED (
  SELECT comp, src, dst, w, other FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY comp ORDER BY w, src, dst) AS rn
    FROM (SELECT ca AS comp, src, dst, w, cb AS other FROM x{k}
          UNION ALL SELECT cb, src, dst, w, ca FROM x{k}))
  WHERE rn = 1)""")
        parts.append(f"""s{k}j0 AS MATERIALIZED (
  SELECT c.comp, COALESCE(br.s, c.comp) AS s
  FROM (SELECT DISTINCT comp FROM c{p}) c LEFT JOIN (
    SELECT a.comp,
           CASE WHEN b.other = a.comp AND a.comp < a.other
                THEN a.comp ELSE a.other END AS s
    FROM ch{k} a JOIN ch{k} b ON b.comp = a.other) br USING (comp))""")
        for j in range(1, jumps + 1):
            parts.append(f"""s{k}j{j} AS MATERIALIZED (
  SELECT a.comp, b.s FROM s{k}j{j - 1} a JOIN s{k}j{j - 1} b ON b.comp = a.s)""")
        parts.append(f"""c{k} AS MATERIALIZED (
  SELECT c.node, s.s AS comp FROM c{p} c JOIN s{k}j{jumps} s ON s.comp = c.comp)""")
    # Loud out-of-bound guard (round-4 advice): the unrolled chain is
    # complete only while the initial component count is <= 2**rounds
    # (4096 at the default).  If any cross-component edge survives the
    # final round the forest would be silently incomplete and present as
    # an engine mismatch — error() makes the ORACLE fail instead.
    parts.append(f"""guard AS MATERIALIZED (
  SELECT CASE WHEN EXISTS (
    SELECT 1 FROM we
    JOIN c{rounds} ca ON ca.node = we.src
    JOIN c{rounds} cb ON cb.node = we.dst
    WHERE ca.comp <> cb.comp)
  THEN error('SQL_MST_EDGES: {rounds} unrolled rounds exhausted with cross-component edges remaining — component count exceeds {2 ** rounds}; this is an oracle bound, not an engine failure')
  ELSE 0 END AS ok)""")
    union = "\nUNION ALL\n".join(
        f"SELECT DISTINCT src, dst, w FROM ch{k}" for k in range(1, rounds + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT src, dst, w FROM (\n" + union
        + "\n) WHERE (SELECT ok FROM guard) = 0"
    )


SQL_MST_EDGES = _mst_sql()

QUERIES.update({"mst_edges": q_mst_edges})
ORACLES.update({"mst_edges": SQL_MST_EDGES})


# ---------------------------------------------------------------------------
# round-4: deterministic graph random walks + time-decayed hotspots
# ---------------------------------------------------------------------------

WALK_STEPS = 8


def q_graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style corpus generation (Perozzi KDD'14): one walk per
    site over the directed site overlay → (walk, step, node). The
    "random" neighbor choice is the md5-argmin trick this repo uses
    for every cross-engine sampling decision: at step t the walker at
    v moves to the out-neighbor minimizing md5('walk:t:nbr'), which is
    uniform-ish, deterministic, and exactly restatable in SQL. Walkers
    at sinks stop (inner join drops them), matching the oracle.

    Scale shape: walk state is ONE row per live walker keyed by its
    current node; each step is one equi-join against the adjacency
    relation plus one algebraic struct-min per walker. Hot nodes
    (celebrity pages) concentrate walkers — the join is still a plain
    shuffle join and AQE's skew split handles the hot partitions, the
    same story BENCH/BASELINE.md's skew evidence measures for the cell
    joins. Step count is a static unroll (no fixpoint, no driver
    actions), so the whole walk corpus is ONE job."""
    sites, edges = _site_graph(spark, sf_dir)
    frontier = sites.select(
        F.col("id").alias("walk"), F.col("id").alias("node")
    )
    out = frontier.select("walk", F.lit(0).cast("int").alias("step"), "node")
    for t in range(1, WALK_STEPS + 1):
        stepped = frontier.join(
            edges.withColumnRenamed("src", "node"), "node"
        ).select(
            "walk",
            F.md5(
                F.concat_ws(":", F.col("walk"), F.lit(t), F.col("dst"))
            ).alias("rank"),
            "dst",
        )
        frontier = (
            stepped.groupBy("walk")
            .agg(F.min(F.struct("rank", "dst")).alias("m"))
            .select("walk", F.col("m.dst").alias("node"))
        )
        out = out.unionByName(
            frontier.select("walk", F.lit(t).cast("int").alias("step"), "node")
        )
    return out.select(
        F.col("walk").cast("long").alias("walk"),
        "step",
        F.col("node").cast("long").alias("node"),
    )


def _walks_sql() -> str:
    parts = [
        _SQL_SITE_CTES.strip(),
        "w0 AS (SELECT s AS walk, 0 AS step, s AS node FROM sites)",
    ]
    for t in range(1, WALK_STEPS + 1):
        parts.append(f"""w{t} AS MATERIALIZED (
  SELECT walk, {t} AS step, node FROM (
    SELECT w.walk, e.dst AS node,
           ROW_NUMBER() OVER (
             PARTITION BY w.walk
             ORDER BY md5(CAST(w.walk AS VARCHAR) || ':' || '{t}' || ':'
                          || CAST(e.dst AS VARCHAR)), e.dst) AS rn
    FROM w{t - 1} w JOIN e ON e.src = w.node)
  WHERE rn = 1)""")
    union = "\nUNION ALL\n".join(
        f"SELECT walk, step, node FROM w{t}" for t in range(0, WALK_STEPS + 1)
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + f"\nSELECT CAST(walk AS BIGINT) AS walk, CAST(step AS INT) AS step,"
        f" CAST(node AS BIGINT) AS node FROM ({union})"
    )


SQL_GRAPH_RANDOM_WALKS = _walks_sql()

QUERIES.update({"graph_random_walks": q_graph_random_walks})
ORACLES.update({"graph_random_walks": SQL_GRAPH_RANDOM_WALKS})


DECAY_CELLS = 97
DECAY_MAX_WEEKS = 12


def q_cell_decay_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed per-cell activity — the emerging/
    fading hotspot score a freshness-aware crawl scheduler reads
    (recent activity dominates, each week of age halves the weight).
    All-integer: age is whole weeks behind the corpus max timestamp,
    weight = 2^(12 - min(weeks, 12)), score = Σ weight — exactly
    replayable cross-engine, no float decay factor. One scan, one
    broadcast 1-row max, one map-side-combinable agg."""
    e = load(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    mx = e.agg(F.max(t_us).alias("mx"))
    j = e.crossJoin(F.broadcast(mx))
    weeks = F.floor((F.col("mx") - t_us) / F.lit(7 * 86400 * 1000000))
    wexp = (
        F.lit(DECAY_MAX_WEEKS) - F.least(weeks, F.lit(DECAY_MAX_WEEKS))
    ).cast("int")
    w = F.expr("shiftleft(CAST(1 AS BIGINT), wexp)")
    return (
        j.withColumn("wexp", wexp)
        .groupBy((F.col("event_id") % DECAY_CELLS).cast("long").alias("cell"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(w).cast("long").alias("decay_score"),
        )
    )


SQL_CELL_DECAY_HOTSPOTS = f"""
WITH mx AS (SELECT MAX(epoch_us(ts)) AS mx FROM events),
j AS (
  SELECT event_id % {DECAY_CELLS} AS cell,
         (1::BIGINT << CAST({DECAY_MAX_WEEKS} - LEAST(
            CAST(floor(((SELECT mx FROM mx) - epoch_us(ts)) / {7 * 86400 * 1000000}) AS BIGINT),
            {DECAY_MAX_WEEKS}) AS INT)) AS w
  FROM events)
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(w) AS BIGINT) AS decay_score
FROM j GROUP BY cell
"""

QUERIES.update({"cell_decay_hotspots": q_cell_decay_hotspots})
ORACLES.update({"cell_decay_hotspots": SQL_CELL_DECAY_HOTSPOTS})


# ---------------------------------------------------------------------------
# round-4: HTML link extraction + anchor-text aggregation
# ---------------------------------------------------------------------------


def _synth_html_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-doc HTML payload carrying the link overlay:
    each outlink of the overlay becomes an <a> tag whose href is the
    target's canonical URL and whose anchor is a sanitized 10-char
    slice of the SOURCE doc's text. The engine queries then PARSE this
    html; the oracles restate the link relation directly from the
    overlay — so the gate proves parse(synth(overlay)) == overlay,
    the byte-exact extraction contract of the north rule applied to
    html instead of OSM XML."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    _, edges = _link_overlay(spark, sf_dir)
    j = edges.join(
        d.select(F.col("doc_id").alias("src"), F.col("text").alias("src_text")), "src"
    )
    href = F.concat(
        F.lit("http://example"),
        (F.col("dst") % 40).cast("string"),
        F.lit(".com/p/"),
        F.col("dst").cast("string"),
    )
    anchor = F.regexp_replace(
        F.col("src_text").substr((F.col("dst") % 20 + 1).cast("int"), F.lit(10)),
        "[^A-Za-z0-9 ]",
        "",
    )
    link = F.concat(F.lit('<a href="'), href, F.lit('">'), anchor, F.lit("</a>"))
    return (
        j.select(F.col("src").alias("doc_id"), F.col("dst"), link.alias("link"))
        .groupBy("doc_id")
        .agg(
            F.concat(
                F.lit("<html><body>"),
                F.expr(
                    "array_join(transform(array_sort(collect_list(struct(dst, link))),"
                    " x -> x.link), '')"
                ),
                F.lit("</body></html>"),
            ).alias("html")
        )
    )


# Oracle twin of the synthesized link relation, stated directly from
# the overlay (no html, no parsing) — identical substring + sanitize
# semantics (1-based substr, RE2/Java-agreeing character class).
_SQL_HTML_LINKS = f"""
links AS MATERIALIZED (
  SELECT e.src AS doc_id, e.dst AS dst,
         'http://example' || CAST(e.dst % 40 AS VARCHAR) || '.com/p/'
           || CAST(e.dst AS VARCHAR) AS href,
         regexp_replace(substr(d.text, CAST(e.dst % 20 + 1 AS INT), 10),
                        '[^A-Za-z0-9 ]', '', 'g') AS anchor
  FROM e JOIN documents d ON d.doc_id = e.src)"""


def q_html_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the synthesized html pages back into (doc_id, href,
    anchor) with the codegen regexp pipeline (operators/html.py) —
    gated against the overlay restated directly, i.e. a lossless
    round-trip through real html text."""
    from ophois_spark.operators.html import extract_links

    pages = _synth_html_pages(spark, sf_dir)
    return extract_links(pages).select(
        F.col("doc_id").cast("long").alias("doc_id"), "href", "anchor"
    )


SQL_HTML_OUTLINKS = f"""
WITH {_SQL_HOST_CTES},
{_SQL_HTML_LINKS}
SELECT CAST(doc_id AS BIGINT) AS doc_id, href, anchor FROM links
"""


def q_anchor_text_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text aggregation over the parsed outlinks →
    (href, n_links, n_docs, top_anchor): the Brin & Page WWW'98
    anchor signal, computed from html (parse → explode → two-level
    algebraic agg)."""
    from ophois_spark.operators.html import anchor_text_rollup, extract_links

    pages = _synth_html_pages(spark, sf_dir)
    out = anchor_text_rollup(extract_links(pages))
    return out.select("href", "n_links", "n_docs", "top_anchor")


SQL_ANCHOR_TEXT_ROLLUP = f"""
WITH {_SQL_HOST_CTES},
{_SQL_HTML_LINKS},
pa AS (SELECT href, anchor, COUNT(*) AS cnt FROM links GROUP BY 1, 2),
top AS (
  SELECT href, anchor AS top_anchor FROM (
    SELECT href, anchor,
           ROW_NUMBER() OVER (PARTITION BY href ORDER BY cnt DESC, anchor) AS rn
    FROM pa) WHERE rn = 1),
agg AS (
  SELECT href, CAST(COUNT(*) AS BIGINT) AS n_links,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM links GROUP BY href)
SELECT agg.href, agg.n_links, agg.n_docs, top.top_anchor
FROM agg JOIN top ON top.href = agg.href
"""

QUERIES.update(
    {"html_outlinks": q_html_outlinks, "anchor_text_rollup": q_anchor_text_rollup}
)
ORACLES.update(
    {
        "html_outlinks": SQL_HTML_OUTLINKS,
        "anchor_text_rollup": SQL_ANCHOR_TEXT_ROLLUP,
    }
)


SKIPGRAM_WINDOW = 2


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training pairs from the walk corpus (word2vec over
    walks = DeepWalk): co-occurring (center, context) nodes within a
    ±2-step window, with pair counts → (center, context, n). The
    actual artifact a graph-embedding trainer consumes; one self-join
    on (walk) + one algebraic agg over the walk table."""
    w = q_graph_random_walks(spark, sf_dir)
    a, b = w.alias("a"), w.alias("b")
    pairs = a.join(
        b,
        (F.col("a.walk") == F.col("b.walk"))
        & (F.col("a.step") != F.col("b.step"))
        & (F.abs(F.col("a.step") - F.col("b.step")) <= SKIPGRAM_WINDOW),
    )
    return (
        pairs.groupBy(
            F.col("a.node").alias("center"), F.col("b.node").alias("context")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


SQL_SKIPGRAM_PAIRS = f"""
WITH w AS ({SQL_GRAPH_RANDOM_WALKS})
SELECT a.node AS center, b.node AS context, CAST(COUNT(*) AS BIGINT) AS n
FROM w a JOIN w b
  ON a.walk = b.walk AND a.step <> b.step
 AND abs(a.step - b.step) <= {SKIPGRAM_WINDOW}
GROUP BY 1, 2
"""


def q_scc_dag_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG of the site graph → distinct (src_scc,
    dst_scc) pairs between DIFFERENT components: the acyclic
    site-cluster topology a crawl scheduler orders its budget over
    (provably a DAG — any cycle of SCCs would be one SCC). Composes
    the memoized SCC labels with two endpoint joins + distinct."""
    labels = _site_scc_labels(spark, sf_dir)
    _, edges = _site_graph(spark, sf_dir)
    return (
        edges.join(
            labels.select(F.col("id").alias("src"), F.col("scc").alias("src_scc")),
            "src",
        )
        .join(
            labels.select(F.col("id").alias("dst"), F.col("scc").alias("dst_scc")),
            "dst",
        )
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .select(
            F.col("src_scc").cast("long").alias("src_scc"),
            F.col("dst_scc").cast("long").alias("dst_scc"),
        )
        .distinct()
    )


SQL_SCC_DAG_EDGES = f"""
WITH RECURSIVE {_SQL_SITE_CTES}
SELECT DISTINCT CAST(sa.scc AS BIGINT) AS src_scc, CAST(sb.scc AS BIGINT) AS dst_scc
FROM e JOIN scc sa ON sa.site = e.src JOIN scc sb ON sb.site = e.dst
WHERE sa.scc <> sb.scc
"""

QUERIES.update(
    {"skipgram_pairs": q_skipgram_pairs, "scc_dag_edges": q_scc_dag_edges}
)
ORACLES.update(
    {"skipgram_pairs": SQL_SKIPGRAM_PAIRS, "scc_dag_edges": SQL_SCC_DAG_EDGES}
)


# ---------------------------------------------------------------------------
# round-4: Count-Min Sketch heavy hitters over the n-gram stream
# ---------------------------------------------------------------------------

CMS_HH_THRESHOLD = 6


def _gram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 3-gram OCCURRENCES (duplicates included) — the stream the
    sketch compresses; same tokenizer as ngram_topk."""
    from ophois_spark.operators.dedup import shingles_col
    from ophois_spark.operators.textops import tokens_col

    from ophois_spark.plans.layout import fan_out

    d = fan_out(load(spark, sf_dir, "documents"))
    return d.select(
        F.explode(shingles_col(tokens_col(F.col("text")), 3)).alias("ngram")
    )


_SQL_GRAM_STREAM = f"""
  SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ngram
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM ({_TOKS_SQL}) WHERE len(t) >= 3)
"""


def _sql_cms_col(r: int) -> str:
    from ophois_spark.operators.sketches import CMS_HEX, CMS_W

    return (
        f"(('0x' || substr(md5('{r}:' || ngram), 1, {CMS_HEX}))::BIGINT % {CMS_W})"
    )


def q_ngram_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d×w Count-Min Sketch itself as sparse (row, col, cnt) cells
    — exact-integer md5 row hashes make the whole sketch matrix
    oracle-gated (operators/sketches.py)."""
    from ophois_spark.operators.sketches import cms_table

    out = cms_table(_gram_stream(spark, sf_dir))
    return out.select(
        F.col("row").cast("int").alias("row"),
        F.col("col").cast("long").alias("col"),
        "cnt",
    )


def _cms_sql() -> str:
    from ophois_spark.operators.sketches import CMS_D

    arms = "\nUNION ALL\n".join(
        f"SELECT {r} AS row, {_sql_cms_col(r)} AS col FROM g" for r in range(CMS_D)
    )
    return f"""
WITH g AS ({_SQL_GRAM_STREAM}),
cells AS ({arms})
SELECT CAST(row AS INT) AS row, CAST(col AS BIGINT) AS col,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM cells GROUP BY 1, 2
"""


SQL_NGRAM_CMS = _cms_sql()


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters BY SKETCH ESTIMATE (the scale-feasible decision)
    with the exact count alongside → (ngram, n_true, n_est); the gate
    pins est ≥ true and the exact false-positive surface."""
    from ophois_spark.operators.sketches import cms_heavy_hitters

    out = cms_heavy_hitters(_gram_stream(spark, sf_dir), CMS_HH_THRESHOLD)
    return out.select("ngram", "n_true", "n_est")


def _cms_hh_sql() -> str:
    from ophois_spark.operators.sketches import CMS_D

    addr = "\nUNION ALL\n".join(
        f"SELECT ngram, n_true, {r} AS row, {_sql_cms_col(r)} AS col FROM cand"
        for r in range(CMS_D)
    )
    return f"""
WITH g AS ({_SQL_GRAM_STREAM}),
cells AS ({"" + " UNION ALL ".join(f"SELECT {r} AS row, {_sql_cms_col(r)} AS col FROM g" for r in range(CMS_D))}),
tbl AS (SELECT row, col, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
cand AS (SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_true FROM g GROUP BY ngram),
addr AS ({addr}),
est AS (
  SELECT a.ngram, a.n_true, CAST(MIN(t.cnt) AS BIGINT) AS n_est
  FROM addr a JOIN tbl t ON t.row = a.row AND t.col = a.col
  GROUP BY 1, 2)
SELECT ngram, n_true, n_est FROM est WHERE n_est >= {CMS_HH_THRESHOLD}
"""


SQL_CMS_HEAVY_HITTERS = _cms_hh_sql()

QUERIES.update(
    {"ngram_cms": q_ngram_cms, "cms_heavy_hitters": q_cms_heavy_hitters}
)
ORACLES.update(
    {"ngram_cms": SQL_NGRAM_CMS, "cms_heavy_hitters": SQL_CMS_HEAVY_HITTERS}
)


def q_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-strip text extraction from the synthesized html —
    regexp tag removal in pure codegen → (doc_id, extracted). The
    oracle restates the expected text DIRECTLY from the overlay
    (anchors concatenated in dst order), so the gate is byte-identical
    extracted text per document — the north rule's per-row invariant
    exercised on html."""
    pages = _synth_html_pages(spark, sf_dir)
    return pages.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.regexp_replace("html", "<[^>]*>", "").alias("extracted"),
    )


SQL_HTML_TEXT_EXTRACT = f"""
WITH {_SQL_HOST_CTES},
{_SQL_HTML_LINKS}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       COALESCE(string_agg(anchor, '' ORDER BY dst), '') AS extracted
FROM links GROUP BY doc_id
"""

QUERIES.update({"html_text_extract": q_html_text_extract})
ORACLES.update({"html_text_extract": SQL_HTML_TEXT_EXTRACT})


# ---------------------------------------------------------------------------
# round-4: embedding corpus statistics (whitening + domain centroids)
# ---------------------------------------------------------------------------


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moments of the embedding corpus on the 2^-20
    integer grid → (dim, n, sum_sv, sumsq_sv): the normalization /
    whitening statistics an indexing pipeline computes before PQ or
    IVF training. Integer sums are associative-commutative exactly, so
    the gate pins every moment bit-for-bit (the float-sum shuffle-order
    trap this repo's integer discipline exists to avoid). One explode +
    one map-side-combinable agg."""
    from ophois_spark.operators.similarity import PQ_SCALE

    e = load(spark, sf_dir, "embeddings")
    v = e.select(
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * PQ_SCALE).cast("long"),
            )
        ).alias("pos", "sv")
    )
    return (
        v.groupBy((F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("sv").cast("long").alias("sum_sv"),
            F.sum(F.col("sv") * F.col("sv")).cast("long").alias("sumsq_sv"),
        )
    )


def _dim_stats_sql() -> str:
    from ophois_spark.operators.similarity import PQ_SCALE

    return f"""
WITH v AS (
  SELECT j, CAST(round(CAST(embedding[j] AS DOUBLE) * {PQ_SCALE}) AS BIGINT) AS sv
  FROM (SELECT embedding, unnest(generate_series(1, len(embedding))) AS j
        FROM embeddings))
SELECT CAST(j AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(sv) AS BIGINT) AS sum_sv, CAST(SUM(sv * sv) AS BIGINT) AS sumsq_sv
FROM v GROUP BY j
"""


SQL_EMBEDDING_DIM_STATS = _dim_stats_sql()


def q_source_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding centroid (domain-balancing signal: how far
    each source's content sits from the corpus mix) → (source, dim,
    n_vecs, sum_sv, centroid_sv) with centroid_sv = floor(sum/n) on
    the integer grid. vec_id aligns with doc_id by construction of the
    test tables; the join is the doc→embedding lineage a real corpus
    carries."""
    from ophois_spark.operators.similarity import PQ_SCALE

    e = load(spark, sf_dir, "embeddings")
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    v = e.join(d, "vec_id").select(
        "source",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * PQ_SCALE).cast("long"),
            )
        ).alias("pos", "sv"),
    )
    agg = v.groupBy("source", (F.col("pos") + 1).cast("long").alias("dim")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("sv").cast("long").alias("sum_sv"),
    )
    return agg.select(
        "source",
        "dim",
        "n_vecs",
        "sum_sv",
        F.floor(F.col("sum_sv") / F.col("n_vecs")).cast("long").alias("centroid_sv"),
    )


def _source_centroid_sql() -> str:
    from ophois_spark.operators.similarity import PQ_SCALE

    return f"""
WITH v AS (
  SELECT d.source, j,
         CAST(round(CAST(e.embedding[j] AS DOUBLE) * {PQ_SCALE}) AS BIGINT) AS sv
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS j
        FROM embeddings) e
  JOIN documents d ON d.doc_id = e.vec_id),
agg AS (
  SELECT source, CAST(j AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(sv) AS BIGINT) AS sum_sv
  FROM v GROUP BY 1, 2)
SELECT source, dim, n_vecs, sum_sv,
       CAST(floor(CAST(sum_sv AS DOUBLE) / n_vecs) AS BIGINT) AS centroid_sv
FROM agg
"""


SQL_SOURCE_EMBEDDING_CENTROID = _source_centroid_sql()

QUERIES.update(
    {
        "embedding_dim_stats": q_embedding_dim_stats,
        "source_embedding_centroid": q_source_embedding_centroid,
    }
)
ORACLES.update(
    {
        "embedding_dim_stats": SQL_EMBEDDING_DIM_STATS,
        "source_embedding_centroid": SQL_SOURCE_EMBEDDING_CENTROID,
    }
)


# ---------------------------------------------------------------------------
# round-4: co-visitation graph + crawl-budget allocation
# ---------------------------------------------------------------------------


def q_cell_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-visitation over the event cell overlay →
    (cell_a, cell_b, n_users, lift_permille): cells visited by the
    same user, with integer lift (1000·n_ab·N / (n_a·n_b), floored) —
    the behavioral item-item graph a recommender or anomaly screen
    reads. Shape: project to DISTINCT (user, cell) FIRST (bounds the
    per-user basket at the cell vocabulary), then one self-join per
    user + algebraic aggs; the quadratic blowup of raw event pairs
    never materializes."""
    e = load(spark, sf_dir, "events")
    uc = e.select(
        "user_id", (F.col("event_id") % DECAY_CELLS).cast("long").alias("cell")
    ).distinct()
    n_users = uc.select("user_id").distinct().count()
    per_cell = uc.groupBy("cell").agg(F.count(F.lit(1)).alias("nc"))
    pairs = (
        uc.alias("a")
        .join(uc.alias("b"), "user_id")
        .filter(F.col("a.cell") < F.col("b.cell"))
        .groupBy(
            F.col("a.cell").alias("cell_a"), F.col("b.cell").alias("cell_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    return (
        pairs.join(per_cell.select(F.col("cell").alias("cell_a"), F.col("nc").alias("na")), "cell_a")
        .join(per_cell.select(F.col("cell").alias("cell_b"), F.col("nc").alias("nb")), "cell_b")
        .select(
            "cell_a",
            "cell_b",
            "n_users",
            F.floor(
                (F.lit(1000) * F.col("n_users") * F.lit(n_users))
                / (F.col("na") * F.col("nb"))
            )
            .cast("long")
            .alias("lift_permille"),
        )
    )


SQL_CELL_COVISITATION = f"""
WITH uc AS (
  SELECT DISTINCT user_id, event_id % {DECAY_CELLS} AS cell FROM events),
n AS (SELECT COUNT(DISTINCT user_id) AS nu FROM uc),
pc AS (SELECT cell, COUNT(*) AS nc FROM uc GROUP BY cell),
p AS (
  SELECT a.cell AS cell_a, b.cell AS cell_b, COUNT(*) AS n_users
  FROM uc a JOIN uc b ON a.user_id = b.user_id AND a.cell < b.cell
  GROUP BY 1, 2)
SELECT CAST(cell_a AS BIGINT) AS cell_a, CAST(cell_b AS BIGINT) AS cell_b,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(floor((1000.0 * n_users * (SELECT nu FROM n)) / (na.nc * nb.nc))
            AS BIGINT) AS lift_permille
FROM p JOIN pc na ON na.cell = p.cell_a JOIN pc nb ON nb.cell = p.cell_b
"""


CRAWL_BUDGET = 100000


def q_host_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer crawl-budget allocation proportional to host PageRank
    via the largest-remainder method (exact, sums to the budget by
    construction) → (host, rank, budget). The operational consumer of
    the host centrality score: floor share first, then the leftover
    units go to the largest remainders (tie → host asc) — all int64,
    so the gate pins every allocation.

    Scale note: the unpartitioned row_number runs over the HOST
    relation (one row per host — orders of magnitude below the page
    relation), and Spark warns it single-partitions; at 10^9 hosts
    swap it for the integer-rank order-statistic idiom
    (source_token_quantiles) to find the k-th remainder threshold
    distributedly, then break ties on host id. The allocation itself
    is unchanged."""
    r = q_host_pagerank(spark, sf_dir)
    tot = r.agg(F.sum("rank").alias("s"), F.count(F.lit(1)).alias("nh"))
    j = r.crossJoin(F.broadcast(tot))
    base = j.select(
        "host",
        "rank",
        F.floor(F.lit(CRAWL_BUDGET) * F.col("rank") / F.col("s"))
        .cast("long")
        .alias("fl"),
        (F.lit(CRAWL_BUDGET) * F.col("rank") % F.col("s")).alias("rem"),
    )
    leftover = base.agg(
        (F.lit(CRAWL_BUDGET) - F.sum("fl")).cast("long").alias("lo")
    )
    w = Window.orderBy(F.desc("rem"), F.asc("host"))
    return (
        base.crossJoin(F.broadcast(leftover))
        .withColumn("rn", F.row_number().over(w))
        .select(
            "host",
            F.col("rank").cast("long").alias("rank"),
            (F.col("fl") + (F.col("rn") <= F.col("lo")).cast("long"))
            .cast("long")
            .alias("budget"),
        )
    )


SQL_HOST_CRAWL_BUDGET = f"""
WITH pr AS ({SQL_HOST_PAGERANK}),
t AS (SELECT SUM(rank) AS s FROM pr),
base AS (
  SELECT host, rank,
         CAST(floor(({CRAWL_BUDGET}::BIGINT * rank) / (SELECT s FROM t)) AS BIGINT) AS fl,
         ({CRAWL_BUDGET}::BIGINT * rank) % (SELECT s FROM t) AS rem
  FROM pr),
lo AS (SELECT {CRAWL_BUDGET} - SUM(fl) AS lo FROM base),
rn AS (
  SELECT host, rank, fl,
         ROW_NUMBER() OVER (ORDER BY rem DESC, host ASC) AS rn
  FROM base)
SELECT host, CAST(rank AS BIGINT) AS rank,
       CAST(fl + CASE WHEN rn <= (SELECT lo FROM lo) THEN 1 ELSE 0 END AS BIGINT)
         AS budget
FROM rn
"""

QUERIES.update(
    {
        "cell_covisitation": q_cell_covisitation,
        "host_crawl_budget": q_host_crawl_budget,
    }
)
ORACLES.update(
    {
        "cell_covisitation": SQL_CELL_COVISITATION,
        "host_crawl_budget": SQL_HOST_CRAWL_BUDGET,
    }
)


# ---------------------------------------------------------------------------
# round-5: two-stage PQ search — ADC shortlist -> exact rerank
# ---------------------------------------------------------------------------

PQ_RERANK_K = 10


def q_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ search: compressed-domain ADC shortlist (k'=100)
    → exact int64 L2 rerank of the shortlist → top-10 — the standard
    PQ-index consumer (operators/similarity.py pq_rerank_topk). The
    recall lift over the raw ADC scan is quantified in bench.py
    (recall_pq_adc vs recall_pq_rerank)."""
    from ophois_spark.operators.similarity import pq_rerank_topk

    emb = load(spark, sf_dir, "embeddings")
    qset = emb.filter(F.col("vec_id") % 50 == 0)
    return pq_rerank_topk(emb, qset, PQ_RERANK_K)


def _pq_rerank_sql() -> str:
    from ophois_spark.operators.similarity import (
        PQ_CENTROIDS,
        PQ_RERANK_SHORTLIST,
        PQ_SCALE,
        PQ_SUBSPACES,
    )

    m, k, sc = PQ_SUBSPACES, PQ_CENTROIDS, PQ_SCALE
    return f"""
WITH z AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
         unnest(generate_series(0, len(embedding) - 1)) AS d
  FROM embeddings),
si AS MATERIALIZED (
  SELECT vec_id, d, d // (SELECT len(embedding) // {m} FROM embeddings LIMIT 1) AS s,
         CAST(round(val * {sc}) AS BIGINT) AS sv
  FROM z),
seeds AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
  FROM (SELECT vec_id FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})),
cent AS MATERIALIZED (
  SELECT seeds.j, si.s, si.d, si.sv AS cv
  FROM si JOIN seeds USING (vec_id)),
dist AS (
  SELECT v.vec_id, v.s, c.j, SUM((v.sv - c.cv) * (v.sv - c.cv)) AS dd
  FROM si v JOIN cent c ON c.s = v.s AND c.d = v.d
  GROUP BY 1, 2, 3),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dd, j) AS rn
    FROM dist) WHERE rn = 1),
lut AS (
  SELECT q.vec_id AS qid, q.s, c.j AS code,
         SUM((q.sv - c.cv) * (q.sv - c.cv)) AS d
  FROM si q JOIN cent c ON c.s = q.s AND c.d = q.d
  WHERE q.vec_id % 50 = 0
  GROUP BY 1, 2, 3),
part AS (
  SELECT lut.qid, codes.vec_id, CAST(SUM(lut.d) AS BIGINT) AS adc
  FROM codes JOIN lut ON lut.s = codes.s AND lut.code = codes.code
  GROUP BY 1, 2),
short AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
    FROM part) WHERE rn <= {PQ_RERANK_SHORTLIST}),
ex AS (
  SELECT s.qid, s.vec_id,
         CAST(SUM((dv.sv - qv.sv) * (dv.sv - qv.sv)) AS BIGINT) AS d2
  FROM short s
  JOIN si dv ON dv.vec_id = s.vec_id
  JOIN si qv ON qv.vec_id = s.qid AND qv.d = dv.d
  GROUP BY 1, 2),
rr AS (
  SELECT qid, vec_id, d2,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS INT) AS rank
  FROM ex)
SELECT qid, rank, vec_id, d2 FROM rr WHERE rank <= {PQ_RERANK_K}
"""


SQL_PQ_RERANK_TOPK = _pq_rerank_sql()

QUERIES.update({"pq_rerank_topk": q_pq_rerank_topk})
ORACLES.update({"pq_rerank_topk": SQL_PQ_RERANK_TOPK})


# ---------------------------------------------------------------------------
# round-5: REAL codec decode paths — BMP (image) and PCM16 WAV (audio)
# ---------------------------------------------------------------------------


def q_media_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode gate: valid 24-bit BMPs are synthesized from
    doc_id (sources/pages.py synth_bmp — closed-form pixel bytes
    (doc_id + k) % 256, bottom-up rows, 4-byte padding), then
    media_features parses the actual headers and pixel rows
    (operators/multimodal.py decode_image — pure numpy, no codec libs).
    The oracle recomputes width/height/file size/pixel mean from the
    generative formulas, so any header-parse, padding, or row-order bug
    in the decoder breaks the value hash."""
    from ophois_spark.operators.multimodal import media_features
    from ophois_spark.sources.pages import synth_bmp_media

    media = synth_bmp_media(load(spark, sf_dir, "documents"))
    return media_features(media)


SQL_MEDIA_BMP_DECODE = """
WITH dims AS (
  SELECT doc_id,
         CAST(1 + doc_id % 16 AS INT) AS width,
         CAST(1 + (doc_id * 7) % 12 AS INT) AS height
  FROM documents),
sz AS (
  SELECT doc_id, width, height,
         ((3 * width + 3) // 4) * 4 AS row_size
  FROM dims)
SELECT doc_id,
       CAST(54 + row_size * height AS INT) AS n_bytes,
       width, height,
       list_avg(list_transform(
         generate_series(0, 3 * width * height - 1),
         k -> CAST((doc_id + k) % 256 AS DOUBLE))) AS mean_val
FROM sz
"""


def q_media_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode gate: valid PCM16 mono WAVs synthesized from
    doc_id (sources/pages.py synth_wav — sample k = ((doc_id*31 +
    k*997) % 65536) - 32768), decoded by walking the actual RIFF chunk
    list (operators/multimodal.py decode_audio), featurized to exact
    integer-derived values."""
    from ophois_spark.operators.multimodal import audio_features
    from ophois_spark.sources.pages import synth_wav_media

    media = synth_wav_media(load(spark, sf_dir, "documents"))
    return audio_features(media)


SQL_MEDIA_WAV_DECODE = """
WITH n AS (
  SELECT doc_id, CAST(8 + doc_id % 57 AS INT) AS n_samples
  FROM documents)
SELECT doc_id, n_samples,
       list_avg(list_transform(
         generate_series(0, n_samples - 1),
         k -> CAST((doc_id * 31 + k * 997) % 65536 - 32768 AS DOUBLE)))
         AS mean_sample,
       CAST(list_max(list_transform(
         generate_series(0, n_samples - 1),
         k -> abs((doc_id * 31 + k * 997) % 65536 - 32768))) AS BIGINT)
         AS peak
FROM n
"""


QUERIES.update(
    {
        "media_bmp_decode": q_media_bmp_decode,
        "media_wav_decode": q_media_wav_decode,
    }
)
ORACLES.update(
    {
        "media_bmp_decode": SQL_MEDIA_BMP_DECODE,
        "media_wav_decode": SQL_MEDIA_WAV_DECODE,
    }
)


# ---------------------------------------------------------------------------
# round-5: IVFADC with reranking — the composed production ANN index
# ---------------------------------------------------------------------------

IVFADC_NPROBE = 4
IVFADC_K = 10


def q_ivfadc_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC + rerank (Jégou TPAMI'11 §V): coarse IVF probe (nprobe=4
    of 32 lists) → ADC scan over only the probed lists' codes → exact
    int64 rerank of the top-100 → top-10. Composition of the gated
    building blocks — operators/similarity.py ivfadc_rerank_topk."""
    from ophois_spark.operators.similarity import ivfadc_rerank_topk

    emb = load(spark, sf_dir, "embeddings")
    qset = emb.filter(F.col("vec_id") % 50 == 0)
    return ivfadc_rerank_topk(emb, qset, IVFADC_K, nprobe=IVFADC_NPROBE)


def _ivfadc_sql() -> str:
    from ophois_spark.operators.similarity import (
        N_CENTROIDS,
        PQ_CENTROIDS,
        PQ_RERANK_SHORTLIST,
        PQ_SCALE,
        PQ_SUBSPACES,
    )

    m, kc, sc = PQ_SUBSPACES, PQ_CENTROIDS, PQ_SCALE
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CENTROIDS}),
assign AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
    FROM e CROSS JOIN c) WHERE rn = 1
),
qf AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 0),
probes AS (
  SELECT qid, cid FROM (
    SELECT qf.qid, c.cid,
           row_number() OVER (PARTITION BY qf.qid
             ORDER BY round(list_cosine_similarity(qf.qv, c.cv), 6) DESC, c.cid) AS rn
    FROM qf CROSS JOIN c) WHERE rn <= {IVFADC_NPROBE}
),
cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN assign a ON p.cid = a.cid),
z AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
         unnest(generate_series(0, len(embedding) - 1)) AS d
  FROM embeddings),
si AS MATERIALIZED (
  SELECT vec_id, d, d // (SELECT len(embedding) // {m} FROM embeddings LIMIT 1) AS s,
         CAST(round(val * {sc}) AS BIGINT) AS sv
  FROM z),
seeds AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
  FROM (SELECT vec_id FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {kc})),
cent AS MATERIALIZED (
  SELECT seeds.j, si.s, si.d, si.sv AS cv
  FROM si JOIN seeds USING (vec_id)),
dist AS (
  SELECT v.vec_id, v.s, c2.j, SUM((v.sv - c2.cv) * (v.sv - c2.cv)) AS dd
  FROM si v JOIN cent c2 ON c2.s = v.s AND c2.d = v.d
  GROUP BY 1, 2, 3),
codes AS MATERIALIZED (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dd, j) AS rn
    FROM dist) WHERE rn = 1),
lut AS (
  SELECT q2.vec_id AS qid, q2.s, c2.j AS code,
         SUM((q2.sv - c2.cv) * (q2.sv - c2.cv)) AS d
  FROM si q2 JOIN cent c2 ON c2.s = q2.s AND c2.d = q2.d
  WHERE q2.vec_id % 50 = 0
  GROUP BY 1, 2, 3),
part AS (
  SELECT cand.qid, cand.vec_id, CAST(SUM(lut.d) AS BIGINT) AS adc
  FROM cand
  JOIN codes ON codes.vec_id = cand.vec_id
  JOIN lut ON lut.qid = cand.qid AND lut.s = codes.s AND lut.code = codes.code
  GROUP BY 1, 2),
short AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
    FROM part) WHERE rn <= {PQ_RERANK_SHORTLIST}),
ex AS (
  SELECT s2.qid, s2.vec_id,
         CAST(SUM((dv.sv - qv.sv) * (dv.sv - qv.sv)) AS BIGINT) AS d2
  FROM short s2
  JOIN si dv ON dv.vec_id = s2.vec_id
  JOIN si qv ON qv.vec_id = s2.qid AND qv.d = dv.d
  GROUP BY 1, 2),
rr AS (
  SELECT qid, vec_id, d2,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS INT) AS rank
  FROM ex)
SELECT qid, rank, vec_id, d2 FROM rr WHERE rank <= {IVFADC_K}
"""


SQL_IVFADC_RERANK_TOPK = _ivfadc_sql()

QUERIES.update({"ivfadc_rerank_topk": q_ivfadc_rerank_topk})
ORACLES.update({"ivfadc_rerank_topk": SQL_IVFADC_RERANK_TOPK})


# ---------------------------------------------------------------------------
# Driver-coverage rotation (round 5).
#
# The external correctness driver samples AT MOST the first 50 entries of
# ``queries()`` per round.  Rounds 1-4 together hard-checked only the 54
# names below; the remaining 105 registry rows were green only under the
# local replica gate (tests/test_oracle_parity.py, identical contract).
# Per the round-4 verdict ("Next round #1") we rotate the registry so the
# first 50 slots are rows that have NEVER received a driver signal,
# front-loaded with the round-4 flagships.  The ledger of which rows were
# driver-checked in which round lives in DRIVER_SAMPLED.md.
# ---------------------------------------------------------------------------

DRIVER_SAMPLED_R1_R4: frozenset[str] = frozenset(
    {
        "component_labels", "component_size_dist", "contamination",
        "coord_dedup", "degree2_contraction", "degree_distribution",
        "discretize_parts", "discretize_points", "doc_exact_dedup",
        "doc_fingerprint", "doc_lang_id", "doc_quality", "doc_simhash",
        "doc_token_count", "doc_winnow", "edge_canonical_dedup",
        "embedding_ivf_topk", "embedding_lsh_buckets", "embedding_near_dup",
        "embedding_topk", "event_sessionization", "events_asof",
        "events_rollup", "graph_show", "knn_nodes",
        "largest_component_nodes", "latest_crawl_dedup",
        "length_distribution", "media_features", "media_frame_sample",
        "media_metadata", "media_resize", "minhash_lsh_pairs",
        "near_dup_clusters", "ngram_topk", "order_size", "pip_admin_join",
        "pip_clip", "raster_blob_edges", "raster_points", "raster_runs",
        "render_tiles", "render_tiles_banded", "shingle_jaccard",
        "simhash_hamming", "simplify_pipeline", "source_rollup",
        "tile_assignment", "tile_pyramid", "under_delta_links",
        "under_delta_nodes", "way_split", "winnow_overlap_pairs",
        "xml_extract",
    }
)

# Round-4 flagships and capstones the verdict called out by name — these
# take the very first slots so a 50-row sample cannot miss them.
_ROTATION_PRIORITY: tuple[str, ...] = (
    "segment_crossings", "bpe_merges", "site_scc", "mst_edges",
    "corpus_pipeline", "link_pagerank_converged", "pack_sequences_sharded",
    "web_bowtie", "scc_dag_edges", "host_pagerank", "pq_adc_topk",
    "hits_scores", "kcore_decomposition", "ktruss_edges",
    # round-5 additions — brand new, so by definition never sampled:
    "pq_rerank_topk", "media_bmp_decode", "media_wav_decode",
    "ivfadc_rerank_topk",
)


def _rotated(order: "dict[str, object]") -> "list[str]":
    prio = [k for k in _ROTATION_PRIORITY if k in order]
    rest_unsampled = [
        k for k in order
        if k not in DRIVER_SAMPLED_R1_R4 and k not in _ROTATION_PRIORITY
    ]
    sampled = [k for k in order if k in DRIVER_SAMPLED_R1_R4]
    return prio + rest_unsampled + sampled


_ORDER = _rotated(QUERIES)
QUERIES = {k: QUERIES[k] for k in _ORDER}
ORACLES = {k: ORACLES[k] for k in _ORDER if k in ORACLES}

# Benchmark contract for memoized queries: a harness timing a row's OWN
# work resets the memo that row produces before each measured pass,
# else a second pass reads the memo and reports a cache hit. Consumers
# of a memo (top_pages_by_rank, component_size_dist, web_bowtie) stay
# warm by design.
MEMO_RESETS = memo_resets()
# the per-memo stores, by the names perfbench clears between passes
_GRAPH_CACHE = derived_graph.store
_LABEL_CACHE = _component_labels.store
_PAGERANK_CACHE = q_link_pagerank_converged.store
