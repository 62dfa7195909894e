"""Spatial layer: cell joins, point-in-polygon, kNN, raster tiles.

Graft-mandated operators (BASELINE.json north_star/north_rule) built
from scratch on the engine's hierarchical cell index
(kernels/cells.py — no h3/shapely in the sandbox, and the rule mandates
from-scratch anyway):

- ``with_cells``          cell id + integer grid coords as Column math
- ``same_cell_pairs``     intersection detection: same-cell node join
- ``point_in_polygon``    bbox/cell prefilter + exact ray casting as
                          pure Column expressions (no UDF)
- ``knn_join``            nearest-node snapping via cell-ring expansion
                          with a distance lower-bound guarantee, exact
                          brute-force fallback for unresolved queries
- ``tile_assignment``     edge → covering raster tiles at a zoom level
- ``render_tiles``        per-tile uint8 rasterization (numpy Bresenham
                          inside applyInPandas)

Scale notes: every join here is an equi hash join on a cell key; dense
cells (urban skew) are handled by AQE skew-join, and the algebraic
aggregations need no salting because map-side partial aggregation
collapses a hot key to one partial row per map task (measured in
BENCH/BASELINE.md, "Skew-handling evidence"); the kNN loop doubles the
ring radius per round so the number of driver iterations is logarithmic.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ophois_spark.functions import (
    cell_expr,
    cell_from_xy,
    cell_parent_expr,
    grid_coords,
    haversine_m,
)
from ophois_spark.kernels.geo import EARTH_RADIUS_M
from ophois_spark.plans.fixpoint import empty, fixpoint

M_PER_DEG = EARTH_RADIUS_M * math.pi / 180.0


def with_cells(df: DataFrame, res: int, lon_col: str = "lon_d", lat_col: str = "lat_d") -> DataFrame:
    return df.withColumn("cell", cell_expr(F.col(lon_col), F.col(lat_col), res))


def same_cell_pairs(nodes: DataFrame, res: int) -> DataFrame:
    """Intersection detection: distinct node pairs sharing a cell.

    Self equi-join on the cell key (bounded shuffle); AQE skew-join
    splits dense cells at runtime.
    """
    cells = with_cells(nodes, res).select("cell", "id", "lat_d", "lon_d")
    a = cells.alias("a")
    b = cells.alias("b")
    return (
        a.join(b, "cell")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            "cell",
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            haversine_m(
                F.col("a.lon_d"), F.col("a.lat_d"), F.col("b.lon_d"), F.col("b.lat_d")
            ).alias("dist_m"),
        )
    )


def cell_density_smooth(counts: DataFrame, res: int, k: int = 1) -> DataFrame:
    """Neighborhood-smoothed cell density → (cell, n_pts, n_smooth):
    for every POPULATED cell, its own point count plus the sum of
    counts over its kring(k) Chebyshev neighborhood (the engine's
    ``grid_disk`` analogue — kernels.cells.kring made relational).
    The box-filter density surface heatmap rendering, hotspot
    detection, and sampling-rate maps consume.

    ``counts``: (cell, n) per-cell point counts at resolution ``res``
    (one groupBy upstream). Neighbor enumeration is a constant
    (2k+1)^2-way explode of pure integer Column arithmetic — decode
    (ix, iy), offset, wrap x mod 2^res, DROP y outside [0, 2^res)
    (pole clamp semantics identical to kernels.cells.kring) — then one
    algebraic aggregation on the neighbor key. Because the Chebyshev
    ball is symmetric under the same wrap/clamp rules, gathering FROM
    kring(c) equals scattering TO kring(c'), so the scatter form needs
    no second join.

    Scale shape at 10^12 points: fan-out is the constant (2k+1)^2 on
    the already-aggregated cell relation (orders of magnitude below
    the point count); the sum is map-side combinable, so a hot cell's
    nine contributions collapse per input split; the final join is
    cell-keyed on the partitioning the aggregation just produced (AQE
    plans it exchange-free). Output keeps populated cells only —
    empty-cell smoothing would materialize the whole grid.
    """
    from ophois_spark.kernels.cells import RES_BITS, X_BITS
    from ophois_spark.plans.cache import swap_cached

    # counts feeds two branches (the neighbor explode and the final
    # populated-cells join) — cache it once so the upstream point
    # aggregation isn't recomputed per branch
    counts = swap_cached("density_smooth.counts", counts)
    n = 1 << res
    offs = [(dx, dy) for dy in range(-k, k + 1) for dx in range(-k, k + 1)]
    arr = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in offs
        ]
    )
    ix = F.floor((F.col("cell") % F.lit(1 << RES_BITS)) / F.lit(1 << X_BITS))
    iy = F.col("cell") % F.lit(1 << X_BITS)
    ex = (
        counts.select("cell", "n", F.explode(arr).alias("o"))
        .select(
            (
                F.lit(res) * F.lit(1 << RES_BITS)
                + (((ix + F.col("o.dx")) % n + n) % n) * F.lit(1 << X_BITS)
                + (iy + F.col("o.dy"))
            ).alias("ncell"),
            (iy + F.col("o.dy")).alias("ny"),
            "n",
        )
        .filter((F.col("ny") >= 0) & (F.col("ny") < n))
    )
    smooth = ex.groupBy(F.col("ncell").alias("cell")).agg(
        F.sum("n").alias("n_smooth")
    )
    return counts.join(smooth, "cell").select(
        "cell", F.col("n").alias("n_pts"), F.col("n_smooth")
    )


def cell_compact(cells: DataFrame, res: int, min_res: int) -> DataFrame:
    """Hierarchical cell-set compaction (H3 ``compact``) → (cell): the
    minimal mixed-resolution cell set covering EXACTLY the input set —
    wherever all four children of a parent are present they collapse
    into the parent, recursively, from ``res`` up to ``min_res``. The
    standard trick for shipping a dense coverage (a city's lit cells, a
    polygon cover) in orders of magnitude fewer rows; partition pruning
    on a compacted cover tests parent prefixes instead of enumerating
    leaves.

    One round per level — a FIXED unroll of ``res - min_res`` rounds
    (never data-dependent, so the SQL oracle replays the identical
    rounds with no measured pinning): group the current level's cells
    by parent, parents with all 4 children present emit themselves into
    the next level, incomplete groups emit their children into the
    output. Input must be distinct cells all at ``res``; each round is
    one map-side-combinable count plus one broadcast-scale join back.

    Scale shape at 10^12 leaf cells: level k has ≤ |level k-1|/4 rows,
    so total work is a geometric series in the leaf count; grouping
    keys (parents) are as granular as the data, no hot key possible
    (a parent has ≤ 4 children by construction).
    """
    out_parts = []

    def _level(state, cut):
        cur, r = state
        parent = cell_parent_expr(F.col("cell"), r).alias("parent")
        grp = cur.select("cell", parent).groupBy("parent").agg(
            F.count(F.lit(1)).alias("n_children")
        )
        full = grp.filter(F.col("n_children") == 4).select("parent")
        out_parts.append(
            cur.select("cell", parent)
            .join(full, "parent", "left_anti")
            .select("cell")
        )
        return full.select(F.col("parent").alias("cell")), r - 1

    # each level's cells feed two branches (the completeness count and
    # the incomplete-children anti-join): the start level is cut here,
    # every later one by the driver
    start = cells.select("cell").distinct().localCheckpoint(eager=False)
    (cur, _), _ = fixpoint("cell_compact", (start, res), _level, rounds=res - min_res)
    return reduce(DataFrame.unionByName, out_parts + [cur])


# ---------------------------------------------------------------------------
# point in polygon
# ---------------------------------------------------------------------------


PIP_LITERAL_MAX_EDGES = 256


def point_in_polygon(
    points: DataFrame,
    polygon: list[tuple[float, float]],
    lon_col: str = "lon_d",
    lat_col: str = "lat_d",
) -> DataFrame:
    """Filter points inside ``polygon`` [(lon, lat), …] — even-odd rule.

    bbox prefilter (pushdown-friendly Column compare), then exact ray
    casting. Two physical strategies by polygon size:

    - ≤ ``PIP_LITERAL_MAX_EDGES`` edges: fold over an ARRAY LITERAL of
      edges with ``F.aggregate`` — one narrow per-row expression inside
      codegen, ZERO shuffle (the polygon ships inside the plan).
    - larger polygons (city boundaries run to 10k+ vertices): a
      plan-side edge literal would blow past codegen limits, so the
      edges become a broadcast table; crossings are summed per input
      row keyed by a unique row id (duplicates preserved — the groupBy
      is on the id, never on the payload columns).
    """
    if len(polygon) < 3:
        raise ValueError("polygon needs >= 3 vertices")
    edges = [
        (float(x1), float(y1), float(x2), float(y2))
        for (x1, y1), (x2, y2) in zip(polygon, polygon[1:] + polygon[:1])
    ]
    min_x = min(e[0] for e in edges)
    max_x = max(e[0] for e in edges)
    min_y = min(e[1] for e in edges)
    max_y = max(e[1] for e in edges)

    lon, lat = F.col(lon_col), F.col(lat_col)
    boxed = points.filter(
        (lon >= F.lit(min_x)) & (lon <= F.lit(max_x)) & (lat >= F.lit(min_y)) & (lat <= F.lit(max_y))
    )

    def _cross(x1, y1, x2, y2):
        return ((y1 > lat) != (y2 > lat)) & (
            lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1
        )

    if len(edges) <= PIP_LITERAL_MAX_EDGES:
        edge_lits = F.array(
            *[
                F.struct(
                    F.lit(x1).alias("x1"),
                    F.lit(y1).alias("y1"),
                    F.lit(x2).alias("x2"),
                    F.lit(y2).alias("y2"),
                )
                for x1, y1, x2, y2 in edges
            ]
        )
        crossings = F.aggregate(
            edge_lits,
            F.lit(0),
            lambda acc, e: acc
            + _cross(e["x1"], e["y1"], e["x2"], e["y2"]).cast("int"),
        )
        return boxed.filter(crossings % 2 == 1)

    edf = points.sparkSession.createDataFrame(
        edges, "x1 double, y1 double, x2 double, y2 double"
    )
    cross = _cross(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"))
    withid = boxed.withColumn("_rid", F.monotonically_increasing_id())
    hits = (
        withid.crossJoin(F.broadcast(edf))
        .groupBy("_rid", *points.columns)
        .agg(F.sum(cross.cast("int")).alias("_crossings"))
        .filter(F.col("_crossings") % 2 == 1)
        .drop("_rid", "_crossings")
    )
    return hits


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int,
    lon_col: str = "lon_d",
    lat_col: str = "lat_d",
    broadcast_polygons: bool = True,
) -> DataFrame:
    """Containment JOIN: every (point, polygon) pair where the polygon
    contains the point — the many-polygon form of admin-boundary
    clipping (north_rule "point-in-polygon admin-boundary clipping"
    over a whole boundary TABLE, not one literal ring).

    ``polygons`` schema: ``(poly_id, xs: array<double>, ys:
    array<double>)`` — one row per RING, vertices in ring order,
    closing edge implicit. A ``poly_id`` may span multiple rows:
    multipolygon parts and holes both work with no ring-role flags,
    because containment is even-odd over the crossing total of ALL the
    polygon's edges (inside a part = odd; inside a hole = outer + hole
    crossings = even).

    100 TB shape (vs calling :func:`point_in_polygon` per polygon,
    which is one full scan of ``points`` PER polygon):

    1. per polygon: bbox from ``array_min/max``, then a **cell cover**
       at ``res`` — ``sequence(ix_lo..ix_hi) × sequence(iy_lo..iy_hi)``
       exploded JVM-side. Cover size is bounded by choosing ``res``
       near the polygon's own scale (admin boundaries → tens of cells).
    2. points get the same-res cell id (integer Column math).
    3. ONE equi hash join on the cell key — broadcast when the exploded
       cover fits (country/region admin sets easily do; default), a
       shuffle hash join otherwise. Never a cross join; candidate
       volume is |points-in-covered-cells| × local polygon density.
    4. bbox refine, then the exact even-odd ray cast: candidates join
       the (broadcast) exploded EDGE table on poly_id, per-edge crossing
       flags are summed per candidate row — all plain Column exprs in
       whole-stage codegen, map-side partial agg collapses the ×edges
       blowup before the one candidate-sized shuffle. (A ray-cast fold
       over the xs/ys arrays would avoid that shuffle, but a
       higher-order-function predicate whose lambda references BOTH
       join sides trips a Catalyst mis-push in Spark 4.1 —
       INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND: the filter is duplicated
       below the join where the point columns don't exist — so the
       refine deliberately mirrors :func:`point_in_polygon`'s
       broadcast-edge strategy instead.)

    A point inside k overlapping polygons yields k output rows.
    ``points`` must not already carry ``poly_id``/helper column names.
    Antimeridian-crossing rings are out of contract (admin clipping
    over web-extracted street data; lon spans are degrees, not the
    dateline): such a ring still returns CORRECT rows — its bbox just
    degenerates to near-global lon span, so its cover explodes and the
    row is slow, never silently wrong.
    """
    n = 1 << res
    xs, ys = F.col("xs"), F.col("ys")
    rings = polygons.filter(F.size(xs) >= 3)
    # poly-level bbox across all its rings (tiny shuffle on the small
    # polygon side only; one cover per poly_id even when rings overlap
    # cells, so no duplicate candidate pairs downstream)
    p = rings.groupBy("poly_id").agg(
        F.min(F.array_min(xs)).alias("_xmin"),
        F.max(F.array_max(xs)).alias("_xmax"),
        F.min(F.array_min(ys)).alias("_ymin"),
        F.max(F.array_max(ys)).alias("_ymax"),
    )
    # integer grid ranges of the bbox corners (same floor/wrap/clamp as
    # cell_expr so the cover is a superset of every member point's cell)
    ix_lo = F.floor((F.col("_xmin") + 180.0) / 360.0 * n).cast("long")
    ix_hi = F.floor((F.col("_xmax") + 180.0) / 360.0 * n).cast("long")
    iy_lo = F.greatest(
        F.lit(0), F.least(F.lit(n - 1), F.floor((F.col("_ymin") + 90.0) / 180.0 * n).cast("long"))
    )
    iy_hi = F.greatest(
        F.lit(0), F.least(F.lit(n - 1), F.floor((F.col("_ymax") + 90.0) / 180.0 * n).cast("long"))
    )
    cover = (
        p.withColumn("_ix", F.explode(F.sequence(ix_lo, ix_hi)))
        .withColumn("_iy", F.explode(F.sequence(iy_lo, iy_hi)))
        .withColumn("_cell", cell_from_xy(F.col("_ix") % n, F.col("_iy"), res))
        .drop("_ix", "_iy")
    )
    # exploded edge table: one row per ring edge (closing edge included)
    i = F.col("_i")
    sz = F.size(xs)
    edges = (
        rings.select("poly_id", "xs", "ys", F.explode(F.sequence(F.lit(0), sz - 1)).alias("_i"))
        .select(
            "poly_id",
            F.element_at(xs, i + 1).alias("_x1"),
            F.element_at(ys, i + 1).alias("_y1"),
            F.element_at(xs, ((i + 1) % sz) + 1).alias("_x2"),
            F.element_at(ys, ((i + 1) % sz) + 1).alias("_y2"),
        )
    )
    if broadcast_polygons:
        cover = F.broadcast(cover)
        edges = F.broadcast(edges)

    lon, lat = F.col(lon_col), F.col(lat_col)
    cand = (
        points.withColumn("_cell", cell_expr(lon, lat, res))
        .join(cover, "_cell")
        .filter(
            (lon >= F.col("_xmin"))
            & (lon <= F.col("_xmax"))
            & (lat >= F.col("_ymin"))
            & (lat <= F.col("_ymax"))
        )
        .drop("_cell", "_xmin", "_xmax", "_ymin", "_ymax")
        .withColumn("_rid", F.monotonically_increasing_id())
    )
    x1, y1, x2, y2 = (F.col(c) for c in ("_x1", "_y1", "_x2", "_y2"))
    cross = ((y1 > lat) != (y2 > lat)) & (
        lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1
    )
    out_cols = points.columns + ["poly_id"]
    return (
        cand.join(edges, "poly_id")
        .groupBy("_rid", *out_cols)
        .agg(F.sum(cross.cast("int")).alias("_crossings"))
        .filter(F.col("_crossings") % 2 == 1)
        .select(*out_cols)
    )


# ---------------------------------------------------------------------------
# kNN via cell-ring expansion
# ---------------------------------------------------------------------------


def knn_join(
    nodes: DataFrame,
    queries: DataFrame,
    k: int,
    res: int,
    max_ring: int = 8,
    query_id: str = "qid",
) -> DataFrame:
    """k nearest nodes per query point, exact.

    Round r joins each unresolved query to the node cells in the
    Chebyshev ANNULUS (r_prev, r] only (ring doubles per round); the
    previous round's top-k survivors are carried forward and re-ranked
    against the annulus candidates — top-k(inner ∪ annulus) ≡
    top-k(top-k(inner) ∪ annulus), so inner cells are never re-joined
    (a full-block rejoin would re-rank the whole (2r+1)² block every
    round). A query resolves when it has ≥ k candidates whose k-th
    distance is ≤ the lower bound of any cell beyond the ring (r × min
    cell extent in metres at the query's latitude). Stragglers after
    ``max_ring`` fall back to an exact brute-force join. Output:
    (qid, rank, id, dist_m) with rank 1..k by (dist rounded to 1e-6 m,
    id) — rounding puts the ordering far above cross-backend libm noise
    while keeping it total.

    Reference analogue: none (graft-mandated, north_star "kNN
    nearest-node snapping via cell-ring expansion").
    """
    n = 1 << res
    m_y = (180.0 / n) * M_PER_DEG  # cell height in metres
    nodes_c = with_cells(nodes, res).select(
        "cell", F.col("id"), F.col("lat_d").alias("n_lat"), F.col("lon_d").alias("n_lon")
    )

    qix, qiy = grid_coords(F.col("q_lon"), F.col("q_lat"), res)
    pending = queries.select(
        F.col(query_id).alias("qid"), F.col("lat_d").alias("q_lat"), F.col("lon_d").alias("q_lon")
    ).withColumns({"qix": qix.cast("long"), "qiy": qiy.cast("long")})

    results = []

    def _round(state, cut):
        # top: the previous round's top-k rows; those of still-pending
        # queries carry into this round's ranking
        pending, top, r = state
        r_prev = r // 2 if r > 1 else -1  # round 1's "annulus" includes the centre cell
        # wrap x, clamp-filter y; dedup (qid, cell): when 2r+1 > n the
        # modulo maps distinct dx onto the same column — without the
        # dedup a node would join (and rank) multiple times per query.
        # Only annulus cells (Chebyshev > r_prev) join; inner cells'
        # useful candidates already live in `carry`.
        ring = (
            pending.withColumn("dx", F.explode(F.sequence(F.lit(-r), F.lit(r))))
            .withColumn("dy", F.explode(F.sequence(F.lit(-r), F.lit(r))))
            .filter(F.greatest(F.abs(F.col("dx")), F.abs(F.col("dy"))) > r_prev)
            .withColumn("nx", ((F.col("qix") + F.col("dx")) % n + n) % n)
            .withColumn("ny", F.col("qiy") + F.col("dy"))
            .filter((F.col("ny") >= 0) & (F.col("ny") < n))
            .withColumn("cell", cell_from_xy(F.col("nx"), F.col("ny"), res))
            .select("qid", "q_lat", "q_lon", "cell")
            .dropDuplicates(["qid", "cell"])
        )
        cand = (
            ring.join(nodes_c, "cell")
            .withColumn(
                "dist_m",
                haversine_m(F.col("q_lon"), F.col("q_lat"), F.col("n_lon"), F.col("n_lat")),
            )
            .select("qid", "q_lat", "id", "dist_m")
        )
        if top is not None:
            carry = top.join(pending, "qid", "left_semi").select("qid", "q_lat", "id", "dist_m")
            # (qid, id) dedup: under modulo wrap an annulus (dx, dy) can
            # alias a cell already visited in an earlier round — the same
            # node must not occupy two ranks (values are identical, any
            # survivor is fine)
            cand = cand.unionByName(carry).dropDuplicates(["qid", "id"])
        w = Window.partitionBy("qid").orderBy(F.round("dist_m", 6), "id")
        # the stop action, this round's output part and the next
        # round's carry all read topk
        topk = cut(
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "q_lat", "rank", "id", "dist_m")
        )
        # per-query lower bound for anything outside ring r (metres)
        m_x = F.lit((360.0 / n) * M_PER_DEG) * F.greatest(
            F.lit(0.0), F.cos(F.radians(F.abs(F.col("q_lat")) + F.lit(r * 180.0 / n)))
        )
        bound = F.lit(r) * F.least(F.lit(m_y), m_x)
        stats = topk.groupBy("qid").agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.max("dist_m").alias("kth"),
            F.first("q_lat").alias("q_lat"),
        )
        # full coverage needs r >= n-1: x wraps (2r+1 >= n suffices
        # there) but y CLAMPS, so a query near a pole only covers all
        # valid rows once the ring reaches across the whole y range
        whole_grid = r >= n - 1
        resolved_q = stats.filter(
            F.lit(whole_grid) | ((F.col("n_cand") >= k) & (F.col("kth") <= bound))
        ).select("qid")
        results.append(
            topk.join(resolved_q, "qid", "left_semi").select("qid", "rank", "id", "dist_m")
        )
        return pending.join(resolved_q, "qid", "left_anti"), topk, 2 * r

    # ring radii 1, 2, 4, … up to max_ring
    budget = max(max_ring, 0).bit_length()
    (pending, _, _), rounds = fixpoint(
        "knn_join", (pending, None, 1), _round, stop=empty(of=0), rounds=budget
    )
    # a stop before the budget proved every query resolved
    if rounds == budget and not pending.isEmpty():
        # exact brute-force fallback for stragglers (sparse regions)
        cand = pending.crossJoin(nodes_c.drop("cell")).withColumn(
            "dist_m",
            haversine_m(F.col("q_lon"), F.col("q_lat"), F.col("n_lon"), F.col("n_lat")),
        )
        w = Window.partitionBy("qid").orderBy(F.round("dist_m", 6), "id")
        results.append(
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "id", "dist_m")
        )

    return reduce(DataFrame.unionByName, results)


def knn_bruteforce(nodes: DataFrame, queries: DataFrame, k: int, query_id: str = "qid") -> DataFrame:
    """Exact O(Q×N) baseline (bench comparator + oracle twin)."""
    nodes_c = nodes.select(
        "id", F.col("lat_d").alias("n_lat"), F.col("lon_d").alias("n_lon")
    )
    q = queries.select(
        F.col(query_id).alias("qid"), F.col("lat_d").alias("q_lat"), F.col("lon_d").alias("q_lon")
    )
    cand = q.crossJoin(nodes_c).withColumn(
        "dist_m", haversine_m(F.col("q_lon"), F.col("q_lat"), F.col("n_lon"), F.col("n_lat"))
    )
    w = Window.partitionBy("qid").orderBy(F.round("dist_m", 6), "id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "id", "dist_m")
    )


# ---------------------------------------------------------------------------
# segment crossings (spatial self-join)
# ---------------------------------------------------------------------------


def _grid_x(lon: Column, n: int) -> Column:
    """Clamped equirectangular lon → column index on an n-wide grid —
    THE grid-cell formula. Single definition shared by
    ``tile_assignment`` (and ``tile_pyramid`` through it) and
    ``segment_crossings``; it must stay in lock-step with the SQL
    oracle twins in queries.py, so any clamp/rounding change (e.g.
    antimeridian wrap) happens exactly once."""
    return F.greatest(
        F.lit(0), F.least(F.lit(n - 1), F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n))
    )


def _grid_y(lat: Column, n: int) -> Column:
    """Clamped equirectangular lat → row index (see ``_grid_x``)."""
    return F.greatest(
        F.lit(0), F.least(F.lit(n - 1), F.floor((lat + F.lit(90.0)) / F.lit(180.0) * n))
    )


def segment_crossings(segments: DataFrame, res: int) -> DataFrame:
    """Pairs of segments that properly cross (strict interior/interior
    intersection) — the geometric complement of the reference's
    shared-node intersection model (src/graph.rs splits ways only where
    nodes coincide; this finds edges that CROSS without a shared node,
    i.e. candidate missing intersections / bridges).

    Scale design (100 TB): each segment explodes to the grid cells its
    bounding box overlaps at ``res`` (choose the cell edge >= the max
    segment extent so the cover is <= 2x2 cells); candidates come from
    ONE equi hash join on the integer cell coords (AQE splits hot urban
    cells); the exact test is the CCW orientation predicate — pure
    +,-,* on doubles, bit-identical across engines, no UDF. Duplicate
    detections of a pair that shares several cover cells are eliminated
    WITHOUT a distinct shuffle by the reference-point rule of
    partitioned spatial joins: a pair is emitted only from the single
    cell containing the lower-left corner of the two bounding boxes'
    intersection.

    Planar predicate on (lon, lat) degrees — exact for street-scale
    segments away from poles/antimeridian; the grid clamps (no x wrap),
    matching ``tile_assignment``.

    Input columns: (sid, x0, y0, x1, y1), x = lon / y = lat degrees.
    Output: (sid_a, sid_b) with sid_a < sid_b, one row per crossing pair.
    """
    n = 1 << res
    cx = lambda lon: _grid_x(lon, n)  # noqa: E731
    cy = lambda lat: _grid_y(lat, n)  # noqa: E731
    s = segments.select(
        "sid",
        "x0",
        "y0",
        "x1",
        "y1",
        F.least("x0", "x1").alias("bx0"),
        F.greatest("x0", "x1").alias("bx1"),
        F.least("y0", "y1").alias("by0"),
        F.greatest("y0", "y1").alias("by1"),
    )
    cov = s.select(
        "*",
        F.explode(F.sequence(cx(F.col("bx0")), cx(F.col("bx1")))).alias("gx"),
    ).select("*", F.explode(F.sequence(cy(F.col("by0")), cy(F.col("by1")))).alias("gy"))
    a = cov.select(
        *[F.col(c).alias(f"a_{c}") for c in ("sid", "x0", "y0", "x1", "y1", "bx0", "bx1", "by0", "by1")],
        "gx",
        "gy",
    )
    b = cov.select(
        *[F.col(c).alias(f"b_{c}") for c in ("sid", "x0", "y0", "x1", "y1", "bx0", "bx1", "by0", "by1")],
        "gx",
        "gy",
    )

    def _cross(ox, oy, px, py, qx, qy):
        # z of (p - o) x (q - o): the CCW orientation sign
        return (F.col(px) - F.col(ox)) * (F.col(qy) - F.col(oy)) - (
            F.col(py) - F.col(oy)
        ) * (F.col(qx) - F.col(ox))

    d1 = _cross("a_x0", "a_y0", "a_x1", "a_y1", "b_x0", "b_y0")
    d2 = _cross("a_x0", "a_y0", "a_x1", "a_y1", "b_x1", "b_y1")
    d3 = _cross("b_x0", "b_y0", "b_x1", "b_y1", "a_x0", "a_y0")
    d4 = _cross("b_x0", "b_y0", "b_x1", "b_y1", "a_x1", "a_y1")
    return (
        a.join(b, ["gx", "gy"])
        .filter(F.col("a_sid") < F.col("b_sid"))
        # bbox overlap prunes before the arithmetic predicate
        .filter(
            (F.col("a_bx0") <= F.col("b_bx1"))
            & (F.col("b_bx0") <= F.col("a_bx1"))
            & (F.col("a_by0") <= F.col("b_by1"))
            & (F.col("b_by0") <= F.col("a_by1"))
        )
        # reference-point dedup: emit only in the cell holding the
        # lower-left corner of the bbox intersection (always a cover
        # cell of both segments, so exactly one emitting cell per pair)
        .filter(
            (cx(F.greatest("a_bx0", "b_bx0")) == F.col("gx"))
            & (cy(F.greatest("a_by0", "b_by0")) == F.col("gy"))
        )
        .filter((d1 * d2 < 0) & (d3 * d4 < 0))
        .select(F.col("a_sid").alias("sid_a"), F.col("b_sid").alias("sid_b"))
    )


# ---------------------------------------------------------------------------
# raster tiles
# ---------------------------------------------------------------------------


def tile_assignment(edges_with_coords: DataFrame, zoom: int) -> DataFrame:
    """Edge → covering tiles at ``zoom`` (equirectangular tiling).

    A segment is assigned to every tile its bounding box overlaps —
    the per-tile edge assignment the north_star pins for parity. Pure
    Column math: floor-scale each endpoint, explode the tile range.
    """
    n = 1 << zoom
    tx = lambda lon: _grid_x(lon, n)  # noqa: E731
    ty = lambda lat: _grid_y(lat, n)  # noqa: E731
    e = edges_with_coords.withColumns(
        {
            "tx0": tx(F.least("src_lon_d", "dst_lon_d")),
            "tx1": tx(F.greatest("src_lon_d", "dst_lon_d")),
            "ty0": ty(F.least("src_lat_d", "dst_lat_d")),
            "ty1": ty(F.greatest("src_lat_d", "dst_lat_d")),
        }
    )
    return e.select(
        "src",
        "dst",
        "src_lon_d",
        "src_lat_d",
        "dst_lon_d",
        "dst_lat_d",
        F.explode(F.sequence("tx0", "tx1")).alias("tile_x"),
        "ty0",
        "ty1",
    ).select(
        "src",
        "dst",
        "src_lon_d",
        "src_lat_d",
        "dst_lon_d",
        "dst_lat_d",
        "tile_x",
        F.explode(F.sequence("ty0", "ty1")).alias("tile_y"),
    )


def tile_pyramid(
    edges_with_coords: DataFrame, base_zoom: int, min_zoom: int
) -> DataFrame:
    """Per-tile edge counts at ``base_zoom`` rolled up the tile pyramid
    to ``min_zoom`` (each parent tile = 2×2 children; integer halving).

    The hypertable-rollup shape: aggregate once at the finest level,
    then fold levels by pure integer arithmetic — each coarser level
    aggregates the previous one (tiny), never rescanning the edges.
    Output: (zoom, tile_x, tile_y, n_edges).
    """
    if min_zoom > base_zoom:
        raise ValueError("min_zoom must be <= base_zoom")
    base = (
        tile_assignment(edges_with_coords, base_zoom)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .select(F.lit(base_zoom).alias("zoom"), "tile_x", "tile_y", "n_edges")
    )
    levels = [base]
    cur = base
    for z in range(base_zoom - 1, min_zoom - 1, -1):
        cur = (
            cur.groupBy(
                F.floor(F.col("tile_x") / 2).alias("tile_x"),
                F.floor(F.col("tile_y") / 2).alias("tile_y"),
            )
            .agg(F.sum("n_edges").alias("n_edges"))
            .select(F.lit(z).alias("zoom"), "tile_x", "tile_y", "n_edges")
        )
        levels.append(cur)
    out = levels[0]
    for more in levels[1:]:
        out = out.unionByName(more)
    return out


def render_tiles(
    edges_with_coords: DataFrame, zoom: int, tile_px: int = 256, band_bits: int = 0
) -> DataFrame:
    """Rasterize edges per tile → (zoom, tile_x, tile_y, n_edges,
    lit_px, pixels).

    ``band_bits > 0`` splits each tile's edge batch into ``2**band_bits``
    hash bands — ``pmod(xxhash64(src, dst), 2^b)`` — rasterized as
    INDEPENDENT tasks whose bitmaps are OR-merged per tile in a second
    (tiny: ≤2^b rows per tile) ``applyInPandas``. Per-edge pixel sets
    depend only on the edge and the tile frame, and bitmap OR is
    commutative + idempotent, so the banded output is bit-identical to
    the single-pass raster (pinned by tests and the same DuckDB lit-px
    oracle). This is the 100-TB escape hatch for the one unsplittable
    group shape in the engine: without it a pathological mega-dense
    tile (urban core at low zoom) lands in ONE task that AQE cannot
    split; with it the hot tile fans out 2^b ways and the merge cost is
    a fixed 2^b·tile_px² OR. Default 0 keeps the single-shuffle plan
    for ordinary tile distributions.

    ``pixels`` is a tile_px×tile_px uint8 grid (PNG-less — no imaging
    libs in the sandbox; the bytes are the raster); ``lit_px`` counts
    its set pixels — the SQL-expressible projection the DuckDB oracle
    gates (queries._render_sql reconstructs the identical clip + DDA
    walk). The DDA rounds via ``floor(x + 0.5)`` — NOT numpy's banker's
    ``.round()`` — precisely so every float op has an exact DuckDB
    twin. Liang-Barsky clip + line walk run as WHOLE-ARRAY numpy inside
    ``applyInPandas`` — one task per tile group, zero per-row Python:
    the clip is four vectorized one-sided divisions, the walk one
    flattened arange/repeat per tile. (Measured honestly: wall time is
    bound by the DDA sample volume — every covering edge walks its
    full clipped pixel span, so dense tiles overdraw — and that volume
    is identical in scalar or vector form; vectorizing removes the
    ~1M-iteration Python dispatch and keeps the operator loop-free per
    the engine's no-per-row-Python rule, output bit-identical under
    the oracle gate.)
    """
    n = 1 << zoom
    tiles = tile_assignment(edges_with_coords, zoom)

    def raster_img(zx: int, zy: int, pdf: pd.DataFrame) -> np.ndarray:
        lon0 = zx / n * 360.0 - 180.0
        lat0 = zy / n * 180.0 - 90.0
        sx = tile_px / (360.0 / n)
        sy = tile_px / (180.0 / n)
        img = np.zeros((tile_px, tile_px), dtype=np.uint8)
        a = (pdf["src_lon_d"].to_numpy() - lon0) * sx
        b = (pdf["src_lat_d"].to_numpy() - lat0) * sy
        c = (pdf["dst_lon_d"].to_numpy() - lon0) * sx
        d = (pdf["dst_lat_d"].to_numpy() - lat0) * sy
        # Liang-Barsky clip to the tile box, VECTORIZED across the
        # tile's whole edge batch (an edge spanning T tiles otherwise
        # costs O(full pixel length) in EVERY covering tile; a Python
        # loop here costs ~15x the numpy walk). Every float op is the
        # scalar kernel's op on the same operands in the same order —
        # max/min over the four one-sided q/p divisions is order-free,
        # so the DuckDB oracle twin still matches bit for bit.
        dx, dy = c - a, d - b
        T = float(tile_px - 1)
        lo = np.zeros_like(a)
        hi = np.ones_like(a)
        ok = np.ones(a.shape, dtype=bool)
        with np.errstate(divide="ignore", invalid="ignore"):
            for p, q in ((-dx, a), (dx, T - a), (-dy, b), (dy, T - b)):
                zero = p == 0.0
                ok &= ~(zero & (q < 0.0))
                t = q / p
                lo = np.where(~zero & (p < 0.0), np.maximum(lo, t), lo)
                hi = np.where(~zero & (p > 0.0), np.minimum(hi, t), hi)
        ok &= lo <= hi
        a, b, dx, dy, lo, hi = (v[ok] for v in (a, b, dx, dy, lo, hi))
        ca, cb = a + lo * dx, b + lo * dy
        cc, cd = a + hi * dx, b + hi * dy
        # DDA walk, flattened: per-edge linspace = arange*step + start
        # with the last sample FORCED to the exact endpoint (numpy
        # linspace semantics, which the oracle's CASE mirrors)
        steps = np.maximum(np.abs(cc - ca), np.abs(cd - cb)).astype(np.int64) + 1
        div = steps - 1
        safe_div = np.where(div > 0, div, 1)
        step_x = np.where(div > 0, (cc - ca) / safe_div, 0.0)
        step_y = np.where(div > 0, (cd - cb) / safe_div, 0.0)
        # walk in CACHE-SIZED chunks of edges (~1M samples): one giant
        # flattened walk is bandwidth-bound — with 32 concurrent tile
        # tasks the ~100M-element temporaries thrash DRAM and run 3-10x
        # slower than the scalar loop they replaced; chunking keeps the
        # temporaries cache-resident, the work loop-free per row, and
        # the dispatch at ~total/1M iterations
        cum = np.cumsum(steps)
        chunk_edges = np.searchsorted(cum, np.arange(1, cum[-1] if len(cum) else 0, 1 << 20))
        bounds = np.concatenate(([0], chunk_edges, [len(steps)]))
        for lo_i, hi_i in zip(bounds[:-1], bounds[1:]):
            if lo_i >= hi_i:
                continue
            st = steps[lo_i:hi_i]
            dv = div[lo_i:hi_i]
            off = np.cumsum(st) - st
            k = np.arange(int(st.sum()), dtype=np.int64) - np.repeat(off, st)
            xs = k * np.repeat(step_x[lo_i:hi_i], st) + np.repeat(ca[lo_i:hi_i], st)
            ys = k * np.repeat(step_y[lo_i:hi_i], st) + np.repeat(cb[lo_i:hi_i], st)
            multi = dv > 0
            xs[(off + dv)[multi]] = cc[lo_i:hi_i][multi]
            ys[(off + dv)[multi]] = cd[lo_i:hi_i][multi]
            ix = np.floor(xs + 0.5).astype(np.int64)
            iy = np.floor(ys + 0.5).astype(np.int64)
            keep = (ix >= 0) & (ix < tile_px) & (iy >= 0) & (iy < tile_px)
            img[iy[keep], ix[keep]] = 255
        return img

    out_schema = "zoom int, tile_x long, tile_y long, n_edges long, lit_px long, pixels binary"

    if band_bits <= 0:

        def raster(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            zx, zy = int(key[0]), int(key[1])
            img = raster_img(zx, zy, pdf)
            return pd.DataFrame(
                {
                    "zoom": [zoom],
                    "tile_x": [zx],
                    "tile_y": [zy],
                    "n_edges": [len(pdf)],
                    "lit_px": [int((img != 0).sum())],
                    "pixels": [img.tobytes()],
                }
            )

        return tiles.groupBy("tile_x", "tile_y").applyInPandas(raster, out_schema)

    n_bands = 1 << band_bits
    banded = tiles.withColumn(
        "band", F.pmod(F.xxhash64("src", "dst"), F.lit(n_bands))
    )

    def raster_band(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        zx, zy = int(key[0]), int(key[1])
        img = raster_img(zx, zy, pdf)
        return pd.DataFrame(
            {
                "tile_x": [zx],
                "tile_y": [zy],
                "n_edges": [len(pdf)],
                "pixels": [img.tobytes()],
            }
        )

    parts = banded.groupBy("tile_x", "tile_y", "band").applyInPandas(
        raster_band, "tile_x long, tile_y long, n_edges long, pixels binary"
    )

    def or_merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        zx, zy = int(key[0]), int(key[1])
        img = np.zeros(tile_px * tile_px, dtype=np.uint8)
        for buf in pdf["pixels"]:
            np.bitwise_or(img, np.frombuffer(buf, dtype=np.uint8), out=img)
        return pd.DataFrame(
            {
                "zoom": [zoom],
                "tile_x": [zx],
                "tile_y": [zy],
                "n_edges": [int(pdf["n_edges"].sum())],
                "lit_px": [int((img != 0).sum())],
                "pixels": [img.tobytes()],
            }
        )

    return parts.groupBy("tile_x", "tile_y").applyInPandas(or_merge, out_schema)


def raster_to_points(
    tiles: DataFrame, zoom: int, tile_px: int = 256
) -> DataFrame:
    """Inverse of ``render_tiles`` — the raster→vector half of the
    bridge: decode each tile's uint8 pixel grid back into geographic
    points, one row per lit pixel.

    Geometry is the exact preimage of the renderer: ``render_tiles``
    maps ``lon`` to pixel space as ``x = (lon - lon0) * sx`` and lights
    ``ix = floor(x + 0.5)``, so pixel ``ix`` covers ``x ∈ [ix-0.5,
    ix+0.5)`` and its CENTER is ``x = ix`` exactly — the decoded point
    is ``lon0 + ix / sx`` with no half-pixel fudge, bit-identical to
    the DuckDB oracle twin (queries._raster_points_sql reuses the
    renderer oracle's pixel CTE). Round trip: render → decode yields
    exactly ``lit_px`` points per tile, every one inside the tile bbox
    (pinned by tests).

    Scale shape: ``mapInPandas`` over the tile rows — embarrassingly
    parallel, no shuffle, no driver collection; each 256×256 grid
    decodes via one ``np.nonzero``. At 10^12 docs the tile table is the
    small derived artifact (bounded by the zoom level's tile count),
    so this is never the bottleneck stage.
    """
    from collections.abc import Iterator

    n = 1 << zoom
    sx = tile_px / (360.0 / n)
    sy = tile_px / (180.0 / n)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for zx, zy, buf in zip(pdf["tile_x"], pdf["tile_y"], pdf["pixels"]):
                img = np.frombuffer(buf, dtype=np.uint8).reshape(tile_px, tile_px)
                iy, ix = np.nonzero(img)  # row-major: [y, x] as rendered
                lon0 = zx / n * 360.0 - 180.0
                lat0 = zy / n * 180.0 - 90.0
                out.append(
                    pd.DataFrame(
                        {
                            "zoom": np.int32(zoom),
                            "tile_x": np.int64(zx),
                            "tile_y": np.int64(zy),
                            "px_x": ix.astype(np.int64),
                            "px_y": iy.astype(np.int64),
                            "lon_d": lon0 + ix / sx,
                            "lat_d": lat0 + iy / sy,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    return tiles.select("tile_x", "tile_y", "pixels").mapInPandas(
        decode,
        "zoom int, tile_x long, tile_y long, px_x long, px_y long, "
        "lon_d double, lat_d double",
    )


def raster_runs(
    tiles: DataFrame, zoom: int, tile_px: int = 256, slab_px: int = 4096
) -> DataFrame:
    """Raster→vector RLE vectorization → (gy, gx0, gx1, run_len): the
    maximal horizontal runs of lit pixels in GLOBAL pixel space —
    classic run-length extraction, the first stage of raster
    vectorization (blob labeling, polygonization) and the compact
    vector form of a scanline raster.

    Global coordinates ``gx = tile_x·tile_px + px_x`` (same for y)
    stitch runs ACROSS tile borders: a road crossing two adjacent
    tiles decodes as one unbroken run, because adjacency is evaluated
    on the world raster, not per tile — per-tile RLE would cut every
    border. Tiles own disjoint global pixel blocks, so the decode
    union is exact with no dedup.

    Run detection is 1-D gap sessionization (key = scanline ``gy``,
    order = ``gx``, cut = gap > 1), so it reuses the oracle-gated
    ``slab_run_ids`` two-level slab prefix sum: a scanline's pixels
    shard across ``slab_px``-wide slabs BY CONSTRUCTION — the per-task
    bound is pixels-per-slab, never pixels-per-scanline, which at a
    low-zoom world raster (2^zoom·tile_px pixels per row) is the
    difference between a bounded task and an unsplittable hot key.
    Decode itself is the shuffle-free ``raster_to_points`` map stage.
    """
    from ophois_spark.operators.temporal import slab_run_ids

    pts = raster_to_points(tiles, zoom, tile_px).select(
        (F.col("tile_x") * tile_px + F.col("px_x")).alias("gx"),
        (F.col("tile_y") * tile_px + F.col("px_y")).alias("gy"),
    )
    e = pts.select(
        F.col("gy").alias("_k"),
        F.col("gx").alias("_t"),
        F.col("gx").alias("_i"),
    )
    cut = lambda p, c: c["_t"] - p["_t"] > F.lit(1)  # noqa: E731
    return (
        slab_run_ids(e, slab_px, cut)
        .groupBy(F.col("_k").alias("gy"), "_run")
        .agg(
            F.min("_t").alias("gx0"),
            F.max("_t").alias("gx1"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .select("gy", "gx0", "gx1", "run_len")
    )


def run_overlap_edges(
    runs: DataFrame, world_w: int, cell_px: int = 64
) -> DataFrame:
    """Vertical 4-adjacency between RLE runs → (run_a, run_b): run A on
    scanline ``gy`` touches run B on ``gy + 1`` iff their x-intervals
    overlap. Run ids are ``gy·world_w + gx0`` — int64, unique (gx0 <
    world_w), order-free, and identical arithmetic in the SQL oracle.

    Scale shape: the naive form is a range self-join (equi on the row
    pair, interval overlap as residual — per-row-pair cross product).
    Instead each run explodes into its covering ``cell_px``-wide
    column cells (≤ run_len/cell_px + 1 rows) and the join is pure
    equi on (row-pair, cell); the exact overlap predicate filters, and
    the reference-point rule — emit only in the cell holding the LEFT
    end of the overlap interval, a cell both runs necessarily cover —
    dedups multi-cell pairs without a distinct shuffle (same idiom as
    ``segment_crossings``). Pairs orient downward (run_a's row < run_b's),
    so no canonicalization pass is needed.
    """
    rid = (F.col("gy") * F.lit(world_w) + F.col("gx0")).alias("rid")
    r = runs.select(rid, "gy", "gx0", "gx1").withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.expr(f"gx0 div {int(cell_px)}"), F.expr(f"gx1 div {int(cell_px)}")
            )
        ),
    )
    a = r.select(
        F.col("rid").alias("run_a"),
        (F.col("gy") + 1).alias("jy"),
        F.col("gx0").alias("a0"),
        F.col("gx1").alias("a1"),
        "cell",
    )
    b = r.select(
        F.col("rid").alias("run_b"),
        F.col("gy").alias("jy"),
        F.col("gx0").alias("b0"),
        F.col("gx1").alias("b1"),
        "cell",
    )
    return (
        a.join(b, ["jy", "cell"])
        .filter((F.col("a0") <= F.col("b1")) & (F.col("b0") <= F.col("a1")))
        .filter(
            F.expr(f"greatest(a0, b0) div {int(cell_px)}") == F.col("cell")
        )
        .select("run_a", "run_b")
    )


def raster_blobs(
    tiles: DataFrame,
    zoom: int,
    tile_px: int = 256,
    slab_px: int = 4096,
    cell_px: int = 64,
) -> DataFrame:
    """Raster→vector blob extraction → (blob_id, n_runs, n_px, gx_min,
    gx_max, gy_min, gy_max): connected components of lit pixels under
    4-adjacency in GLOBAL pixel space (blobs stitch across tile
    borders), labeled at the RUN level — the standard two-pass
    connected-component labeling made relational.

    Composition of three independently gated parts, no new kernels:
    ``raster_runs`` (RLE rows), ``run_overlap_edges`` (vertical
    adjacency, its own oracle row), and the corpus/graph component
    machinery ``_clusters_from_pairs`` (min-label propagation with
    pointer jumping over the induced pair graph — the SAME operator
    the street graph and near-dup dedup use). ``blob_id`` = min run id
    in the blob. The full composition is pytest-gated against a
    flood-fill oracle on synthetic multi-tile rasters (a closure-based
    SQL oracle is quadratic in blob size — a connected street raster
    is one giant blob, so the relational gate stops at the edge
    relation and the component operator's own gate covers the rest).

    Scale shape: runs are ~|lit px| / mean-run-length rows, edges only
    exist between vertically touching runs, and the label loop runs on
    the induced run graph — never the pixel grid.
    """
    from ophois_spark.operators.dedup import _clusters_from_pairs

    world_w = (1 << zoom) * tile_px
    runs = raster_runs(tiles, zoom, tile_px, slab_px).localCheckpoint(eager=True)
    rid = (F.col("gy") * F.lit(world_w) + F.col("gx0")).alias("rid")
    ids = runs.select(rid).select(F.col("rid").alias("id"))
    pairs = run_overlap_edges(runs, world_w, cell_px).select(
        F.col("run_a").alias("src"), F.col("run_b").alias("dst")
    )
    labels = _clusters_from_pairs(ids, pairs)
    return (
        runs.select(rid, "gy", "gx0", "gx1", "run_len")
        .join(labels, F.col("rid") == F.col("id"))
        .groupBy(F.col("comp").alias("blob_id"))
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum("run_len").alias("n_px"),
            F.min("gx0").alias("gx_min"),
            F.max("gx1").alias("gx_max"),
            F.min("gy").alias("gy_min"),
            F.max("gy").alias("gy_max"),
        )
    )


def bbox_covering_cells(
    lat_min: float, lat_max: float, lon_min: float, lon_max: float, res: int
) -> list[int]:
    """Covering cell set of a lat/lon box at ``res`` (+1-cell margin per
    side, so the set is a guaranteed SUPERSET — the exact coordinate
    filter downstream owns the boundary, the cells only prune)."""
    from ophois_spark.kernels.cells import cell_id

    n = 1 << res
    x0 = int(math.floor((lon_min + 180.0) / 360.0 * float(n))) - 1
    x1 = int(math.floor((lon_max + 180.0) / 360.0 * float(n))) + 1
    y0 = max(0, int(math.floor((lat_min + 90.0) / 180.0 * float(n))) - 1)
    y1 = min(n - 1, int(math.floor((lat_max + 90.0) / 180.0 * float(n))) + 1)
    xs, ys = np.meshgrid(np.arange(x0, x1 + 1) % n, np.arange(y0, y1 + 1))
    lon_c = (xs.ravel() + 0.5) / n * 360.0 - 180.0
    lat_c = (ys.ravel() + 0.5) / n * 180.0 - 90.0
    return sorted(set(cell_id(lon_c, lat_c, res).tolist()))


def bbox_query(
    nodes: DataFrame,
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    res: int,
) -> DataFrame:
    """Spatial range query through the tiling index → (id, lat_d,
    lon_d) of nodes inside the closed box.

    The covering-cell set is enumerated DRIVER-side (a bbox at fixed
    res is a few dozen to a few thousand ints) and pushed into the scan
    as an ``isin`` predicate on the cell column — on a cell-bucketed /
    cell-partitioned 10^12-row table this is partition pruning, so the
    scan touches only covering buckets instead of the world. The exact
    closed-interval coordinate comparison then owns the boundary; the
    result is therefore identical to the naive full-scan WHERE (which
    is exactly what the oracle runs)."""
    cells = bbox_covering_cells(lat_min, lat_max, lon_min, lon_max, res)
    return (
        with_cells(nodes, res)
        .filter(F.col("cell").isin(cells))
        .filter(
            (F.col("lat_d") >= F.lit(lat_min))
            & (F.col("lat_d") <= F.lit(lat_max))
            & (F.col("lon_d") >= F.lit(lon_min))
            & (F.col("lon_d") <= F.lit(lon_max))
        )
        .select("id", "lat_d", "lon_d")
    )


# --- point-to-edge snapping (map-matching primitive) -------------------

M_PER_DEG = EARTH_RADIUS_M * math.pi / 180.0  # metres per degree of arc


def snap_points_to_edges(
    points: DataFrame,
    segments: DataFrame,
    radius_m: float = 25.0,
    grid_deg: float = 0.001,
    k: int = 1,
) -> DataFrame:
    """Snap GPS points to their k nearest road segments within
    ``radius_m`` → (qid, rank, edge_id, dist_m) — the candidate stage
    of map-matching (nearest-EDGE, not nearest-node: ``knn_join``'s
    sibling for the other half of the snapping problem).

    ``points`` = (qid, lat_d, lon_d); ``segments`` = (edge_id, alat,
    alon, blat, blon). Distance is exact planar point-to-segment in a
    local equirectangular frame centred on the point (projection error
    is quadratic in the span, negligible at snap radii), rounded to
    1e-6 m with edge_id tiebreak so ranking is engine-stable.

    EXACT by construction, no ring fixpoint needed (unlike nearest-
    node, a snap has a radius contract): each segment scatters onto
    every ``grid_deg`` cell of its bbox dilated by ``radius_m``
    (lat pad = R/M; lon pad uses cos at the segment's polemost
    latitude + pad, which bounds cos at any in-range point, so the
    cover is a superset of reachability). A point lives in exactly ONE
    grid cell, so the equi-join on (gx, gy) sees every in-radius
    (point, segment) pair exactly once — no dedup shuffle.

    Scale shape: fan-out is |bbox/grid| cells per segment — O(1) when
    cells are sized a few× the typical segment (real road segments are
    short); the join is a plain hash equi-join on int cell coords, hot
    urban cells split by AQE; then one qid-partitioned top-k window
    over candidates only. No cross join anywhere.
    """
    pad_lat = radius_m / M_PER_DEG
    polemost = F.greatest(F.abs(F.col("alat")), F.abs(F.col("blat"))) + F.lit(pad_lat)
    pad_lon = F.lit(radius_m) / (
        F.lit(M_PER_DEG) * F.cos(F.radians(F.least(F.lit(89.9), polemost)))
    )
    g = F.lit(grid_deg)
    cand = (
        segments.withColumn(
            "_gxs",
            F.sequence(
                F.floor((F.least("alon", "blon") - pad_lon) / g).cast("int"),
                F.floor((F.greatest("alon", "blon") + pad_lon) / g).cast("int"),
            ),
        )
        .withColumn(
            "_gys",
            F.sequence(
                F.floor((F.least("alat", "blat") - F.lit(pad_lat)) / g).cast("int"),
                F.floor((F.greatest("alat", "blat") + F.lit(pad_lat)) / g).cast("int"),
            ),
        )
        .select("edge_id", "alat", "alon", "blat", "blon",
                F.explode("_gxs").alias("gx"), "_gys")
        .select("edge_id", "alat", "alon", "blat", "blon", "gx",
                F.explode("_gys").alias("gy"))
    )
    p = points.select(
        "qid",
        "lat_d",
        "lon_d",
        F.floor(F.col("lon_d") / g).cast("int").alias("gx"),
        F.floor(F.col("lat_d") / g).cast("int").alias("gy"),
    )
    j = p.join(cand, ["gx", "gy"])
    # local frame centred on the point: q is the origin (expression
    # tree mirrored EXACTLY by the SQL oracle — association order is
    # part of the cross-engine contract)
    cosq = F.cos(F.radians(F.col("lat_d")))
    ax = (F.col("alon") - F.col("lon_d")) * cosq * F.lit(M_PER_DEG)
    ay = (F.col("alat") - F.col("lat_d")) * F.lit(M_PER_DEG)
    bx = (F.col("blon") - F.col("lon_d")) * cosq * F.lit(M_PER_DEG)
    by = (F.col("blat") - F.col("lat_d")) * F.lit(M_PER_DEG)
    j = (
        j.withColumn("_ax", ax)
        .withColumn("_ay", ay)
        .withColumn("_dx", bx - ax)
        .withColumn("_dy", by - ay)
    )
    len2 = F.col("_dx") * F.col("_dx") + F.col("_dy") * F.col("_dy")
    dot = -(F.col("_ax") * F.col("_dx") + F.col("_ay") * F.col("_dy"))
    t = F.when(
        len2 > 0, F.greatest(F.lit(0.0), F.least(F.lit(1.0), dot / len2))
    ).otherwise(F.lit(0.0))
    j = j.withColumn("_t", t)
    cx = F.col("_ax") + F.col("_t") * F.col("_dx")
    cy = F.col("_ay") + F.col("_t") * F.col("_dy")
    d = F.round(F.sqrt(cx * cx + cy * cy), 6)
    # `+ rand()*0.0` is a value no-op (dist >= 0, so x + 0.0 == x) that
    # marks dist_m non-deterministic. Without it Catalyst collapses the
    # _ax/_t/... projections into ONE giant duplicated expression and
    # pushes the radius predicate into the hash join's extra condition,
    # which is evaluated per candidate pair WITHOUT common-subexpression
    # elimination — measured 10x slower (15.2s vs 1.5s on the sf0.1
    # snap bench) than keeping the distance in a post-join codegen'd
    # projection and filtering on the materialized column.
    d = d + F.rand(7) * F.lit(0.0)
    ranked = (
        j.withColumn("dist_m", d)
        .filter(F.col("dist_m") <= radius_m)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy("dist_m", "edge_id")
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return ranked.select(
        "qid", F.col("rank").cast("int").alias("rank"), "edge_id", "dist_m"
    )


def cell_dbscan(
    points: DataFrame,
    grid_deg: float = 0.001,
    min_pts: int = 5,
    max_iter: int = 60,
) -> DataFrame:
    """Grid-density clustering (cell-DBSCAN) → one row per CORE cell
    (gx, gy, n_points, nbhd_points, cluster): a cell is core when its
    3×3 Chebyshev neighborhood holds ≥ ``min_pts`` points; clusters
    are connected components over 8-adjacent core cells, labeled by
    the lexicographic-minimum cell key (zero-padded, so string min ==
    numeric min). Cells that fail the density test are noise and
    produce no row — the DBSCAN contract at cell granularity, which
    is the form that scales: density and adjacency are pure
    cell-relation algebra, never point-pair math.

    Scale shape: one groupBy collapses points to populated cells (the
    only point-scale shuffle); the 3×3 density is a constant 9-way
    scatter + map-side-combinable sum (``cell_density_smooth``'s
    idiom); core-core adjacency emits ≤ 4 directed probes per core
    cell (half the 8-neighborhood, deduped by construction) resolved
    by one cell-keyed equi-join; components run on the CORE-CELL
    graph via the pointer-jumping label propagation already gated for
    street graphs — rounds are O(log cluster diameter in cells).
    """
    from ophois_spark.operators.components import connected_components
    from ophois_spark.operators.graph import StreetGraph
    from ophois_spark.plans.cache import swap_cached

    g = F.lit(float(grid_deg))
    cells = swap_cached(
        "cell_dbscan_cells",
        points.select(
            F.floor(F.col("lon_d") / g).cast("int").alias("gx"),
            F.floor(F.col("lat_d") / g).cast("int").alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points")),
    )
    offs = F.expr(
        "explode(array(struct(-1 as dx, -1 as dy), struct(-1 as dx, 0 as dy),"
        " struct(-1 as dx, 1 as dy), struct(0 as dx, -1 as dy),"
        " struct(0 as dx, 0 as dy), struct(0 as dx, 1 as dy),"
        " struct(1 as dx, -1 as dy), struct(1 as dx, 0 as dy),"
        " struct(1 as dx, 1 as dy)))"
    )
    nbhd = (
        cells.select("gx", "gy", "n_points", offs.alias("o"))
        .select(
            (F.col("gx") + F.col("o.dx")).alias("gx"),
            (F.col("gy") + F.col("o.dy")).alias("gy"),
            "n_points",
        )
        .groupBy("gx", "gy")
        .agg(F.sum("n_points").cast("long").alias("nbhd_points"))
    )
    key = F.format_string("%07d%07d", F.col("gx") + 1_000_000, F.col("gy") + 1_000_000)
    core = swap_cached(
        "cell_dbscan_core",
        cells.join(nbhd, ["gx", "gy"])
        .filter(F.col("nbhd_points") >= min_pts)
        .withColumn("key", key),
    )
    half = F.expr(
        "explode(array(struct(1 as dx, -1 as dy), struct(1 as dx, 0 as dy),"
        " struct(1 as dx, 1 as dy), struct(0 as dx, 1 as dy)))"
    )
    probes = core.select("key", "gx", "gy", half.alias("o")).select(
        F.col("key").alias("src"),
        (F.col("gx") + F.col("o.dx")).alias("gx"),
        (F.col("gy") + F.col("o.dy")).alias("gy"),
    )
    edges = probes.join(
        core.select("gx", "gy", F.col("key").alias("dst")), ["gx", "gy"]
    ).select("src", "dst")
    graph = StreetGraph(core.select(F.col("key").alias("id")), edges).checkpoint()
    labels = connected_components(graph, max_iter=max_iter)
    return core.join(labels, core["key"] == labels["id"]).select(
        "gx", "gy", "n_points", "nbhd_points", F.col("comp").alias("cluster")
    )


def choropleth_classes(counts: DataFrame, k: int = 5) -> DataFrame:
    """Exact equal-count (quantile) choropleth classing → (gx, gy, n,
    cls): every populated cell assigned to one of ``k`` density
    classes so each class holds ~1/k of the cells — the class-break
    stage of heatmap/choropleth rendering (the styling half of
    ``render_tiles``; GIS "quantile breaks").

    Integer-exact and tie-stable: cells with EQUAL density always land
    in the same class (the cartographic contract), because the class
    is a function of the density VALUE's exact rank, not the row's:
    cls = floor(k * cells_below / n_cells) where cells_below counts
    cells with strictly smaller density.

    Scale shape: the global sort is over the DISTINCT density values
    only (a histogram — bounded by max cell occupancy, thousands of
    values at planet scale, NOT by cell count), so the single-
    partition running-sum window is over a tiny frame; per-cell work
    is one map-side-combinable groupBy plus one broadcast join back on
    the density value. No global sort of the cells themselves.
    """
    from ophois_spark.plans.cache import swap_cached

    # counts feeds three branches (histogram, total, final join) —
    # cache once or the upstream point aggregation recomputes per branch
    counts = swap_cached("choropleth.counts", counts)
    hist = counts.groupBy("n").agg(F.count(F.lit(1)).alias("_cnt"))
    w = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, -1)
    hist = hist.withColumn(
        "_below", F.coalesce(F.sum("_cnt").over(w), F.lit(0)).cast("long")
    )
    tot = counts.agg(F.count(F.lit(1)).cast("long").alias("_tot"))
    cls = (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "n",
            F.expr(f"CAST(({k} * _below) div _tot AS INT)").alias("cls"),
        )
    )
    return counts.join(F.broadcast(cls), "n").select("gx", "gy", "n", "cls")


def cell_majority(
    cells: DataFrame, val_col: str, key_cols: tuple[str, ...] = ("gx", "gy")
) -> DataFrame:
    """Per-cell categorical majority → (key…, top, n_top, n_rows,
    share): the dominant category in every cell plus its exact share —
    e.g. the majority LANGUAGE of geotagged documents per map cell
    (the cross-modal rollup a multilingual-corpus coverage map needs).

    Deterministic ties: rank by (count DESC, value DESC) so equal
    counts resolve identically in any engine. ``share`` is one IEEE
    division of two exact int64 counts — bit-identical cross-engine
    (only transcendentals diverge, division is exactly rounded).

    Scale shape: one map-side-combinable count per (cell, value), a
    per-cell total by re-aggregating those partials (never re-reading
    rows), and a top-1 window whose partitions are value-cardinality-
    bounded (#langs per cell), not row-bounded. The (cell,value) count
    is algebraic, so map-side partial aggregation absorbs a hot cell.
    """
    from ophois_spark.plans.cache import swap_cached

    keys = list(key_cols)
    # per_val feeds two branches (totals + top-1 window) — cache once
    per_val = swap_cached(
        "cell_majority.per_val",
        cells.groupBy(*keys, val_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_top")
        ),
    )
    totals = per_val.groupBy(*keys).agg(F.sum("n_top").cast("long").alias("n_rows"))
    w = Window.partitionBy(*keys).orderBy(
        F.col("n_top").desc(), F.col(val_col).desc()
    )
    top = (
        per_val.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )
    return (
        top.join(totals, keys)
        .select(
            *keys,
            F.col(val_col).alias("top"),
            "n_top",
            "n_rows",
            (F.col("n_top") / F.col("n_rows")).alias("share"),
        )
    )


def cell_simpson(
    cells: DataFrame, val_col: str, key_cols: tuple[str, ...] = ("gx", "gy")
) -> DataFrame:
    """Per-cell Simpson concentration index → (key…, n_rows, sum_sq,
    simpson): sum_i (n_i/n)^2 over the categories in each cell — 1.0
    is a monoculture, 1/k is k perfectly balanced categories. The
    diversity companion to ``cell_majority`` (a language-coverage map
    wants both the winner and how contested it is).

    Cross-engine-exact by construction: the numerator Σ n_i² is pure
    int64 arithmetic and ``simpson = sum_sq / n²`` is ONE IEEE
    division of two exact integers — exactly-rounded, bit-identical in
    any IEEE engine. (The usual Shannon-entropy formulation needs ln
    and a float SUM whose accumulation order differs per engine; this
    is the diversity metric that gates exactly.)

    Scale shape: one map-side-combinable count per (cell, value), one
    re-aggregation of those partials per cell. Nothing else moves.
    """
    keys = list(key_cols)
    per_val = cells.groupBy(*keys, val_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    return per_val.groupBy(*keys).agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.sum(F.col("_n") * F.col("_n")).cast("long").alias("sum_sq"),
        (
            F.sum(F.col("_n") * F.col("_n")).cast("double")
            / (F.sum("_n").cast("double") * F.sum("_n").cast("double"))
        ).alias("simpson"),
    )


def polygon_metrics(verts: DataFrame, quant: float = 1e9) -> DataFrame:
    """Exact ring metrics → (poly_id, n_vertices, area2_q, orientation,
    perimeter_m) for a vertex table (poly_id, idx, x, y) holding each
    ring's vertices in order WITHOUT a repeated closing vertex — the
    admin-boundary audit pass (sliver detection, winding validation,
    per-region size stats) over the same boundary table the PIP
    operators consume.

    Cross-engine-exact by the integer discipline: vertices quantize to
    nanodegrees (floor(x·1e9) of identical doubles is identical), the
    shoelace cross products run on int64 after subtracting the ring's
    min vertex (deltas are ring-diameter-bounded, so products stay far
    from overflow at any realistic boundary size), and the perimeter
    sums FLOORED haversine metres (the A3 length discipline). area2_q
    is twice the enclosed area in quantized units² — consumers convert
    with their projection of choice; doing the cos-based m² conversion
    here would reintroduce a transcendental into gated output.
    orientation is the winding sign (+1 CCW, -1 CW, 0 degenerate).

    Scale shape: one lead/first window per ring partition (bounded by
    vertex count, never by ring count) and one map-side-combinable
    groupBy; rings parallelize embarrassingly.
    """
    w = Window.partitionBy("poly_id").orderBy("idx")
    wall = Window.partitionBy("poly_id")
    q = lambda c: F.floor(F.col(c) * F.lit(float(quant))).cast("long")  # noqa: E731
    v = verts.select(
        "poly_id", "idx", "x", "y", q("x").alias("qx"), q("y").alias("qy")
    )
    v = (
        v.withColumn("x2", F.coalesce(F.lead("x").over(w), F.first("x").over(w)))
        .withColumn("y2", F.coalesce(F.lead("y").over(w), F.first("y").over(w)))
        .withColumn("qx2", F.coalesce(F.lead("qx").over(w), F.first("qx").over(w)))
        .withColumn("qy2", F.coalesce(F.lead("qy").over(w), F.first("qy").over(w)))
        .withColumn("mx", F.min("qx").over(wall))
        .withColumn("my", F.min("qy").over(wall))
    )
    cross = (F.col("qx") - F.col("mx")) * (F.col("qy2") - F.col("my")) - (
        F.col("qx2") - F.col("mx")
    ) * (F.col("qy") - F.col("my"))
    edge_m = F.floor(
        haversine_m(F.col("x"), F.col("y"), F.col("x2"), F.col("y2"))
    ).cast("long")
    s = v.groupBy("poly_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum(cross).alias("_s"),
        F.sum(edge_m).cast("long").alias("perimeter_m"),
    )
    return s.select(
        "poly_id",
        "n_vertices",
        F.abs(F.col("_s")).cast("long").alias("area2_q"),
        F.when(F.col("_s") > 0, F.lit(1))
        .when(F.col("_s") < 0, F.lit(-1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("orientation"),
        "perimeter_m",
    )


def convex_hull(points: DataFrame, x: str = "gx", y: str = "gy") -> DataFrame:
    """Strict convex hull of an integer-lattice point set → (seq, gx,
    gy): CCW vertex order starting at the lexicographically smallest
    vertex. Geometry is EXACT — int64 lattice coords, Python-int cross
    products (kernels/geo.monotone_chain), no floats anywhere — so the
    vertex set is bit-identical across engines.

    Scale shape (the classic mergeable-hull decomposition): hull(A∪B) =
    hull(hull(A) ∪ hull(B)), so stage 1 runs the chain per input
    partition via ``mapInPandas`` (narrow, no shuffle), collapsing each
    partition to its O(h) extreme points — for uniformly scattered data
    h ~ O(log n), so a 10^12-point table reduces to ~tens of points per
    split before anything moves. Stage 2 gathers the surviving
    candidates (tiny by construction) onto ONE task for the final exact
    chain. The only full-width shuffle is the (gx, gy) ``distinct``,
    which the per-partition chain does NOT need but keeps the
    stage-1 inputs duplicate-free when upstream is raw (duplicates are
    harmless to correctness either way — the kernel dedups locally).
    """
    from collections.abc import Iterator

    import pandas as pd

    from ophois_spark.kernels.geo import monotone_chain

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[tuple[int, int]] = []
        for pdf in batches:
            acc = monotone_chain(acc + list(zip(pdf["gx"], pdf["gy"])))
        if acc:
            xs, ys = zip(*acc)
            yield pd.DataFrame(
                {"gx": pd.Series(xs, dtype="int64"), "gy": pd.Series(ys, dtype="int64")}
            )

    def final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[tuple[int, int]] = []
        for pdf in batches:
            acc = monotone_chain(acc + list(zip(pdf["gx"], pdf["gy"])))
        if acc:
            xs, ys = zip(*acc)
            yield pd.DataFrame(
                {
                    "seq": pd.Series(range(len(acc)), dtype="int32"),
                    "gx": pd.Series(xs, dtype="int64"),
                    "gy": pd.Series(ys, dtype="int64"),
                }
            )

    pts = points.select(
        F.col(x).cast("long").alias("gx"), F.col(y).cast("long").alias("gy")
    ).distinct()
    partials = pts.mapInPandas(partial, "gx long, gy long")
    return partials.repartition(1).mapInPandas(final, "seq int, gx long, gy long")


def tiles_dirty(
    before_edges: DataFrame,
    after_edges: DataFrame,
    nodes: DataFrame,
    zoom: int,
) -> DataFrame:
    """Incremental re-render planning → (tile_x, tile_y, n_added,
    n_removed): the raster tiles whose content changed between two
    graph snapshots, with per-tile added/removed edge counts — what a
    per-crawl tile refresh actually re-renders instead of the world.

    Delta-first discipline: the (src, dst) anti-joins run BEFORE any
    coordinate join or tile explode, so everything downstream scales
    with |changed edges|, not |graph| — the property that keeps
    per-crawl re-rendering feasible at 10^12 edges. The coordinate
    joins then touch only delta rows; the per-side tile rollups are
    algebraic (map-side combined) and the final full-outer join moves
    ~|dirty tiles| rows.
    """
    def ewc(e: DataFrame) -> DataFrame:
        a = nodes.select(
            F.col("id").alias("src"),
            F.col("lon_d").alias("src_lon_d"),
            F.col("lat_d").alias("src_lat_d"),
        )
        b = nodes.select(
            F.col("id").alias("dst"),
            F.col("lon_d").alias("dst_lon_d"),
            F.col("lat_d").alias("dst_lat_d"),
        )
        return e.join(a, "src").join(b, "dst")

    bk = before_edges.select("src", "dst")
    ak = after_edges.select("src", "dst")
    added = ak.join(bk, ["src", "dst"], "left_anti")
    removed = bk.join(ak, ["src", "dst"], "left_anti")
    ta = (
        tile_assignment(ewc(added), zoom)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_added"))
    )
    tr = (
        tile_assignment(ewc(removed), zoom)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_removed"))
    )
    return (
        ta.join(tr, ["tile_x", "tile_y"], "full")
        .select(
            F.col("tile_x").cast("long").alias("tile_x"),
            F.col("tile_y").cast("long").alias("tile_y"),
            F.coalesce("n_added", F.lit(0)).cast("long").alias("n_added"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


ZORDER_BITS = 12


def zorder_key(ix, iy, bits: int = ZORDER_BITS):
    """Morton (Z-order) interleave of two ``bits``-bit grid coords as
    pure integer Column math — the clustering key an Iceberg/parquet
    sort order uses so that spatially-near rows land in the same file
    ranges (the write-side counterpart of the cell-clustered layout in
    plans/spatial_layout.py; 2·bits ≤ 62 keeps the key in int64). Exact
    shifts and masks only — bit-identical in any engine.
    """
    ix = ix.cast("long")
    iy = iy.cast("long")
    k = F.lit(0).cast("long")
    for b in range(bits):
        k = (
            k
            + F.shiftleft(F.shiftright(ix, b) % 2, 2 * b)
            + F.shiftleft(F.shiftright(iy, b) % 2, 2 * b + 1)
        )
    return k


def zorder_cells(
    points: DataFrame,
    res: int,
    lon_col: str = "lon_d",
    lat_col: str = "lat_d",
    bits: int = ZORDER_BITS,
) -> DataFrame:
    """→ (id, ix, iy, zkey): grid coords at ``res`` plus the Morton
    key. Writing sorted by zkey gives range scans over any bbox a
    bounded number of key intervals — the standard spatial layout for
    a 10^12-row table (this operator is the projection; the sort is
    the writer's job)."""
    n = 1 << res
    ix = _grid_x(F.col(lon_col), n)
    iy = _grid_y(F.col(lat_col), n)
    return points.select(
        "id",
        ix.cast("long").alias("ix"),
        iy.cast("long").alias("iy"),
        zorder_key(ix, iy, bits).alias("zkey"),
    )


def quadtree_bins(
    points: DataFrame,
    grid_deg: float,
    levels: int,
    threshold: int,
    lon_col: str = "lon_d",
    lat_col: str = "lat_d",
) -> DataFrame:
    """Adaptive quadtree binning → (lvl, gx, gy, n_points): split every
    bin whose count exceeds ``threshold`` into its 4 children until it
    fits or the finest level is reached — the adaptive histogram a
    choropleth/heatmap uses so dense urban cores get fine cells and
    empty ocean stays coarse (one output row per LEAF; leaves partition
    the input, so sum(n_points) == |points|).

    ``grid_deg`` is the FINEST cell edge; level ``lvl`` ∈ [0, levels)
    has edge ``grid_deg·2^(levels-1-lvl)`` (lvl 0 = coarsest). Because
    a child's count never exceeds its parent's, "first level from the
    top whose count ≤ threshold" is exactly the quadtree leaf rule —
    so the recursion flattens into closed-form ancestor arithmetic
    (floor-division by powers of two), no iteration, no UDF.

    Execution shape at 10^12 points: ONE map-side-combinable groupBy
    of the point set at the finest grid; every coarser level is a 4:1
    rollup of the (already tiny) next-finer CELL relation; the leaf
    decision is ``levels`` broadcast-joinable lookups on cell tables,
    never on points. Total shuffled bytes beyond the first aggregation
    are proportional to the number of POPULATED finest cells.
    """
    from ophois_spark.plans.cache import swap_cached

    gd = F.lit(float(grid_deg))
    finest = points.select(
        F.floor(F.col(lon_col) / gd).cast("long").alias("gx"),
        F.floor(F.col(lat_col) / gd).cast("long").alias("gy"),
    )
    # counts[k] = per-cell counts at level (levels-1-k): k=0 finest
    counts = [
        swap_cached(
            "quadtree.finest",
            finest.groupBy("gx", "gy").agg(
                F.count(F.lit(1)).cast("long").alias("n")
            ),
        )
    ]
    for _ in range(1, levels):
        prev = counts[-1]
        counts.append(
            prev.select(
                F.floor(F.col("gx") / 2).cast("long").alias("gx"),
                F.floor(F.col("gy") / 2).cast("long").alias("gy"),
                "n",
            )
            .groupBy("gx", "gy")
            .agg(F.sum("n").alias("n"))
        )
    # leaf level per finest cell: walk coarse -> fine, first fit wins
    leaf = counts[0].select("gx", "gy", "n")
    for k in range(levels - 1, 0, -1):  # k = shift to ancestor
        lvl = levels - 1 - k
        anc = counts[k].select(
            F.col("gx").alias("agx"),
            F.col("gy").alias("agy"),
            F.col("n").alias("an"),
        )
        leaf = (
            leaf.join(
                F.broadcast(anc),
                (F.floor(F.col("gx") / F.lit(1 << k)) == F.col("agx"))
                & (F.floor(F.col("gy") / F.lit(1 << k)) == F.col("agy")),
            )
            .withColumn(
                "_fit",
                F.when(F.col("an") <= F.lit(int(threshold)), F.lit(lvl)),
            )
            .withColumn(
                "lvl",
                F.coalesce(
                    F.col("lvl") if "lvl" in leaf.columns else F.lit(None).cast("int"),
                    F.col("_fit"),
                ),
            )
            .drop("agx", "agy", "an", "_fit")
        )
    leaf = leaf.withColumn(
        "lvl", F.coalesce(F.col("lvl"), F.lit(levels - 1)).cast("int")
    )
    shift = F.expr(f"shiftleft(1L, {levels - 1} - lvl)")
    return (
        leaf.select(
            "lvl",
            F.floor(F.col("gx") / shift).cast("long").alias("gx"),
            F.floor(F.col("gy") / shift).cast("long").alias("gy"),
            "n",
        )
        .groupBy("lvl", "gx", "gy")
        .agg(F.sum("n").cast("long").alias("n_points"))
    )


def cell_moran(
    points: DataFrame,
    grid_deg: float,
    lon_col: str = "lon_d",
    lat_col: str = "lat_d",
) -> DataFrame:
    """Local Moran's I components per populated cell → (gx, gy, x, d,
    w_n, lag_d, local_i): the spatial-autocorrelation decomposition
    (Anselin's LISA) over cell point counts with queen (8-neighbor)
    binary weights, in EXACT integer arithmetic so the oracle gate is
    bit-identical — the hotspot/cold-spot screen a density surface
    feeds before anyone trusts a cluster.

    To keep every term an int64 the mean is never divided out:
    ``d = x·N − S`` (N = populated-cell count, S = total points) is
    N× the deviation, ``lag_d = Σ d_j`` over present neighbors,
    ``local_i = d·lag_d`` is N²·(the usual unstandardized local
    numerator). Global Moran's I = (N/W)·Σ local_i / Σ d² with
    W = Σ w_n follows by two sums downstream; signs and rankings are
    what analysts read and those are exact here. Absent neighbors
    contribute nothing (binary weights over POPULATED cells — the
    sparse convention; materializing the empty grid at planet scale
    is the thing this avoids).

    Shape: one map-side-combinable groupBy of points; a 1-row global
    broadcast (metrics.py's A1 idiom); a constant 8-way explode of the
    CELL relation + one algebraic agg on the neighbor key (the
    cell_density_smooth scatter≡gather trick, self excluded).
    """
    from ophois_spark.plans.cache import swap_cached

    gd = F.lit(float(grid_deg))
    cells = swap_cached(
        "moran.cells",
        points.select(
            F.floor(F.col(lon_col) / gd).cast("long").alias("gx"),
            F.floor(F.col(lat_col) / gd).cast("long").alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).cast("long").alias("x")),
    )
    glob = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("x").cast("long").alias("s_pts"),
    )
    dev = cells.crossJoin(F.broadcast(glob)).select(
        "gx", "gy", "x", (F.col("x") * F.col("n_cells") - F.col("s_pts")).alias("d")
    )
    offs = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dx, dy) != (0, 0)]
    arr = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offs]
    )
    scat = dev.select("gx", "gy", "d", F.explode(arr).alias("o")).select(
        (F.col("gx") + F.col("o.dx")).alias("ngx"),
        (F.col("gy") + F.col("o.dy")).alias("ngy"),
        "d",
    )
    lag = scat.groupBy(
        F.col("ngx").alias("gx"), F.col("ngy").alias("gy")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("w_n"),
        F.sum("d").cast("long").alias("lag_d"),
    )
    return (
        dev.join(lag, ["gx", "gy"], "left")
        .select(
            "gx",
            "gy",
            "x",
            "d",
            F.coalesce("w_n", F.lit(0)).cast("long").alias("w_n"),
            F.coalesce("lag_d", F.lit(0)).cast("long").alias("lag_d"),
            (F.col("d") * F.coalesce("lag_d", F.lit(0)))
            .cast("long")
            .alias("local_i"),
        )
    )


def cell_trend(
    points: DataFrame,
    grid_deg: float,
    day_us: int = 86_400_000_000,
    lon_col: str = "lon_d",
    lat_col: str = "lat_d",
    t_col: str = "t_us",
) -> DataFrame:
    """Mann–Kendall trend per populated cell → (gx, gy, n_days,
    total, s_stat): the emerging-hot-spot screen — for each cell, the
    exact integer Kendall statistic S = Σ_{i<j} sign(x_j − x_i) over
    its ZERO-FILLED daily point counts across the dataset's observed
    day span. S ≫ 0 = intensifying cell, S ≪ 0 = cooling, |S| small =
    flat or oscillating; with n time bins, |S| close to n(n−1)/2 is a
    monotone run (the space-time-cube "new/intensifying hotspot"
    classification reads exactly this statistic).

    Exactness: counts, day indexes, pair signs, and S are all int64 —
    no variance normalization (the z-score's σ(S) is a pure function
    of n_days and downstream division; signs and rankings are what the
    classification reads and those are exact here). Zero-filling is
    REQUIRED for the semantics (a cell active only on day 1 must trend
    DOWN); the day span is global so every cell sees the same bins.

    Scale shape: the time dimension is calendar-bounded (T = 30 here,
    365 at a year), so per-cell work is a constant T(T−1)/2 regardless
    of data size: ONE map-side-combinable (cell, day) count, one 1-row
    span agg broadcast into a sequence explode for the zero-fill, one
    equi self-join ON THE CELL KEY restricted to day1 < day2, one
    algebraic sum. Nothing is quadratic in points or cells.
    """
    day = F.floor(F.col(t_col) / F.lit(int(day_us))).cast("long")
    c = (
        points.select(
            F.floor(F.col(lon_col) / grid_deg).cast("long").alias("gx"),
            F.floor(F.col(lat_col) / grid_deg).cast("long").alias("gy"),
            day.alias("day"),
        )
        .groupBy("gx", "gy", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    span = c.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )  # 1-row broadcast
    days = span.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    filled = (
        c.select("gx", "gy").distinct()
        .crossJoin(F.broadcast(days))
        .join(c, ["gx", "gy", "day"], "left")
        .select("gx", "gy", "day", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
    )
    a, b = filled.alias("a"), filled.alias("b")
    pairs = a.join(
        b,
        (F.col("a.gx") == F.col("b.gx"))
        & (F.col("a.gy") == F.col("b.gy"))
        & (F.col("a.day") < F.col("b.day")),
    )
    sgn = (
        F.when(F.col("b.x") > F.col("a.x"), F.lit(1))
        .when(F.col("b.x") < F.col("a.x"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    stats = filled.groupBy("gx", "gy").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("total"),
    )
    s = pairs.groupBy(F.col("a.gx").alias("gx"), F.col("a.gy").alias("gy")).agg(
        F.sum(sgn).cast("long").alias("s_stat")
    )
    return stats.join(s, ["gx", "gy"], "left").select(
        "gx", "gy", "n_days", "total", F.coalesce("s_stat", F.lit(0)).cast("long").alias("s_stat")
    )


def colocation_pairs(
    points: DataFrame,
    grid_deg: float,
    bin_us: int,
    crowd_max: int = 32,
    user_col: str = "user_id",
    lon_col: str = "lon_d",
    lat_col: str = "lat_d",
    t_col: str = "t_us",
) -> DataFrame:
    """Spatiotemporal contact graph → (user_a, user_b, n_bins): pairs
    of users observed in the SAME grid cell during the SAME time bin,
    with the number of distinct co-located (cell, bin) slots — the
    contact/companionship query (co-travel detection, exposure
    tracing, account-farm colocation) over raw pings.

    Semantics: presence is per DISTINCT (user, cell, bin) — a user
    pinging 50 times in one slot counts once, so n_bins counts shared
    SLOTS, not ping coincidences. Slots where more than ``crowd_max``
    distinct users appear are dropped BEFORE pairing: a crowd slot
    (station concourse) says nothing about companionship AND is the
    quadratic fan-out hazard — same df-cap rationale as
    dedup.source_mirror_pairs, disclosed in the output contract.

    Scale shape: one distinct over (user, cell, bin), one
    map-side-combinable slot-size count, a left-semi crowd gate, then
    ONE equi self-join on the (cell, bin) slot key — only users
    sharing a slot ever meet, and the per-slot fan-out is bounded by
    crowd_max², so no skew cliff exists by construction. The final
    pair count is algebraic.
    """
    slots = (
        points.select(
            F.col(user_col).alias("u"),
            F.floor(F.col(lon_col) / grid_deg).cast("long").alias("gx"),
            F.floor(F.col(lat_col) / grid_deg).cast("long").alias("gy"),
            F.floor(F.col(t_col) / F.lit(int(bin_us))).cast("long").alias("bin"),
        )
        .distinct()
    )
    quiet = slots.join(
        slots.groupBy("gx", "gy", "bin")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= crowd_max)
        .select("gx", "gy", "bin"),
        ["gx", "gy", "bin"],
        "left_semi",
    )
    a, b = quiet.alias("a"), quiet.alias("b")
    return (
        a.join(b, ["gx", "gy", "bin"])
        .filter(F.col("a.u") < F.col("b.u"))
        .groupBy(F.col("a.u").alias("user_a"), F.col("b.u").alias("user_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_bins"))
    )


def voronoi_assign(
    points: DataFrame,
    seeds: DataFrame,
    id_col: str = "id",
    lon_col: str = "lon_d",
    lat_col: str = "lat_d",
) -> DataFrame:
    """Voronoi partition → (id, seed_id, dist_m): every point assigned
    to its nearest seed by floored-metre haversine, distance ties to
    the smaller seed id — the service-area / catchment decomposition
    (which depot serves this node, which region owns this point).

    ``seeds`` is a SMALL relation (id, lon, lat) — facility sites,
    sampled pivots — broadcast to every task: the assignment is one
    broadcast nested-loop of |points|·K distance evaluations followed
    by one argmin agg (min over struct(dist, seed) — the floored-metre
    int64 makes the tie rule exact, the G1 discipline). No candidate
    generation is needed because K is the SMALL side by contract; a
    million-seed Voronoi is a kNN problem and belongs to knn_nodes'
    annulus machinery instead (documented split, same as
    knn_bruteforce vs knn_nodes).
    """
    from ophois_spark.functions import haversine_m

    s = seeds.select(
        F.col(id_col).alias("seed_id"),
        F.col(lon_col).alias("s_lon"),
        F.col(lat_col).alias("s_lat"),
    )
    d = F.floor(
        haversine_m(F.col(lon_col), F.col(lat_col), F.col("s_lon"), F.col("s_lat"))
    ).cast("long")
    cand = points.select(id_col, lon_col, lat_col).crossJoin(F.broadcast(s)).select(
        F.col(id_col).alias("id"),
        F.col("seed_id"),
        d.alias("dist_m"),
    )
    best = cand.groupBy("id").agg(
        F.min(F.struct(F.col("dist_m"), F.col("seed_id"))).alias("b")
    )
    return best.select(
        "id",
        F.col("b.seed_id").alias("seed_id"),
        F.col("b.dist_m").alias("dist_m"),
    )


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
GEOHASH_PRECISION = 7


def geohash_cells(
    points: DataFrame,
    precision: int = GEOHASH_PRECISION,
    id_col: str = "id",
    lon_col: str = "lon_d",
    lat_col: str = "lat_d",
) -> DataFrame:
    """Standard geohash strings → (id, gh, gh_parent): the industry
    interchange cell key (Elasticsearch/Redis/Postgres all speak it),
    alongside the engine's own quadkey/Z-order keys. A geohash IS a
    Morton interleave read MSB-first in 5-bit base32 groups with
    longitude on the even bits — so the whole encode is closed-form
    int64 shifts + alphabet substrings, one codegen projection, no
    UDF, and prefix-truncation = parent coarsening (``gh_parent`` is
    the precision−2 prefix, the standard aggregation trick).

    Exactness: ix/iy are clamped floor() grid indexes (the cell-kernel
    discipline); every bit placement is integer arithmetic an oracle
    restates with // and %. Encodes agree with the published geohash
    spec (gated by pytest against known reference hashes, e.g.
    u09tunq for the Eiffel Tower at precision 7).
    """
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    nx, ny = 1 << lon_bits, 1 << lat_bits
    ix = F.greatest(
        F.lit(0),
        F.least(
            F.lit(nx - 1),
            F.floor((F.col(lon_col) + 180.0) / 360.0 * nx).cast("long"),
        ),
    )
    iy = F.greatest(
        F.lit(0),
        F.least(
            F.lit(ny - 1),
            F.floor((F.col(lat_col) + 90.0) / 180.0 * ny).cast("long"),
        ),
    )
    g = points.select(F.col(id_col).alias("id"), ix.alias("ix"), iy.alias("iy"))
    z = None
    for b in range(lon_bits):
        t = ((F.col("ix") / (1 << b)).cast("long") % 2) * F.lit(1 << (2 * b))
        z = t if z is None else z + t
    for b in range(lat_bits):
        z = z + ((F.col("iy") / (1 << b)).cast("long") % 2) * F.lit(1 << (2 * b + 1))
    chars = [
        F.substring(
            F.lit(GEOHASH_ALPHABET),
            ((F.col("z") / (1 << (5 * (precision - 1 - c)))).cast("long") % 32 + 1).cast(
                "int"
            ),
            1,
        )
        for c in range(precision)
    ]
    out = g.select("id", z.alias("z")).select(
        "id", F.concat(*chars).alias("gh")
    )
    return out.select("id", "gh", F.substring("gh", 1, precision - 2).alias("gh_parent"))


def cell_orientation(
    nodes: DataFrame,
    edges: DataFrame,
    grid_deg: float,
) -> DataFrame:
    """Street-grid orientation per cell → (gx, gy, n_edges, b0, b1,
    b2, b3, dom_permille): each edge's initial bearing folded to
    [0, 180) (streets are undirected) and binned into the four
    45-degree orientation classes (N-S, NE-SW, E-W, NW-SE), counted in
    the cell of the edge's SOURCE endpoint; ``dom_permille`` is the
    dominant class's integer share ×1000 — high = a griddy planned
    street network, low = organic (the Boeing-2019 urban-form signal,
    with the entropy statistic replaced by the exact-integer dominant
    share so the gate needs no logarithm).

    Exactness: bearing is floored to whole degrees FIRST (the
    bearing_distribution discipline — the only libm in the lineage,
    already ulp-pinned), then fold (% 180) and bin (// 45) are pure
    int64; counts, pivots and the permille are integer.

    Scale shape: two node-coordinate equi-joins (the edge relation's
    standard shape), then ONE map-side-combinable groupBy on
    (cell, bin) and a 4-way conditional-sum pivot — no window, no
    explode, nothing quadratic.
    """
    from ophois_spark.functions import bearing_deg

    n1 = nodes.select(
        F.col("id").alias("src"),
        F.col("lat_d").alias("lat1"),
        F.col("lon_d").alias("lon1"),
    )
    n2 = nodes.select(
        F.col("id").alias("dst"),
        F.col("lat_d").alias("lat2"),
        F.col("lon_d").alias("lon2"),
    )
    b = (
        edges.join(n1, "src")
        .join(n2, "dst")
        .select(
            F.floor(F.col("lon1") / grid_deg).cast("long").alias("gx"),
            F.floor(F.col("lat1") / grid_deg).cast("long").alias("gy"),
            (
                F.floor(
                    bearing_deg(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2"))
                ).cast("long")
                % 180
                / 45
            )
            .cast("long")
            .alias("bin"),
        )
    )
    agg = b.groupBy("gx", "gy").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        *[
            F.sum((F.col("bin") == k).cast("long")).cast("long").alias(f"b{k}")
            for k in range(4)
        ],
    )
    dom = F.greatest(*[F.col(f"b{k}") for k in range(4)])
    return agg.select(
        "gx",
        "gy",
        "n_edges",
        "b0",
        "b1",
        "b2",
        "b3",
        F.floor(dom * 1000 / F.col("n_edges")).cast("long").alias("dom_permille"),
    )
