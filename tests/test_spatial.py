"""Spatial layer tests: same-cell pairs, PIP, kNN, tiles."""

import numpy as np
from pyspark.sql import functions as F

from ophois_spark.operators.spatial import (
    knn_bruteforce,
    knn_join,
    point_in_polygon,
    raster_to_points,
    render_tiles,
    same_cell_pairs,
    tile_assignment,
)
from ophois_spark.queries import derived_graph

SF = "/root/testdata/sf0.001"


def test_same_cell_pairs(spark):
    nodes = spark.createDataFrame(
        [
            ("a", 48.00001, 2.00001),
            ("b", 48.00002, 2.00002),  # same fine cell as a
            ("c", 49.5, 3.5),  # far away
        ],
        "id string, lat_d double, lon_d double",
    )
    pairs = same_cell_pairs(nodes, 16).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [("a", "b")]
    assert pairs[0]["dist_m"] < 5.0


def _pip_oracle(polygon, x, y):
    inside = False
    for (x1, y1), (x2, y2) in zip(polygon, polygon[1:] + polygon[:1]):
        if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
            inside = not inside
    return inside


def test_point_in_polygon_nonconvex(spark):
    # concave "L" polygon
    poly = [(0.0, 0.0), (4.0, 0.0), (4.0, 1.0), (1.0, 1.0), (1.0, 3.0), (0.0, 3.0)]
    rng = np.random.default_rng(3)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(rng.uniform(-1, 5, 200), rng.uniform(-1, 4, 200)))]
    df = spark.createDataFrame(pts, "pid long, lon_d double, lat_d double")
    got = sorted(r["pid"] for r in point_in_polygon(df, poly).collect())
    want = sorted(p[0] for p in pts if _pip_oracle(poly, p[1], p[2]))
    assert got == want
    assert len(want) > 10  # sanity: test actually covers inside points


def test_knn_matches_bruteforce(spark):
    g = derived_graph(spark, SF)
    nodes = g.nodes.select("id", "lat_d", "lon_d")
    queries = nodes.filter((F.col("id").cast("long") % 29) == 0).select(
        F.col("id").alias("qid"), "lat_d", "lon_d"
    )
    fast = knn_join(nodes, queries, k=5, res=18).toPandas()
    slow = knn_bruteforce(nodes, queries, k=5).toPandas()
    key = ["qid", "rank"]
    fast = fast.sort_values(key).reset_index(drop=True)
    slow = slow.sort_values(key).reset_index(drop=True)
    assert fast[["qid", "rank", "id"]].values.tolist() == slow[["qid", "rank", "id"]].values.tolist()


def test_knn_fewer_nodes_than_k(spark):
    nodes = spark.createDataFrame(
        [("a", 48.0, 2.0), ("b", 48.001, 2.001)], "id string, lat_d double, lon_d double"
    )
    q = spark.createDataFrame([("q1", 48.0005, 2.0005)], "qid string, lat_d double, lon_d double")
    out = knn_join(nodes, q, k=5, res=18).collect()
    assert sorted(r["id"] for r in out) == ["a", "b"]


def test_knn_small_grid_pole_and_wrap(spark):
    """Regression: at tiny res the ring wraps x (duplicate cells) and
    clamps y (pole rows uncovered until r >= n-1); both used to corrupt
    the top-k — duplicated node ranks and missed nearer pole nodes."""
    import numpy as np

    rng = np.random.default_rng(7)
    pts = [
        (str(i), float(lat), float(lon))
        for i, (lat, lon) in enumerate(
            zip(rng.uniform(-89, 89, 40), rng.uniform(-179, 179, 40))
        )
    ]
    # include near-pole and antimeridian-adjacent nodes explicitly
    pts += [("p1", 88.5, 10.0), ("p2", -88.5, -170.0), ("m1", 0.0, 179.5), ("m2", 0.0, -179.5)]
    nodes = spark.createDataFrame(pts, "id string, lat_d double, lon_d double")
    queries = spark.createDataFrame(
        [("qp", 89.0, 15.0), ("qm", 0.1, -179.9), ("qc", 1.0, 1.0)],
        "qid string, lat_d double, lon_d double",
    )
    fast = knn_join(nodes, queries, k=4, res=2, max_ring=8).toPandas()
    slow = knn_bruteforce(nodes, queries, k=4).toPandas()
    key = ["qid", "rank"]
    fast = fast.sort_values(key).reset_index(drop=True)
    slow = slow.sort_values(key).reset_index(drop=True)
    assert fast[["qid", "rank", "id"]].values.tolist() == slow[["qid", "rank", "id"]].values.tolist()
    # no node may appear twice for one query (wrap-dedup)
    assert not fast.duplicated(["qid", "id"]).any()


def test_tile_assignment_spans(spark):
    e = spark.createDataFrame(
        [("u", "v", 0.05, 45.02, 0.41, 45.33)],
        "src string, dst string, src_lon_d double, src_lat_d double, dst_lon_d double, dst_lat_d double",
    )
    zoom = 10  # tile = 0.3515625° x 0.17578125°
    tiles = tile_assignment(e, zoom).collect()
    txs = sorted({t["tile_x"] for t in tiles})
    tys = sorted({t["tile_y"] for t in tiles})
    assert len(tiles) == len(txs) * len(tys)  # full bbox coverage
    assert len(txs) >= 2 and len(tys) >= 2


def test_render_tiles_pixels(spark):
    e = spark.createDataFrame(
        [("u", "v", 0.01, 45.01, 0.02, 45.02), ("v", "w", 0.02, 45.02, 0.03, 45.01)],
        "src string, dst string, src_lon_d double, src_lat_d double, dst_lon_d double, dst_lat_d double",
    )
    out = render_tiles(e, zoom=8, tile_px=64).collect()
    assert len(out) >= 1
    total_on = 0
    for t in out:
        img = np.frombuffer(t["pixels"], dtype=np.uint8)
        assert img.size == 64 * 64
        # lit_px is the gated projection of the raster — must agree
        # with the actual pixel buffer
        assert t["lit_px"] == int((img != 0).sum())
        total_on += int((img == 255).sum())
    assert total_on > 0


def test_render_tiles_banded_bit_identical(spark):
    """Band-split raster (the mega-tile escape hatch) reproduces the
    single-pass raster bit for bit — n_edges, lit_px AND the full pixel
    buffer — and the dense tile really does fan out into >1 band task
    before the OR-merge."""
    rng = np.random.default_rng(7)
    # 60 edges all crossing ONE dense tile + a few elsewhere
    rows = [
        (
            f"u{i}",
            f"v{i}",
            float(0.01 + rng.uniform(0, 0.004)),
            float(45.01 + rng.uniform(0, 0.004)),
            float(0.01 + rng.uniform(0, 0.004)),
            float(45.01 + rng.uniform(0, 0.004)),
        )
        for i in range(60)
    ] + [("a", "b", 10.0, 10.0, 10.01, 10.01)]
    e = spark.createDataFrame(
        rows,
        "src string, dst string, src_lon_d double, src_lat_d double, "
        "dst_lon_d double, dst_lat_d double",
    )
    flat = {
        (t["tile_x"], t["tile_y"]): t
        for t in render_tiles(e, zoom=12, tile_px=64).collect()
    }
    banded = {
        (t["tile_x"], t["tile_y"]): t
        for t in render_tiles(e, zoom=12, tile_px=64, band_bits=2).collect()
    }
    assert flat.keys() == banded.keys()
    for k, t in flat.items():
        b = banded[k]
        assert (t["n_edges"], t["lit_px"]) == (b["n_edges"], b["lit_px"])
        assert bytes(t["pixels"]) == bytes(b["pixels"])
    # split evidence: the dense tile's edges hash into >1 band
    from pyspark.sql import functions as F

    from ophois_spark.operators.spatial import tile_assignment

    hot = (
        tile_assignment(e, 12)
        .withColumn("band", F.pmod(F.xxhash64("src", "dst"), F.lit(4)))
        .groupBy("tile_x", "tile_y")
        .agg(F.countDistinct("band").alias("nb"), F.count(F.lit(1)).alias("ne"))
        .orderBy(F.desc("ne"))
        .first()
    )
    assert hot["ne"] >= 60 and hot["nb"] >= 3


def test_raster_to_points_roundtrip(spark):
    """render → decode is lossless: one decoded point per lit pixel,
    every point inside its tile's bbox, and re-projecting the decoded
    lon/lat through the renderer's pixel mapping lands back on exactly
    the same (px_x, px_y)."""
    zoom, px = 8, 64
    e = spark.createDataFrame(
        [("u", "v", 0.01, 45.01, 0.02, 45.02), ("v", "w", 0.02, 45.02, 0.03, 45.01)],
        "src string, dst string, src_lon_d double, src_lat_d double, dst_lon_d double, dst_lat_d double",
    )
    tiles = render_tiles(e, zoom=zoom, tile_px=px)
    lit = {(t["tile_x"], t["tile_y"]): t["lit_px"] for t in tiles.collect()}
    pts = raster_to_points(tiles, zoom=zoom, tile_px=px).collect()
    # count parity per tile
    got = {}
    for p in pts:
        got[(p["tile_x"], p["tile_y"])] = got.get((p["tile_x"], p["tile_y"]), 0) + 1
    assert got == {k: v for k, v in lit.items() if v > 0}
    n = 1 << zoom
    sx = px / (360.0 / n)
    sy = px / (180.0 / n)
    for p in pts:
        lon0 = p["tile_x"] / n * 360.0 - 180.0
        lat0 = p["tile_y"] / n * 180.0 - 90.0
        # bbox containment
        assert lon0 <= p["lon_d"] < lon0 + 360.0 / n
        assert lat0 <= p["lat_d"] < lat0 + 180.0 / n
        # exact pixel round-trip through the renderer's mapping
        assert int(np.floor((p["lon_d"] - lon0) * sx + 0.5)) == p["px_x"]
        assert int(np.floor((p["lat_d"] - lat0) * sy + 0.5)) == p["px_y"]


def test_point_in_polygon_large_polygon_broadcast_path(spark):
    """Polygons past PIP_LITERAL_MAX_EDGES take the broadcast-join
    strategy; results must match the scalar oracle and duplicates must
    survive (the groupBy keys a unique row id, not the payload)."""
    import math

    from ophois_spark.operators.spatial import PIP_LITERAL_MAX_EDGES, point_in_polygon

    n_v = PIP_LITERAL_MAX_EDGES + 44
    poly = [
        (2.0 + math.cos(2 * math.pi * i / n_v), 1.5 + math.sin(2 * math.pi * i / n_v))
        for i in range(n_v)
    ]
    rng = np.random.default_rng(11)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(rng.uniform(0, 4, 150), rng.uniform(0, 3, 150)))]
    pts.append((999, 2.0, 1.5))  # duplicate inside point, twice
    pts.append((999, 2.0, 1.5))
    df = spark.createDataFrame(pts, "pid long, lon_d double, lat_d double")
    got = sorted(r["pid"] for r in point_in_polygon(df, poly).collect())
    want = sorted(p[0] for p in pts if _pip_oracle(poly, p[1], p[2]))
    assert got == want
    assert got.count(999) == 2  # duplicates preserved
    assert len(want) > 20


def test_pip_join_matches_scalar_oracle(spark):
    """Multi-polygon containment join: every (point, polygon) pair from
    the cell-cover equi-join must match the scalar even-odd oracle —
    including a point inside TWO overlapping polygons (two rows) and a
    duplicated point row (kept twice; the groupBy keys a row id)."""
    import math

    from ophois_spark.operators.spatial import pip_join

    polys = []
    for k, (cx, cy) in enumerate([(1.0, 1.0), (3.0, 2.0), (1.3, 1.2)]):
        nv = 5 + k
        xs = [cx + 0.7 * math.cos(2 * math.pi * i / nv) for i in range(nv)]
        ys = [cy + 0.7 * math.sin(2 * math.pi * i / nv) for i in range(nv)]
        polys.append((f"P{k}", xs, ys))
    pdf = spark.createDataFrame(polys, "poly_id string, xs array<double>, ys array<double>")
    rng = np.random.default_rng(7)
    pts = [
        (i, float(x), float(y))
        for i, (x, y) in enumerate(zip(rng.uniform(0, 4.5, 300), rng.uniform(0, 3.5, 300)))
    ]
    pts.append((999, 1.15, 1.1))  # inside P0 AND P2, twice
    pts.append((999, 1.15, 1.1))
    df = spark.createDataFrame(pts, "pid long, lon_d double, lat_d double")
    want = sorted(
        (p[0], pid)
        for p in pts
        for pid, xs, ys in polys
        if _pip_oracle(list(zip(xs, ys)), p[1], p[2])
    )
    for bcast in (True, False):
        got = sorted(
            (r["pid"], r["poly_id"])
            for r in pip_join(df, pdf, res=8, broadcast_polygons=bcast).collect()
        )
        assert got == want, f"broadcast={bcast}"
    assert want.count((999, "P0")) == 2 and want.count((999, "P2")) == 2
    assert len({pid for _, pid in want}) == 3 and len(want) > 30


def test_pip_join_multipolygon_with_hole(spark):
    """A poly_id spanning several ring rows is one polygon: a square
    with a square hole plus a disjoint second part. Points inside a
    part are contained (odd crossings), points inside the hole are NOT
    (outer + hole = even) — no ring-role flags needed."""
    from ophois_spark.operators.spatial import pip_join

    rings = [
        ("M", [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0]),   # outer
        ("M", [1.0, 3.0, 3.0, 1.0], [1.0, 1.0, 3.0, 3.0]),   # hole
        ("M", [6.0, 8.0, 8.0, 6.0], [0.0, 0.0, 2.0, 2.0]),   # disjoint part
        ("S", [2.5, 7.5, 7.5, 2.5], [5.0, 5.0, 7.0, 7.0]),   # plain ring
    ]
    pdf = spark.createDataFrame(rings, "poly_id string, xs array<double>, ys array<double>")
    pts = [
        (0, 0.5, 0.5),   # M: between outer and hole -> in
        (1, 2.0, 2.0),   # M: inside the hole -> out
        (2, 7.0, 1.0),   # M: second part -> in
        (3, 5.0, 1.0),   # between parts -> out
        (4, 3.0, 6.0),   # S -> in
        (5, 9.0, 9.0),   # nowhere
    ]
    df = spark.createDataFrame(pts, "pid long, lon_d double, lat_d double")
    got = sorted((r["pid"], r["poly_id"]) for r in pip_join(df, pdf, res=6).collect())
    assert got == [(0, "M"), (2, "M"), (4, "S")]


# ---------------------------------------------------------------------------
# kring density smoothing
# ---------------------------------------------------------------------------


def test_cell_density_smooth_matches_kring_kernel(spark):
    """Relational scatter-sum == brute-force gather over kernels.kring,
    on a res-3 grid hitting the antimeridian wrap (ix 0/7) and the pole
    clamp (iy 0)."""
    from ophois_spark.kernels.cells import RES_BITS, X_BITS, kring
    from ophois_spark.operators.spatial import cell_density_smooth

    res = 3
    cells = {  # (ix, iy) -> n
        (0, 0): 3, (7, 0): 5, (1, 1): 2, (0, 1): 1, (4, 4): 7, (5, 5): 1,
    }
    enc = lambda ix, iy: (res << RES_BITS) | (ix << X_BITS) | iy
    counts = {enc(ix, iy): n for (ix, iy), n in cells.items()}
    df = spark.createDataFrame(list(counts.items()), "cell long, n long")
    got = {
        r.cell: (r.n_pts, r.n_smooth)
        for r in cell_density_smooth(df, res, k=1).collect()
    }
    want = {
        c: (n, sum(counts.get(nb, 0) for nb in kring(c, 1)))
        for c, n in counts.items()
    }
    assert got == want


def test_cell_compact_roundtrip_and_minimality(spark):
    """Compacting a complete 4x4 res-3 block yields ONE res-1 cell;
    adding a lone extra cell keeps it at leaf res; expanding every
    output cell back to res 3 reproduces the input set exactly."""
    from ophois_spark.kernels.cells import RES_BITS, X_BITS
    from ophois_spark.operators.spatial import cell_compact

    enc = lambda res, ix, iy: (res << RES_BITS) | (ix << X_BITS) | iy
    block = [enc(3, ix, iy) for ix in range(4, 8) for iy in range(0, 4)]
    lone = enc(3, 0, 7)
    df = spark.createDataFrame([(c,) for c in block + [lone]], "cell long")
    got = {r.cell for r in cell_compact(df, 3, 1).collect()}
    # the 4x4 block is exactly one res-1 cell (ix 2..3 -> 1, iy 0..1 -> 0)
    assert got == {enc(1, 1, 0), lone}
    # expand back: every res-r output cell covers 4^(3-r) leaves
    leaves = set()
    for c in got:
        r, ix, iy = c >> RES_BITS, (c >> X_BITS) & ((1 << X_BITS) - 1), c & ((1 << X_BITS) - 1)
        d = 3 - r
        for dx in range(1 << d):
            for dy in range(1 << d):
                leaves.add(enc(3, (ix << d) + dx, (iy << d) + dy))
    assert leaves == set(block + [lone])


def test_snap_points_to_edges_geometry(spark):
    """Hand geometry: interior projection, endpoint clamp, zero-length
    segment, and the radius cutoff."""
    from ophois_spark.operators.spatial import M_PER_DEG, snap_points_to_edges

    segments = spark.createDataFrame(
        [
            # horizontal segment along the equator, ~111 m long
            (1, 0.0, 0.0, 0.0, 0.001),
            # zero-length "segment" at (0.001, 0)
            (2, 0.001, 0.0, 0.001, 0.0),
        ],
        "edge_id long, alat double, alon double, blat double, blon double",
    )
    points = spark.createDataFrame(
        [
            (10, 0.00001, 0.0005),   # above the middle of edge 1
            (11, 0.0, 0.0015),       # past b end of edge 1: clamps
            (12, 0.00102, 0.0),      # ~2.2 m above the point-edge 2
            (13, 0.01, 0.01),        # > 1 km from everything: no row
        ],
        "qid long, lat_d double, lon_d double",
    )
    out = {
        (r.qid, r.rank): (r.edge_id, r.dist_m)
        for r in snap_points_to_edges(
            points, segments, radius_m=60.0, grid_deg=0.0005, k=2
        ).collect()
    }
    deg_m = M_PER_DEG  # ~111195 m per degree
    assert out[(10, 1)][0] == 1
    assert abs(out[(10, 1)][1] - 0.00001 * deg_m) < 1e-5      # interior foot
    assert out[(11, 1)][0] == 1
    assert abs(out[(11, 1)][1] - 0.0005 * deg_m) < 1e-5       # endpoint clamp
    assert out[(12, 1)][0] == 2
    assert abs(out[(12, 1)][1] - 0.00002 * deg_m) < 1e-5      # degenerate seg
    assert (10, 2) not in out                  # edge 2 is ~123 m away: cut
    assert not any(q == 13 for q, _ in out)    # outside radius entirely


def test_snap_points_to_edges_matches_bruteforce(spark):
    """Grid-cover candidates must reproduce the brute-force result
    exactly (cover is a superset of in-radius pairs), across a grid
    size that forces multi-cell segment covers."""
    import math

    from ophois_spark.operators.spatial import M_PER_DEG, snap_points_to_edges

    segs = [
        (i,
         45.0 + (i % 7) * 1e-4,
         5.0 + ((i * 3) % 7) * 1e-4,
         45.0 + (i % 7) * 1e-4 + ((i % 3) - 1) * 2e-4,
         5.0 + ((i * 3) % 7) * 1e-4 + ((i % 5) - 2) * 2e-4)
        for i in range(40)
    ]
    pts = [
        (100 + j,
         45.0 + ((j * 5) % 9) * 1e-4 + (j % 4) * 3e-6,
         5.0 + ((j * 2) % 9) * 1e-4 - (j % 3) * 3e-6)
        for j in range(25)
    ]
    sdf = spark.createDataFrame(
        segs, "edge_id long, alat double, alon double, blat double, blon double"
    )
    pdf = spark.createDataFrame(pts, "qid long, lat_d double, lon_d double")
    got = sorted(
        (r.qid, r.rank, r.edge_id, r.dist_m)
        for r in snap_points_to_edges(
            pdf, sdf, radius_m=30.0, grid_deg=0.0004, k=3
        ).collect()
    )

    def seg_dist(p, s):
        _, plat, plon = p
        _, alat, alon, blat, blon = s
        cosq = math.cos(math.radians(plat))
        ax, ay = (alon - plon) * cosq * M_PER_DEG, (alat - plat) * M_PER_DEG
        bx, by = (blon - plon) * cosq * M_PER_DEG, (blat - plat) * M_PER_DEG
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        t = max(0.0, min(1.0, -(ax * dx + ay * dy) / len2)) if len2 > 0 else 0.0
        cx, cy = ax + t * dx, ay + t * dy
        return round(math.sqrt(cx * cx + cy * cy), 6)

    want = []
    for p in pts:
        cand = sorted(
            (seg_dist(p, s), s[0]) for s in segs if seg_dist(p, s) <= 30.0
        )
        want.extend((p[0], r + 1, eid, d) for r, (d, eid) in enumerate(cand[:3]))
    assert got == sorted(want)


def test_cell_dbscan_two_blobs_and_noise(spark):
    """Two separated dense blobs -> two clusters labeled by their min
    cell key; a lone far point is noise (no row); blobs one diagonal
    step apart would merge (8-adjacency) - pinned by a third blob
    touching the first diagonally."""
    from ophois_spark.operators.spatial import cell_dbscan

    rows = []
    # blob A: 3x3 points in cell (gx=0, gy=0) neighborhood, 6 pts/cell
    for i in range(6):
        rows += [(0.0001 + i * 1e-6, 0.0002), (0.0005, 0.0005 + i * 1e-6)]
    # blob B: far away at lon 1.0 (gx=1000), same density
    for i in range(6):
        rows += [(0.0001, 1.0002 + i * 1e-6), (0.0005 + i * 1e-6, 1.0005)]
    # blob C: diagonal neighbor cell of blob A's (0,0) -> merges with A
    for i in range(6):
        rows += [(0.0015 + i * 1e-6, 0.0015)]
    # noise: single point, isolated
    rows += [(3.5, 3.5)]
    pts = spark.createDataFrame(rows, "lat_d double, lon_d double")
    out = cell_dbscan(pts, grid_deg=0.001, min_pts=5).collect()
    by_cell = {(r.gx, r.gy): r for r in out}
    assert (3500, 3500) not in by_cell                   # noise dropped
    clusters = {}
    for r in out:
        clusters.setdefault(r.cluster, set()).add((r.gx, r.gy))
    assert len(clusters) == 2                            # A+C merged, B apart
    ab = clusters[min(clusters)]                         # min-key labeled
    assert (0, 0) in ab and (1, 1) in ab                 # diagonal merge
    assert any((1000, 0) in c for c in clusters.values())


def test_polygon_metrics_square_exact(spark):
    from ophois_spark.kernels.geo import haversine
    from ophois_spark.operators.spatial import polygon_metrics

    # CCW 0.001-deg square at lat 45 and its CW mirror
    sq = [(5.0, 45.0), (5.001, 45.0), (5.001, 45.001), (5.0, 45.001)]
    rows = [("ccw", i, x, y) for i, (x, y) in enumerate(sq)]
    rows += [("cw", i, x, y) for i, (x, y) in enumerate(sq[::-1])]
    verts = spark.createDataFrame(rows, "poly_id string, idx int, x double, y double")
    out = {r["poly_id"]: r for r in polygon_metrics(verts).collect()}

    # shoelace of a 1e6 x 1e6 nanodeg square = 2 * 1e12 (sign by winding)
    assert out["ccw"]["area2_q"] == 2 * 10**12
    assert out["cw"]["area2_q"] == 2 * 10**12
    assert out["ccw"]["orientation"] == 1
    assert out["cw"]["orientation"] == -1
    # perimeter: floored haversine per edge, summed exactly
    exp = (
        int(haversine(5.0, 45.0, 5.001, 45.0))
        + int(haversine(5.001, 45.0, 5.001, 45.001))
        + int(haversine(5.001, 45.001, 5.0, 45.001))
        + int(haversine(5.0, 45.001, 5.0, 45.0))
    )
    assert out["ccw"]["perimeter_m"] == exp == out["cw"]["perimeter_m"]
    assert out["ccw"]["n_vertices"] == 4


def test_raster_runs_stitch_and_cover(spark):
    """RLE vectorization: (1) run lengths sum to the lit-pixel total,
    (2) runs are maximal (no two runs on a scanline touch or overlap),
    (3) a horizontal edge crossing a tile border yields ONE stitched
    run in global pixel space, not one per tile."""
    from ophois_spark.operators.spatial import raster_runs

    zoom, px = 8, 64
    n = 1 << zoom
    # tile width is 360/n deg; straddle the x-border between two tiles
    # with a pure-horizontal segment so the lit row is contiguous
    lon_border = (n // 2 + 1) * 360.0 / n - 180.0
    e = spark.createDataFrame(
        [("u", "v", lon_border - 0.1, 45.0003, lon_border + 0.1, 45.0003)],
        "src string, dst string, src_lon_d double, src_lat_d double, "
        "dst_lon_d double, dst_lat_d double",
    )
    tiles = render_tiles(e, zoom=zoom, tile_px=px)
    total_lit = sum(t["lit_px"] for t in tiles.collect())
    assert tiles.count() == 2  # the segment really spans two tiles
    runs = raster_runs(tiles, zoom=zoom, tile_px=px, slab_px=16).collect()
    assert sum(r["run_len"] for r in runs) == total_lit
    for r in runs:
        assert r["run_len"] == r["gx1"] - r["gx0"] + 1
    by_row: dict[int, list] = {}
    for r in runs:
        by_row.setdefault(r["gy"], []).append((r["gx0"], r["gx1"]))
    for row_runs in by_row.values():
        row_runs.sort()
        for (a0, a1), (b0, b1) in zip(row_runs, row_runs[1:]):
            assert b0 > a1 + 1  # maximal: a true gap between runs
    # horizontal segment at constant lat → exactly one scanline (the DDA
    # may leave 1-px sampling gaps WITHIN a tile at this zoom, so the
    # row can hold several runs — but adjacency across the border must
    # stitch: at least one run spans the tile boundary, which per-tile
    # RLE could never produce)
    assert len(by_row) == 1
    (only_runs,) = by_row.values()
    assert any(gx0 // px != gx1 // px for gx0, gx1 in only_runs)


def test_raster_blobs_floodfill_oracle(spark):
    """Blob labeling == 4-connectivity flood fill on the global pixel
    grid: cross-tile blobs stitch, diagonal-only contact does NOT
    merge, and per-blob pixel counts/bboxes match the scalar oracle."""
    from ophois_spark.operators.spatial import raster_blobs

    zoom, px = 4, 8
    world_w = (1 << zoom) * px
    t0 = np.zeros((px, px), dtype=np.uint8)
    t1 = np.zeros((px, px), dtype=np.uint8)
    t0[2, 5:8] = 255  # blob A: row 2, x 5..7 ...
    t1[2, 0:3] = 255  # ... continues into tile 1 (global x 8..10)
    t0[4, 1] = 255    # blob B: single pixel
    t0[5, 2] = 255    # blob C: diagonal neighbor of B — must NOT merge
    t0[4, 4] = 255    # blob D: L-shape ...
    t0[4, 5] = 255
    t0[5, 5] = 255
    tiles = spark.createDataFrame(
        [(0, 0, t0.tobytes()), (1, 0, t1.tobytes())],
        "tile_x long, tile_y long, pixels binary",
    )
    got = {
        r["blob_id"]: (r["n_runs"], r["n_px"], r["gx_min"], r["gx_max"], r["gy_min"], r["gy_max"])
        for r in raster_blobs(tiles, zoom=zoom, tile_px=px, slab_px=4, cell_px=4).collect()
    }

    # scalar oracle: flood fill over the union of global lit pixels
    lit = set()
    for tx, img in ((0, t0), (1, t1)):
        ys, xs = np.nonzero(img)
        lit |= {(tx * px + int(x), int(y)) for x, y in zip(xs, ys)}
    seen, blobs = set(), []
    for p in sorted(lit):
        if p in seen:
            continue
        comp, stack = set(), [p]
        while stack:
            (x, y) = stack.pop()
            if (x, y) in comp or (x, y) not in lit:
                continue
            comp.add((x, y))
            stack += [(x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)]
        seen |= comp
        blobs.append(comp)
    assert len(got) == len(blobs) == 4
    for comp in blobs:
        xs = [x for x, _ in comp]
        ys = [y for _, y in comp]
        # expected blob_id: min run id = min over runs of gy*world_w+gx0;
        # runs are maximal x-intervals per row within the blob
        rid = min(
            y * world_w + min(x for x, yy in comp if yy == y) for y in set(ys)
        )
        n_runs = len({(y, x) for x, y in comp if (x - 1, y) not in comp})
        assert got[rid] == (n_runs, len(comp), min(xs), max(xs), min(ys), max(ys))


def test_convex_hull_exact_and_partition_independent(spark):
    from ophois_spark.operators.spatial import convex_hull

    pts = [(0, 0), (4, 0), (4, 4), (0, 4), (2, 2), (2, 0), (4, 2), (1, 1), (3, 3)]
    df = spark.createDataFrame(pts, "gx long, gy long")
    expect = [(0, 0, 0), (1, 4, 0), (2, 4, 4), (3, 0, 4)]  # CCW from lexicographic min;
    # collinear boundary midpoints (2,0) and (4,2) are NOT vertices
    got = [(r["seq"], r["gx"], r["gy"]) for r in convex_hull(df).orderBy("seq").collect()]
    assert got == expect
    # hull(hull(A) ∪ hull(B)) = hull(A ∪ B): any partitioning yields the same hull
    for n in (1, 3, 7):
        got_n = [
            (r["seq"], r["gx"], r["gy"])
            for r in convex_hull(df.repartition(n)).orderBy("seq").collect()
        ]
        assert got_n == expect
    # degenerate: single point and all-collinear
    one = spark.createDataFrame([(5, 7)], "gx long, gy long")
    assert [(r["seq"], r["gx"], r["gy"]) for r in convex_hull(one).collect()] == [(0, 5, 7)]
    col = spark.createDataFrame([(0, 0), (2, 2), (4, 4), (6, 6)], "gx long, gy long")
    assert [
        (r["seq"], r["gx"], r["gy"]) for r in convex_hull(col).orderBy("seq").collect()
    ] == [(0, 0, 0), (1, 6, 6)]


def test_tiles_dirty_counts_added_and_removed(spark):
    from ophois_spark.operators.spatial import tiles_dirty

    # zoom chosen so each 0.1-deg step is its own tile column
    nodes = spark.createDataFrame(
        [("1", 45.0, 5.0), ("2", 45.0, 5.0001), ("3", 45.0, 5.0002)],
        "id string, lat_d double, lon_d double",
    )
    before = spark.createDataFrame([("1", "2")], "src string, dst string")
    after = spark.createDataFrame([("1", "2"), ("2", "3")], "src string, dst string")
    out = tiles_dirty(before, after, nodes, zoom=18).collect()
    # edge (1,2) unchanged -> not dirty; (2,3) added -> its tiles count 1 added
    assert len(out) >= 1
    assert all(r["n_added"] >= 1 and r["n_removed"] == 0 for r in out)

    # removal only
    out2 = tiles_dirty(after, before, nodes, zoom=18).collect()
    assert all(r["n_added"] == 0 and r["n_removed"] >= 1 for r in out2)

    # identical snapshots -> nothing dirty
    assert tiles_dirty(after, after, nodes, zoom=18).count() == 0
