"""Golden tests: connected components (H1) + discretize (D1)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ophois_spark.operators.components import (
    component_size_distribution,
    connected_components,
    largest_component,
)
from ophois_spark.operators.discretize import discretize
from ophois_spark.sources.graph_io import graph_from_tuples
from tests.fixtures import BFS_LINKS, BFS_NODES, DISCRETIZE_LINKS, DISCRETIZE_NODES


def degrees_map(g):
    return {r["id"]: r["degree"] for r in g.degrees().collect()}


def test_bfs_largest_component_golden(spark):
    # reference src/heuristics.rs:175-204: 39 nodes/36 links → 18/20
    g = graph_from_tuples(spark, BFS_NODES, BFS_LINKS)
    lc = largest_component(g)
    assert lc.counts() == (18, 20)
    expected = {
        "3758221295": 1, "3761637488": 2, "3761637489": 4, "2268836829": 1,
        "3761637490": 2, "3758221301": 1, "3761637486": 4, "2576426856": 2,
        "2576426855": 2, "3761637482": 4, "2576426850": 2, "3758221292": 2,
        "2576426853": 3, "2576426851": 2, "2576426852": 2, "2576426854": 2,
        "2576426858": 2, "2576426859": 2,
    }
    assert degrees_map(lc) == expected


def test_component_size_distribution(spark):
    g = graph_from_tuples(spark, BFS_NODES, BFS_LINKS)
    labels = connected_components(g)
    dist = {r["size"]: r["n_components"] for r in component_size_distribution(labels).collect()}
    assert sum(s * c for s, c in dist.items()) == 39
    assert max(dist) == 18 and dist[18] == 1


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=0, max_value=2**32))
def test_components_match_union_find(spark, seed):
    # property: labels partition == union-find oracle partition, with
    # a 12-node chain appended so the high-diameter case is always hit
    import random

    rnd = random.Random(seed)
    n = rnd.randint(1, 40)
    ids = [str(100 + i) for i in range(n)]
    links = set()
    for _ in range(rnd.randint(0, 60)):
        a, b = rnd.sample(ids, 2) if n >= 2 else (None, None)
        if a:
            links.add((min(a, b), max(a, b)))
    chain = [str(500 + i) for i in range(12)]
    links |= set(zip(chain, chain[1:]))
    ids += chain
    nodes = [(i, "48.0", "2.0") for i in ids]
    g = graph_from_tuples(spark, nodes, sorted(links))
    labels = {r["id"]: r["comp"] for r in connected_components(g).collect()}

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in links:
        parent[find(a)] = find(b)
    for a in ids:
        for b in ids:
            assert (labels[a] == labels[b]) == (find(a) == find(b))


def test_discretize_golden(spark):
    # reference src/discretize.rs:57-104: 7 nodes/8 links, delta=6 → 35/36
    g = graph_from_tuples(spark, DISCRETIZE_NODES, DISCRETIZE_LINKS)
    out = discretize(g, 6.0)
    assert out.counts() == (35, 36)
    expected = {
        "3761637496": 1,
        **{f"1829061602-3761637496:{i}/14": 2 for i in range(1, 14)},
        "1829061602": 3,
        "1829061602-3761637486-3761637489:1/3": 2,
        "1829061602-3761637486-3761637489:2/3": 2,
        "2576426850-2576426853": 3,
        "1829061602-2576426850-2576426853:1/3": 2,
        "1829061602-2576426850-2576426853:2/3": 2,
        "3761637486-3761637489": 3,
        "3761637486-3761637489-92192237:1/4": 2,
        "3761637486-3761637489-92192237:2/4": 2,
        "3761637486-3761637489-92192237:3/4": 2,
        "1829061614-92192237:1/5": 2,
        "1829061614-92192237:2/5": 2,
        "1829061614-92192237:3/5": 2,
        "1829061614-92192237:4/5": 2,
        "92192237": 3,
        "1852590201-92192237:1/5": 2,
        "1852590201-92192237:2/5": 2,
        "1852590201-92192237:3/5": 2,
        "1852590201-92192237:4/5": 2,
        "1852590201": 1,
        "1829061614": 2,
    }
    assert degrees_map(out) == expected


def test_discretize_interior_coord_strings(spark):
    """Interpolated coordinates must be Rust-parity formatted strings."""
    g = graph_from_tuples(spark, DISCRETIZE_NODES, DISCRETIZE_LINKS)
    out = discretize(g, 6.0)
    from ophois_spark.kernels.floatfmt import format_f64
    from ophois_spark.kernels.geo import interpolate

    src = next(n for n in DISCRETIZE_NODES if n[0] == "1829061602")
    dst = next(n for n in DISCRETIZE_NODES if n[0] == "3761637496")
    row = out.nodes.filter(F.col("id") == "1829061602-3761637496:3/14").collect()[0]
    x, y = interpolate(
        float(src[2]), float(src[1]), float(dst[2]), float(dst[1]), 3.0 / 14.0
    )
    assert row["lat"] == format_f64(y) and row["lon"] == format_f64(x)
    assert float(row["lat"]) == y and float(row["lon"]) == x


def test_discretize_idempotent_below_delta(spark):
    g = graph_from_tuples(spark, DISCRETIZE_NODES, DISCRETIZE_LINKS)
    once = discretize(g, 6.0)
    twice = discretize(once, 6.0)
    assert twice.counts() == once.counts()
