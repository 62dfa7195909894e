"""Clustering coefficient + bearing histogram + in-doc repetition,
pinned on hand inputs (the sf0.01 oracle gate lives in
test_oracle_parity / tools/driver_gate_replica.py)."""

import math

from ophois_spark.operators.metrics import bearing_distribution, clustering_coefficients
from ophois_spark.operators.textops import doc_repetition
from ophois_spark.sources.graph_io import graph_from_tuples


def _mk(spark, nodes, links):
    return graph_from_tuples(spark, nodes, links)


def test_lcc_k4_and_pendant(spark):
    # K3 a-b-c: every corner lcc=1; pendant d off a drops a's to 1/3
    nodes = [(i, "45.0", "5.0") for i in ["a", "b", "c", "d"]]
    links = [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")]
    got = {
        r["id"]: (r["degree"], r["n_triangles"], r["lcc"])
        for r in clustering_coefficients(_mk(spark, nodes, links)).collect()
    }
    assert got["a"] == (3, 1, round(2 * 1 / (3 * 2), 9))
    assert got["b"] == (2, 1, 1.0)
    assert got["c"] == (2, 1, 1.0)
    assert got["d"] == (1, 0, 0.0)


def test_bearing_cardinal_directions(spark):
    # o at origin-ish; n due north, e due east, s due south, w due west.
    # Canonical edges sort endpoints lexically, so direction follows
    # the (sorted) edge orientation, not travel intent — compute both.
    nodes = [
        ("m", "45.0", "5.0"),
        ("a", "45.001", "5.0"),   # a->m points due south (a is north)
        ("z", "44.999", "5.0"),   # m->z points due south
    ]
    links = [("m", "a"), ("m", "z")]
    got = {
        r["bearing_deg"]: r["n_links"]
        for r in bearing_distribution(_mk(spark, nodes, links)).collect()
    }
    # canonical edges: (a,m) south => 180, (m,z) south => 180
    assert got == {180: 2}


def test_bearing_east_west_quadrants(spark):
    nodes = [
        ("m", "45.0", "5.0"),
        ("p", "45.0", "5.001"),  # (m,p): due east at departure
        ("q", "45.001", "5.001"),  # (m,q): northeast quadrant
    ]
    links = [("m", "p"), ("m", "q")]
    got = {
        r["bearing_deg"]: r["n_links"]
        for r in bearing_distribution(_mk(spark, nodes, links)).collect()
    }
    # due-east great circle at lat 45 departs at slightly < 90 only by
    # the convergence term; with equal latitudes the initial bearing is
    # 90 - tiny; assert the east edge lands in [89, 90] and the NE edge
    # strictly inside (0, 90).
    ks = sorted(got)
    assert sum(got.values()) == 2
    assert all(0 <= k <= 90 for k in ks)
    ne = [k for k in ks if k < 89]
    assert len(ne) == 1 and 30 <= ne[0] <= 60  # ~35.26 at this aspect


def test_doc_repetition_hand_values(spark):
    df = spark.createDataFrame(
        [
            ("d1", "a b a b a b"),      # top bigram "a b" x3 of 5 grams, share 6/6
            ("d2", "x y z w"),          # all bigrams unique: top=1, share 2/4
            ("d3", "solo"),             # n<2: no grams
            ("d4", ""),                 # empty
        ],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["top_gram_count"], r["top_gram_share"])
        for r in doc_repetition(df).collect()
    }
    assert got["d1"] == (6, 3, 1.0)
    assert got["d2"] == (4, 1, 0.5)
    assert got["d3"] == (1, 0, 0.0)
    assert got["d4"] == (0, 0, 0.0)


def test_lcc_matches_bearing_floor_contract(spark):
    # floor never produces 360: a bearing of -epsilon wraps to 359.xx
    nodes = [("m", "45.0", "5.0"), ("n", "45.001", "4.999999")]
    links = [("m", "n")]
    got = bearing_distribution(_mk(spark, nodes, links)).collect()
    assert len(got) == 1
    assert 0 <= got[0]["bearing_deg"] <= 359


def test_degree_assortativity_known_graphs(spark):
    """A star is maximally disassortative (r = -1); a clique triangle
    is degree-regular (den = 0 -> NULL); a path of 3 edges matches the
    hand-computed Newman value."""
    from ophois_spark.operators.metrics import degree_assortativity

    def edges(rows):
        return spark.createDataFrame(rows, "src string, dst string")

    star = edges([("c", "a"), ("c", "b"), ("c", "d")])
    r = degree_assortativity(star).collect()[0]
    assert r.m_edges == 3 and abs(r.assortativity + 1.0) < 1e-12

    tri = edges([("a", "b"), ("b", "c"), ("a", "c")])
    r = degree_assortativity(tri).collect()[0]
    assert r.assortativity is None  # all degrees equal: zero variance

    # path a-b-c-d: degrees 1,2,2,1; edges (1,2),(2,2),(2,1)
    # A=2+4+2=8, B=3+4+3=10, C=5+8+5=18, M=3
    # r = (4*3*8 - 100) / (2*3*18 - 100) = -4/8 = -0.5
    path = edges([("a", "b"), ("b", "c"), ("c", "d")])
    r = degree_assortativity(path).collect()[0]
    assert (r.sum_prod, r.sum_deg, r.sum_deg2) == (8, 10, 18)
    assert abs(r.assortativity + 0.5) < 1e-12
