"""segment_crossings: exact CCW semantics + cell-cover/reference-point
dedup invariants (operators/spatial.py). The geometric complement of the
reference's shared-node intersection model (src/graph.rs splits ways
only at coinciding node ids); registry parity vs the DuckDB oracle is
covered by test_oracle_parity / tools/driver_gate_replica.py."""

import pytest
from pyspark.sql import functions as F

from ophois_spark.operators.spatial import segment_crossings

RES = 17


def _run(spark, rows, res=RES):
    df = spark.createDataFrame(rows, "sid string, x0 double, y0 double, x1 double, y1 double")
    return sorted(
        (r["sid_a"], r["sid_b"]) for r in segment_crossings(df, res).collect()
    )


def test_proper_cross_detected(spark):
    # X shape: diagonals of the unit square around (5.05, 45.05)
    rows = [
        ("a", 5.04, 45.04, 5.06, 45.06),
        ("b", 5.04, 45.06, 5.06, 45.04),
    ]
    assert _run(spark, rows) == [("a", "b")]


def test_touching_endpoint_excluded(spark):
    # T shape: b ends exactly ON a's interior -> d == 0, strict test
    rows = [
        ("a", 5.04, 45.05, 5.06, 45.05),
        ("b", 5.05, 45.05, 5.05, 45.06),
    ]
    assert _run(spark, rows) == []


def test_shared_endpoint_excluded(spark):
    # V shape: meet at a shared endpoint only
    rows = [
        ("a", 5.04, 45.04, 5.05, 45.05),
        ("b", 5.05, 45.05, 5.06, 45.04),
    ]
    assert _run(spark, rows) == []


def test_parallel_and_collinear_excluded(spark):
    rows = [
        ("a", 5.04, 45.04, 5.06, 45.04),
        ("b", 5.04, 45.05, 5.06, 45.05),  # parallel
        ("c", 5.05, 45.04, 5.07, 45.04),  # collinear overlap with a
    ]
    assert _run(spark, rows) == []


def test_disjoint_bbox_excluded(spark):
    rows = [
        ("a", 5.04, 45.04, 5.05, 45.05),
        ("b", 5.20, 45.20, 5.21, 45.21),
    ]
    assert _run(spark, rows) == []


def test_cross_spanning_cell_boundary_emitted_once(spark):
    # long-ish diagonals whose bboxes cover SEVERAL res-17 cells
    # (cell ~2.7e-3 x 1.37e-3 deg): the reference-point rule must emit
    # the pair exactly once despite the multi-cell cover overlap
    rows = [
        ("a", 5.040, 45.040, 5.048, 45.048),
        ("b", 5.040, 45.048, 5.048, 45.040),
    ]
    got = _run(spark, rows)
    assert got == [("a", "b")]


def test_one_segment_many_crossers(spark):
    # a horizontal spine crossed by 5 verticals, plus one vertical that
    # stops short (no crossing)
    spine = [("s", 5.040, 45.050, 5.050, 45.050)]
    verts = [
        (f"v{i}", 5.041 + i * 0.002, 45.049, 5.041 + i * 0.002, 45.051)
        for i in range(5)
    ]
    short = [("w", 5.0495, 45.0505, 5.0495, 45.0510)]
    got = _run(spark, spine + verts + short)
    assert got == sorted(("s", f"v{i}") for i in range(5))


def test_no_cartesian_join(spark):
    """Plan shape: the candidate join is an equi hash join on the cell
    coords (no CartesianProduct / BroadcastNestedLoopJoin anywhere)."""
    import contextlib
    import io

    df = spark.createDataFrame(
        [("a", 5.04, 45.04, 5.06, 45.06), ("b", 5.04, 45.06, 5.06, 45.04)],
        "sid string, x0 double, y0 double, x1 double, y1 double",
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        segment_crossings(df, RES).explain(mode="formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
