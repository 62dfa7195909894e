"""st_cube_rollup / choropleth_classes / cell_majority unit contracts.

The oracle gate (tools/driver_gate_replica.py) checks full-value
parity vs DuckDB; these tests pin the semantic invariants on crafted
inputs where the expected values are hand-checkable.
"""

import datetime as dt

from pyspark.sql import functions as F

from ophois_spark.operators.spatial import cell_majority, choropleth_classes
from ophois_spark.operators.temporal import st_cube_rollup

UTC = dt.timezone.utc


def test_st_cube_margins_are_consistent(spark):
    rows = [
        # (lat, lon, ts, type, user) — two cells, two hours, two types
        (45.0005, 5.0005, dt.datetime(2024, 1, 1, 10, 5, tzinfo=UTC), "view", 1),
        (45.0005, 5.0005, dt.datetime(2024, 1, 1, 10, 45, tzinfo=UTC), "view", 2),
        (45.0005, 5.0005, dt.datetime(2024, 1, 1, 11, 5, tzinfo=UTC), "click", 1),
        (45.0030, 5.0030, dt.datetime(2024, 1, 2, 10, 5, tzinfo=UTC), "view", 3),
    ]
    pts = spark.createDataFrame(
        rows, "lat_d double, lon_d double, ts timestamp, event_type string, user_id long"
    )
    out = st_cube_rollup(pts, 0.002).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r)

    # grand total margin (g=7): everything rolled up
    CELL_ALL = -(1 << 62)
    (grand,) = by_g[7]
    assert grand["cell"] == CELL_ALL and grand["hour"] == -1
    assert grand["event_type"] == "ALL"
    assert grand["n_events"] == 4 and grand["n_users"] == 3

    # finest grain (g=0): sums back to the grand total
    assert sum(r["n_events"] for r in by_g[0]) == 4
    assert all(r["cell"] != CELL_ALL and r["hour"] != -1 for r in by_g[0])

    # hour margin keeps type+cell rolled: g=6 rows are keyed by type only
    type_margin = {r["event_type"]: r for r in by_g[6]}
    assert type_margin["view"]["n_events"] == 3
    assert type_margin["click"]["n_users"] == 1

    # every one of the 8 grouping sets is present
    assert sorted(by_g) == list(range(8))


def test_st_cube_hour_is_epoch_hour_mod_24(spark):
    pts = spark.createDataFrame(
        [(0.0005, 0.0005, dt.datetime(2024, 1, 1, 23, 59, tzinfo=UTC), "t", 1)],
        "lat_d double, lon_d double, ts timestamp, event_type string, user_id long",
    )
    fine = [r for r in st_cube_rollup(pts, 0.002).collect() if r["g"] == 0]
    assert fine[0]["hour"] == 23


def test_choropleth_equal_densities_share_a_class(spark):
    # 10 cells: densities 1,1,1,1,1,2,2,2,3,9 — k=5 classes by value rank
    rows = [(i, 0, n) for i, n in enumerate([1, 1, 1, 1, 1, 2, 2, 2, 3, 9])]
    counts = spark.createDataFrame(rows, "gx int, gy int, n long")
    out = {(r["gx"], r["gy"]): r["cls"] for r in choropleth_classes(counts, k=5).collect()}
    # below(1)=0 -> cls 0; below(2)=5 -> 25//10=2; below(3)=8 -> 4; below(9)=9 -> 4
    assert all(out[(i, 0)] == 0 for i in range(5))
    assert all(out[(i, 0)] == 2 for i in range(5, 8))
    assert out[(8, 0)] == 4 and out[(9, 0)] == 4


def test_choropleth_classes_bounded_and_monotone(spark):
    rows = [(i, 0, (i * 7) % 13 + 1) for i in range(60)]
    counts = spark.createDataFrame(rows, "gx int, gy int, n long")
    got = choropleth_classes(counts, k=4).collect()
    assert all(0 <= r["cls"] <= 3 for r in got)
    by_n = sorted(got, key=lambda r: r["n"])
    assert all(a["cls"] <= b["cls"] for a, b in zip(by_n, by_n[1:]))


def test_cell_majority_tie_breaks_to_larger_value(spark):
    rows = [(0, 0, "en"), (0, 0, "fr"), (0, 0, "en"), (0, 0, "fr"), (1, 1, "de")]
    cells = spark.createDataFrame(rows, "gx int, gy int, lang string")
    out = {(r["gx"], r["gy"]): r for r in cell_majority(cells, "lang").collect()}
    # 2-2 tie: lang DESC picks "fr"
    assert out[(0, 0)]["top"] == "fr"
    assert out[(0, 0)]["n_top"] == 2 and out[(0, 0)]["n_rows"] == 4
    assert out[(0, 0)]["share"] == 0.5
    assert out[(1, 1)]["top"] == "de" and out[(1, 1)]["share"] == 1.0
