"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every queries()/oracle_sql() pair at sf0.001 through the gate's
one comparison (tools/driver_gate_replica.mismatch): column names, row
count, and order-insensitive values with NaN equal to NaN.
"""

import os

import pytest

from ophois_spark.queries import ORACLES, QUERIES
from tools.driver_gate_replica import duck, mismatch

SF_DIR = "/root/testdata/sf0.001"

pytestmark = [
    pytest.mark.slow,  # full-registry sweep: one Spark+DuckDB round per query
    pytest.mark.skipif(
        not os.path.isdir(SF_DIR), reason="driver testdata not present"
    ),
]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    with duck(SF_DIR) as con:
        why = mismatch(got, con.sql(ORACLES[name]).df())
    assert why is None, why
