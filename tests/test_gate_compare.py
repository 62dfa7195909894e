"""The oracle gate's one comparison (tools/driver_gate_replica.mismatch):
insensitive to row order, column order and integer width, NaN equal to
NaN in the same cells, and nothing else forgiven. No Spark."""

import numpy as np
import pandas as pd

from tools.driver_gate_replica import mismatch


def _oracle() -> pd.DataFrame:
    return pd.DataFrame({"b": [2.5, np.nan, 1.0], "a": [3, 1, 2]})


def test_nan_in_the_same_cells_compares_equal():
    want = _oracle()
    got = want.iloc[::-1][["a", "b"]].astype({"a": "int32"})
    assert mismatch(got, want) is None


def test_a_changed_value_or_row_count_does_not():
    want = _oracle()
    assert mismatch(want.replace({2.5: 2.75}), want).startswith("column b")
    assert mismatch(want.iloc[:2], want) == "rows 2 != 3"
    nan_moved = want.assign(b=[np.nan, 2.5, 1.0])
    assert mismatch(nan_moved, want).startswith("column b")
    assert mismatch(want.rename(columns={"a": "c"}), want).startswith("columns")
