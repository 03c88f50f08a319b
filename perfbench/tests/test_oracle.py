"""The result comparator: float columns within a few ulps, not by printed
decimals."""

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle import compare, floats_close  # noqa: E402


def test_one_ulp_decimal_cast_passes():
    # pricing_summary sum_charge for (A, O) at x10 is exactly
    # 50797913404.823530; Spark returns the correctly rounded double and
    # DuckDB 1.0's CAST(DECIMAL AS DOUBLE) one ulp below it. Six printed
    # decimals differ, the values are one ulp apart.
    spark_value, duck_value = 50797913404.823532, 50797913404.823524
    assert f"{spark_value:.6f}" != f"{duck_value:.6f}"
    assert floats_close(spark_value, duck_value)
    cols = ["l_returnflag", "l_linestatus", "sum_charge", "count_order"]
    got = [("A", "O", spark_value, 1000)]
    want = [("A", "O", duck_value, 1000)]
    assert compare(cols, got, cols, want) == []


def test_relative_error_1e9_fails():
    x = 50797913404.823530
    assert not floats_close(x, x * (1 + 1e-9))
    assert compare(["v"], [(x,)], ["v"], [(x * (1 + 1e-9),)])


def test_nan_and_inf():
    assert floats_close(math.nan, math.nan)
    assert not floats_close(math.nan, 1.0)
    assert floats_close(math.inf, math.inf)
    assert not floats_close(math.inf, 1e308)


def test_rows_compare_as_multisets_by_column_name():
    got = [(2, "b", 0.5), (1, "a", 0.25)]
    want = [("a", 0.25, 1), ("b", 0.5, 2)]
    assert compare(["k", "s", "x"], got, ["s", "x", "k"], want) == []


def test_mismatches_are_reported():
    assert compare(["k"], [(1,)], ["k"], [(2,)])
    assert compare(["k"], [(1,)], ["k"], [(1,), (1,)])
    assert compare(["k"], [(1,)], ["j"], [(1,)])
    assert compare(["k"], [("1",)], ["k"], [(1.0,)])


def test_float_lists_compare_elementwise():
    v = [0.1, 0.2, 0.3]
    assert compare(["e"], [(v,)], ["e"], [([0.1, 0.2, 0.30000000000000004],)]) == []
    assert compare(["e"], [(v,)], ["e"], [([0.1, 0.2],)])
