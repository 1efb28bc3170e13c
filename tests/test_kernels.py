"""Unit tests for ``operators/kernels.py``, the numpy kernels the Arrow
vector scorers share: ``spark_round`` against an exact decimal reference
(and against Spark's own ``round`` on .5 boundaries), and the
accumulation and gather helpers."""

from __future__ import annotations

import math
import struct
from decimal import ROUND_HALF_UP, Decimal, localcontext

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from interop_spark.operators.kernels import (
    gather,
    row_dot,
    row_sumsq,
    spark_round,
    valid_rows,
)

DIGITS = st.integers(min_value=0, max_value=9)


def _ref(x: float, digits: int) -> float:
    """Spark's ``Round``: BigDecimal HALF_UP on the shortest decimal of
    ``x``, unlimited precision; BigDecimal zero has no sign."""
    with localcontext() as ctx:
        ctx.prec = 400
        q = Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
        )
    return float(q) + 0.0


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def _round1(x: float, digits: int) -> float:
    return float(spark_round(np.array([x]), digits)[0])


@st.composite
def _half_boundaries(draw):
    """(x, digits) with x the double nearest the decimal k.5 × 10^-digits,
    or one of its two neighbours."""
    digits = draw(DIGITS)
    k = draw(st.integers(min_value=-(10**12), max_value=10**12))
    x = float(f"{k}5e-{digits + 1}")
    step = draw(st.sampled_from([0.0, math.inf, -math.inf]))
    return (math.nextafter(x, step) if step else x), digits


@settings(max_examples=400, deadline=None)
@given(x=st.floats(allow_nan=False, allow_infinity=False), digits=DIGITS)
def test_spark_round_matches_decimal_reference(x, digits):
    assert _bits(_round1(x, digits)) == _bits(_ref(x, digits))


@settings(max_examples=400, deadline=None)
@given(case=_half_boundaries())
def test_spark_round_on_half_boundaries(case):
    x, digits = case
    assert _bits(_round1(x, digits)) == _bits(_ref(x, digits))


@settings(max_examples=100, deadline=None)
@given(
    xs=st.lists(
        st.floats(min_value=-1.0, max_value=1.0), min_size=1, max_size=12
    ),
    digits=DIGITS,
)
def test_spark_round_elementwise_on_matrices(xs, digits):
    """The scorers round whole similarity matrices at once."""
    a = np.array(xs + xs[::-1]).reshape(2, len(xs))
    got = spark_round(a, digits)
    assert got.shape == a.shape
    for x, g in zip(a.ravel(), got.ravel()):
        assert _bits(float(g)) == _bits(_ref(float(x), digits))


def test_spark_round_special_and_negative_values():
    a = np.array(
        [math.nan, math.inf, -math.inf, -2.5, -0.5, -1e-12, -0.0, 2.5]
    )
    got = spark_round(a, 0)
    assert math.isnan(got[0])
    assert got[1] == math.inf and got[2] == -math.inf
    # HALF_UP rounds halves away from zero, on both sides of it
    assert got[3] == -3.0 and got[4] == -1.0 and got[7] == 3.0
    # results that round to zero are +0.0, as from Spark's BigDecimal
    assert _bits(float(got[5])) == _bits(0.0)
    assert _bits(float(got[6])) == _bits(0.0)
    assert _bits(_round1(-4.9999999e-7, 6)) == _bits(0.0)
    assert _round1(-5e-7, 6) == -1e-6
    assert _round1(1e300, 9) == 1e300  # scaled form overflows
    assert _round1(5e-324, 9) == 0.0


BOUNDARY_VALUES = [
    0.5, 1.5, 2.5, -0.5, -2.5, 2.675, -2.675, 0.0000005, -0.0000005,
    0.1234565, -0.1234565, 1.0000000005, 0.9999999995, 123.4567895,
    0.0000000005, -4.9999999e-7, 1e300, 5e-324,
]


@pytest.mark.parametrize("digits", [0, 2, 6, 9])
def test_spark_round_equals_spark_f_round(spark, digits):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(x,) for x in BOUNDARY_VALUES], "x double")
    got = df.select("x", F.round("x", digits).alias("r")).collect()
    assert len(got) == len(BOUNDARY_VALUES)
    for row in got:
        assert _bits(_round1(row.x, digits)) == _bits(row.r), row


def test_row_accumulation_is_left_to_right():
    rng = np.random.default_rng(7)
    X = rng.standard_normal((5, 9))
    Y = rng.standard_normal((5, 9))
    for i in range(5):
        ss = dt = dv = 0.0
        for j in range(9):
            ss = ss + X[i, j] * X[i, j]
            dt = dt + X[i, j] * Y[i, j]
            dv = dv + X[i, j] * Y[0, j]
        assert _bits(float(row_sumsq(X)[i])) == _bits(ss)
        assert _bits(float(row_dot(X, Y)[i])) == _bits(dt)
        assert _bits(float(row_dot(X, Y[0])[i])) == _bits(dv)


def test_valid_rows_and_gather():
    vals = [[1.0, 2.0], None, [3.0], np.array([4.0, 5.0], dtype=np.float32)]
    rows = valid_rows(vals, 2)
    assert rows == [0, 3]
    X = gather(vals, rows)
    assert X.dtype == np.float64
    assert X.tolist() == [[1.0, 2.0], [4.0, 5.0]]
    assert valid_rows([None, []], 0) == [1]
