"""Numpy kernels shared by the Arrow-vectorized vector scorers
(``similarity``'s and ``pq``'s ``pandas_udf`` twins of the interpreted
folds).

Each kernel reproduces a Spark expression bit for bit, so a scorer built
from them returns exactly what its fold twin returns:

- ``spark_round``: Spark's ``Round`` on doubles;
- ``row_sumsq`` / ``row_dot``: the ``l2_norm`` / ``dot`` folds'
  left-to-right double accumulation (the same IEEE-754 operation
  sequence);
- ``valid_rows`` / ``gather``: the rows a fold would score — a NULL or
  wrong-dimension vector makes the fold NULL, so scorers skip it.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np

# wide enough to quantize any finite double to 9 decimals exactly
# (Spark's BigDecimal has no precision limit)
_EXACT = Context(prec=400, rounding=ROUND_HALF_UP)


def spark_round(a: np.ndarray, digits: int) -> np.ndarray:
    """Spark's ``round(x, digits)`` (0 <= digits <= 9) element-wise on a
    float64 array: BigDecimal HALF_UP on the shortest-repr decimal of
    each double; NaN and ±inf pass through.

    Fast path ``floor(x * 10^d + 0.5) / 10^d``. The scaled double can
    misjudge the .5 decision by about 1.5 ulp of itself (the product's
    rounding plus the gap between a double and its shortest decimal), so
    every value within ``max(1e-5, |scaled| * 2^-50)`` of a .5 boundary —
    and every value whose scaled form overflows — is re-rounded exactly
    via ``Decimal(repr(x))``: Python's ``repr`` and Java's
    ``Double.toString`` both emit the shortest round-trip decimal, so
    that path IS Spark's rounding. Zero results are +0.0, as Spark's
    sign-less BigDecimal zero gives."""
    sc = 10.0**digits
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = a * sc
        fl = np.floor(scaled)
        out = np.where(np.isfinite(a), (fl + (scaled - fl >= 0.5)) / sc, a)
        margin = np.maximum(1e-5, np.abs(scaled) * 2.0**-50)
        risky = np.isfinite(a) & ~(np.abs(scaled - fl - 0.5) >= margin)
    if risky.any():
        q = Decimal(1).scaleb(-digits)
        flat, src = out.ravel(), a.ravel()
        for i in np.flatnonzero(risky.ravel()):
            exact = _EXACT.quantize(Decimal(repr(float(src[i]))), q)
            flat[i] = float(exact) + 0.0
    return out


def row_sumsq(X: np.ndarray) -> np.ndarray:
    """Row-wise ``Σ_j X[:, j]²``, accumulated left to right."""
    acc = np.zeros(X.shape[0])
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * X[:, j]
    return acc


def row_dot(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """Row-wise ``Σ_j X[:, j] · Y[..., j]``, accumulated left to right;
    ``Y`` is one vector (scored against every row) or a matrix shaped
    like ``X``."""
    acc = np.zeros(X.shape[0])
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * Y[..., j]
    return acc


def valid_rows(vals: list, dim: int) -> list[int]:
    """Positions of the non-NULL vectors in ``vals`` with exactly ``dim``
    elements."""
    return [i for i, v in enumerate(vals) if v is not None and len(v) == dim]


def gather(vals: list, rows: list[int]) -> np.ndarray:
    """float64 matrix of the vectors ``vals[i]`` for ``i`` in ``rows``."""
    return np.asarray([np.asarray(vals[i], dtype=np.float64) for i in rows])
