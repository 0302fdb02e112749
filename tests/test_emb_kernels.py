"""Property laws (hypothesis) for the guarded-matmul embedding kernel.

``exact_dots`` must make every downstream decision -- LSH hyperplane sign
bits and IVF top-n cell orders -- exactly as the left-fold ``fold_dots``
does (the native HOF / DuckDB law), whatever BLAS summation order the
matmul takes. The generators plant the rows where a bare matmul can
disagree with the fold: zero rows, dots a rounding error from 0, exact and
near ties between two cells, NaN and +-inf elements, and subnormal or
overflowing magnitudes. numpy only -- no SparkSession needed.
"""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from crocodile_spark.functions.emb_kernels import (
    exact_dots,
    fold_dots,
    near_tie,
    near_zero,
    plane_signs,
    top_cells,
)

_SETTINGS = settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

_KINDS = [
    "gauss", "zero", "near_zero", "tie", "near_tie", "nan", "inf",
    "pm_inf", "tiny", "huge",
]


def _row(kind: str, C: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    d = C.shape[1]
    v = rng.standard_normal(d)
    a, b = rng.choice(len(C), size=2, replace=len(C) < 2)
    if kind == "zero":
        return np.zeros(d)
    if kind == "near_zero":  # orthogonal to C[a]: a dot of rounding size
        return v - (v @ C[a]) / (C[a] @ C[a]) * C[a]
    if kind in ("tie", "near_tie"):  # equal dots with C[a] and C[b], on top
        u = 10 * (C[a] + C[b]) + v
        w = C[a] - C[b]
        if not w.any():
            return u
        u = u - (u @ w) / (w @ w) * w
        return u + (1e-15 * w if kind == "near_tie" else 0.0)
    if kind == "nan":
        v[rng.integers(d)] = np.nan
    elif kind == "inf":
        v[rng.integers(d)] = rng.choice([np.inf, -np.inf])
    elif kind == "pm_inf" and d > 1:
        i, j = rng.choice(d, size=2, replace=False)
        v[i], v[j] = np.inf, -np.inf
    elif kind == "tiny":
        v *= 1e-310  # subnormal products underflow
    elif kind == "huge":
        v *= 1e307  # sums overflow to inf
    return v


@st.composite
def _case(draw):
    seed = draw(st.integers(0, 2**32 - 1))
    d = draw(st.sampled_from([1, 2, 3, 8, 32, 64, 257, 768]))
    k = draw(st.integers(1, 48))
    kinds = draw(st.lists(st.sampled_from(_KINDS), min_size=1, max_size=12))
    rng = np.random.default_rng(seed)
    C = rng.standard_normal((k, d))
    if draw(st.booleans()) and k > 1:
        C[1] = C[0]  # duplicate cell: exact dot ties on every row
    M = np.array([_row(kind, C, rng) for kind in kinds])
    return M, C


def _fold(M, C):
    with np.errstate(invalid="ignore", over="ignore"):
        return fold_dots(M, C)


@_SETTINGS
@given(_case())
def test_exact_dots_signs_equal_fold_signs(case):
    M, C = case
    got = exact_dots(M, C, near_zero)
    np.testing.assert_array_equal(plane_signs(got), plane_signs(_fold(M, C)))


@_SETTINGS
@given(_case(), st.integers(1, 6))
def test_exact_dots_cell_orders_equal_fold_orders(case, n_probe):
    M, C = case
    take = min(n_probe, len(C))
    got = exact_dots(M, C, near_tie(take))
    want = top_cells(_fold(M, C), take)
    np.testing.assert_array_equal(top_cells(got, take), want)


def test_exact_dots_recomputes_only_undecided_rows():
    """Clean gaussian rows keep the matmul values; the planted zero and
    NaN rows are the fold's."""
    rng = np.random.default_rng(5)
    C = rng.standard_normal((16, 64))
    M = rng.standard_normal((50, 64))
    M[3] = 0.0
    M[7, 5] = np.nan
    got = exact_dots(M, C, near_zero)
    fold = _fold(M, C)
    redo = np.zeros(len(M), bool)
    redo[[3, 7]] = True
    clean = ~(np.abs(M @ C.T) <= 1e-9).any(axis=1) & ~redo
    np.testing.assert_array_equal(got[clean], (M @ C.T)[clean])
    np.testing.assert_array_equal(got[redo], fold[redo])


def test_top_cells_native_order():
    """NaN above every number, equal dots to the larger cell first."""
    nan, inf = np.nan, np.inf
    D = np.array(
        [
            [1.0, 3.0, 3.0, 2.0],
            [nan, nan, nan, nan],
            [inf, nan, -inf, nan],
            [0.0, -0.0, 5.0, 0.0],
        ]
    )
    np.testing.assert_array_equal(
        top_cells(D, 4),
        [[2, 1, 3, 0], [3, 2, 1, 0], [3, 1, 0, 2], [2, 3, 1, 0]],
    )
