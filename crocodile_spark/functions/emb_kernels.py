"""Bit-exact Arrow twins of the native embedding HOF laws.

Spark higher-order functions (``aggregate``/``zip_with``) are
CodegenFallback -- interpreted per row, per element -- which made the
embedding dot products the dominant execution cost of the cosine/ANN
queries (guide section 4.2: measured 4.4 s of 4.5 s for the sf0.1
brute-force cosine sweep) and, for plan-literal centroid/hyperplane
forms, a multi-second Catalyst/codegen cost per query on top.

The reference law is a LEFT FOLD over the array dimension, vectorized
across the batch axis only (``fold_dots``)::

    for j in range(dim):            # same element order as F.aggregate
        dot += A[:, j] * B[:, j]    # one rounded mul + one rounded add

Each element step performs exactly the two IEEE-754 double operations
(round(x*y), then round(acc+that)) that the interpreted
``aggregate(zip_with(a, b, ...), 0.0, acc + x)`` law performs, in the
same order, so results are bit-identical to the native expressions --
and therefore to the DuckDB oracles that replay the sequential
summation (``list_cosine_similarity`` / ``list_inner_product``). numpy
elementwise ops are IEEE-correctly-rounded per element and do not
contract mul+add into an FMA, so SIMD does not change the result.

The fold is one to three orders of magnitude slower than one BLAS
matmul at dim 32-768 (BENCH.md "Guarded-matmul embedding kernels"), so
the hyperplane/centroid kernels use
``exact_dots``: one ``M @ C.T`` plus a per-entry rounding bound, with the
fold recomputing only the rows whose DECISION (a sign, an argmax order)
the bound cannot settle. Decisions are then the fold's on every row, so
one Arrow path serves production and the oracle-gated queries.

Null/edge laws replicated from ``functions.similarity.cosine_similarity``:
null array or null element -> 0.0; equal-width zero-norm -> 0.0; width
mismatch with positive norms -> NULL (zip_with pads with nulls, nulling
only the dot); NaN values propagate (Spark orders NaN above all numbers,
so ``na > 0`` is true for NaN norms). Arrow hands a NULL element to
pandas as NaN, so the null-element rows are flagged in the JVM
(``has_null_element``) and passed alongside the arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def fold_dots(M: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, d) x (k, d) -> (n, k) dot products, left-fold over d.

    Bit-identical to k interpreted ``aggregate(zip_with(emb, c, x*y),
    0.0, acc + x)`` evaluations per row (same per-element op order)."""
    n = M.shape[0]
    acc = np.zeros((n, C.shape[0]), dtype=np.float64)
    for j in range(M.shape[1]):
        acc += M[:, j : j + 1] * C[None, :, j]
    return acc


_EPS = np.finfo(np.float64).eps
_TINY = np.finfo(np.float64).tiny


def exact_dots(M: np.ndarray, C: np.ndarray, undecided) -> np.ndarray:
    """``M @ C.T`` whose downstream decisions equal ``fold_dots``'s.

    Any summation order -- the fold, a blocked/SIMD/FMA BLAS kernel --
    lies within gamma_d * sum|m_i c_i| of the true dot (Higham eq. 3.5),
    so the matmul and the fold differ by at most ~d*eps*(|M| @ |C|.T).
    ``tol`` is four times that, plus a ``d * tiny`` floor for underflow.
    ``undecided(D, tol)`` returns a per-row mask of rows whose decision a
    ``tol`` move of any dot could change; those rows, and rows with a
    non-finite dot or bound, are recomputed with the fold. Every other
    row's decision is the fold's, so the native HOF's and DuckDB's."""
    d = M.shape[1]
    with np.errstate(invalid="ignore", over="ignore"):  # NaN/inf rows
        D = M @ C.T
        tol = 4 * d * _EPS * (np.abs(M) @ np.abs(C).T) + d * _TINY
        redo = ~np.isfinite(D + tol).all(axis=1) | undecided(D, tol)
        if redo.any():
            D[redo] = fold_dots(M[redo], C)
    return D


def near_zero(D: np.ndarray, tol: np.ndarray) -> np.ndarray:
    """``exact_dots`` rule for sign decisions (LSH hyperplane bits): some
    dot of the row lies within its bound of 0."""
    return (np.abs(D) <= tol).any(axis=1)


def plane_signs(D: np.ndarray) -> np.ndarray:
    """Native ``dot >= 0`` bits; Spark orders NaN above every double, so
    a NaN dot signs 1."""
    return (D >= 0) | np.isnan(D)


def near_tie(take: int):
    """``exact_dots`` rule for the order of a row's ``take`` largest dots
    (IVF cells): two adjacent dots among its top ``take + 1`` lie within
    twice the row's largest bound. Any other row keeps its top-``take``
    order under every move of at most ``tol`` per dot."""

    def rule(D: np.ndarray, tol: np.ndarray) -> np.ndarray:
        top = -np.sort(-D, axis=1)[:, : take + 1]
        gap = top[:, :-1] - top[:, 1:]
        return (gap <= 2 * tol.max(axis=1, keepdims=True)).any(axis=1)

    return rule


def top_cells(D: np.ndarray, take: int) -> np.ndarray:
    """(n, take) int32 column ids of each row's ``take`` largest dots in
    the native IVF order: ``reverse(array_sort(struct<d, cell>))``, i.e.
    dot descending with NaN above every number, equal dots to the larger
    cell first. The columns are reversed before a stable argsort so equal
    dots keep the larger cell first; NaN dots are then moved in front."""
    rev = D[:, ::-1]
    order = np.argsort(-rev, axis=1, kind="stable")
    if np.isnan(rev).any():  # numpy sorts NaN last
        nan = np.isnan(np.take_along_axis(rev, order, axis=1))
        order = np.take_along_axis(
            order, np.argsort(~nan, axis=1, kind="stable"), axis=1
        )
    return (D.shape[1] - 1 - order[:, :take]).astype(np.int32)


# A float32-exact value no embedding holds: the array_contains probe of
# has_null_element. An array that does hold it is scanned by exists().
_ABSENT = -(2.0**127)


def has_null_element(c):
    """Boolean Column: the array has a NULL element (FALSE for a NULL
    array). Arrow converts a NULL element to NaN, so the kernels take
    this JVM-side flag to apply the native NULL law instead of NaN's.

    ``array_contains`` of a value the array lacks is NULL exactly when
    the array has a NULL element (three-valued IN), and it is a compiled
    loop, where ``exists`` is an interpreted lambda (CodegenFallback)
    costing 20-30% of an Arrow kernel's stage at dim 768 (BENCH.md
    "Python worker per-task cost"). The float literal keeps an
    ``array<float>`` column uncast."""
    hit = F.array_contains(c, F.lit(_ABSENT).cast("float"))
    return F.when(hit, F.exists(c, lambda x: x.isNull())).otherwise(
        hit.isNull() & c.isNotNull()
    )


def _cosine_ok(na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    # Spark's `na > 0` is TRUE for NaN (NaN sorts above all doubles)
    return ((na > 0) | np.isnan(na)) & ((nb > 0) | np.isnan(nb))


def _fold_cosine_mat(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    n, d = A.shape
    dot = np.zeros(n, dtype=np.float64)
    na = np.zeros(n, dtype=np.float64)
    nb = np.zeros(n, dtype=np.float64)
    for j in range(d):
        x = A[:, j]
        y = B[:, j]
        dot += x * y
        na += x * x
        nb += y * y
    na = np.sqrt(na)
    nb = np.sqrt(nb)
    ok = _cosine_ok(na, nb)
    out = np.zeros(n, dtype=np.float64)
    if ok.any():
        with np.errstate(divide="ignore", invalid="ignore"):
            out[ok] = dot[ok] / (na[ok] * nb[ok])
    return out


def _fold_cosine_row(x, y):
    """Scalar fallback replicating the full native null/width law."""
    if x is None or y is None:
        return 0.0
    xv = np.asarray(x, dtype=np.float64)[None]
    yv = np.asarray(y, dtype=np.float64)[None]
    if xv.shape == yv.shape:
        return _fold_cosine_mat(xv, yv)[0]
    na = np.sqrt(fold_dots(xv, xv)[0])
    nb = np.sqrt(fold_dots(yv, yv)[0])
    # zip_with pads with nulls -> dot is NULL; when(cond, NULL) is NULL
    return None if _cosine_ok(na, nb)[0] else 0.0


_COS_STRUCT = T.StructType(
    [T.StructField("v", T.DoubleType()), T.StructField("isnan", T.BooleanType())]
)


@F.pandas_udf(_COS_STRUCT)
def _cosine_fold_struct(
    a: pd.Series, b: pd.Series, null_elem: pd.Series
) -> pd.DataFrame:
    """(value, isnan) pair: pandas->Arrow maps NaN floats to NULL, so a NaN
    cosine (NaN-poisoned input vectors) could not otherwise be told apart
    from the law's genuine NULL (width mismatch). The wrapper below
    re-materializes NaN natively from the flag, keeping the twin exact on
    every input class, not just clean vectors."""
    n = len(a)
    vals: list
    if n == 0:
        vals = []
    else:
        vals = None
        try:
            A = np.array(a.tolist(), dtype=np.float64)
            B = np.array(b.tolist(), dtype=np.float64)
            if A.ndim == 2 and B.ndim == 2 and A.shape == B.shape:
                vals = list(_fold_cosine_mat(A, B))
        except (TypeError, ValueError):
            pass
        if vals is None:
            vals = [_fold_cosine_row(x, y) for x, y in zip(a, b)]
        # native law: a NULL element nulls a norm -> cond never true -> 0.0
        for i in np.flatnonzero(null_elem.to_numpy(dtype=bool)):
            vals[i] = 0.0
    isnan = [v is not None and np.isnan(v) for v in vals]
    return pd.DataFrame({"v": pd.Series(vals, dtype="float64"), "isnan": isnan})


def cosine_fold(a, b):
    """Bit-exact Arrow twin of ``functions.similarity.cosine_similarity``
    (a Column expression; evaluates the fold kernel once per pair)."""
    s = _cosine_fold_struct(a, b, has_null_element(a) | has_null_element(b))
    # the two references are the SAME UDF expression: ExtractPythonUDFs
    # dedups equal Python UDFs in a projection, so the kernel runs once
    return F.when(s["isnan"], F.lit(float("nan"))).otherwise(s["v"])
