"""NumPy kernels for the embedding-cosine family — bit-identical to the
JVM Column formulation similarity.cosine (Spark does the distribution,
whole Arrow batches go to vectorized native code).

The JVM expression this mirrors (similarity.cosine) is

    round(aggregate(zip_with(a, b, x*y), 0.0, acc+v)
          / (sqrt(aggregate(a, 0.0, acc + v*v)) * sqrt(...b...)), 6)

i.e. a strictly LEFT-TO-RIGHT float64 summation followed by Spark's
``round(_, 6)``.  Floating-point addition is not associative, so the NumPy
replacements accumulate dimension-by-dimension in the same order —
``acc = acc + a[:, i] * b[:, i]`` — which performs the identical IEEE-754
operation sequence per element and therefore produces the identical double.

Rounding: Spark's Round(double, 6) is HALF_UP over the SHORTEST decimal
representation of the double (java.math.BigDecimal.valueOf ->
Double.toString; verified empirically against Spark 4.1 — 0.1234565, whose
exact binary expansion is 0.12345649999...677, rounds to 0.123457, i.e. the
repr digits win over the exact expansion).  Python's ``repr(float)`` is the
same shortest-roundtrip decimal, so ``Decimal(repr(x)).quantize(1e-6,
ROUND_HALF_UP)`` reproduces it exactly.  Doing that per value in Python is
slow, so ``round6`` uses a vectorized binary fast path and routes only
values within 1e-6 of a .5 ulp boundary (where binary and decimal rounding
could disagree) through the exact Decimal path — a ~2e-6 fraction of
uniformly distributed inputs.  BigDecimal never yields -0.0, so results are
normalized with ``+ 0.0``.

Zero norms: a cosine whose denominator ``norm_a * norm_b`` is 0 (a zero
vector, or one whose squared norm underflows to 0) is an error —
``cross_cos`` and ``rows_cos`` raise ``ValueError``, as the JVM expression
raises DIVIDE_BY_ZERO under ANSI mode.  The kernels score each row against
itself too, and that self-pair counts as a computed cosine: a zero vector
fails wherever it is scored at all, even in a one-row ``cosine_topk``
corpus where the JVM pair join (``x.vid != y.vid``) computes nothing.  An
operator that never scores a zero vector (a singleton LSH bucket) does not
fail.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_SIX = Decimal("0.000001")


def _round6_exact(v: float) -> float:
    return float(Decimal(repr(float(v))).quantize(_SIX, rounding=ROUND_HALF_UP)) + 0.0


def round6(x: np.ndarray) -> np.ndarray:
    """Element-wise Spark-identical round(_, 6) over a float64 array."""
    x = np.asarray(x, dtype=np.float64)
    scaled = np.abs(x) * 1e6
    r = np.copysign(np.floor(scaled + 0.5), x) / 1e6
    r = r + 0.0  # BigDecimal has no -0.0
    frac = scaled - np.floor(scaled)
    # suspects: close enough to a .5 boundary that binary arithmetic could
    # disagree with decimal-string HALF_UP, or too large for floor(+0.5)
    suspect = (np.abs(frac - 0.5) < 1e-6) | (scaled >= 2.0**52) | ~np.isfinite(x)
    if suspect.any():
        idx = np.nonzero(suspect)
        vals = np.atleast_1d(x[idx])
        out = np.atleast_1d(r)
        exact = np.array(
            [_round6_exact(v) if np.isfinite(v) else v for v in vals.ravel()]
        )
        r = np.array(r, copy=True)
        r[idx] = exact.reshape(vals.shape)
    return r


def _stack(col) -> np.ndarray:
    """pandas Series of float arrays -> (n, d) float64 matrix."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in col])


def norms_l2(V: np.ndarray) -> np.ndarray:
    """Row L2 norms with left-to-right accumulation (matches
    sqrt(aggregate(a, 0.0, acc + v*v)))."""
    acc = np.zeros(V.shape[0], dtype=np.float64)
    for i in range(V.shape[1]):
        acc = acc + V[:, i] * V[:, i]
    return np.sqrt(acc)


def _divide(dots: np.ndarray, denom: np.ndarray, rounded: bool) -> np.ndarray:
    if not denom.all():
        raise ValueError("cosine with a zero-norm vector: norm_a * norm_b is 0")
    cos = dots / denom
    return round6(cos) if rounded else cos


def cross_cos(V: np.ndarray, C: np.ndarray, v_norms=None, c_norms=None,
              rounded: bool = True) -> np.ndarray:
    """(n, d) x (k, d) -> (n, k) cosine matrix, JVM-identical doubles.

    Each entry accumulates products dimension-by-dimension in source order,
    then divides by the (norm_v * norm_c) product — the exact operation
    sequence of similarity.cosine."""
    n, d = V.shape
    k = C.shape[0]
    if v_norms is None:
        v_norms = norms_l2(V)
    if c_norms is None:
        c_norms = norms_l2(C)
    acc = np.zeros((n, k), dtype=np.float64)
    for i in range(d):
        acc = acc + V[:, i, None] * C[None, :, i]
    return _divide(acc, v_norms[:, None] * c_norms[None, :], rounded)


def rows_cos(A: np.ndarray, B: np.ndarray, rounded: bool = True) -> np.ndarray:
    """Row-wise cosine of matched (n, d) pairs, JVM-identical doubles."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return _divide(acc, norms_l2(A) * norms_l2(B), rounded)
