"""Log-domain math, vectorized with numpy.

Semantics mirror the reference's MathUtil (core/.../util/MathUtil.scala:9-57):
LOGZERO = -inf; ln(0) = -inf.
"""

from __future__ import annotations

import numpy as np

LOGZERO = -np.inf


def ln(x):
    """Natural log with ln(0) == -inf, no warning (MathUtil.scala:22-27)."""
    x = np.asarray(x, dtype=np.float64)
    with np.errstate(divide="ignore"):
        return np.log(x)


def logsumexp(values) -> float:
    """Numerically-stable log(Σ e^x) — breeze.linalg.softmax equivalent
    used by DBTwoStepDisambiguator.scala:194-201 for score normalization."""
    arr = np.asarray(list(values), dtype=np.float64)
    if arr.size == 0:
        return LOGZERO
    m = np.max(arr)
    if not np.isfinite(m):
        return float(m)
    return float(m + np.log(np.sum(np.exp(arr - m))))
