"""Driver-side twin of Spark's ``F.round`` on doubles.

Spark's Round expression on DoubleType computes
``BigDecimal.valueOf(d).setScale(scale, HALF_UP).toDouble`` —
BigDecimal.valueOf goes through Double.toString, the SHORTEST decimal
string that round-trips to the same double. Python's repr() produces
the same shortest round-trip decimal, so Decimal(repr(x)) + HALF_UP
is the bit-faithful replica. Python's builtin round() is NOT (it is
banker's rounding on the binary value).

Used by the iterative portable fits (pca / logreg / bootstrap CI)
that re-synchronize engines by rounding model state at 6 dp each
round: when a round's arithmetic moves to driver-side numpy (guide
§1.2 — sufficient-statistics passes instead of per-round shuffles),
the rounding must keep producing exactly the values F.round would.
``round6`` is the vectorised 6-dp form for numpy arrays (the k-means
and logistic-regression kernels). Parity of both with F.round is
property-tested in tests/test_round13_ops.py.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_QUANTA = {s: Decimal(1).scaleb(-s) for s in range(13)}


def spark_round(x: float, scale: int = 6) -> float:
    """Exactly what ``F.round(lit(x), scale)`` returns, for finite
    doubles (Spark returns NaN/inf unchanged; so do we)."""
    xf = float(x)
    if xf != xf or xf in (float("inf"), float("-inf")):
        return xf
    q = _QUANTA.get(scale) or Decimal(1).scaleb(-scale)
    return float(Decimal(repr(xf)).quantize(q, rounding=ROUND_HALF_UP))


def round6(x: np.ndarray) -> np.ndarray:
    """``spark_round(x, 6)`` elementwise. For an integral q, q / 1e6
    is the double nearest q x 10^-6, as the decimal path gives; only
    the choice of q can differ, and only where x * 1e6 sits within
    float noise of a .5 boundary -- those few go through spark_round."""
    t = np.abs(x) * 1e6
    out = np.copysign(np.floor(t + 0.5) / 1e6, x)
    near = np.abs(t - np.floor(t) - 0.5) <= np.maximum(t, 1.0) * 2.0**-40
    near |= t >= 2.0**52
    for i in np.flatnonzero(near):
        out.flat[i] = spark_round(x.flat[i])
    return out
