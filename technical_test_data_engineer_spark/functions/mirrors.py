"""Driver-side mirrors of Spark SQL arithmetic.

A query that moves a bounded computation from Spark to the driver must
still produce the values Spark would, bit for bit, or the oracle hashes
drift. These helpers reproduce Spark's operation order and rounding.

Driver-side use only: a Python-worker closure (mapInPandas, pandas_udf)
must not call them, because cloudpickle ships module-level package
functions by reference and a worker started outside the repo cannot
import the package. Worker closures keep their own nested-function
form (``operators/linalg.round_half_up_1e10``).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal, localcontext

import numpy as np

__all__ = ["decimal_dot", "dot_band", "exact_topk", "spark_round"]

# 80 digits ≫ the 38 of any Spark DECIMAL, so quantizing never raises
# InvalidOperation and sums of DECIMAL(38,30) terms stay exact
_CTX = Context(prec=80)
_Q30 = Decimal(1).scaleb(-30)

# The top-k band's safety factor over its exact need (see dot_band).
DOT_BAND_MARGIN = 4


def spark_round(x: float, digits: int) -> float:
    """Spark ``ROUND(x, digits)`` on a DOUBLE:
    ``BigDecimal(Double.toString(x)).setScale(digits, HALF_UP)``.
    ``repr`` is the same shortest round-trip decimal form, so ties such
    as 2.675 round on their printed digits (to 2.68), not on their
    binary value. A result that rounds to zero keeps the sign of ``x``
    (Spark returns +0.0)."""
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal(1).scaleb(-digits), ROUND_HALF_UP, context=_CTX
        )
    )


def decimal_dot(qv: np.ndarray, cv: np.ndarray) -> Decimal:
    """``operators.similarity.exact_dot``: each float64 product cast to
    DECIMAL(38,30) (HALF_UP on its printed digits), summed exactly."""
    with localcontext(_CTX):
        return sum(
            (Decimal(repr(float(p))).quantize(_Q30, ROUND_HALF_UP) for p in qv * cv),
            Decimal(0),
        )


def dot_band(V: np.ndarray) -> float:
    """Width of the float64 candidate band around the k-th score when
    ranking dots among the rows of ``V`` by ``decimal_dot``.

    A float64 dot of ``dim`` products differs from their exact sum by at
    most ``dim · u · Σ|p|`` with u = eps/2 (summation error, plus one
    rounding per product if BLAS fuses them), and Σ|p| ≤ max‖v‖² by
    Cauchy-Schwarz. A true top-k member can sit below the float k-th
    score by twice that error (its own plus the k-th's), so the band
    needs ``dim · max‖v‖² · eps``; ``DOT_BAND_MARGIN`` covers the
    higher-order terms."""
    dim = V.shape[1]
    max_norm2 = float((V * V).sum(axis=1).max())
    return DOT_BAND_MARGIN * dim * max_norm2 * float(np.finfo(np.float64).eps)


def exact_topk(
    qv: np.ndarray, V: np.ndarray, ids: np.ndarray, k: int, band: float, label: str
) -> list[int]:
    """Ids of the top-``k`` rows of ``V`` by ``decimal_dot`` with ``qv``
    (score desc, id asc). Float64 dots order every row outside ``band``
    of the k-th score; only band members are re-scored exactly. Raises
    ``ValueError`` if a member's float dot is half the band or more
    from its exact value: the band would then be too narrow to be
    sound."""
    s = V @ qv
    kth = np.sort(s)[-min(k, len(s))]
    keyed = []
    for b in np.nonzero(s >= kth - band)[0]:
        exact = decimal_dot(qv, V[b])
        drift = abs(Decimal(float(s[b])) - exact)
        if drift >= Decimal(band / 2):
            raise ValueError(
                f"{label}: float dot for id {int(ids[b])} is {float(drift):.3g} from "
                f"its exact value, not under half the top-k band {band:.3g}"
            )
        keyed.append((-exact, int(ids[b])))
    return [i for _, i in sorted(keyed)[:k]]
