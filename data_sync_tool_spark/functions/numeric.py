"""Numpy-side numeric helpers that must agree bit-for-bit with Spark SQL
expression semantics (used by the Arrow/pandas kernels that replace JVM
per-pair/per-row expression trees)."""

from __future__ import annotations

import numpy as np


def round6_half_up(x: np.ndarray) -> np.ndarray:
    """``F.round(col, 6)`` replica: HALF_UP on the exact decimal expansion
    of the double (Java ``BigDecimal.setScale(6, HALF_UP)``), vectorized.

    Spark's Round converts via ``BigDecimal.valueOf`` — the SHORTEST decimal
    representation of the double (same algorithm as Python ``repr``) — then
    rounds HALF_UP; ``np.round`` is HALF_EVEN over a scaled float. The two
    differ only within ~1e-16 of a 6-decimal midpoint (dyadic rationals like
    105/128 = 0.8203125 land exactly on one). The fast path rounds with
    numpy; near-midpoint entries are redone as HALF_UP on ``repr`` — the
    exact ``BigDecimal.valueOf`` replica.
    """
    x = np.asarray(x, dtype=np.float64)
    out = np.round(x, 6)
    # a midpoint satisfies x * 2e6 == odd integer; tolerate float slack in
    # the detector (false positives just take the slow path)
    scaled = x * 2_000_000.0
    nearest = np.rint(scaled)
    cand = np.abs(scaled - nearest) < 1e-6
    if cand.any():
        cand &= (np.abs(nearest) % 2) == 1
    if cand.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        for i in np.nonzero(cand)[0]:
            out[i] = float(
                Decimal(repr(float(x[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    # BigDecimal has no negative zero: Spark rounds -1e-9 and -0.0 to +0.0
    out += 0.0
    return out
