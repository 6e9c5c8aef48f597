"""Martingale (HIP) distinct-count estimator.

Order-dependent, sequential-stream estimator (Ting KDD'14 / Cohen SIGMOD'14,
≙ MartingaleEstimator.java:65-171). Explicitly NOT for distributed merging
(reference javadoc MartingaleEstimator.java:32-35) — exposed for
per-partition / driver-side streams only; the distributed path uses the ML
estimator on merged register states.
"""

from __future__ import annotations

import math

import numpy as np

from .bitops import U64, as_u64, nlz64, pow2
from .exaloglog import ExaLogLog


class MartingaleEstimator:
    __slots__ = ("distinct_count_estimate", "state_change_probability")

    def __init__(self, distinct_count_estimate: float = 0.0, state_change_probability: float = 1.0):
        self.set(distinct_count_estimate, state_change_probability)

    def reset(self) -> None:
        self.distinct_count_estimate = 0.0
        self.state_change_probability = 1.0

    def set(self, distinct_count_estimate: float, state_change_probability: float) -> None:
        if distinct_count_estimate < 0:
            raise ValueError("Distinct count estimate must be non-negative!")
        if not (0 <= state_change_probability <= 1):
            raise ValueError("State change probability must be in the range [0,1]!")
        self.distinct_count_estimate = distinct_count_estimate
        # -0.0 -> +0.0 to avoid negative-infinite estimates (java:110-114)
        if state_change_probability <= 0:
            state_change_probability = 0.0
        self.state_change_probability = state_change_probability

    def decrement_state_change_probability(self, probability_decrement: float) -> None:
        # Java double 1.0/0.0 == +Infinity (MartingaleEstimator.java): a
        # saturated/clamped estimator yields an infinite estimate, never a
        # ZeroDivisionError
        if self.state_change_probability == 0.0:
            self.distinct_count_estimate = math.inf
        else:
            self.distinct_count_estimate += 1.0 / self.state_change_probability
        self.state_change_probability -= probability_decrement
        if self.state_change_probability <= 0:  # clamp numerical error (java:146-149)
            self.state_change_probability = 0.0

    def copy(self) -> "MartingaleEstimator":
        return MartingaleEstimator(self.distinct_count_estimate, self.state_change_probability)


def add_hashes_martingale(
    sketch: ExaLogLog, hashes: np.ndarray, est: MartingaleEstimator
) -> ExaLogLog:
    """Sequential insert with HIP updates ≙ ExaLogLog.java:468-502.

    Per-element Python loop by design: martingale estimation is inherently
    order-dependent so it cannot be vectorized without changing semantics.
    Use only on driver-side / per-partition streams.
    """
    t, d, p = sketch.cfg.t, sketch.cfg.d, sketch.cfg.p
    regs = sketch.regs
    mask = ((1 << t) << p) - 1
    tmask = (1 << t) - 1
    q = 63 - t - p
    h_arr = as_u64(hashes)
    nlz_arr = nlz64(h_arr | U64(mask))
    for h, nlz in zip(h_arr.tolist(), nlz_arr.tolist()):
        idx = (h & mask) >> t
        k = (nlz << t) + (h & tmask) + 1
        r_old = int(regs[idx])
        u = r_old >> d
        delta = k - u
        if delta > 0:
            r_new = k << d
            if delta <= d:
                r_new |= ((1 << d) | (r_old & ((1 << d) - 1))) >> delta
            regs[idx] = r_new
            dec = (
                _register_change_probability_scaled(r_old, t, d, p)
                - _register_change_probability_scaled(r_new, t, d, p)
            ) * pow2(-64)
            est.decrement_state_change_probability(dec)
        elif delta < 0 and d + delta >= 0:
            r_new = r_old | (1 << (d + delta))
            if r_new != r_old:
                regs[idx] = r_new
                est.decrement_state_change_probability(pow2(max(q - nlz, 0) - 64))
    return sketch


def _register_change_probability_scaled(r: int, t: int, d: int, p: int) -> int:
    # scalar path: the literal Algorithm 3 (pure-int) beats a one-row
    # numpy contribute_vec_batch call by ~10x here
    from .exaloglog import contribute_reference

    return contribute_reference(r, [0] * 64, t, d, p)
