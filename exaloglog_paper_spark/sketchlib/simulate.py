"""Simulation utilities for statistical validation at huge cardinalities.

Mirrors the reference's scale-testing machinery (reimplemented, vectorized):

- :func:`generate_hash_for_update` — construct a hash that produces a given
  (update value, register) pair (≙ TestUtils.generateHashValue:219-226).
- :func:`generate_exaloglog_poisson` — directly sample a sketch state for a
  (possibly huge / fractional) cardinality ``n`` under the Poisson model:
  each (register, update value k) is hit with probability
  ``-expm1(-n/m · 2^-φ(k))``, φ(k) = min(t+1+((k-1)>>t), 64-p)
  (≙ TestUtils.generateExaLogLogPoisson:229-249). This reproduces the
  per-cardinality marginal state distribution without inserting n elements,
  enabling error validation at n = 1e12+ in milliseconds.
"""

from __future__ import annotations

import numpy as np

from .bitops import U64
from .exaloglog import ExaLogLog, ExaLogLogConfig


def phi(k: np.ndarray, p: int, t: int) -> np.ndarray:
    return np.minimum(t + 1 + ((k - 1) >> t), 64 - p)


def generate_hash_for_update(update_value: int, register_index: int, p: int, t: int) -> int:
    """64-bit hash that inserts exactly (update_value, register_index)."""
    sub = (update_value - 1) & ((1 << t) - 1)
    nlz = (update_value - 1) >> t
    z = ((0xFFFFFFFFFFFFFFFF >> nlz >> (t + p)) << (t + p)) | sub
    return (z | (register_index << t)) & 0xFFFFFFFFFFFFFFFF


def generate_exaloglog_poisson(
    n: float, t: int, d: int, p: int, rng: np.random.Generator
) -> ExaLogLog:
    """Sample a sketch state for cardinality ``n`` (Poisson model), fully
    vectorized over the (register x update-value) Bernoulli matrix."""
    cfg = ExaLogLogConfig(t, d, p)
    m = cfg.m
    k_max = (65 - p - t) << t
    ks = np.arange(1, k_max + 1)
    probs = -np.expm1(-n / m * np.ldexp(1.0, -phi(ks, p, t)))  # (k_max,)
    hits = rng.random((m, k_max)) < probs[None, :]  # hits[i, k-1]
    any_hit = hits.any(axis=1)
    # u = largest hit k per register
    u = np.where(any_hit, k_max - np.argmax(hits[:, ::-1], axis=1), 0).astype(np.uint64)
    # history bits: k' hit with 0 < u-k' <= d  ->  bit (d - (u-k'))
    kcols = ks[None, :].astype(np.int64)
    delta = u[:, None].astype(np.int64) - kcols
    valid = hits & (delta > 0) & (delta <= d)
    bitpos = (d - np.clip(delta, 0, d)).astype(np.uint64)
    bits = np.where(valid, np.uint64(1) << bitpos, np.uint64(0))
    b = np.bitwise_or.reduce(bits, axis=1)
    # the implicit u=0 history bit (first-insert semantics, ExaLogLog.java:480)
    b |= np.where((u > 0) & (u <= U64(d)), np.uint64(1) << (U64(d) - u), np.uint64(0))
    sk = ExaLogLog.from_config(cfg)
    sk.regs = (u << U64(d)) | b
    return sk
