"""Exhaustive small-cardinality error enumeration.

Computes the ANALYTICALLY EXACT expected bias and rmse of the ML estimator
at n = 1, 2, 3 distinct inserts by enumerating every reachable sketch state
with its probability — the reference's parity harness at
``AbstractSpecificExaLogLogTest.java:640-868`` (hash-generator construction
``TestUtils.java:86-114``). Where the reference replays 10^7+ explicit
``add``/``estimate`` calls in Java, this module exploits two algebraic
facts to stay fast in Python:

- register-merge commutativity/associativity: the state only depends on the
  MULTISET of update values per register, so outcome enumeration collapses
  to distributions over unique register VALUES (composed by vectorized
  ``merge_register_vec``), and register symmetry reduces index choices to
  the same/different-register cases with combinatorial weights (identical
  to the reference's m-fraction bookkeeping);
- ML-coefficient additivity: ``contribute`` sums per register, so a state's
  (a, b) system is a table lookup + sum, and millions of states evaluate in
  one :func:`~.mlsolver.solve_ml_equation_batch` call.
"""

from __future__ import annotations

import math

import numpy as np

from .bitops import U64
from .exaloglog import ExaLogLog, contribute_vec_batch, estimate_from_coefficients
from .simulate import generate_hash_for_update, phi

MASK64 = U64(0xFFFFFFFFFFFFFFFF)


def _merge_vec(r1: np.ndarray, r2: np.ndarray, d: int) -> np.ndarray:
    from .exaloglog import merge_register_vec

    return merge_register_vec(r1.astype(np.uint64), r2.astype(np.uint64), d)


def single_insert_values(t: int, d: int, p: int):
    """(register values, probabilities) of one insert hitting a fixed
    register: value k occurs with probability 2^-phi(k) (TestUtils.java:94);
    the probabilities partition 1 exactly."""
    kmax = (65 - p - t) << t
    ks = np.arange(1, kmax + 1)
    probs = np.ldexp(1.0, -phi(ks, p, t))
    vals = np.empty(kmax, dtype=np.uint64)
    for i, k in enumerate(ks.tolist()):
        sk = ExaLogLog.create(t, d, p)
        sk.add_hashes(np.array([generate_hash_for_update(k, 0, p, t)], dtype=np.uint64))
        vals[i] = sk.regs[0]
    assert probs.sum() == 1.0
    return vals, probs


def _merged_distribution(vals_a, probs_a, vals_b, probs_b, d: int):
    """Distribution of merge(A, B) for independent register values A, B."""
    ia, ib = np.meshgrid(
        np.arange(len(vals_a)), np.arange(len(vals_b)), indexing="ij"
    )
    ia, ib = ia.ravel(), ib.ravel()
    merged = _merge_vec(vals_a[ia], vals_b[ib], d)
    w = probs_a[ia] * probs_b[ib]
    uniq, inv = np.unique(merged, return_inverse=True)
    agg = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(agg, inv, w)
    return uniq, agg


def _contribution_tables(values: np.ndarray, t: int, d: int, p: int):
    """Per-register (a, b) ML contributions for each unique register value
    (contribute is additive over registers — ExaLogLog.java:554-582): one
    kernel call with each value as a one-register row."""
    a_tab, b_tab = contribute_vec_batch(values[:, None], t, d, p)
    return a_tab, b_tab.astype(np.int32)


def _estimate_states(a_sum: np.ndarray, b_sum: np.ndarray, n_occupied: int, t, d, p):
    """Batch ML estimates for states given summed register contributions
    plus (m - n_occupied) empty registers — delegates the final step to the
    library's shared :func:`estimate_from_coefficients`."""
    m = 1 << p
    zero_contrib = U64((1 << (64 - p)) & 0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        agg = (a_sum + U64((m - n_occupied) & 0xFFFFFFFFFFFFFFFF) * zero_contrib) & MASK64
    return estimate_from_coefficients(agg, b_sum, t, d, p)


def _moments(est: np.ndarray, w: np.ndarray, true_n: float):
    err = est - true_n
    return float((w * err).sum()), float((w * err * err).sum()), float(w.sum())


def enumerate_error_n1(t: int, d: int, p: int):
    """Exact (bias, rmse) of the estimate at n=1 (≙ reference :817-838)."""
    vals, probs = single_insert_values(t, d, p)
    a_tab, b_tab = _contribution_tables(vals, t, d, p)
    est = _estimate_states(a_tab, b_tab, 1, t, d, p)
    s1, s2, sp = _moments(est, probs, 1.0)
    assert abs(sp - 1.0) < 1e-9
    return s1 / 1.0, math.sqrt(s2) / 1.0


def enumerate_error_n2(t: int, d: int, p: int):
    """Exact (bias, rmse) at n=2: the two inserts share a register with
    probability 1/m, else land in two distinct registers (≙ :742-796)."""
    m = 1 << p
    vals, probs = single_insert_values(t, d, p)
    a_tab, b_tab = _contribution_tables(vals, t, d, p)

    # same register: distribution over merged pair values
    v2, w2 = _merged_distribution(vals, probs, vals, probs, d)
    a2_tab, b2_tab = _contribution_tables(v2, t, d, p)
    est_same = _estimate_states(a2_tab, b2_tab, 1, t, d, p)
    s1a, s2a, spa = _moments(est_same, w2 / m, 2.0)

    # different registers: state {v_i, v_j}; ordered grid == unordered x2
    ii, jj = np.meshgrid(np.arange(len(vals)), np.arange(len(vals)), indexing="ij")
    ii, jj = ii.ravel(), jj.ravel()
    keep = ii <= jj  # unordered states; double the off-diagonal weight
    ii, jj = ii[keep], jj[keep]
    w = probs[ii] * probs[jj] * np.where(ii == jj, 1.0, 2.0) * ((m - 1) / m)
    with np.errstate(over="ignore"):
        a_sum = (a_tab[ii] + a_tab[jj]) & MASK64
    est_diff = _estimate_states(a_sum, b_tab[ii] + b_tab[jj], 2, t, d, p)
    s1b, s2b, spb = _moments(est_diff, w, 2.0)

    assert abs((spa + spb) - 1.0) < 1e-9
    return (s1a + s1b) / 2.0, math.sqrt(s2a + s2b) / 2.0


def enumerate_error_n3(t: int, d: int, p: int):
    """Exact (bias, rmse) at n=3 via the reference's three register-collision
    cases — all-same (1/m²), two-plus-one (3(m-1)/m²), all-different
    ((m-1)(m-2)/m²) (≙ :798-868)."""
    m = 1 << p
    vals, probs = single_insert_values(t, d, p)
    a_tab, b_tab = _contribution_tables(vals, t, d, p)
    v2, w2 = _merged_distribution(vals, probs, vals, probs, d)
    a2_tab, b2_tab = _contribution_tables(v2, t, d, p)

    # case A — all three in one register
    v3, w3 = _merged_distribution(v2, w2, vals, probs, d)
    a3_tab, b3_tab = _contribution_tables(v3, t, d, p)
    est_a = _estimate_states(a3_tab, b3_tab, 1, t, d, p)
    s1a, s2a, spa = _moments(est_a, w3 / (m * m), 3.0)

    # case B — a merged pair in one register, a single in another
    ip, isg = np.meshgrid(np.arange(len(v2)), np.arange(len(vals)), indexing="ij")
    ip, isg = ip.ravel(), isg.ravel()
    wb = w2[ip] * probs[isg] * (3.0 * (m - 1) / (m * m))
    with np.errstate(over="ignore"):
        a_sum = (a2_tab[ip] + a_tab[isg]) & MASK64
    est_b = _estimate_states(a_sum, b2_tab[ip] + b_tab[isg], 2, t, d, p)
    s1b, s2b, spb = _moments(est_b, wb, 3.0)

    # case C — three distinct registers: unordered value triples i<=j<=k
    # with multinomial weights (1, 3, 6 for the 3/2/1-distinct patterns)
    if m >= 3:
        G = len(vals)
        ii, jj, kk = np.meshgrid(
            np.arange(G), np.arange(G), np.arange(G), indexing="ij"
        )
        ii, jj, kk = ii.ravel(), jj.ravel(), kk.ravel()
        keep = (ii <= jj) & (jj <= kk)
        ii, jj, kk = ii[keep], jj[keep], kk[keep]
        mult = np.where(
            (ii == jj) & (jj == kk),
            1.0,
            np.where((ii == jj) | (jj == kk) | (ii == kk), 3.0, 6.0),
        )
        wc = (
            probs[ii]
            * probs[jj]
            * probs[kk]
            * mult
            * ((m - 1) * (m - 2) / float(m * m))
        )
        with np.errstate(over="ignore"):
            a_sum = (a_tab[ii] + a_tab[jj] + a_tab[kk]) & MASK64
        est_c = _estimate_states(
            a_sum, b_tab[ii] + b_tab[jj] + b_tab[kk], 3, t, d, p
        )
        s1c, s2c, spc = _moments(est_c, wc, 3.0)
    else:
        s1c = s2c = spc = 0.0

    assert abs((spa + spb + spc) - 1.0) < 1e-9
    return (s1a + s1b + s1c) / 3.0, math.sqrt(s2a + s2b + s2c) / 3.0
