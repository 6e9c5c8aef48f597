"""Exhaustive small-cardinality enumeration parity (VERDICT r1 item 6).

The reference pins n=1,2,3 estimator error by enumerating ALL hash outcomes
with exact probabilities (AbstractSpecificExaLogLogTest.java:640-868,
generators TestUtils.java:86-114) and asserting bias/RSE and rmse/RSE
against limits computed as ceil_4dp(|value|*1.01)
(AbstractSpecificExaLogLogTest.java:685-690). Our enumeration is
analytically exact, so we assert the STRONGEST possible parity: applying
the reference's limit formula to our values reproduces its published
constant tables exactly (testDistinctCountEqualOne/Two/ThreeMLEstimator,
:996-1023) — any drift in contribute/solver/bias-correction breaks this.
"""

import pytest
from decimal import Decimal, ROUND_CEILING

from exaloglog_paper_spark.sketchlib.constants import theoretical_rse_ml
from exaloglog_paper_spark.sketchlib.enumerate import (
    enumerate_error_n1,
    enumerate_error_n2,
    enumerate_error_n3,
)

T, D = 2, 20


def _ref_limit(x: float) -> float:
    """ceil to 4 dp of |x|*1.01 — the reference's proposed-limit formula."""
    return float(
        Decimal(abs(x) * 1.01).quantize(Decimal("0.0001"), rounding=ROUND_CEILING)
    )


# published constants (AbstractSpecificExaLogLogTest.java:996-1023), p -> limit
N1_BIAS = dict(zip(range(2, 19), [0.0623, 0.0466, 0.0338, 0.0242, 0.0172, 0.0122,
                                  0.0087, 0.0062, 0.0044, 0.0031, 0.0022, 0.0016,
                                  0.0011, 8.0e-4, 6.0e-4, 4.0e-4, 3.0e-4]))
N1_RMSE = dict(zip(range(2, 19), [0.1691, 0.1106, 0.0757, 0.0527, 0.037, 0.0261,
                                  0.0185, 0.0131, 0.0092, 0.0065, 0.0046, 0.0033,
                                  0.0023, 0.0017, 0.0012, 9.0e-4, 6.0e-4]))
N2_BIAS = dict(zip(range(2, 11), [0.0614, 0.0463, 0.0337, 0.0242, 0.0172, 0.0122,
                                  0.0087, 0.0062, 0.0044]))
N2_RMSE = dict(zip(range(2, 11), [0.4974, 0.48, 0.4729, 0.4697, 0.4681, 0.4674,
                                  0.467, 0.4668, 0.4667]))
N3_BIAS = dict(zip(range(2, 8), [0.0606, 0.046, 0.0336, 0.0241, 0.0172, 0.0122]))
N3_RMSE = dict(zip(range(2, 8), [0.5681, 0.5515, 0.5448, 0.5417, 0.5402, 0.5395]))


@pytest.mark.parametrize("p", [2, 8, 12, 18])
def test_n1_enumeration_reproduces_reference_limits(p):
    bias, rmse = enumerate_error_n1(T, D, p)
    rse = theoretical_rse_ml(T, D, p)
    assert _ref_limit(abs(bias) / rse) == N1_BIAS[p]
    assert _ref_limit(rmse / rse) == N1_RMSE[p]


@pytest.mark.parametrize("p", [2, 6, 10])
def test_n2_enumeration_reproduces_reference_limits(p):
    bias, rmse = enumerate_error_n2(T, D, p)
    rse = theoretical_rse_ml(T, D, p)
    assert _ref_limit(abs(bias) / rse) == N2_BIAS[p]
    assert _ref_limit(rmse / rse) == N2_RMSE[p]


@pytest.mark.parametrize("p", [2, 7])
def test_n3_enumeration_reproduces_reference_limits(p):
    bias, rmse = enumerate_error_n3(T, D, p)
    rse = theoretical_rse_ml(T, D, p)
    assert _ref_limit(abs(bias) / rse) == N3_BIAS[p]
    assert _ref_limit(rmse / rse) == N3_RMSE[p]


def test_batch_solver_matches_scalar():
    """solve_ml_equation_batch row-wise == the scalar Algorithm-8 solver on
    real sketch systems (the enumeration's correctness hinge)."""
    import numpy as np

    from exaloglog_paper_spark.sketchlib.bitops import pow2, splitmix64_stream
    from exaloglog_paper_spark.sketchlib.exaloglog import (
        ExaLogLog,
        contribute_vec_batch,
        unsigned_to_double,
    )
    from exaloglog_paper_spark.sketchlib.mlsolver import (
        solve_maximum_likelihood_equation,
        solve_ml_equation_batch,
    )

    t, d, p = 2, 20, 8
    n = 63 - p - t
    rng = np.random.default_rng(3)
    regs = np.stack([
        ExaLogLog.create(t, d, p)
        .add_hashes(splitmix64_stream(i + 1, int(rng.integers(1, 5000))))
        .regs
        for i in range(100)
    ])
    aggs, bs = contribute_vec_batch(regs, t, d, p)
    factor = float((1 << p) << (t + 1))
    a_list = [unsigned_to_double(int(agg)) * pow2(-64) * factor for agg in aggs]
    want = [
        solve_maximum_likelihood_equation(a, b.tolist(), n, 0.0)
        for a, b in zip(a_list, bs)
    ]
    got = solve_ml_equation_batch(np.array(a_list), bs, n)
    np.testing.assert_allclose(got, np.array(want), rtol=1e-14)
    # edge rows: all-zero histogram -> 0; a == 0 -> +inf
    z = np.zeros((2, 64), dtype=np.int64)
    z[1, 3] = 2
    z[1, 5] = 1
    got = solve_ml_equation_batch(np.array([1.0, 0.0]), z, n)
    assert got[0] == 0.0 and np.isinf(got[1])
