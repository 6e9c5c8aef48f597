"""Core ExaLogLog kernel tests (no Spark).

Mirrors the reference's test strategy (SURVEY.md §5):
exact-state merge algebra, optimized-vs-literal Algorithm 3, token/hash
equivalence, idempotency, serialization, pinned theoretical constants.
"""

import math

import numpy as np
import pytest

from exaloglog_paper_spark.sketchlib import bitops
from exaloglog_paper_spark.sketchlib.bitops import splitmix64_stream
from exaloglog_paper_spark.sketchlib.constants import (
    martingale_rse_constant,
    ml_bias_correction,
    ml_rse_constant,
    theoretical_mvp_ml,
    theoretical_rse_ml,
)
from exaloglog_paper_spark.sketchlib.exaloglog import (
    ExaLogLog,
    ExaLogLogConfig,
    compute_token,
    contribute_reference,
    contribute_vec_batch,
    estimate_distinct_from_tokens,
    is_valid_token,
    reconstruct_hash,
)


def test_popcount_and_nlz_against_python():
    rng = np.random.default_rng(42)
    vals = rng.integers(0, 2**64, size=2000, dtype=np.uint64)
    edge = np.array([0, 1, 2**63, 2**64 - 1, 2**32, 2**63 - 1], dtype=np.uint64)
    x = np.concatenate([vals, edge])
    pc = bitops.popcount64(x)
    nl = bitops.nlz64(x)
    for v, p, n in zip(x.tolist(), pc.tolist(), nl.tolist()):
        assert p == bin(v).count("1")
        assert n == 64 - v.bit_length()


def test_add_hashes_chunked_path_byte_identical():
    """Inputs above the chunk threshold (max(256k, 8m)) take the chunked
    warm-up path — must equal both a monolithic single-batch register fold
    and an uneven 7-way split+merge, register for register."""
    from exaloglog_paper_spark.sketchlib.bitops import splitmix64_stream
    from exaloglog_paper_spark.sketchlib.exaloglog import (
        ExaLogLog,
        build_registers,
        hash_to_idx_k,
    )

    t, d, p = 2, 20, 8
    n = 700_000  # > 262144: the chunk loop actually runs
    h = splitmix64_stream(99, n)
    chunked = ExaLogLog.create(t, d, p).add_hashes(h)
    idx, k = hash_to_idx_k(h, t, p)
    mono = build_registers(idx, k, chunked.cfg.m, d)
    assert np.array_equal(chunked.regs, mono)
    acc = ExaLogLog.create(t, d, p)
    for part in np.array_split(h, 7):
        acc.merge_(ExaLogLog.create(t, d, p).add_hashes(part))
    assert acc.serialize() == chunked.serialize()


def test_build_registers_dense_vs_sort_byte_identical():
    """build_registers' two strategies (dense presence-grid vs sort+reduceat)
    must be byte-identical on every batch shape — heavy repetition, near-
    empty, single-element segments, k spanning the full range."""
    from exaloglog_paper_spark.sketchlib.exaloglog import (
        _build_registers_dense,
        _build_registers_sort,
    )

    rng = np.random.default_rng(11)
    shapes = [
        (256, 20, 215, 5000),
        (1024, 20, 213, 100_000),
        (256, 16, 220, 3000),
        (64, 8, 230, 1000),
        (1024, 24, 200, 8000),
        (16, 4, 60, 7),          # tiny batch, sparse grid
        (256, 20, 215, 1),       # single element
    ]
    for m, d, kmax, n in shapes:
        idx = rng.integers(0, m, size=n).astype(np.uint64)
        # heavy repetition: draw k from a small pool to mimic token streams
        pool = rng.integers(1, kmax + 1, size=max(n // 50, 2)).astype(np.uint64)
        k = pool[rng.integers(0, len(pool), size=n)]
        K = int(k.max()) + 1
        a = _build_registers_sort(idx, k, m, d)
        b = _build_registers_dense(idx, k, m, d, K)
        assert (a == b).all(), (m, d, kmax, n)


def test_hash_to_idx_k_small_shift_fast_path_exact():
    """The t+p < 12 pre-shift+LUT frexp path must equal the general
    nlz64-based mapping for every config, including crafted hashes whose
    pre-shifted top field is 0 (the LUT branch) and power-of-two
    boundaries (where naive float64 log2 would misround)."""
    from exaloglog_paper_spark.sketchlib.exaloglog import hash_to_idx_k

    rng = np.random.default_rng(9)
    rand = rng.integers(0, 2**64, size=20_000, dtype=np.uint64)
    for t, p in [(0, 2), (1, 2), (2, 2), (0, 6), (2, 8), (3, 8), (1, 10), (2, 9)]:
        shift = t + p
        edge = [0, 1, 2**64 - 1]
        # around every power of two of the top field (frexp boundaries)
        for b in range(0, 64 - shift):
            for off in (-1, 0, 1):
                v = (1 << b) + off
                if 0 <= v < (1 << (64 - shift)):
                    edge.append((v << shift) | (v & ((1 << shift) - 1)))
        # top field zero with every low-bits residue class (LUT branch)
        edge += [int(x) for x in rng.integers(0, 1 << shift, size=64, dtype=np.uint64)]
        h = np.concatenate([rand, np.array(edge, dtype=np.uint64)])
        idx, k = hash_to_idx_k(h, t, p)
        mask = np.uint64(((1 << t) << p) - 1)
        ref_nlz = bitops.nlz64(h | mask)
        ref_k = (ref_nlz << np.uint64(t)) + (h & np.uint64((1 << t) - 1)) + np.uint64(1)
        ref_idx = (h & mask) >> np.uint64(t)
        assert (idx == ref_idx).all(), (t, p)
        assert (k == ref_k).all(), (t, p)


def test_pack_unpack_roundtrip():
    """unpack inverts pack for every width, the 58-64 bit widths whose
    registers spill past an 8-byte window included, one row or many."""
    rng = np.random.default_rng(1)
    for width in [6, 7, 13, 28, 33, 57, 58, 59, 60, 61, 62, 63, 64]:
        for B in (1, 5):
            regs = rng.integers(0, 1 << width, size=(B, 256), dtype=np.uint64)
            regs[-1, :3] = np.uint64((1 << width) - 1)
            data = bitops.pack_registers(regs, width)
            assert data.shape == (B, ((width * 256) + 7) >> 3)
            back = bitops.unpack_registers(data, width, 256)
            assert np.array_equal(regs, back), (width, B)


def test_state_size_matches_reference_published_sizes():
    # BASELINE.md: ELL(2,20,8)=896B, ELL(2,24,8)=1024B, serialized state bytes
    assert ExaLogLogConfig(2, 20, 8).state_num_bytes == 896
    assert ExaLogLogConfig(2, 24, 8).state_num_bytes == 1024
    sk = ExaLogLog.create(2, 20, 8).add_hashes(splitmix64_stream(7, 1000))
    data = sk.serialize()
    assert len(data) == 896
    back = ExaLogLog.wrap(2, 20, data)
    assert np.array_equal(back.regs, sk.regs)


def test_wrap_rejects_bad_lengths():
    with pytest.raises(ValueError):
        ExaLogLog.wrap(2, 20, b"\x00" * 895)
    with pytest.raises(ValueError):
        ExaLogLog.wrap(2, 20, b"")


@pytest.mark.parametrize("t,d,p", [(0, 0, 4), (0, 3, 2), (1, 9, 4), (2, 20, 4), (2, 20, 8), (2, 24, 6), (6, 10, 4), (8, 2, 3)])
def test_contribute_optimized_vs_literal_algorithm3(t, d, p):
    """Optimized contribute ≡ literal Algorithm 3 (≙ ExaLogLogTest.java:188-219)."""
    rng = np.random.default_rng(0)
    u_max = (65 - p - t) << t
    us = np.unique(np.concatenate([
        np.arange(0, min(u_max + 1, 70)),
        rng.integers(0, u_max + 1, size=120),
        [u_max],
    ]))
    regs = []
    for u in us.tolist():
        hist = int(rng.integers(0, 2**d)) if d > 0 else 0
        regs.append((u << d) | hist)
    regs = np.array(regs, dtype=np.uint64)
    # several rows of one matrix: the pool, a shuffle and a resample of
    # it, and a row of empty registers
    rows = np.stack([regs, rng.permutation(regs), rng.choice(regs, len(regs)),
                     np.zeros_like(regs)])

    agg, b = contribute_vec_batch(rows, t, d, p)
    for i, row in enumerate(rows.tolist()):
        a_ref = 0
        b_ref = [0] * 64
        for r in row:
            a_ref = (a_ref + contribute_reference(r, b_ref, t, d, p)) & 0xFFFFFFFFFFFFFFFF
        assert int(agg[i]) == a_ref, i
        assert b[i].tolist() == b_ref, i


@pytest.mark.parametrize("t,d,p", [(2, 20, 8), (2, 16, 6), (1, 9, 8), (0, 0, 10)])
def test_merge_equals_single_build_over_union(t, d, p):
    """State of merge(sk(A), sk(B)) must equal byte-for-byte the state of one
    sketch fed A∪B, for arbitrary splits (≙ AbstractSpecificExaLogLogTest.java:127-161)."""
    hashes = splitmix64_stream(42, 5000)
    full = ExaLogLog.create(t, d, p).add_hashes(hashes)
    for cut in [0, 1, 1234, 2500, 4999, 5000]:
        a = ExaLogLog.create(t, d, p).add_hashes(hashes[:cut])
        b = ExaLogLog.create(t, d, p).add_hashes(hashes[cut:])
        merged = ExaLogLog.merge(a, b)
        assert np.array_equal(merged.regs, full.regs), f"cut={cut}"


@pytest.mark.parametrize("t,d,p", [(6, 10, 4), (8, 4, 5), (12, 8, 4), (16, 2, 3)])
def test_build_registers_large_t_matches_scalar_path(t, d, p):
    """Vectorized batch build ≡ sequential per-element add for large t, where
    update values k = (nlz<<t)+... exceed 16 bits (regression: the packed
    (idx,k) sort key must size the k field from the batch's actual max)."""
    from exaloglog_paper_spark.sketchlib.martingale import (
        MartingaleEstimator,
        add_hashes_martingale,
    )

    hashes = splitmix64_stream(31, 2500)
    vec = ExaLogLog.create(t, d, p).add_hashes(hashes)
    seq = ExaLogLog.create(t, d, p)
    add_hashes_martingale(seq, hashes, MartingaleEstimator())
    assert np.array_equal(vec.regs, seq.regs)
    # merge-split contract holds at large t too
    a = ExaLogLog.create(t, d, p).add_hashes(hashes[:700])
    b = ExaLogLog.create(t, d, p).add_hashes(hashes[700:])
    assert np.array_equal(ExaLogLog.merge(a, b).regs, vec.regs)


def test_merge_associative_commutative_tree_vs_sequential():
    cfg = (2, 20, 8)
    hashes = splitmix64_stream(7, 9000)
    parts = np.array_split(hashes, 7)
    sketches = [ExaLogLog.create(*cfg).add_hashes(p) for p in parts]
    full = ExaLogLog.create(*cfg).add_hashes(hashes)
    # left fold
    acc = sketches[0].copy()
    for s in sketches[1:]:
        acc.merge_(s)
    assert np.array_equal(acc.regs, full.regs)
    # reversed order
    acc2 = sketches[-1].copy()
    for s in reversed(sketches[:-1]):
        acc2.merge_(s)
    assert np.array_equal(acc2.regs, full.regs)
    # pairwise tree
    level = [s.copy() for s in sketches]
    while len(level) > 1:
        nxt = []
        for i in range(0, len(level) - 1, 2):
            nxt.append(ExaLogLog.merge(level[i], level[i + 1]))
        if len(level) % 2:
            nxt.append(level[-1])
        level = nxt
    assert np.array_equal(level[0].regs, full.regs)


@pytest.mark.parametrize("k", [0, 1, 2, 3, 7, 64])
def test_merge_many_equals_sequential_fold(k):
    """The batched k-way merge (stacked registers, log2 tree of vectorized
    calls) must be byte-identical to the sequential pairwise fold for any
    k — incl. the empty (identity) and singleton cases."""
    from exaloglog_paper_spark.ops.agg import ExaLogLogSpec

    spec = ExaLogLogSpec(2, 20, 8)
    hashes = splitmix64_stream(19, max(1, 150 * k))
    parts = np.array_split(hashes, k) if k else []
    states = [spec.empty().add_hashes(p) for p in parts]
    seq = spec.empty()
    for s in states:
        seq = spec.merge(seq, s.copy())
    got = spec.merge_many([s.copy() for s in states])
    assert np.array_equal(got.regs, seq.regs)


def test_merge_heterogeneous_params_equals_downsized_union():
    """Merging sketches with different (d, p) yields the min-(d,p) union state
    (≙ ExaLogLogTest.java:110-147)."""
    hashes = splitmix64_stream(3, 4000)
    a = ExaLogLog.create(2, 24, 10).add_hashes(hashes[:2000])
    b = ExaLogLog.create(2, 20, 8).add_hashes(hashes[2000:])
    merged = ExaLogLog.merge(a, b)
    assert (merged.cfg.d, merged.cfg.p) == (20, 8)
    expect = ExaLogLog.create(2, 20, 8).add_hashes(hashes)
    assert np.array_equal(merged.regs, expect.regs)
    # and the symmetric direction
    merged2 = ExaLogLog.merge(b, a)
    assert np.array_equal(merged2.regs, expect.regs)


def test_merge_different_t_raises():
    with pytest.raises(ValueError):
        ExaLogLog.merge(ExaLogLog.create(2, 2, 2), ExaLogLog.create(3, 2, 2))


def test_downsize_matches_direct_build():
    hashes = splitmix64_stream(11, 3000)
    big = ExaLogLog.create(2, 20, 10).add_hashes(hashes)
    small = big.downsize(16, 6)
    direct = ExaLogLog.create(2, 16, 6).add_hashes(hashes)
    assert np.array_equal(small.regs, direct.regs)


def test_insert_idempotent():
    """Re-inserting seen hashes never changes state
    (≙ AbstractSpecificExaLogLogTest.java:577-598)."""
    hashes = splitmix64_stream(5, 2000)
    sk = ExaLogLog.create(2, 20, 8).add_hashes(hashes)
    before = sk.regs.copy()
    sk.add_hashes(hashes[::3]).add_hashes(hashes)
    assert np.array_equal(sk.regs, before)


def test_token_path_equals_hash_path():
    """addToken(computeToken(h)) ≡ add(h)
    (≙ AbstractSpecificExaLogLogTest.java:916-955)."""
    hashes = splitmix64_stream(13, 4000)
    tokens = compute_token(hashes)
    assert np.all(is_valid_token(tokens))
    # token roundtrip is idempotent (DistinctCountUtilTest.java:303-324)
    assert np.array_equal(compute_token(reconstruct_hash(tokens)), tokens)
    via_hash = ExaLogLog.create(2, 20, 8).add_hashes(hashes)
    via_token = ExaLogLog.create(2, 20, 8).add_tokens(tokens)
    assert np.array_equal(via_hash.regs, via_token.regs)


def test_invalid_tokens_skipped():
    sk = ExaLogLog.create(2, 20, 8)
    bad = np.array([63, (1 << 32) - 1], dtype=np.uint64)  # nlz=63 > 64-v
    sk.add_tokens(bad)
    assert not sk.regs.any()


def test_empty_and_saturated_edge_cases():
    sk = ExaLogLog.create(2, 20, 8)
    assert sk.estimate() == 0.0
    assert sk.state_change_probability() == 1.0
    # saturate every register (max update value + full history) -> infinite
    # estimate (ExaLogLog.java:593-599 case 1)
    u_max = (65 - sk.cfg.p - sk.cfg.t) << sk.cfg.t
    sk.regs[:] = np.uint64((u_max << sk.cfg.d) | ((1 << sk.cfg.d) - 1))
    assert math.isinf(sk.estimate())
    assert sk.state_change_probability() == 0.0


def test_estimate_statistical_bound_matches_published_rse():
    """Empirical rmse ≈ theoretical RSE = C_ml[t][d]/√2^p; thresholds modeled
    on AbstractSpecificExaLogLogTest.java:1052-1061 (rmse < 1.39·RSE etc.),
    deterministic seeds."""
    t, d, p = 2, 20, 8
    rse = theoretical_rse_ml(t, d, p)
    n = 10000
    cycles = 150
    errs = []
    for c in range(cycles):
        hashes = splitmix64_stream(1000003 * c + 17, n)
        est = ExaLogLog.create(t, d, p).add_hashes(hashes).estimate()
        errs.append(est / n - 1.0)
    errs = np.array(errs)
    rmse = float(np.sqrt(np.mean(errs**2)))
    bias = float(np.mean(errs))
    assert rmse < 1.39 * rse, (rmse, rse)
    assert rmse > 0.61 * rse, (rmse, rse)
    assert abs(bias) < 5 * rse / math.sqrt(cycles), (bias, rse)


def test_estimate_small_cardinalities_near_exact():
    # ML estimator is essentially exact for n << m
    for n in [1, 2, 3, 10, 50]:
        hashes = splitmix64_stream(99 + n, n)
        est = ExaLogLog.create(2, 20, 10).add_hashes(hashes).estimate()
        assert abs(est - n) < max(0.2, 0.1 * n), (n, est)


def test_token_stream_estimator():
    """Sketch-free estimator on 32-bit tokens (≙ DistinctCountUtil.java:215-264)."""
    n = 100_000
    hashes = splitmix64_stream(21, n)
    tokens = compute_token(hashes)
    est = estimate_distinct_from_tokens(tokens, 26)
    assert abs(est / n - 1) < 0.01
    # dedup invariance: feeding duplicates changes nothing
    est2 = estimate_distinct_from_tokens(np.concatenate([tokens, tokens[:5000]]), 26)
    assert est2 == est
    assert estimate_distinct_from_tokens(np.array([], dtype=np.uint64), 26) == 0.0


def test_constants_pinned_against_published_tables():
    # results/constants/ml_bias_correction_constants.txt rows t=0 and t=2
    assert ml_bias_correction(0, 0) == pytest.approx(1.01015908095854, rel=1e-12)
    assert ml_bias_correction(2, 20) == pytest.approx(0.1055382430717344, rel=1e-12)
    # PrecomputedConstants.java:45 first entry (HLL = t=0,d=0): 1.0367.../√m
    assert ml_rse_constant(0, 0) == pytest.approx(1.0367047097785012, rel=1e-12)
    # BASELINE.md: RSE ML ELL(2,20,8) = 0.022637
    assert theoretical_rse_ml(2, 20, 8) == pytest.approx(0.022637, abs=2e-6)
    # results/constants/mvp.txt: ELL(2,20) ML MVP = 3.673244416996247
    assert theoretical_mvp_ml(2, 20, 8) == pytest.approx(3.673244416996247, rel=1e-9)
    # BASELINE.md: RSE martingale ELL(2,20,8) = 0.019858
    assert martingale_rse_constant(2, 20) / math.sqrt(256) == pytest.approx(0.019858, abs=2e-6)


def test_martingale_estimator_sequential():
    from exaloglog_paper_spark.sketchlib.martingale import (
        MartingaleEstimator,
        add_hashes_martingale,
    )

    n = 3000
    hashes = splitmix64_stream(2, n)
    sk = ExaLogLog.create(2, 20, 8)
    est = MartingaleEstimator()
    add_hashes_martingale(sk, hashes, est)
    # state identical to the vectorized batch path
    direct = ExaLogLog.create(2, 20, 8).add_hashes(hashes)
    assert np.array_equal(sk.regs, direct.regs)
    rse = martingale_rse_constant(2, 20) / math.sqrt(256)
    assert abs(est.distinct_count_estimate / n - 1) < 4 * rse
    # martingale can be re-seeded from a merged sketch's state-change prob
    # (MartingaleEstimator.java:90-116)
    est2 = MartingaleEstimator(sk.estimate(), sk.state_change_probability())
    assert est2.distinct_count_estimate > 0


def test_pack_registers_matches_bit_expansion_oracle():
    """pack_registers rows must equal a per-bit expansion of the registers
    packed little-endian (the state layout) for every width, the 58-64 bit
    spill widths included, at 0, 1 and many rows, with all-ones and zero
    rows."""

    def oracle(row, width):
        shifts = np.arange(width, dtype=np.uint64)
        bits = ((row[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
        packed = np.packbits(bits.ravel(), bitorder="little")
        return packed[: (len(row) * width + 7) >> 3].tobytes()

    rng = np.random.default_rng(7)
    for width in (6, 11, 26, 28, 32, 57, 58, 63, 64):
        for m in (4, 64, 256, 1024, 4096):
            for B in (0, 1, 9):
                regs2d = rng.integers(0, 1 << width, size=(B, m), dtype=np.uint64)
                if B > 1:
                    regs2d[0] = np.uint64((1 << width) - 1)  # saturated row
                    regs2d[1] = 0
                packed = bitops.pack_registers(regs2d, width)
                assert packed.shape == (B, (m * width + 7) >> 3)
                for i in range(B):
                    assert packed[i].tobytes() == oracle(regs2d[i], width), (width, m, i)


def test_exaloglog_spec_serialize_batch_matches_per_state():
    """ExaLogLogSpec.serialize_batch == per-state serialize on real built
    states."""
    import numpy as np

    from exaloglog_paper_spark.ops.agg import ExaLogLogSpec
    from exaloglog_paper_spark.sketchlib.bitops import splitmix64

    spec = ExaLogLogSpec(2, 20, 8)
    states = []
    for i in range(17):
        st = spec.empty()
        spec.add(st, splitmix64(np.arange(50 * (i + 1), dtype=np.uint64) + i))
        states.append(st)
    assert spec.serialize_batch(states) == [spec.serialize(s) for s in states]


def test_constants_full_table_scatter_parity():
    """Scattered cells across the reference's FULL triangular 59x59
    constants tables (results/constants/*.txt — far corners, deep-t rows,
    the asymptotic limits), pinned to every published digit. The complete
    7,080-cell sweep of all four tables is scripts/run_constants_parity.py
    (verified 7,080/7,080 OK at 1e-11); these inline pins keep a
    cross-section of that parity in CI without reading the reference."""
    from exaloglog_paper_spark.sketchlib.constants import ml_compressed_mvp

    bias = [
        (0, 58, 0.307931060646552),
        (1, 30, 0.1539907344294835),
        (3, 12, 0.38020418350915014),
        (7, 7, 0.962903501746639),
        (20, 5, 0.9999966948232366),
        (40, 2, 0.9999999999987391),
        (58, 0, 1.0),
    ]
    for t, d, v in bias:
        assert ml_bias_correction(t, d) == pytest.approx(v, rel=1e-11), (t, d)
    rse = [
        (0, 58, 0.649140167172004),
        (1, 30, 0.4590361267015964),
        (3, 12, 0.619190380253428),
        (7, 7, 0.9812790517276843),
        (20, 5, 0.9999983474102891),
        (40, 2, 0.9999999999993696),
        (58, 0, 1.0),
    ]
    for t, d, v in rse:
        assert ml_rse_constant(t, d) == pytest.approx(v, rel=1e-11), (t, d)
    mart = [
        (0, 58, 0.5887050112577373),
        (1, 30, 0.4162926401095917),
        (3, 12, 0.4610322149371896),
        (7, 7, 0.6948430202951492),
        (20, 5, 0.7071057294852039),
        (40, 2, 0.7071067811862132),
        (58, 0, 0.7071067811865476),  # = sqrt(ln 2) asymptote
    ]
    for t, d, v in mart:
        assert martingale_rse_constant(t, d) == pytest.approx(v, rel=1e-11), (t, d)
    cmvp = [
        (0, 58, 1.9801646175510048),
        (3, 12, 4.449752279882992),
        (20, 5, 22.804202822742408),
        (58, 0, 60.804207591110725),
    ]
    for t, d, v in cmvp:
        assert ml_compressed_mvp(t, d) == pytest.approx(v, rel=1e-11), (t, d)
