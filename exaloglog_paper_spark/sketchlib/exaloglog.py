"""ExaLogLog sketch — vectorized numpy reimplementation (from scratch).

Semantics follow the EDBT'25 paper "ExaLogLog: Space-Efficient and Practical
Approximate Distinct Counting up to the Exa-Scale" and its reference artifact
(cited below per function as ``file:line`` into ``/root/reference``), but the
implementation is written for Spark's execution model: inserts are *batch*
operations over numpy uint64 vectors (one sort + segment-reduce per Arrow
batch, no per-element Python), registers live as a ``uint64[m]`` vector
in-flight and are bit-packed to the reference's exact state size
(``((6+t+d)·2^p + 7) / 8`` bytes) for shuffle/storage.

Register model (``ExaLogLog.java:45-49,157-159,468-502``): ``m = 2^p``
registers of ``6 + t + d`` bits. For a 64-bit hash ``h``::

    idx = (h & ((2^t·2^p) - 1)) >> t
    nlz = numberOfLeadingZeros(h | ((2^t·2^p) - 1))      # in [0, 64-p-t]
    k   = (nlz << t) + (h & (2^t - 1)) + 1               # update value

A register holds ``r = (u << d) | B`` where ``u`` is the maximum update
value seen and ``B`` is a d-bit history bitfield with bit ``d - (u - k')``
set for every seen update value ``k'`` with ``0 < u - k' <= d``. The state
is therefore a pure function of the *set* of update values per register —
which makes insertion idempotent/commutative and the merge exact.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .bitops import (
    MASK64,
    ONE,
    U64,
    ZERO,
    as_u64,
    lshift_clamped,
    nlz64,
    pack_registers,
    popcount64,
    pow2,
    rshift_clamped,
    unpack_registers,
    unsigned_to_double,
)
from .constants import ml_bias_correction, theoretical_rse_ml
from .mlsolver import solve_maximum_likelihood_equation, solve_ml_equation_batch

V_MAX = 26  # 32-bit tokens: V + 6 == 32  (DistinctCountUtil.java:144)
V_MIN = 1
MIN_P = 2
_KBITS = 16  # update value k < 2^16 for all legal (t,p)


def max_t() -> int:
    return V_MAX - MIN_P  # ExaLogLog.java:43


def max_p(t: int) -> int:
    return V_MAX - t  # ExaLogLog.java:124-127


def max_d(t: int) -> int:
    return 64 - 6 - t  # ExaLogLog.java:153-155


@dataclass(frozen=True)
class ExaLogLogConfig:
    """(t, d, p) parameter triple; defaults = the paper's headline config
    ExaLogLog(t=2, d=20) (EmpiricalMVPComputation.java:539-540)."""

    t: int = 2
    d: int = 20
    p: int = 10

    def __post_init__(self):
        if not (0 <= self.t <= max_t()):
            raise ValueError("illegal T parameter")
        if not (0 <= self.d <= max_d(self.t)):
            raise ValueError("illegal D parameter")
        if not (MIN_P <= self.p <= max_p(self.t)):
            raise ValueError("illegal precision parameter")

    @property
    def m(self) -> int:
        return 1 << self.p

    @property
    def register_bits(self) -> int:
        return 6 + self.t + self.d  # ExaLogLog.java:157-159

    @property
    def state_num_bytes(self) -> int:
        return ((self.register_bits << self.p) + 7) >> 3  # ExaLogLog.java:184

    @property
    def q(self) -> int:
        return 63 - self.t - self.p

    def theoretical_rse_ml(self) -> float:
        return theoretical_rse_ml(self.t, self.d, self.p)


# ---------------------------------------------------------------------------
# token functions  (≙ DistinctCountUtil.java:132-142,202-205)
# ---------------------------------------------------------------------------


def compute_token(hashes: np.ndarray, v: int = V_MAX) -> np.ndarray:
    """64-bit hashes -> (v+6)-bit tokens (uint64 array holding uint32 range)."""
    h = as_u64(hashes)
    mask = MASK64 >> U64(64 - v)
    idx = h & mask
    nlz = nlz64(h | mask)
    return (idx << U64(6)) | nlz


def reconstruct_hash(tokens: np.ndarray, v: int = V_MAX) -> np.ndarray:
    """Tokens -> canonical hashes; idempotent under re-tokenization
    (≙ DistinctCountUtil.java:139-142; note Java's shift-count masking:
    ``x >>> token`` shifts by ``token & 63`` = the token's nlz field)."""
    tok = as_u64(tokens)
    idx = tok >> U64(6)
    nlz = tok & U64(63)
    return (((MASK64 >> U64(v)) >> nlz) << U64(v)) | idx


def is_valid_token(tokens: np.ndarray, v: int = V_MAX) -> np.ndarray:
    tok = as_u64(tokens)
    nlz = tok & U64(63)
    return ((tok >> U64(6)) >> U64(v) == ZERO) & (nlz <= U64(64 - v))


# ---------------------------------------------------------------------------
# register algebra (vectorized)
# ---------------------------------------------------------------------------


# bit_length of 0..4095: finishes the small-shift frexp fast path exactly
# when the pre-shifted top field is 0 (see hash_to_idx_k)
_BITLEN_LUT = np.array([i.bit_length() for i in range(4096)], dtype=np.int64)


def hash_to_idx_k(hashes: np.ndarray, t: int, p: int):
    """Hash -> (register index, update value k) ≙ ExaLogLog.java:469-472.

    nlz(h | mask) only depends on the top 64-(t+p) bits; when those fit
    float64's 52-bit mantissa the conversion is EXACT, so one frexp gives
    the bit length directly — 2.5x faster than the general 32-bit-split
    nlz64 and the hot third of the insert kernel. For t+p < 12 (e.g. the
    reference's JMH config t=2, p=8) the top field is pre-shifted by
    ``s = 12 - (t+p)`` so it fits 52 bits: bitlen(v) = frexp_exponent + s
    whenever the pre-shifted field is nonzero (probability 1 - 2^-52 per
    element), and the rare zeros are finished exactly by a 2^s-entry
    bit_length LUT over the dropped low bits — still one frexp, no
    32-bit-split nlz64 on any realistic shift.
    """
    h = as_u64(hashes)
    mask = U64(((1 << t) << p) - 1)
    idx = (h & mask) >> U64(t)
    shift = t + p
    if shift >= 12:  # 64 - shift <= 52: exact float64, exact frexp
        hp = (h >> U64(shift)).view(np.int64)
        _, e = np.frexp(hp.astype(np.float64))
        nlz = ((64 - shift) - e).astype(np.uint64)
    elif shift >= 2:
        s = 12 - shift
        w = (h >> U64(12)).view(np.int64)  # shift + s == 12: 52-bit field
        _, e = np.frexp(w.astype(np.float64))
        bitlen = e + s  # == bitlen(h >> shift) whenever w > 0
        z = np.flatnonzero(w == 0)
        if z.size:
            low = ((h[z] >> U64(shift)) & U64((1 << s) - 1)).astype(np.int64)
            bitlen[z] = _BITLEN_LUT[low]
        nlz = ((64 - shift) - bitlen).astype(np.uint64)
    else:
        nlz = nlz64(h | mask)
    k = (nlz << U64(t)) + (h & U64((1 << t) - 1)) + ONE
    return idx, k


def build_registers(idx: np.ndarray, k: np.ndarray, m: int, d: int) -> np.ndarray:
    """Fold a batch of (idx, k) updates into a fresh uint64[m] register vector.

    Equivalent to repeatedly applying ExaLogLog.add (ExaLogLog.java:468-502).
    Two byte-identical strategies, picked by batch shape:

    - DENSE (small m x small k-range, batch large enough to amortize):
      a presence bitmap over the full (register, k) grid via one
      ``np.bincount`` — O(n) with sequential writes into an L2-resident
      counter array, no sort — then a vectorized fold over the m x K grid.
      This wins big on real token streams, where heavy value repetition
      makes the sort path re-sort the same survivors every chunk (~40 ->
      ~5 ns/element at p=10, d=20).
    - SORT (the general path): sort by (idx, k), take per-register max k
      as u, OR ``1 << (d - (u - k'))`` for trailing values within d of u.
      One ``np.unique`` + ``bitwise_or.reduceat`` per batch.
    """
    if len(idx) == 0:
        return np.zeros(m, dtype=np.uint64)
    K = int(k.max()) + 1
    # dense-grid gate: fold work (~6 ops per grid cell) must amortize over
    # the batch, and the grid must stay cache/memory-friendly
    if m * K <= min(4 * len(idx), 1 << 22):
        return _build_registers_dense(idx, k, m, d, K)
    return _build_registers_sort(idx, k, m, d)


def _build_registers_sort(idx: np.ndarray, k: np.ndarray, m: int, d: int) -> np.ndarray:
    """Sort strategy of :func:`build_registers` (the general path)."""
    regs = np.zeros(m, dtype=np.uint64)
    # pack (idx, k) into one sort key; k needs up to 30 bits for large t
    # (max k = (65-p-t)<<t, e.g. ~209k at t=12), so size the field from the
    # batch's actual max instead of assuming 16 bits
    kbits = max(int(k.max()).bit_length(), 1)
    combined = np.unique((idx << U64(kbits)) | k)  # sorted + dedup
    idxs = combined >> U64(kbits)
    ks = combined & U64((1 << kbits) - 1)
    starts = np.flatnonzero(np.concatenate(([True], idxs[1:] != idxs[:-1])))
    ends = np.concatenate((starts[1:], [len(combined)])) - 1
    u_seg = ks[ends]
    seg_len = np.diff(np.concatenate((starts, [len(combined)])))
    u_rep = np.repeat(u_seg, seg_len)
    delta = u_rep - ks  # >= 0 (sorted ascending per segment)
    valid = (delta > ZERO) & (delta <= U64(d))
    bitpos = U64(d) - np.minimum(delta, U64(d))
    hb = np.where(valid, ONE << bitpos, ZERO)
    b_seg = np.bitwise_or.reduceat(hb, starts)
    # the empty register's implicit u=0 becomes a history bit at d-u on the
    # first insert (the `1<<d` term in ExaLogLog.java:480 with rOld=0)
    b_seg |= np.where(u_seg <= U64(d), lshift_clamped(np.ones_like(u_seg), U64(d) - np.minimum(u_seg, U64(d))), ZERO)
    regs[idxs[starts]] = (u_seg << U64(d)) | b_seg
    return regs


def _build_registers_dense(
    idx: np.ndarray, k: np.ndarray, m: int, d: int, K: int
) -> np.ndarray:
    """Dense-grid strategy of :func:`build_registers` (same semantics,
    byte-identical output — pinned by a cross-strategy property test):
    mark every distinct (register, k) cell present with one bincount, then
    fold the m x K grid: u = max present k per register, history bit at
    ``d - (u - k')`` for present k' with 0 < u - k' <= d, plus the
    empty-register ``1 << (d - u)`` first-insert term."""
    keys = (idx * U64(K) + k).astype(np.int64)
    pres = np.bincount(keys, minlength=m * K).astype(bool).reshape(m, K)
    any_row = pres.any(axis=1)
    # highest present k per register (rows with no presence are masked out)
    u = (K - 1 - np.argmax(pres[:, ::-1], axis=1)).astype(np.int64)
    delta = u[:, None] - np.arange(K, dtype=np.int64)[None, :]
    valid = pres & (delta > 0) & (delta <= d)
    bitpos = np.clip(d - delta, 0, d).astype(np.uint64)
    b = np.bitwise_or.reduce(
        np.where(valid, ONE << bitpos, ZERO), axis=1
    )
    u64 = u.astype(np.uint64)
    b |= np.where(u64 <= U64(d), ONE << (U64(d) - np.minimum(u64, U64(d))), ZERO)
    return np.where(any_row, (u64 << U64(d)) | b, ZERO)


def merge_register_vec(r1: np.ndarray, r2: np.ndarray, d: int) -> np.ndarray:
    """Element-wise register merge — Algorithm 5 (≙ ExaLogLog.java:319-331)."""
    dd = U64(d)
    u1 = r1 >> dd
    u2 = r2 >> dd
    x = ONE << dd
    low = x - ONE
    c12 = rshift_clamped(x | (r2 & low), u1 - u2)  # u1 > u2 path
    c21 = rshift_clamped(x | (r1 & low), u2 - u1)  # u2 > u1 path
    out = r1 | r2
    out = np.where((u1 > u2) & (u2 > ZERO), r1 | c12, out)
    out = np.where((u2 > u1) & (u1 > ZERO), r2 | c21, out)
    return out


def merge_registers_many(stack: np.ndarray, d: int) -> np.ndarray:
    """Merge a ``(k, m)`` stack of same-config register arrays into one
    m-array with O(log k) *vectorized* :func:`merge_register_vec` calls
    (every op in Algorithm 5 is elementwise, so it runs on 2D halves
    directly). Byte-identical to any sequential pairwise fold — register
    merge is associative, commutative, and idempotent (property-tested) —
    but amortizes numpy call overhead across pairs: per-pair cost drops
    ~10x when folding many KB states (tree-merge reducers, driver folds).
    """
    while stack.shape[0] > 1:
        half = stack.shape[0] // 2
        merged = merge_register_vec(stack[:half], stack[half : 2 * half], d)
        if stack.shape[0] % 2:
            stack = np.concatenate([merged, stack[2 * half :]], axis=0)
        else:
            stack = merged
    return stack[0]


def _downsize_register_vec(
    r: np.ndarray, t: int, from_d: int, to_d: int, from_p: int, to_p: int, sub_idx: int
) -> np.ndarray:
    """Re-scale registers from (from_d, from_p) to (to_d, to_p) for the
    sub-block ``sub_idx`` — ≙ ExaLogLog.java:296-316."""
    threshold_u = U64(((64 - t - from_p) << t) + 1)
    u = r >> U64(from_d)
    out = r >> U64(from_d - to_d)
    shift = ((from_p - to_p) - (sub_idx.bit_length())) << t
    if shift > 0:
        hot = u >= threshold_u
        num_bits = (U64(to_d) + threshold_u).astype(np.int64) - u.astype(np.int64)
        do_mask = hot & (num_bits > 0)
        nb = np.clip(num_bits, 0, 63).astype(np.uint64)
        mask = MASK64 << nb
        shifted = (
            (mask & out) | rshift_clamped(out & ~mask, np.full_like(out, U64(shift)))
        )
        out = np.where(do_mask, shifted, out)
        out = np.where(hot, out + (U64(shift) << U64(to_d)), out)
    return out


def contribute_reference(r: int, b: list, t: int, d: int, p: int) -> int:
    """Literal Algorithm 3 from the paper (scalar, test oracle) — mirrors the
    reference's own oracle at ExaLogLogTest.java:156-186. Returns the scaled
    'a' contribution mod 2^64 and accumulates the b histogram."""

    def phi(k: int) -> int:
        if k == 0:
            return t
        return min(t + 1 + ((k - 1) >> t), 64 - p)

    def omega_scaled(u: int) -> int:
        j = phi(u)
        return ((((1 - t + j) << t) - u) << ((-p - j) & 63)) & 0xFFFFFFFFFFFFFFFF

    u = r >> d
    a = omega_scaled(u)
    if u >= 1:
        j = phi(u)
        b[j - t - 1] += 1
        if u >= 2:
            for k in range(max(1, u - d), u):
                j = phi(k)
                if (r & (1 << (d - u + k))) == 0:
                    a = (a + (1 << ((-p - j) & 63))) & 0xFFFFFFFFFFFFFFFF
                else:
                    b[j - t - 1] += 1
    return a


@np.errstate(over="ignore")  # deliberate mod-2^64 wraparound
def contribute_vec_batch(regs2d: np.ndarray, t: int, d: int, p: int):
    """ML coefficients of a (B, m) register matrix — the one Algorithm 3
    kernel; a single sketch is the row ``regs[None, :]``.

    Optimized-form semantics ≙ ExaLogLog.java:554-582 (verified against
    :func:`contribute_reference` in tests). Returns ``(agg, b)`` with
    ``agg`` the uint64 (B,) mod-2^64 row sums of per-register
    contributions (deliberate wraparound — ExaLogLog.java:587,593) and
    ``b`` the int64 (B, 64) row histograms.
    """
    # Layout: one flat array of all nonzero registers, row-major so each
    # row's registers are contiguous. Per-element work is plain vector ops;
    # row aggregation happens ONCE at the end (uint64 add.reduceat for agg,
    # one bincount for b) — np.add.at per pass is ~50x slower.
    B, m = regs2d.shape
    q = 63 - t - p
    u = regs2d >> U64(d)
    nz = np.flatnonzero(u)
    counts = np.count_nonzero(u, axis=1)
    # u == 0 contributes 2^(64-p)  (ExaLogLog.java:556 `1L << -p`)
    agg = U64((1 << (64 - p)) & 0xFFFFFFFFFFFFFFFF) * (m - counts).astype(np.uint64)
    if len(nz) == 0:
        return agg, np.zeros((B, 64), dtype=np.int64)
    r = regs2d.reshape(-1)[nz]
    un = u.reshape(-1)[nz]
    row64 = (nz // m) * 64
    j = (un - ONE) >> U64(t)
    i0 = np.minimum(U64(q), j)
    num_bits = (un - ONE) - (i0 << U64(t))
    dd = U64(d)
    L = np.where(num_bits >= dd, ZERO, dd - np.minimum(num_bits, dd))
    mask = lshift_clamped(np.full_like(r, MASK64), L)
    # level i0 reads the d - L history bits [L, d): the set ones count
    # into b, the unset ones into a
    cnt = popcount64(r & mask & ((ONE << dd) - ONE))
    a_elem = ((((i0 + U64(2)) << U64(t)) - un) + (dd - L - cnt)) << (U64(q) - i0)
    b_keys = [row64 + i0.astype(np.int64)]
    b_vals = [(ONE + cnt).astype(np.int64)]

    i_cur = i0.astype(np.int64)
    if t <= 5:
        shift = U64(1 << t)
        lo = np.where(L >= shift, L - shift, ZERO)
        wmask = lshift_clamped(np.full_like(r, MASK64), lo) ^ mask
        # pass k reads window bits [hi - shift, hi), hi = L - k·shift,
        # clipped at 0: min(hi, shift) bits, so unset = that - set
        hi = L.astype(np.int64)
        while True:
            active = (i_cur > 0) & (wmask != ZERO)
            if not active.any():
                break
            i_cur = np.where(active, i_cur - 1, i_cur)
            cnt = popcount64(wmask & r).astype(np.int64)
            unset = (np.minimum(hi, 1 << t) - cnt).astype(np.uint64)
            a_elem = a_elem + np.where(active, unset << (q - i_cur).astype(np.uint64), ZERO)
            act = active & (cnt > 0)
            b_keys.append(row64[act] + i_cur[act])
            b_vals.append(cnt[act])
            # an inactive element never turns active again, so no mask here
            wmask >>= shift
            hi -= 1 << t
    else:  # t > 5: single residual window [0, L) (ExaLogLog.java:575-580)
        active = i_cur > 0
        if active.any():
            i_cur = np.where(active, i_cur - 1, i_cur)
            qi = (q - i_cur).astype(np.uint64)
            cnt = popcount64(~mask & r)
            a_elem = a_elem + np.where(active, (L - cnt) << qi, ZERO)
            act = active & (cnt > ZERO)
            b_keys.append(row64[act] + i_cur[act])
            b_vals.append(cnt[act].astype(np.int64))

    # one segmented reduction per output: rows are contiguous, so agg sums
    # are add.reduceat over row boundaries (uint64 dtype preserved -> exact
    # mod-2^64 wraparound); b cells sum exactly in one float64 bincount
    # (counts are tiny integers, far below 2^53)
    nonempty = counts > 0
    starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
    np.cumsum(counts[nonempty][:-1], out=starts[1:])
    agg[nonempty] += np.add.reduceat(a_elem, starts)
    b = np.bincount(
        np.concatenate(b_keys), weights=np.concatenate(b_vals), minlength=B * 64
    )
    return agg, b.astype(np.int64).reshape(B, 64)


def estimate_from_coefficients(
    agg: np.ndarray, b: np.ndarray, t: int, d: int, p: int,
    iters_out: np.ndarray | None = None,
) -> np.ndarray:
    """Batched final estimation step shared by :func:`estimate_batch` and
    the exhaustive enumeration — mirrors ExaLogLog.estimate row-wise,
    including the agg == 0 saturation edge (0 or +inf by b[63-t-p]).

    ``iters_out`` (optional int64 (B,)) receives Newton iteration counts —
    forced to 0 on the agg == 0 rows, where the reference never invokes
    the solver (its error CSVs show 0 iterations at 1e21 saturation)."""
    m = 1 << p
    # exact uint64 -> correctly-rounded float64 via 32-bit halves (uint64
    # astype float64 is a scalar loop AND this keeps Java-double rounding)
    af = (agg >> U64(32)).astype(np.uint32).astype(np.float64) * 4294967296.0 + (
        agg & U64(0xFFFFFFFF)
    ).astype(np.uint32).astype(np.float64)
    factor = float(m << (t + 1))
    a = af * math.ldexp(1.0, -64) * factor
    x = solve_ml_equation_batch(a, b, 63 - p - t, iters_out=iters_out)
    est = factor * x / (1.0 + ml_bias_correction(t, d) / m)
    zero_rows = agg == ZERO
    if zero_rows.any():
        sat = np.asarray(b)[:, 63 - t - p] != 0
        est = np.where(zero_rows, np.where(sat, np.inf, 0.0), est)
        if iters_out is not None:
            iters_out[zero_rows] = 0
    return est


def estimate_batch(regs2d: np.ndarray, t: int, d: int, p: int) -> np.ndarray:
    """ML estimates for a batch of register states (B, m) in one shot."""
    agg, b = contribute_vec_batch(regs2d, t, d, p)
    return estimate_from_coefficients(agg, b, t, d, p)


# ---------------------------------------------------------------------------
# the sketch object
# ---------------------------------------------------------------------------


class ExaLogLog:
    """Mergeable distinct-count sketch over 64-bit hashes / 32-bit tokens."""

    __slots__ = ("cfg", "regs")

    def __init__(self, cfg: ExaLogLogConfig, regs: np.ndarray):
        self.cfg = cfg
        self.regs = regs

    # ----- 5-op protocol (≙ SketchConfig.java:345-353) -----

    @classmethod
    def create(cls, t: int = 2, d: int = 20, p: int = 10) -> "ExaLogLog":
        cfg = ExaLogLogConfig(t, d, p)
        return cls(cfg, np.zeros(cfg.m, dtype=np.uint64))  # ExaLogLog.java:85-94

    @classmethod
    def from_config(cls, cfg: ExaLogLogConfig) -> "ExaLogLog":
        return cls(cfg, np.zeros(cfg.m, dtype=np.uint64))

    def copy(self) -> "ExaLogLog":
        return ExaLogLog(self.cfg, self.regs.copy())

    def reset(self) -> "ExaLogLog":
        self.regs[:] = ZERO
        return self

    def add_hashes(self, hashes: np.ndarray) -> "ExaLogLog":
        """Batch insert of 64-bit hash values (vectorized).

        Fast path: an update with ``k < u - d`` for its register can never
        change state (u only grows, so it stays below the history window).
        One gather + compare drops those before the sort — once registers
        warm up, >99% of a high-cardinality stream is filtered here,
        making sustained insert cost ~1 gather/compare per element.

        Large inputs are processed in chunks (>= 8x m each, so the per-chunk
        register merge amortizes) so the sketch WARMS UP after the first
        chunk and the no-op filter takes over for the rest — a single huge
        cold batch would otherwise sort every element. Byte-identical to
        single-batch processing by the merge algebra (pinned by golden
        fingerprints + merge==single-build tests).
        """
        chunk = max(1 << 18, 8 * self.cfg.m)
        if len(hashes) > chunk:
            for i in range(0, len(hashes), chunk):
                self.add_hashes(hashes[i : i + chunk])
            return self
        d = U64(self.cfg.d)
        idx, k = hash_to_idx_k(hashes, self.cfg.t, self.cfg.p)
        # engage the filter only once registers are warm (cold sketches keep
        # ~all elements, so the gather would be pure overhead)
        if np.count_nonzero(self.regs) * 10 > 9 * self.cfg.m:
            u_cur = self.regs[idx] >> d
            keep = (k + d) >= u_cur
            if not keep.all():
                idx, k = idx[keep], k[keep]
        batch = build_registers(idx, k, self.cfg.m, self.cfg.d)
        self.regs = merge_register_vec(self.regs, batch, self.cfg.d)
        return self

    def add_tokens(self, tokens: np.ndarray, v: int = V_MAX) -> "ExaLogLog":
        """Batch insert of (v+6)-bit tokens; invalid tokens are skipped
        (≙ ExaLogLog.java:266-268 + token-stream contract
        DistinctCountUtil.java:158-159)."""
        tok = as_u64(tokens)
        tok = tok[is_valid_token(tok, v)]
        return self.add_hashes(reconstruct_hash(tok, v))

    def merge_(self, other: "ExaLogLog") -> "ExaLogLog":
        """In-place merge ≙ ExaLogLog.add(ExaLogLog) (ExaLogLog.java:343-405).

        Requires other.t == t, other.d >= d, other.p >= p.
        """
        if other.cfg.t != self.cfg.t:
            raise ValueError("merging sketches with different t-parameter is not possible")
        if other.cfg.d < self.cfg.d:
            raise ValueError("other has smaller d-parameter")
        if other.cfg.p < self.cfg.p:
            raise ValueError("other has smaller precision")
        t, d, p = self.cfg.t, self.cfg.d, self.cfg.p
        if other.cfg.d == d and other.cfg.p == p:  # fast path (java:357-366)
            self.regs = merge_register_vec(self.regs, other.regs, d)
            return self
        m = self.cfg.m
        max_sub = 1 << (other.cfg.p - p)
        merged = _downsize_register_vec(
            other.regs[0:m], t, other.cfg.d, d, other.cfg.p, p, 0
        )
        for sub in range(1, max_sub):
            blk = _downsize_register_vec(
                other.regs[sub * m : (sub + 1) * m], t, other.cfg.d, d, other.cfg.p, p, sub
            )
            merged = merge_register_vec(merged, blk, d)
        self.regs = merge_register_vec(self.regs, merged, d)
        return self

    @staticmethod
    def merge(a: "ExaLogLog", b: "ExaLogLog") -> "ExaLogLog":
        """Out-of-place merge; result takes min p / min d (java:200-219)."""
        if a.cfg.t != b.cfg.t:
            raise ValueError("t-parameter is not equal")
        if a.cfg.p <= b.cfg.p:
            base = a if a.cfg.d <= b.cfg.d else a.downsize(b.cfg.d, a.cfg.p)
            return base.copy().merge_(b) if base is a else base.merge_(b)
        base = b if b.cfg.d <= a.cfg.d else b.downsize(a.cfg.d, b.cfg.p)
        return base.copy().merge_(a) if base is b else base.merge_(a)

    def downsize(self, d: int, p: int) -> "ExaLogLog":
        """Copy with smaller (d, p) ≙ ExaLogLog.java:416-424."""
        if p >= self.cfg.p and d >= self.cfg.d:
            return self.copy()
        out = ExaLogLog.create(self.cfg.t, d, p)
        return out.merge_(self)

    # ----- estimation -----

    def estimate(self, stats: dict | None = None) -> float:
        """ML distinct-count estimate ≙ ExaLogLog.java:584-607.

        ``stats`` (optional dict) receives the Newton ``iterations`` count —
        the solver-health signal the reference records per rung in its
        error CSVs (ExaLogLogEstimationErrorSimulation.java:153-159).
        """
        t, d, p = self.cfg.t, self.cfg.d, self.cfg.p
        agg, b = contribute_vec_batch(self.regs[None, :], t, d, p)
        agg, b = int(agg[0]), b[0].tolist()
        if agg == 0:
            return 0.0 if b[63 - t - p] == 0 else float("inf")
        factor = float(self.cfg.m << (t + 1))
        a = unsigned_to_double(agg) * pow2(-64) * factor
        x = solve_maximum_likelihood_equation(a, b, 63 - p - t, 0.0, stats=stats)
        return factor * x / (1.0 + ml_bias_correction(t, d) / self.cfg.m)

    def state_change_probability(self) -> float:
        """≙ ExaLogLog.java:524-544 (incl. the all-zero 2^64 overflow case)."""
        t, d, p = self.cfg.t, self.cfg.d, self.cfg.p
        agg = int(contribute_vec_batch(self.regs[None, :], t, d, p)[0][0])
        first = int(contribute_vec_batch(self.regs[None, :1], t, d, p)[0][0])
        if agg != 0 or first == 0:
            return unsigned_to_double(agg) * pow2(-64)
        return 1.0

    # ----- serialization -----

    def serialize(self) -> bytes:
        """Bit-packed register state; same byte length as the reference's
        getState() (e.g. ELL(2,20,8) -> 896 bytes, BASELINE.md)."""
        return pack_registers(self.regs[None, :], self.cfg.register_bits)[0].tobytes()

    @classmethod
    def wrap(cls, t: int, d: int, state: bytes) -> "ExaLogLog":
        """Derive p from the byte length and validate ≙ ExaLogLog.java:178-188."""
        reg_bits = 6 + t + d
        m = (len(state) << 3) // reg_bits
        if m <= 0:
            raise ValueError("unexpected state length!")
        p = m.bit_length() - 1
        if p < MIN_P or p > max_p(t) or (((reg_bits << p) + 7) >> 3) != len(state):
            raise ValueError("unexpected state length!")
        cfg = ExaLogLogConfig(t, d, p)
        data = np.frombuffer(state, dtype=np.uint8)[None, :]
        return cls(cfg, unpack_registers(data, reg_bits, cfg.m)[0])


# ---------------------------------------------------------------------------
# sketch-free token-stream estimator (≙ DistinctCountUtil.java:215-264)
# ---------------------------------------------------------------------------


def estimate_distinct_from_tokens(
    tokens: np.ndarray, v: int = V_MAX, stats: dict | None = None
) -> float:
    """Estimate the distinct count directly from a token array.

    Vectorized form of the reference's sorted-stream algorithm: dedup via
    np.unique (the per-idx 64-bit-flag trick collapses to token uniqueness),
    histogram the nlz field, uint64-wraparound accumulator with the 0 ≡ 2^64
    convention, then the shared ML solve scaled by 2^(v+1). ``stats``
    receives the Newton ``iterations`` count (the reference records it per
    rung in its token-error CSVs).
    """
    tok = as_u64(np.asarray(tokens))
    tok = np.unique(tok[is_valid_token(tok, v)])
    if len(tok) == 0:
        return 0.0
    max_nlz_m1 = 63 - v
    z = U64(1 << max_nlz_m1)
    jj = np.minimum(tok & U64(63), U64(max_nlz_m1))
    b = np.bincount(jj.astype(np.int64), minlength=64).astype(np.int64)
    with np.errstate(over="ignore"):  # 0 ≡ 2^64 wraparound convention
        a = (ZERO - np.sum(z >> jj, dtype=np.uint64)) & MASK64
    max_nonzero = int(np.max(jj))
    x = solve_maximum_likelihood_equation(
        unsigned_to_double(int(a)) * pow2(-max_nlz_m1),
        b.tolist(),
        max_nonzero,
        0.0,
        stats=stats,
    )
    return x * pow2(v + 1)
