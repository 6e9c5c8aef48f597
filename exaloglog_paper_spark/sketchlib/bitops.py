"""Vectorized 64-bit integer primitives (numpy 1.26-safe).

These are the numpy counterparts of the bit-twiddling helpers the reference
uses on the JVM (``DistinctCountUtil.java:266-274`` unsignedLongToDouble/pow2,
``Long.numberOfLeadingZeros`` / ``Long.bitCount`` intrinsics). We target
numpy 1.26 where ``np.bitwise_count`` does not exist and scalar/array
promotion of uint64 is finicky, so every constant is pre-wrapped as uint64.

Design rule for the whole sketchlib: *vectors* are ``np.uint64`` arrays and
all bit math happens through the helpers here; *scalars* (solver, config
math) use plain Python ints, which are arbitrary-precision and safe.
"""

from __future__ import annotations

import functools

import numpy as np

U64 = np.uint64
MASK64 = U64(0xFFFFFFFFFFFFFFFF)
ZERO = U64(0)
ONE = U64(1)

_M1 = U64(0x5555555555555555)
_M2 = U64(0x3333333333333333)
_M4 = U64(0x0F0F0F0F0F0F0F0F)
_H01 = U64(0x0101010101010101)

# splitmix64 constants (public domain PRNG finalizer; equivalent hash quality
# to the murmur3 the reference benchmarks with, SketchConfig.java:343)
_SM_GAMMA = U64(0x9E3779B97F4A7C15)
_SM_MUL1 = U64(0xBF58476D1CE4E5B9)
_SM_MUL2 = U64(0x94D049BB133111EB)


def as_u64(x) -> np.ndarray:
    """View/convert *x* to a uint64 array without changing bits for int64."""
    a = np.asarray(x)
    if a.dtype == np.uint64:
        return a
    if a.dtype in (np.int64,):
        return a.view(np.uint64)
    return a.astype(np.uint64)


def popcount64(x: np.ndarray) -> np.ndarray:
    """Per-element population count of a uint64 array (SWAR)."""
    x = x - ((x >> ONE) & _M1)
    x = (x & _M2) + ((x >> U64(2)) & _M2)
    x = (x + (x >> U64(4))) & _M4
    return (x * _H01) >> U64(56)


def nlz64(x: np.ndarray) -> np.ndarray:
    """Per-element number of leading zeros of a uint64 array.

    Exact for all 2^64 inputs via the float64 exponent of the value's
    nonzero 32-bit half: uint32 always fits the 53-bit mantissa exactly, so
    the conversion can never round across a power of two (which is what
    makes a naive ``log2`` on the full 64 bits wrong near 2^63). uint32 ->
    float64 is SIMD-vectorized on numpy 1.26 where uint64 -> float64 is a
    scalar loop (~10x slower).
    """
    hi = (x >> U64(32)).astype(np.uint32)
    lo = x.astype(np.uint32)  # truncating cast = low 32 bits
    use_hi = hi != 0
    v = np.where(use_hi, hi, lo)
    # uint32 < 2^53 converts to float64 exactly -> frexp exponent == bit length
    _, e = np.frexp(v.astype(np.float64))
    bitlen = e.astype(np.int64) + (use_hi.astype(np.int64) << 5)
    return (64 - bitlen).astype(np.uint64)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 hash: uniform 64-bit hash of uint64 input.

    Implements the full stream form h(x) = finalize(x·γ + γ) (Vigna 2015,
    public domain), not the bare finalizer: the γ pre-multiplication is what
    decorrelates *consecutive/low-entropy* inputs (counter streams, token
    ids). With the bare finalizer, ExaLogLog estimates over counter streams
    showed a systematic -3% bias; with the γ step the empirical rmse matches
    the reference's published curve (see tests/test_error_simulation.py).
    """
    with np.errstate(over="ignore"):
        z = as_u64(x) * _SM_GAMMA + _SM_GAMMA
        z = (z ^ (z >> U64(30))) * _SM_MUL1
        z = (z ^ (z >> U64(27))) * _SM_MUL2
        return z ^ (z >> U64(31))


def splitmix64_stream(seed: int, n: int, offset: int = 0) -> np.ndarray:
    """Deterministic stream of n 64-bit hashes: splitmix64(seed + i)."""
    idx = np.arange(offset, offset + n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return splitmix64(idx + U64(seed & 0xFFFFFFFFFFFFFFFF))


def rshift_clamped(v: np.ndarray, s: np.ndarray) -> np.ndarray:
    """``v >>> s`` with Java's shiftRight(s>=64)->0 semantics.

    Mirrors ``ExaLogLog.java:288-294`` (shiftRight). numpy's >> is undefined
    for shifts >= 64, so clamp then mask.
    """
    s_c = np.minimum(s, U64(63)).astype(np.uint64)
    out = v >> s_c
    return np.where(s <= U64(63), out, ZERO)


def lshift_clamped(v: np.ndarray, s: np.ndarray) -> np.ndarray:
    """``v << s`` returning 0 where s >= 64."""
    s_c = np.minimum(s, U64(63)).astype(np.uint64)
    out = v << s_c
    return np.where(s <= U64(63), out, ZERO)


def unsigned_to_double(x: int) -> float:
    """Unsigned 64-bit value -> float, ≙ DistinctCountUtil.java:266-270."""
    return float(x & 0xFFFFFFFFFFFFFFFF)


def pow2(x: int) -> float:
    """Exact power of two, ≙ DistinctCountUtil.java:272-274."""
    import math

    return math.ldexp(1.0, x)


@functools.lru_cache(maxsize=None)
def _pack_layout(m: int, width: int):
    """Where each of m width-bit registers lands in 64-bit words: its word,
    shift and run start (first register of each word), plus the registers
    that straddle into the next word, their target word and spill shift."""
    bitpos = np.arange(m, dtype=np.int64) * width
    word = bitpos >> 6
    rem = (bitpos & 63).astype(np.uint64)
    starts = np.flatnonzero(np.diff(word, prepend=-1))
    spill = np.flatnonzero(rem + U64(width) > U64(64))
    return (
        rem, starts, word[starts], spill, word[spill] + 1,
        U64(64) - rem[spill], (m * width + 63) >> 6,
    )


def pack_registers(regs: np.ndarray, width: int) -> np.ndarray:
    """Bit-pack a (B, m) uint64 register matrix at `width` bits per
    register: (B, nbytes) uint8, register i at bits [i·width, (i+1)·width)
    of its row, little-endian bit order.

    Each row is ``((width << p) + 7) >> 3`` bytes for ``m = 2^p`` — the
    reference's PackedArray-backed ``getState()`` size
    (``ExaLogLog.java:93,182-185``). Registers occupy disjoint bits, so OR
    is ADD: each output word is one ``add.reduceat`` of ``reg << rem`` over
    the registers starting in it, plus the spill of the one straddling in.
    The words are stored ``'<u8'``, so the bytes are host-order independent.
    Temporaries are bounded via ~64 MB row chunks.
    """
    regs = np.asarray(regs, dtype=np.uint64)
    B, m = regs.shape
    rem, starts, run_words, spill, spill_words, spill_shift, nwords = _pack_layout(
        m, width
    )
    words = np.zeros((B, nwords), dtype="<u8")
    step = max(1, (1 << 23) // m)
    for s in range(0, B, step):
        chunk = regs[s : s + step]
        words[s : s + step, run_words] = np.add.reduceat(chunk << rem, starts, axis=1)
        words[s : s + step, spill_words] += chunk[:, spill] >> spill_shift
    return words.view(np.uint8)[:, : (m * width + 7) >> 3]


@functools.lru_cache(maxsize=None)
def _unpack_layout(m: int, width: int):
    """Per register: the byte its bits start in and their offset there,
    plus the registers whose bits run past that byte's 8-byte word
    (width >= 58) with their ninth byte and the shift it takes."""
    bitpos = np.arange(m, dtype=np.int64) * width
    byte_off = bitpos >> 3
    rem = (bitpos & 7).astype(np.uint64)
    spill = np.flatnonzero(rem + U64(width) > U64(64))
    return byte_off, rem, spill, byte_off[spill] + 8, U64(64) - rem[spill]


def unpack_registers(data: np.ndarray, width: int, m: int) -> np.ndarray:
    """Inverse of :func:`pack_registers`: (B, nbytes) uint8 -> (B, m) uint64.

    One unaligned little-endian 8-byte load per register, shifted and
    masked; the registers whose ``rem + width`` exceeds 64 OR in their
    ninth byte. No per-bit expansion — ``wrap`` sits on the merge hot path
    of every distributed aggregation."""
    data = np.asarray(data, dtype=np.uint8)
    B, nbytes = data.shape
    byte_off, rem, spill, spill_byte, spill_shift = _unpack_layout(m, width)
    buf = np.zeros((B, nbytes + 9), dtype=np.uint8)
    buf[:, :nbytes] = data
    # each row's byte offsets j = 0..nbytes as the '<u8' word of bytes j..j+7
    words = np.ndarray((B, nbytes + 1), "<u8", buf, strides=(buf.strides[0], 1))
    regs = words[:, byte_off].astype(np.uint64, copy=False) >> rem
    regs[:, spill] |= buf[:, spill_byte].astype(np.uint64) << spill_shift
    return regs & (MASK64 >> U64(64 - width))
