"""SketchSpec adapters for the companion sketches (count-min, KLL,
t-digest, Bloom, theta/KMV, ...) so they run through the same sketch_agg
partial/tree-merge pipeline as ExaLogLog, plus result-extraction helpers.
An adapter over a sketchlib class declares it as ``state_cls`` (``SketchSpec``).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from ..sketchlib.bitops import splitmix64
from ..sketchlib.bloom import BloomConfig, BloomFilter
from ..sketchlib.countmin import CountMin, CountMinConfig
from ..sketchlib.countsketch import CountSketch, CountSketchConfig
from ..sketchlib.freqitems import FreqItemsConfig, MisraGries
from ..sketchlib.kll import KLL, KLLConfig
from ..sketchlib.prioritysample import PrioritySample, PrioritySampleConfig
from ..sketchlib.tailquantile import TailQuantile, TailQuantileConfig
from ..sketchlib.tdigest import TDigest, TDigestConfig
from ..sketchlib import theta as theta_lib
from .agg import Extractor, SketchSpec, flat_list_values, sketch_agg


class CountMinSpec(SketchSpec):
    """Count-min + tracked heavy-hitter candidates.

    State = (CountMin matrix, candidate id array). ``add`` consumes raw
    *int64 item ids* (not hashes) so candidates stay identifiable; each
    batch keeps its local top-``track`` ids (space-saving style pruning),
    the merged sketch queries the merged candidate set — at most
    ``track × partials`` driver-side rows, never the raw stream.
    """

    def __init__(self, width: int = 8192, depth: int = 5, track: int = 512):
        self.cfg = CountMinConfig(width, depth)
        self.track = track
        self.name = f"countmin_w{width}_d{depth}"

    def empty(self):
        return (CountMin(self.cfg), np.empty(0, dtype=np.int64))

    def add(self, state, values: np.ndarray):
        cm, cand = state
        ids = values.astype(np.int64, copy=False)
        cm.add_hashes(splitmix64(ids.view(np.uint64)))
        vals, counts = np.unique(ids, return_counts=True)
        if len(vals) > self.track:
            keep = np.argsort(-counts, kind="stable")[: self.track]
            vals = vals[keep]
        cand = np.unique(np.concatenate([cand, vals]))
        if len(cand) > 8 * self.track:
            # prune by current CMS estimate
            est = cm.query(splitmix64(cand.view(np.uint64)))
            cand = cand[np.argsort(-est, kind="stable")[: 4 * self.track]]
        return (cm, cand)

    def merge(self, a, b):
        cm = a[0].merge_(b[0])
        cand = np.unique(np.concatenate([a[1], b[1]]))
        if len(cand) > 8 * self.track:
            est = cm.query(splitmix64(cand.view(np.uint64)))
            cand = cand[np.argsort(-est, kind="stable")[: 4 * self.track]]
        return (cm, cand)

    def serialize(self, state) -> bytes:
        cm, cand = state
        head = struct.pack("<i", len(cand))
        return head + cand.astype("<i8").tobytes() + cm.serialize()

    def deserialize(self, data: bytes):
        (n,) = struct.unpack_from("<i", data, 0)
        cand = np.frombuffer(data, dtype="<i8", count=n, offset=4).copy()
        cm = CountMin.deserialize(self.cfg, data[4 + 8 * n :])
        return (cm, cand)

    def finalize(self, state) -> float:
        return float(state[0].total)

    def heavy_hitters(self, state, k: int) -> list[tuple[int, int]]:
        cm, cand = state
        if len(cand) == 0:
            return []
        est = cm.query(splitmix64(cand.view(np.uint64)))
        order = np.lexsort((cand, -est))[:k]
        return [(int(cand[i]), int(est[i])) for i in order]


class CountSketchSpec(SketchSpec):
    """Count sketch / AMS (sketchlib/countsketch.py): LINEAR state — merge
    is elementwise int64 addition, so byte-identity under any partitioning
    is structural. ``add`` consumes pre-hashed 64-bit values (uint64);
    finalize reports the AMS F2 (self-join size) estimate. Point-frequency
    queries and cross-sketch ``inner_product`` (equi-join size) ride the
    same state via ``deserialize``."""

    state_cls = CountSketch

    def __init__(self, width: int = 8192, depth: int = 5):
        self.cfg = CountSketchConfig(width, depth)
        self.name = f"countsketch_w{width}_d{depth}"

    def add(self, state: CountSketch, values: np.ndarray) -> CountSketch:
        return state.add_hashes(values)

    def merge_many(self, states):
        states = list(states)
        if not states:
            return self.empty()
        out = states[0]
        if len(states) > 1:
            # linearity: fold all tables in one numpy reduction
            out.table += np.sum([s.table for s in states[1:]], axis=0)
        return out

    def finalize(self, state: CountSketch) -> float:
        return state.f2()


class KLLSpec(SketchSpec):
    state_cls = KLL

    def __init__(self, k: int = 200):
        self.cfg = KLLConfig(k)
        self.name = f"kll_k{k}"

    def add(self, state: KLL, values: np.ndarray) -> KLL:
        return state.add_values(values)

    def finalize(self, state: KLL) -> float:
        return float(state.quantile(0.5))


class TDigestSpec(SketchSpec):
    state_cls = TDigest

    def __init__(self, delta: float = 200.0):
        self.cfg = TDigestConfig(delta)
        self.name = f"tdigest_d{int(delta)}"

    def add(self, state: TDigest, values: np.ndarray) -> TDigest:
        return state.add_values(values)

    def finalize(self, state: TDigest) -> float:
        return float(state.quantile(0.5))


class TailQuantileSpec(SketchSpec):
    """Exact tail order statistics: state = the m smallest + m largest
    values (sorted multisets) + exact n. EXACT quantiles within m ranks of
    either end under byte-identical merges (sketchlib/tailquantile.py);
    pair with KLL/t-digest for the body."""

    state_cls = TailQuantile

    def __init__(self, m: int = 4096):
        self.cfg = TailQuantileConfig(m)
        self.name = f"tailq_m{m}"

    def add(self, state: TailQuantile, values: np.ndarray) -> TailQuantile:
        return state.add_values(values)

    def finalize(self, state: TailQuantile) -> float:
        return state.max


class BloomSpec(SketchSpec):
    state_cls = BloomFilter

    def __init__(self, num_bits: int = 1 << 22, num_hashes: int = 7):
        self.cfg = BloomConfig(num_bits, num_hashes)
        self.name = f"bloom_m{num_bits}_k{num_hashes}"

    def add(self, state: BloomFilter, values: np.ndarray) -> BloomFilter:
        return state.add_hashes(values)

    def finalize(self, state: BloomFilter) -> float:
        return float(state.n_added)


class _KMinSpec(SketchSpec):
    """State = the k smallest distinct 64-bit values seen (sorted unique
    ``<u8``; variable length, <= 8k bytes). The k smallest of a union are
    each among their side's k smallest, so merges are byte-identical under
    any partitioning. Subclasses set ``k`` and ``name`` and write
    ``finalize``."""

    k: int

    def empty(self) -> np.ndarray:
        return np.empty(0, dtype=np.uint64)

    def add(self, state: np.ndarray, values: np.ndarray) -> np.ndarray:
        return theta_lib.kmin_update(state, values, self.k)

    def merge(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        return theta_lib.kmin_merge(a, b, self.k)

    def merge_many(self, states):
        return theta_lib.kmin_merge_many(list(states), self.k)

    def serialize(self, state: np.ndarray) -> bytes:
        return state.astype("<u8").tobytes()

    def deserialize(self, data: bytes) -> np.ndarray:
        return np.frombuffer(data, dtype="<u8").copy()


class ThetaSpec(_KMinSpec):
    """Theta/KMV sketch over 64-bit hashes. Native set algebra —
    intersection/difference via sketchlib.theta.estimate_set_ops."""

    def __init__(self, k: int = 4096):
        self.k = k
        self.name = f"theta_k{k}"

    def finalize(self, state: np.ndarray) -> float:
        return theta_lib.estimate_distinct(state, self.k)

    def theoretical_rse(self) -> float:
        return 1.0 / float(np.sqrt(self.k - 2))

    def set_ops(self, state_a: bytes, state_b: bytes) -> dict:
        return theta_lib.estimate_set_ops(
            self.deserialize(state_a), self.deserialize(state_b), self.k
        )


class MisraGriesSpec(SketchSpec):
    """Misra-Gries frequent items (deterministic heavy hitters).

    ``add`` consumes raw *int64 item ids* (like CountMinSpec) so the
    retained items stay identifiable. The retained counter SET depends on
    partitioning (like KLL/t-digest, unlike the register sketches); the
    guarantee ``est(x) <= true(x) <= est(x) + err_bound`` with
    ``err_bound <= n/(k+1)`` is partitioning-invariant and is what the
    tests pin (sketchlib/freqitems.py module docstring)."""

    state_cls = MisraGries

    def __init__(self, k: int = 256):
        self.cfg = FreqItemsConfig(k)
        self.name = f"misragries_k{k}"

    def add(self, state: MisraGries, values: np.ndarray) -> MisraGries:
        return state.add_ids(values)

    def merge_many(self, states):
        states = list(states)
        if not states:
            return self.empty()
        return states[0].merge_many_(states[1:])

    def finalize(self, state: MisraGries) -> float:
        return float(state.err_bound)


class BottomKSampleSpec(_KMinSpec):
    """Bottom-k priority sample: state = the k smallest 64-bit priorities
    seen — the KMV state of ``ThetaSpec``, so the EXACT merge algebra
    holds byte-for-byte under any partitioning.

    With a key-pure priority (md5 of the row key, computed JVM-side), the
    retained set is a uniform fixed-size sample of distinct keys that ANY
    engine reproduces exactly — the fixed-size complement of the
    rate-based ``stable_sample_digest`` rule. Payload recovery is a
    broadcast semi-join of the k winning priorities back against the
    table (KB state; one extra map-side stage, no extra shuffle)."""

    def __init__(self, k: int = 64):
        self.k = k
        self.name = f"bottomk_k{k}"

    def finalize(self, state: np.ndarray) -> float:
        return float(len(state))


class PrioritySampleSpec(SketchSpec):
    """Weighted priority sample (Duffield-Lund-Thorup): state = the
    top-(k+1) (md5-prefix key, int64 weight) pairs by priority w/u plus
    exact row/weight totals — byte-identical merges under any partitioning
    (multiset truncation under a total order; sketchlib/prioritysample.py).
    ``add`` consumes the structured (key, w) array from
    ``keyed_weight_values``."""

    state_cls = PrioritySample

    def __init__(self, k: int = 64):
        self.cfg = PrioritySampleConfig(k)
        self.name = f"prioritysample_k{k}"

    def add(self, state: PrioritySample, values: np.ndarray) -> PrioritySample:
        return state.add_pairs(values["key"], values["w"])

    def finalize(self, state: PrioritySample) -> float:
        return state.estimate_total()


class keyed_weight_values(Extractor):
    """Structured (key: u64 md5-prefix, w: int64) pairs for
    PrioritySampleSpec, from two JVM-computed 32-bit priority halves (see
    ``md5_priority_values``) plus a weight column. One entry per row."""

    def __init__(self, w_col: str, hi_col: str = "prio_hi", lo_col: str = "prio_lo"):
        self.w_col, self.hi_col, self.lo_col = w_col, hi_col, lo_col
        self.input_cols = (hi_col, lo_col, w_col)

    def __call__(self, batch):
        hi = batch.column(self.hi_col).to_numpy(zero_copy_only=False).astype(np.uint64)
        lo = batch.column(self.lo_col).to_numpy(zero_copy_only=False).astype(np.uint64)
        w = batch.column(self.w_col).to_numpy(zero_copy_only=False).astype(np.int64)
        out = np.empty(len(w), dtype=[("key", "<u8"), ("w", "<i8")])
        out["key"] = (hi << np.uint64(32)) | lo
        out["w"] = w
        return out, None


class token_array_ids(Extractor):
    """Flatten array<int32> to raw int64 ids (no hashing — for count-min
    candidate tracking)."""

    def __call__(self, batch):
        return flat_list_values(batch, self.col)


class md5_priority_values(Extractor):
    """uint64 priorities from two JVM-computed 32-bit halves of the first
    16 hex chars of an md5 key digest (``conv(substr(md5(key), ...), 16,
    10)``). Numeric order of the u64 equals lexicographic order of the hex
    prefix, so a DuckDB oracle reproduces bottom-k selection exactly with
    ``ORDER BY substr(md5(key), 1, 16)``. All hashing stays JVM-side
    (codegen); the extractor is two primitive-column reads."""

    def __init__(self, hi_col: str = "prio_hi", lo_col: str = "prio_lo"):
        self.hi_col, self.lo_col = hi_col, lo_col
        self.input_cols = (hi_col, lo_col)

    def __call__(self, batch):
        hi = batch.column(self.hi_col).to_numpy(zero_copy_only=False).astype(np.uint64)
        lo = batch.column(self.lo_col).to_numpy(zero_copy_only=False).astype(np.uint64)
        return (hi << np.uint64(32)) | lo, None


def cms_heavy_hitters(
    df: DataFrame, extractor: Extractor, k: int = 20,
    width: int = 8192, depth: int = 5,
) -> list[tuple[int, int]]:
    """Distributed approximate top-k: count-min + candidate tracking.

    Returns [(item_id, estimated_count)] sorted by estimate desc; estimates
    overcount by at most e/width · N with probability 1 - e^-depth.
    """
    spec = CountMinSpec(width, depth, track=max(4 * k, 256))
    row = sketch_agg(df, spec, extractor).collect()[0]
    state = spec.deserialize(bytes(row.sketch))
    return spec.heavy_hitters(state, k)
