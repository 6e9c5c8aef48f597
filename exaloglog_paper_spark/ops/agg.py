"""Mergeable-sketch aggregation over Spark DataFrames.

The distributed pattern mirrors Spark's own partial/final hash aggregation,
expressed with Arrow UDFs (never per-row Python over raw data):

  stage A  ``mapInArrow``    — one partial sketch per (partition × group);
                               skew-proof: a hot group contributes one tiny
                               binary state per partition, not its raw rows.
  stage B  tree merge        — levels of ``repartition(by, bucket)`` +
                               ``sortWithinPartitions`` + ``mapInArrow``
                               while the partial count exceeds the fan-in,
                               so no reducer ever sees more than ``fanin``
                               states; each task streams its sorted rows
                               and merges every key run in byte order.
  stage C  final level       — the same with one bucket; then estimate.

This is the Spark-native equivalent of the reference's
fan-out / per-thread-sketch / merge harness
(``ExaLogLogEstimationErrorSimulation.java:101-121``) and of its 5-op
sketch protocol (``SketchConfig.java:345-353``).

For *high-cardinality* ``by`` (millions of groups), per-partition dicts of
states would exhaust map-side memory; use :func:`sketch_agg_salted`, which
shuffles rows on ``(by, salt)`` — explicit salt-based skew mitigation — and
builds per-(group, salt) sketches with the same Arrow builder before the
tree merge.
"""

from __future__ import annotations

import abc
import itertools
import struct
from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, _parse_datatype_string

from ..sketchlib.bitops import splitmix64
from ..sketchlib.exaloglog import ExaLogLog, ExaLogLogConfig

# ---------------------------------------------------------------------------
# sketch protocol
# ---------------------------------------------------------------------------


class SketchSpec(abc.ABC):
    """Picklable description of a mergeable sketch (the 5-op protocol).

    A spec over a sketchlib class declares it as ``state_cls`` and sets
    ``self.cfg``: the class's own ``cls(cfg)``, ``merge_``, ``serialize``
    and ``cls.deserialize(cfg, data)`` are then the spec's ``empty``,
    ``merge``, ``serialize`` and ``deserialize``. A spec writes ``add``
    and ``finalize``, and overrides the rest only where its state differs.
    """

    name: str = "sketch"
    state_cls: type

    def empty(self):
        return self.state_cls(self.cfg)

    @abc.abstractmethod
    def add(self, state, values: np.ndarray):
        """Fold a batch of values into state; returns the (new) state."""

    def merge(self, a, b):
        return a.merge_(b)

    def serialize(self, state) -> bytes:
        return state.serialize()

    def deserialize(self, data: bytes):
        return self.state_cls.deserialize(self.cfg, data)

    @abc.abstractmethod
    def finalize(self, state) -> float:
        """Scalar result (e.g. the distinct-count estimate)."""

    def serialize_batch(self, states) -> list:
        """Serialize many states; must equal the per-state ``serialize``
        byte-for-byte (specs with fixed-width register states may override
        with a batched pack — identity pinned by test)."""
        return [self.serialize(s) for s in states]

    def finalize_batch(self, states) -> list:
        """Results of many serialized states; must equal the per-state
        ``finalize(deserialize(s))`` (specs with a batched estimate
        override it)."""
        return [self.finalize(self.deserialize(bytes(s))) for s in states]

    def merge_many(self, states):
        """Fold many states into one; must equal the sequential pairwise
        fold exactly (specs whose merge is associative+commutative may
        override with a batched strategy — byte-identity is pinned by the
        cross-strategy property test). Empty input yields ``empty()``."""
        states = list(states)
        if not states:
            return self.empty()
        out = states[0]
        for s in states[1:]:
            out = self.merge(out, s)
        return out


class ExaLogLogSpec(SketchSpec):
    """ExaLogLog over pre-hashed 64-bit values (uint64 numpy arrays)."""

    state_cls = ExaLogLog

    def __init__(self, t: int = 2, d: int = 20, p: int = 10):
        self.cfg = ExaLogLogConfig(t, d, p)
        self.name = f"exaloglog_t{t}_d{d}_p{p}"

    # ExaLogLog is built from registers: from_config and wrap stand in for
    # the protocol's cls(cfg) and cls.deserialize(cfg, data)
    def empty(self) -> ExaLogLog:
        return ExaLogLog.from_config(self.cfg)

    def add(self, state: ExaLogLog, values: np.ndarray) -> ExaLogLog:
        return state.add_hashes(values)

    def merge_many(self, states):
        """Batched k-way merge: stack the (same-config) register arrays and
        tree-reduce with O(log k) vectorized calls — byte-identical to the
        sequential fold, ~10x cheaper per pair on KB states."""
        from ..sketchlib.exaloglog import merge_registers_many

        states = list(states)
        if not states:
            return self.empty()
        if len(states) == 1:
            return states[0]
        c0 = states[0].cfg
        if any(s.cfg != c0 for s in states[1:]):
            return super().merge_many(states)  # heterogeneous: pairwise merge_
        out = states[0]
        out.regs = merge_registers_many(
            np.stack([s.regs for s in states]), c0.d
        )
        return out

    def serialize_batch(self, states) -> list:
        """Batched bit-pack of homogeneous register states (one numpy pass
        for the whole flush instead of ~16.5 µs of dispatch per state);
        falls back to the per-state loop for mixed/foreign states."""
        from ..sketchlib.bitops import pack_registers

        states = list(states)
        cfg = self.cfg
        if len(states) < 2 or not all(
            isinstance(s, ExaLogLog) and s.cfg == cfg for s in states
        ):
            return [self.serialize(s) for s in states]
        packed = pack_registers(np.stack([s.regs for s in states]), cfg.register_bits)
        return [row.tobytes() for row in packed]

    def deserialize(self, data: bytes) -> ExaLogLog:
        return ExaLogLog.wrap(self.cfg.t, self.cfg.d, data)

    def finalize(self, state: ExaLogLog) -> float:
        return state.estimate()

    def finalize_batch(self, states) -> np.ndarray:
        """Batched estimates straight from serialized states: one unpack +
        one contribute + one vectorized ML solve for the whole batch instead
        of a per-row deserialize + estimate — the estimate stage of
        many-group rollups/cubes (10^6+ groups at 100 TB)."""
        from ..sketchlib.bitops import unpack_registers
        from ..sketchlib.exaloglog import estimate_batch

        cfg = self.cfg
        arr = np.frombuffer(b"".join(bytes(s) for s in states), dtype=np.uint8)
        regs2d = unpack_registers(
            arr.reshape(len(states), cfg.state_num_bytes), cfg.register_bits, cfg.m
        )
        return estimate_batch(regs2d, cfg.t, cfg.d, cfg.p)

    def theoretical_rse(self) -> float:
        return self.cfg.theoretical_rse_ml()


class HyperLogLogSpec(ExaLogLogSpec):
    """ML-estimated HyperLogLog = ExaLogLog with t=0, d=0 (shared kernel).

    The identity is the reference's own framing: HLL is the (q=6, d=0, b=2)
    point of the generalized register model (``python/mvp.py:231``,
    ``probability_densities.py:31-36``); RSE constant 1.0367/√m
    (``PrecomputedConstants.java:45``).
    """

    def __init__(self, p: int = 12):
        super().__init__(t=0, d=0, p=p)
        self.name = f"hll_p{p}"


class CompositeSpec(SketchSpec):
    """A tuple of sketches riding the pipeline as ONE state: the profiler's
    (ELL, count-sketch, Misra-Gries, KLL) builds, merges and checkpoints
    through the same ``tree_merge`` as a single sketch.

    ``add`` takes one value array per part. Serialized form: a little-
    endian uint32 length table (one entry per part) followed by the parts'
    own serialized states. ``finalize`` reports the leading part's result.
    """

    def __init__(self, specs):
        self.specs = tuple(specs)
        self.name = "composite_" + "_".join(s.name for s in self.specs)
        self._head = f"<{len(self.specs)}I"

    def empty(self):
        return tuple(s.empty() for s in self.specs)

    def add(self, state, values):
        return tuple(s.add(st, v) for s, st, v in zip(self.specs, state, values))

    def merge(self, a, b):
        return tuple(s.merge(x, y) for s, x, y in zip(self.specs, a, b))

    def merge_many(self, states):
        states = list(states)
        if not states:
            return self.empty()
        return tuple(
            s.merge_many([st[i] for st in states]) for i, s in enumerate(self.specs)
        )

    def serialize(self, state) -> bytes:
        parts = [s.serialize(st) for s, st in zip(self.specs, state)]
        return struct.pack(self._head, *map(len, parts)) + b"".join(parts)

    def deserialize(self, data: bytes):
        data = bytes(data)
        out, off = [], struct.calcsize(self._head)
        for s, n in zip(self.specs, struct.unpack_from(self._head, data)):
            out.append(s.deserialize(data[off : off + n]))
            off += n
        return tuple(out)

    def finalize(self, state) -> float:
        return self.specs[0].finalize(state[0])


# ---------------------------------------------------------------------------
# value extractors: Arrow RecordBatch -> (flat values, per-row lengths)
#
# Extractors work on Arrow data directly (zero-copy buffer access for
# array<int32> columns) because Arrow->pandas conversion of list columns
# materializes one numpy object per row — measured 30-50x slower than
# reading the flattened values buffer.
# ---------------------------------------------------------------------------


class Extractor:
    """Turns a RecordBatch into the values ``SketchSpec.add`` takes.

    Returns ``(values, lengths)``: ``lengths`` is per-row value multiplicity
    (None = one value per row), used to cut each group's values out of the
    batch when aggregating with ``by``. An extractor for a ``CompositeSpec``
    returns PARTS instead: ``(tuple of arrays, tuple of lengths)``, one
    entry per member, each cut by its own lengths, so token-level and
    row-level arrays ride one batch. A group's ``n_values`` counts values
    for a single array and ROWS for parts.
    """

    input_cols: tuple[str, ...] = ()

    def __init__(self, col: str):
        """The single-column form; multi-column extractors define their
        own ``input_cols``."""
        self.col = col
        self.input_cols = (col,)

    def __call__(self, batch) -> tuple:
        raise NotImplementedError


def flat_list_values(batch, col: str) -> tuple[np.ndarray, np.ndarray]:
    """(flat int64 values, per-row lengths) of an ``array<int32>`` column.

    THE child-array access pattern — offsets are never null so the
    zero-copy view applies; the ``zero_copy_only=False`` form routes the
    child array through a pathological conversion (~58 ms per batch
    measured for 1.5k offsets!) and is kept only as the fallback for
    exotic layouts. Single definition: token_array_values,
    token_trigram_values, specs.token_array_ids and the profile extractor
    all call this so the fallback and slicing logic cannot drift."""
    arr = batch.column(col)
    if hasattr(arr, "combine_chunks"):
        arr = arr.combine_chunks()
    off_arr = arr.offsets
    try:
        offsets = off_arr.to_numpy().astype(np.int64, copy=False)
    except pa.ArrowInvalid:
        offsets = off_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.values.to_numpy(zero_copy_only=False)
    flat = flat[offsets[0] : offsets[-1]]  # respect any slicing
    return flat.astype(np.int64, copy=False), np.diff(offsets)


class token_array_values(Extractor):
    """Flatten an ``array<int32>`` column zero-copy and hash every token to
    64 bits with splitmix64 (the primary tokens:array<int32> path)."""

    def __call__(self, batch):
        flat, lengths = flat_list_values(batch, self.col)
        return splitmix64(flat.view(np.uint64)), lengths


class token_trigram_values(Extractor):
    """Sliding 3-token windows of an ``array<int32>`` column, hashed to 64
    bits (order-sensitive chained splitmix64) — the sequence-level novelty
    unit: distinct trigrams vs total trigrams measures corpus repetition
    below the document level. Windows never cross row boundaries; rows
    shorter than 3 tokens contribute nothing. All work is one flat pass
    over the batch (no per-row Python)."""

    def __call__(self, batch):
        flat, lengths = flat_list_values(batch, self.col)
        h = splitmix64(flat.view(np.uint64))
        n = len(h)
        if n < 3:
            return np.empty(0, dtype=np.uint64), np.zeros_like(lengths)
        # a window starting at flat position i is valid iff i+2 is still
        # inside the same row: i + 2 < row_end(i)
        rel_ends = np.repeat(np.cumsum(lengths), lengths)
        idx = np.arange(n, dtype=np.int64)
        s = idx[idx + 2 < rel_ends]
        # order-sensitive chaining: mix the accumulator BEFORE each xor
        # (a bare xor of the three would be symmetric under permutation)
        tri = splitmix64(splitmix64(splitmix64(h[s]) ^ h[s + 1]) ^ h[s + 2])
        return tri, np.maximum(lengths - 2, 0)


class hash64_values(Extractor):
    """Column already holds 64-bit hashes (e.g. from JVM-side F.xxhash64 —
    keeps the hashing inside whole-stage codegen)."""

    def __call__(self, batch):
        vals = batch.column(self.col).to_numpy(zero_copy_only=False)
        return vals.astype(np.int64, copy=False).view(np.uint64), None


class id64_values(Extractor):
    """Integer column passed through as RAW int64 ids (no hashing) — for
    identifiable-item summaries (Misra-Gries, count-min candidates) whose
    retained ids must round-trip to the caller. Do NOT feed these to
    register sketches (they want uniform hashes); and keep the dtype
    int64: mixing uint64 views into MG's int64 id arrays would silently
    promote to float64 (see CLAUDE.md numpy notes)."""

    def __call__(self, batch):
        vals = batch.column(self.col).to_numpy(zero_copy_only=False)
        return vals.astype(np.int64, copy=False), None


class float_values(Extractor):
    """Raw float values (for quantile sketches — no hashing)."""

    def __call__(self, batch):
        return batch.column(self.col).to_numpy(zero_copy_only=False).astype(np.float64), None


# ---------------------------------------------------------------------------
# distributed aggregation
# ---------------------------------------------------------------------------


PARTIAL_COLS = "sketch binary, n_values long, partition_id long"


def local_df(spark, rows, schema: str) -> DataFrame:
    """Small driver-side rows -> DataFrame as a JVM LocalRelation.

    ``spark.createDataFrame(list, schema)`` builds a Python-RDD-backed
    plan whose scan re-runs a Python worker on EVERY execution (~0.3 s
    per job, measured) — a hidden per-query tax for the KB-sized result
    and seed rows this engine assembles. Routing the same rows through a
    pandas DataFrame (Arrow conversion path) materializes them into the
    JVM once, so downstream executions scan a LocalTableScan (~25 ms).
    A type the Arrow conversion rejects needs no handling here: PySpark
    itself retries without Arrow
    (``spark.sql.execution.arrow.pyspark.fallback.enabled``, default on),
    and a value neither path accepts raises the same error on both."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema)
    names = [f.name for f in _parse_datatype_string(schema).fields]
    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=names)
    return spark.createDataFrame(pdf, schema)


def _by_schema(df: DataFrame, by: Sequence[str]) -> str:
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return "".join(f"{c} {fields[c]}, " for c in by)


_PA_TO_SPARK = {
    "string": "string",
    "large_string": "string",
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "long",
    "float": "float",
    "double": "double",
    "bool": "boolean",
    "date32[day]": "date",
}


def _by_schema_from_fields(fields) -> str:
    parts = []
    for f in fields:
        parts.append(f"{f.name} {_PA_TO_SPARK[str(f.type)]}, ")
    return "".join(parts) + PARTIAL_COLS


def partial_batch(key_arrays: dict, sketches, counts, pid):
    """One Arrow batch of partial rows (``by..., PARTIAL_COLS``) — the
    output format of every stage-A builder and merge level. ``pid`` is one
    value for all rows or one per row."""
    n = len(sketches)
    return pa.record_batch(
        {
            **key_arrays,
            "sketch": pa.array(sketches, pa.binary()),
            "n_values": pa.array(counts, pa.int64()),
            "partition_id": pa.array(np.broadcast_to(pid, n), pa.int64()),
        }
    )


# groups held per task before a builder or merge level emits a batch, and
# the serialized bytes of those states: ELL(2,20,10) states (3584 B) keep
# the whole group bound, larger states a proportionally smaller one
_FLUSH_GROUPS = 16384
_FLUSH_BYTES = _FLUSH_GROUPS * 3584


def _flush_bound(spec: "SketchSpec") -> int:
    """Groups a builder or merge task holds before it emits: about
    ``_FLUSH_BYTES`` of ``spec``'s serialized empty states, at most
    ``_FLUSH_GROUPS``. A profile composite (~331 KB of count-sketch per
    state) thereby flushes at 177 groups instead of ~5 GB per task. Specs
    whose empty state serializes to no bytes (theta, samples) keep
    ``_FLUSH_GROUPS``."""
    size = max(1, len(spec.serialize(spec.empty())))
    return max(1, min(_FLUSH_GROUPS, _FLUSH_BYTES // size))


def _group_codes(batch, by):
    """(int64 group code per row, code -> key tuple) of ``batch`` on
    ``by``; null keys form a group, as in Spark/SQL ``groupBy``."""
    if len(by) == 1:
        col = batch.column(by[0])
        if hasattr(col, "combine_chunks"):
            col = col.combine_chunks()
        enc = col.dictionary_encode()
        idx = enc.indices
        uniques = enc.dictionary.to_pylist()
        if idx.null_count:
            # null key rows get null dictionary indices (NaN -> INT64_MIN
            # under astype); group them under an explicit None key
            idx = idx.fill_null(len(uniques))
            uniques = uniques + [None]
        try:
            # null-free -> zero-copy; zero_copy_only=False on this child
            # array is a ~40 ms/batch pathological conversion
            codes = idx.to_numpy().astype(np.int64, copy=False)
        except pa.ArrowInvalid:
            codes = idx.to_numpy(zero_copy_only=False).astype(np.int64)
        return codes, lambda c: (uniques[c],)
    pdf = pa.Table.from_batches([batch]).select(by).to_pandas()
    # normalize NaN -> None so null keys group together (NaN != NaN
    # would otherwise split a null group per row)
    key_cols = [pdf[c].astype(object).where(pd.notna(pdf[c]), None) for c in by]
    codes, uniq = pd.factorize(pd.Series(list(zip(*key_cols))), sort=False)
    uniques = list(uniq)
    return codes, lambda c: tuple(uniques[c])


def _build_partials_batches(
    batches,
    spec: "SketchSpec",
    extractor: "Extractor",
    by,
    flush_groups: int | None = None,
    num_partitions: int | None = None,
):
    """THE stage-A builder: consume Arrow record batches, emit one partial
    sketch row per group seen in this task (vectorized grouping). Every
    build runs it: single sketches and the profiler's composite, over the
    Spark scan (:func:`sketch_partials`) and the pyarrow scan
    (``ops.source.scan_partials``).

    Group dispatch is ONE stable sort of each batch's rows on their group
    code; the extractor then runs on the sorted batch and each group's
    values (each part's, for a parts extractor) are one contiguous segment
    cut at the group's row boundaries. A group's values keep their input
    order, so order-dependent states (Misra-Gries, KLL) see exactly the
    stream the unsorted batch holds.

    Map-side memory is BOUNDED regardless of group cardinality: once the
    partial-state dict reaches ``flush_groups`` entries (default
    :func:`_flush_bound`, ~59 MB of serialized states) it is emitted and
    reset (the downstream tree merge groups by key, so multiple partials
    for the same group from one task merge exactly like partials from
    different tasks — byte-identical results for order-free states such as
    ELL and count-sketch, pinned in tests with forced mid-task flushes;
    Misra-Gries/KLL summarize the stream as cut at the flush points,
    deterministically). In-memory states may be larger than their
    serialized form (unpacked ELL registers are ~2.3x), and the threshold
    is checked per input batch.

    Each flush is stamped with a DISTINCT partition_id
    (``pid + num_partitions * emit_index``) so the tree merge's
    pmod-bucketing spreads a hot group's flushed partials across reducers
    instead of funnelling them all into one (the fanin bound would
    otherwise break for groups present in every flush window).
    """
    by = list(by)
    if flush_groups is None and by:
        flush_groups = _flush_bound(spec)
    states: dict = {}
    counts: dict = {}
    key_fields = None
    n_emits = 0
    stride = num_partitions or 65536

    def emit():
        nonlocal states, counts, n_emits
        tc = TaskContext.get()
        base_pid = tc.partitionId() if tc is not None else 0
        pid = base_pid + stride * n_emits
        n_emits += 1
        keys = list(states)
        out = partial_batch(
            {
                c: pa.array([k[i] for k in keys], type=key_fields[i].type)
                for i, c in enumerate(by)
            },
            spec.serialize_batch([states[k] for k in keys]),
            [counts[k] for k in keys],
            pid,
        )
        states, counts = {}, {}
        return out

    for batch in batches:
        if not by:
            values, _ = extractor(batch)
            st = states.get(())
            states[()] = spec.add(st if st is not None else spec.empty(), values)
            n = batch.num_rows if isinstance(values, tuple) else len(values)
            counts[()] = counts.get((), 0) + n
            continue
        if batch.num_rows == 0:
            continue
        if key_fields is None:
            key_fields = [batch.schema.field(c) for c in by]
        codes, key_of = _group_codes(batch, by)
        order = np.argsort(codes, kind="stable")
        codes = codes[order]
        values, lengths = extractor(batch.take(order))
        single = not isinstance(values, tuple)
        if single:
            values, lengths = (values,), (lengths,)
        starts = np.flatnonzero(np.concatenate(([True], codes[1:] != codes[:-1])))
        rows = np.append(starts, len(codes))
        cuts = [
            (rows if n is None else np.concatenate(([0], np.cumsum(n)))[rows]).tolist()
            for n in lengths
        ]
        ends = cuts[0] if single else rows.tolist()
        for i, s in enumerate(starts.tolist()):
            key = key_of(codes[s])
            seg = tuple(v[c[i] : c[i + 1]] for v, c in zip(values, cuts))
            st = states.get(key)
            states[key] = spec.add(
                st if st is not None else spec.empty(), seg[0] if single else seg
            )
            counts[key] = counts.get(key, 0) + ends[i + 1] - ends[i]
        if len(states) >= flush_groups:
            yield emit()
    if not states:
        if by:
            return
        states[()] = spec.empty()
        counts[()] = 0
    yield emit()


def sketch_partials(
    df: DataFrame,
    spec: SketchSpec,
    extractor: Extractor,
    by: Sequence[str] = (),
) -> DataFrame:
    """Stage A: one partial sketch row per (input partition × group).

    Implemented with ``mapInArrow`` so list columns are consumed from the
    flattened Arrow values buffer (zero-copy) — never converted to pandas
    object arrays. Within a batch, rows are grouped by dictionary-encoding
    the key column and one stable row sort (all vectorized; see
    :func:`_build_partials_batches`).

    Output schema: ``by..., sketch binary, n_values long, partition_id
    long`` — the metrics columns double as per-partition lineage (see
    ops/checkpoints.py).
    """
    return _planned_partials(df, spec, extractor, by)[0]


def _planned_partials(df, spec, extractor, by, num_p=None):
    """:func:`sketch_partials` and its input partition count — planning
    the scan once, for both the flush stamps and the tree, and not at all
    when the caller passes a count it already knows (planning a shuffle
    under AQE runs it)."""
    by = list(by)
    cols = list(dict.fromkeys(by + list(extractor.input_cols)))
    df = df.select(*cols)  # column pruning reaches the scan

    schema = _by_schema(df, by) + PARTIAL_COLS
    if num_p is None:
        num_p = df.rdd.getNumPartitions()

    def build(batches):
        yield from _build_partials_batches(
            batches, spec, extractor, by, num_partitions=num_p
        )

    return df.mapInArrow(build, schema=schema), num_p


def _merge_sorted(spec: SketchSpec, blobs):
    """Merge serialized states in their BYTE order — the one merge-order
    rule of every tree level and the driver fold. Specs whose merge depends
    on input order (Misra-Gries, KLL) thereby give the same state however
    Spark delivers the rows (reruns, resumes, collect order); register and
    linear states are order-free anyway."""
    return spec.merge_many(spec.deserialize(b) for b in sorted(map(bytes, blobs)))


# one NaN object: tuple equality tests identity first, so NaN keys group
# together as in Spark's grouping (nulls are None and group anyway)
_NAN = float("nan")


def _merge_runs(batches, spec: SketchSpec, by, flush_groups: int | None = None):
    """Merge-level task body: ``batches`` arrive sorted on (by, __bucket)
    and each run of equal keys (runs may span batches) becomes one partial
    row — states merged in byte order, ``n_values`` summed,
    ``partition_id = __bucket``. Emitting every ``flush_groups`` groups
    (default :func:`_flush_bound`, as in stage A) bounds memory to one
    run's blobs plus one output chunk."""
    if flush_groups is None:
        flush_groups = _flush_bound(spec)

    gcols = [*by, "__bucket"]
    names = (*gcols, "sketch", "n_values")
    types, out = [], []

    def rows():
        for batch in batches:
            types[:] = [batch.schema.field(c).type for c in gcols]
            for *key, blob, n in zip(*(batch.column(c).to_pylist() for c in names)):
                yield tuple(_NAN if k != k else k for k in key), blob, n

    def emit():
        keys, states, counts = zip(*out)
        out.clear()
        return partial_batch(
            {c: pa.array([k[i] for k in keys], types[i]) for i, c in enumerate(by)},
            spec.serialize_batch(states), counts, [k[-1] for k in keys],
        )

    for key, run in itertools.groupby(rows(), key=lambda r: r[0]):
        run = list(run)
        st = _merge_sorted(spec, [r[1] for r in run])
        out.append((key, st, sum(r[2] for r in run)))
        if len(out) >= flush_groups:
            yield emit()
    if out:
        yield emit()


def _merge_level(
    partials: DataFrame, spec: SketchSpec, by: Sequence[str], bucket_expr
) -> DataFrame:
    """One tree-merge level: hash-repartition on (by, bucket) — AQE
    coalesces the task count — then sort and ``_merge_runs`` each task."""
    by = list(by)
    gcols = by + ["__bucket"]
    lvl = partials.select(*by, "sketch", "n_values", bucket_expr.alias("__bucket"))

    def merge_runs(batches):
        return _merge_runs(batches, spec, by)

    return (
        lvl.repartition(*gcols)
        .sortWithinPartitions(*gcols)
        .mapInArrow(merge_runs, _by_schema(partials, by) + PARTIAL_COLS)
    )


# planned partials up to which an ungrouped tree_merge folds on the driver
_DRIVER_FOLD_MAX_PARTIALS = 4096


def tree_merge(
    partials: DataFrame,
    spec: SketchSpec,
    by: Sequence[str] = (),
    num_partials: int | None = None,
    fanin: int = 64,
) -> DataFrame:
    """Stages B+C: iterative tree merge so no reducer sees > fanin states.

    ``num_partials`` = number of stage-A input partitions (known at plan
    time); with P partials we add ⌈log_fanin(P)⌉ - 1 intermediate levels.

    GLOBAL small-P fast path: an ungrouped aggregation with at most
    ``_DRIVER_FOLD_MAX_PARTIALS`` planned partials (KB-sized states, so a
    few MB total) collects the partial rows and folds them in numpy on
    the driver — the blessed collect-tiny-states pattern — skipping the
    shuffle + merge-level stages that otherwise dominate small-job
    wall time (~0.4 s of fixed DAG floor per query at sf0.1). Byte-
    identical by the exact merge algebra (order-independent); beyond the
    gate (e.g. 100k partials at 100 TB) the distributed tree runs as
    before. Grouped aggregations always take the tree (group states must
    stay distributed).

    Bound caveat under map-side flushing: stage A stamps each mid-task
    flush with a distinct partition_id (pid + stride*emit), so a task that
    flushes E times contributes up to E states per group — a first-level
    bucket then sees ~E×fanin states, not fanin. The flush stamps spread
    those states ACROSS buckets (pmod of distinct ids), so the overload is
    even, and each extra state costs one O(m) register-fold merge (~25 µs)
    — flushing only triggers at ``_flush_bound(spec)`` live groups per
    task, where the per-group state count per task is near 1 and E stays
    small. Callers
    expecting pathological flushing (huge group cardinality × huge tasks)
    can lower ``fanin`` to restore headroom; the merge algebra keeps the
    result byte-identical regardless (pinned by the multi-batch flush
    byte-identity test).
    """
    by = list(by)
    # partials written before build_secs was dropped (checkpoint buckets)
    # still carry it; projecting here keeps the seed union below valid
    partials = partials.select(*by, "sketch", "n_values", "partition_id")
    if not by:
        if num_partials is not None and num_partials <= _DRIVER_FOLD_MAX_PARTIALS:
            rows = partials.collect()
            st = _merge_sorted(spec, (r.sketch for r in rows))
            n = sum(int(r.n_values) for r in rows)
            return local_df(
                partials.sparkSession,
                [(spec.serialize(st), n)],
                "sketch binary, n_values long",
            )
        # guarantee one output row even when the input plan is empty
        # (Catalyst may prune the scan to an empty relation, so stage A
        # never runs); merging the seed empty state is an identity
        seed = local_df(
            partials.sparkSession,
            [(spec.serialize(spec.empty()), 0, 0)],
            PARTIAL_COLS,
        )
        partials = partials.unionByName(seed)
    remaining = num_partials if num_partials is not None else fanin
    while remaining > fanin:
        buckets = (remaining + fanin - 1) // fanin
        partials = _merge_level(
            partials, spec, by, F.pmod(F.col("partition_id"), F.lit(buckets))
        )
        remaining = buckets
    final = _merge_level(partials, spec, by, F.lit(0))
    return final.drop("partition_id")


def sketch_agg(
    df: DataFrame,
    spec: SketchSpec,
    extractor: Extractor,
    by: Sequence[str] = (),
    fanin: int = 64,
) -> DataFrame:
    """Full pipeline: partials -> tree merge. Returns one row per group with
    columns ``by..., sketch, n_values``. With no ``by``,
    ``tree_merge``'s driver fold runs the partials job while this
    DataFrame is built, and the result is a one-row LocalRelation."""
    partials, num_p = _planned_partials(df, spec, extractor, by)
    return tree_merge(partials, spec, by=by, num_partials=num_p, fanin=fanin)


def sketch_agg_salted(
    df: DataFrame,
    spec: SketchSpec,
    extractor: Extractor,
    by: Sequence[str],
    salt_col: str,
    n_salts: int = 32,
    num_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Shuffle-based aggregation with explicit salting for skewed groups.

    Rows are repartitioned on ``(by, pmod(xxhash64(salt_col), n_salts))`` so
    a hot group (e.g. source='web' at 62% of a 10^12-row table) is split
    across n_salts reducers before any per-group state is built; the same
    vectorized Arrow partial builder then runs per shuffled partition and
    the tree merge recombines per group. Use when ``by`` has too many groups
    for map-side dict state on unshuffled partitions, or when a single
    group's rows must be spread to avoid reducer hot spots.
    """
    by = list(by)
    cols = list(dict.fromkeys(by + [salt_col] + list(extractor.input_cols)))
    n_part = num_shuffle_partitions or max(
        df.sparkSession.sparkContext.defaultParallelism, n_salts
    )
    work = (
        df.select(*cols)
        .withColumn("__salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salts)))
        .repartition(n_part, *(by + ["__salt"]))
        .drop("__salt")
    )
    partials, _ = _planned_partials(work, spec, extractor, by, n_part)
    return tree_merge(partials, spec, by=by, num_partials=n_part)


def with_estimate(
    df: DataFrame, spec: SketchSpec, sketch_col: str = "sketch", out: str = "estimate"
) -> DataFrame:
    """Attach the sketch's scalar result as a double column: one
    ``spec.finalize_batch`` call per Arrow batch (dense ExaLogLog estimates
    the batch in one vectorized shot)."""
    if df.isLocal():
        # LocalRelation input (e.g. tree_merge's driver-fold row): collect
        # is driver-local and free, so estimate here and return another
        # LocalRelation instead of paying a one-row Python-UDF job
        # (~0.45 s of worker dispatch per execution). Identical values —
        # same finalize_batch code either way.
        rows = df.collect()
        ests = spec.finalize_batch([bytes(r[sketch_col]) for r in rows])
        return local_df(
            df.sparkSession,
            [tuple(r) + (float(e),) for r, e in zip(rows, ests)],
            ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
            )
            + f", {out} double",
        )

    @F.pandas_udf(DoubleType())
    def est(s: pd.Series) -> pd.Series:
        ests = spec.finalize_batch(list(s))
        return pd.Series(np.asarray(ests, dtype=np.float64), index=s.index)

    return df.withColumn(out, est(F.col(sketch_col)))

