"""Structured Streaming: per-key ExaLogLog state maintenance.

``applyInPandasWithState`` holds one serialized sketch per group; every
micro-batch folds its rows in (idempotent — late/replayed data cannot
corrupt a distinct-count sketch, so no watermark is required for
correctness) and emits the updated estimate. This is the streaming twin of
the batch ``sketch_agg`` and shares the exact same kernel, so batch/stream
parity is byte-level (asserted in tests).

The reference is batch-only; its only order-sensitive component (the
martingale estimator, MartingaleEstimator.java:32-35) is intentionally NOT
offered here — use it per partition on static data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sketchlib.bitops import splitmix64
from ..ops.agg import ExaLogLogSpec

OUTPUT_SCHEMA = "key string, estimate double, n_values long"
STATE_SCHEMA = "sketch binary, n_values long"


def _fold(spec, state: GroupState, pdfs, token_col: str, hashed: bool):
    """One key's micro-batch: fold every row's token ids (splitmix64-hashed
    if ``hashed``, else raw int64) into the stored state or
    ``spec.empty()``, store it back and return ``(state, n_values)``."""
    if state.exists:
        sketch_bytes, n = state.get
        sk = spec.deserialize(bytes(sketch_bytes))
    else:
        sk, n = spec.empty(), 0
    for pdf in pdfs:
        lists = pdf[token_col].to_numpy()
        if len(lists) == 0:
            continue
        flat = np.concatenate(lists).astype(np.int64, copy=False)
        sk = spec.add(sk, splitmix64(flat.view(np.uint64)) if hashed else flat)
        n += len(flat)
    state.update((spec.serialize(sk), n))
    return sk, n


def streaming_distinct_sketch(grouped, spec: ExaLogLogSpec, token_col: str = "tokens"):
    """Apply to ``df.groupBy(key_col)`` of a streaming DataFrame whose rows
    carry an array<int32> token column; emits (key, estimate, n_values)
    updates per micro-batch."""

    def update(key, pdfs, state: GroupState):
        sk, n = _fold(spec, state, pdfs, token_col, hashed=True)
        yield pd.DataFrame(
            {"key": [key[0]], "estimate": [spec.finalize(sk)], "n_values": [n]}
        )

    return grouped.applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HH_OUTPUT_SCHEMA = "key string, item long, est long, err_bound double, n_values long"


def streaming_heavy_hitters(grouped, spec, token_col: str = "tokens", topn: int = 10):
    """Per-key streaming frequent items over a Misra-Gries state
    (ops/specs.MisraGriesSpec): each micro-batch folds its token arrays
    into the key's summary (one np.unique histogram per batch, no per-row
    Python) and emits the current top-``topn`` items with the
    deterministic bracket ``est <= true <= est + err_bound``.

    Unlike the distinct sketches the MG state is chunking-dependent, so
    stream/batch parity is at the GUARANTEE level, not byte level — the
    bound holds for every prefix of the stream because micro-batches are
    just another merge schedule (sketchlib/freqitems.py docstring). State
    is O(k) per key; idempotence does NOT hold (counts are additive), so
    exactly-once sinks or replay-free sources are required for exact n,
    same as any streaming counter.
    """

    def update(key, pdfs, state: GroupState):
        mg, n = _fold(spec, state, pdfs, token_col, hashed=False)
        top = mg.top_items(topn)
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(top),
                "item": [t for t, _ in top],
                "est": [c for _, c in top],
                "err_bound": [mg.err_bound] * len(top),
                "n_values": [n] * len(top),
            }
        )

    return grouped.applyInPandasWithState(
        update,
        outputStructType=HH_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
