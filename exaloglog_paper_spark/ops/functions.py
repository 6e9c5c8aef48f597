"""Column-level sketch functions (Arrow-vectorized pandas UDFs).

Surfaces the reference's scalar API as Spark column functions:

- token_of / hash_of_token / token_is_valid  (≙ ExaLogLog.computeToken,
  DistinctCountUtil.reconstructHash/isValidToken)
- ell_estimate / ell_state_change_probability / ell_downsize — operate on a
  serialized sketch column (≙ getDistinctCountEstimate,
  getStateChangeProbability, downsize)
- token_stream_estimate — the sketch-free estimator over token arrays
  (≙ DistinctCountUtil.estimateDistinctCountFromTokens), usable per row or
  per group.
- martingale_partition_estimates — the per-stream martingale (HIP)
  operator (≙ add(long, MartingaleEstimator)), a ``mapInArrow`` body.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, IntegerType, LongType, BinaryType

from ..sketchlib import exaloglog as ell
from ..sketchlib.replay import StreamingFirstHits, _event_luts
from .agg import _by_schema, _group_codes


# One pandas UDF factory per function: the column functions below and
# register_sql_functions build their UDFs here, so both surfaces share one
# body.


def _tokens(s: pd.Series) -> np.ndarray:
    """int32 token column -> uint64 tokens."""
    return s.to_numpy(np.int32).view(np.uint32).astype(np.uint64)


def _token_udf(v: int):
    @F.pandas_udf(IntegerType())
    def token_of(s: pd.Series) -> pd.Series:
        h = s.to_numpy(np.int64).view(np.uint64)
        return pd.Series(ell.compute_token(h, v).astype(np.uint32).view(np.int32))

    return token_of


def _hash_udf(v: int):
    @F.pandas_udf(LongType())
    def hash_of_token(s: pd.Series) -> pd.Series:
        return pd.Series(ell.reconstruct_hash(_tokens(s), v).view(np.int64))

    return hash_of_token


def _valid_udf(v: int):
    @F.pandas_udf(BooleanType())
    def token_is_valid(s: pd.Series) -> pd.Series:
        return pd.Series(ell.is_valid_token(_tokens(s), v))

    return token_is_valid


def _estimate_udf(t: int, d: int):
    @F.pandas_udf(DoubleType())
    def ell_estimate(s: pd.Series) -> pd.Series:
        return s.map(lambda b: ell.ExaLogLog.wrap(t, d, bytes(b)).estimate())

    return ell_estimate


def _change_probability_udf(t: int, d: int):
    @F.pandas_udf(DoubleType())
    def ell_change_probability(s: pd.Series) -> pd.Series:
        return s.map(
            lambda b: ell.ExaLogLog.wrap(t, d, bytes(b)).state_change_probability()
        )

    return ell_change_probability


def _stream_estimate_udf(v: int):
    @F.pandas_udf(DoubleType())
    def token_stream_estimate(s: pd.Series) -> pd.Series:
        return s.map(
            lambda arr: ell.estimate_distinct_from_tokens(
                np.asarray(arr, dtype=np.int32).view(np.uint32).astype(np.uint64), v
            )
        )

    return token_stream_estimate


def token_of(col, v: int = ell.V_MAX):
    """64-bit hash column -> 32-bit token column."""
    return _token_udf(v)(col)


def hash_of_token(col, v: int = ell.V_MAX):
    """Token column -> reconstructed canonical 64-bit hash column."""
    return _hash_udf(v)(col)


def token_is_valid(col, v: int = ell.V_MAX):
    return _valid_udf(v)(col)


def ell_estimate(col, t: int = 2, d: int = 20):
    """Serialized ExaLogLog state column -> ML distinct-count estimate."""
    return _estimate_udf(t, d)(col)


def ell_state_change_probability(col, t: int = 2, d: int = 20):
    return _change_probability_udf(t, d)(col)


def ell_downsize(col, t: int = 2, d: int = 20, to_d: int = 20, to_p: int = 8):
    """Serialized state -> serialized state downsized to (to_d, to_p)."""

    @F.pandas_udf(BinaryType())
    def f(s: pd.Series) -> pd.Series:
        return s.map(
            lambda b: ell.ExaLogLog.wrap(t, d, bytes(b)).downsize(to_d, to_p).serialize()
        )

    return f(col)


def register_sql_functions(spark, t: int = 2, d: int = 20, v: int = ell.V_MAX) -> None:
    """Expose the sketch functions to Spark SQL (``spark.sql`` / views):

    - ``ell_token(hash)``, ``ell_hash_of_token(token)``, ``ell_token_valid(token)``
    - ``ell_estimate(sketch)``, ``ell_change_probability(sketch)`` for the
      given (t, d)
    - ``ell_token_stream_estimate(tokens)``
    """
    for name, udf in (
        ("ell_token", _token_udf(v)),
        ("ell_hash_of_token", _hash_udf(v)),
        ("ell_token_valid", _valid_udf(v)),
        ("ell_estimate", _estimate_udf(t, d)),
        ("ell_change_probability", _change_probability_udf(t, d)),
        ("ell_token_stream_estimate", _stream_estimate_udf(v)),
    ):
        spark.udf.register(name, udf)


def martingale_partition_estimates(
    df, extractor, t: int = 2, d: int = 20, p: int = 10, *, by=(), order_by=()
):
    """Martingale (HIP) estimates per sequential stream: THE per-stream
    operator. The estimator is order-dependent and NOT mergeable
    (MartingaleEstimator.java:32-35), so it is scoped to one stream:

    - no ``by``: each input partition is a stream (no shuffle); rows are
      ``partition_id, martingale_estimate, ml_estimate, n_values``;
    - ``by``: each key is a stream. Rows are hash-partitioned on ``by`` and
      sorted on ``(*by, *order_by)``, so a key's values arrive in
      ``order_by`` order as one run of sorted rows (a run may span Arrow
      batches); rows are ``by..., martingale_estimate, ml_estimate,
      n_values``.

    A stream feeds its cuts of ``extractor(batch)`` through one
    bounded-memory accumulator (sketchlib.replay.StreamingFirstHits, O(m·K)
    state), and a task holds one live accumulator. Chunking is invisible
    by construction: a stream's estimates equal
    ``martingale_estimate_stream`` of its concatenated values.
    """
    by, order_by = list(by), list(order_by)
    names = [*(by or ["partition_id"]), "martingale_estimate", "ml_estimate", "n_values"]

    def run(batches):
        luts = _event_luts(t, d, p)
        out, types = [], [pa.int64()]  # out: (*key, martingale, ml, n) per stream
        key = acc = None
        if not by:
            tc = TaskContext.get()
            key = (tc.partitionId() if tc is not None else 0,)
            acc = StreamingFirstHits(t, d, p, luts)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            values, lengths = extractor(batch)
            if lengths is None:  # one value per row
                lengths = np.ones(batch.num_rows, np.int64)
            off = np.r_[0, np.cumsum(lengths)]
            runs = [(key, 0, batch.num_rows)]
            if by:
                types = [batch.schema.field(c).type for c in by]
                codes, key_of = _group_codes(batch, by)
                cuts = np.r_[0, np.flatnonzero(np.diff(codes)) + 1, len(codes)]
                runs = [(key_of(codes[s]), s, e) for s, e in zip(cuts[:-1], cuts[1:])]
            for k, s, e in runs:
                if k != key:
                    if acc is not None:
                        out.append((*key, *acc.estimates(), acc.n))
                    key, acc = k, StreamingFirstHits(t, d, p, luts)
                acc.update(values[off[s] : off[e]])
        if acc is not None:
            out.append((*key, *acc.estimates(), acc.n))
        if out:
            types += [pa.float64(), pa.float64(), pa.int64()]
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, typ) for col, typ in zip(zip(*out), types)], names=names
            )

    src = df.select(*dict.fromkeys([*by, *order_by, *extractor.input_cols]))
    if by:
        src = src.repartition(*by)
    if by or order_by:
        src = src.sortWithinPartitions(*by, *order_by)
    return src.mapInArrow(
        run,
        (_by_schema(df, by) or "partition_id long, ")
        + "martingale_estimate double, ml_estimate double, n_values long",
    )


def token_stream_estimate(col, v: int = ell.V_MAX):
    """array<int32> of *tokens* -> sketch-free distinct estimate per row."""
    return _stream_estimate_udf(v)(col)
