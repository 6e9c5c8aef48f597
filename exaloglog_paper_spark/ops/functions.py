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
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, IntegerType, LongType, BinaryType

from ..sketchlib import exaloglog as ell


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


def martingale_partition_estimates(df, extractor, t: int = 2, d: int = 20, p: int = 10):
    """Per-partition martingale (HIP) estimates.

    The martingale estimator is order-dependent and NOT mergeable
    (MartingaleEstimator.java:32-35), so the correctly-scoped distributed
    surface is *per input partition*: each task feeds its own stream's
    Arrow batches through the bounded-memory first-hit accumulator
    (sketchlib.replay.StreamingFirstHits — O(m·K) state per task,
    independent of stream length, replay-speed instead of the per-element
    HIP loop) and emits (partition_id, martingale_estimate, ml_estimate,
    n_values). Useful to compare the two estimators on real partition
    streams; global counts still come from the mergeable ML path.
    """
    import pyarrow as pa
    from pyspark import TaskContext

    from ..sketchlib.replay import StreamingFirstHits

    cols = list(extractor.input_cols)

    def run(batches):
        acc = StreamingFirstHits(t, d, p)
        for batch in batches:
            values, _ = extractor(batch)
            acc.update(values)
        mart_est, ml_est = acc.estimates()
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        yield pa.RecordBatch.from_pydict(
            {
                "partition_id": pa.array([pid], type=pa.int64()),
                "martingale_estimate": pa.array([mart_est], type=pa.float64()),
                "ml_estimate": pa.array([ml_est], type=pa.float64()),
                "n_values": pa.array([acc.n], type=pa.int64()),
            }
        )

    return df.select(*cols).mapInArrow(
        run,
        "partition_id long, martingale_estimate double, ml_estimate double, n_values long",
    )


def token_stream_estimate(col, v: int = ell.V_MAX):
    """array<int32> of *tokens* -> sketch-free distinct estimate per row."""
    return _stream_estimate_udf(v)(col)
