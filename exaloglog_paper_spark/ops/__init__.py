"""Spark DataFrame operators (aggregation, dedup, similarity, text stats).

Facade helpers for the common cases:

    from exaloglog_paper_spark.ops import approx_distinct_tokens
    approx_distinct_tokens(df, "tokens", by=["source"]).show()
"""

from __future__ import annotations

from typing import Sequence


def approx_distinct_tokens(
    df, token_col: str = "tokens", by: Sequence[str] = (), t: int = 2, d: int = 20, p: int = 10
):
    """Approximate distinct count of an array<int32> token column.

    Returns one row per group: ``by..., n_values, estimate``.
    """
    from .agg import ExaLogLogSpec, sketch_agg, token_array_values, with_estimate

    spec = ExaLogLogSpec(t, d, p)
    out = sketch_agg(df, spec, token_array_values(token_col), by=by)
    return with_estimate(out, spec).drop("sketch")


def approx_distinct(
    df, col: str, by: Sequence[str] = (), t: int = 2, d: int = 20, p: int = 10
):
    """Approximate distinct count of any column (hashed JVM-side with
    xxhash64; stays in whole-stage codegen until the sketch build)."""
    from pyspark.sql import functions as F

    from .agg import ExaLogLogSpec, hash64_values, sketch_agg, with_estimate

    spec = ExaLogLogSpec(t, d, p)
    work = df.select(*by, F.xxhash64(col).alias("__h"))
    out = sketch_agg(work, spec, hash64_values("__h"), by=list(by))
    return with_estimate(out, spec).drop("sketch")


def approx_quantiles(df, col: str, quantiles: Sequence[float], k: int = 200):
    """KLL quantiles of a numeric column; returns a list of floats."""
    import numpy as np

    from .agg import float_values, sketch_agg
    from .specs import KLLSpec

    spec = KLLSpec(k)
    row = sketch_agg(df.select(df[col].cast("double").alias("__v")), spec, float_values("__v")).collect()[0]
    sk = spec.deserialize(bytes(row.sketch))
    return [float(x) for x in np.atleast_1d(sk.quantile(np.array(list(quantiles))))]
