"""Token-stream estimator error simulation as a Spark pipeline.

The sketch error simulation (the reference's headline experiment,
``ExaLogLogEstimationErrorSimulation.java:84-233``) lives in
``replay.simulate_errors_full`` (experiments/replay.py); it regenerates
``artifacts/estimation-error-*.csv``. This module holds its token-stream
counterpart (``TokenEstimationErrorSimulation.java:71-233``): cycles fan
out as ``spark.range(cycles)`` + ``mapInPandas`` (there: ForkJoinPool +
ThreadLocal), each cycle records the estimator's relative error at every
ladder rung, and per-rung moments are plain Spark SQL aggregates
(bias = mean(err), rmse = sqrt(mean(err²)) ≙ TestUtils.calculateBias/
calculateRmse).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sketchlib.bitops import splitmix64_stream


def _moment_summary(errors: DataFrame) -> DataFrame:
    """Per-rung moments + solver stats of (rung, err, iters) rows
    (reference CSV cols 8-10, ExaLogLogEstimationErrorSimulation.java:
    153-159,187-197)."""
    return (
        errors.groupBy("rung")
        .agg(
            F.count(F.lit(1)).alias("cycles"),
            F.avg("err").alias("bias"),
            F.sqrt(F.avg(F.col("err") * F.col("err"))).alias("rmse"),
            F.min("iters").alias("min_iterations"),
            F.avg("iters").alias("mean_iterations"),
            F.max("iters").alias("max_iterations"),
        )
        .orderBy("rung")
    )


def reference_token_ladder(max_n: int = 100_000, rel: float = 0.05) -> list[float]:
    """≙ TestUtils.getDistinctCountValues(1, maxDistinctCount, 0.05) — the
    long-typed +5% descent used by TokenEstimationErrorSimulation.java:79
    (206 rungs for 1e5; verified value-for-value against the published
    token CSVs' first column)."""
    import math

    factor = 1.0 / (1.0 + rel)
    c = int(max_n)
    out = []
    while c >= 1:
        out.append(c)
        c = min(c - 1, int(math.ceil(c * factor)))
    out.reverse()
    return [float(x) for x in out]


def simulate_token_errors(
    spark: SparkSession,
    v: int = 26,
    num_cycles: int = 1000,
    ladder: list[float] | None = None,
    seed: int = 42,
) -> DataFrame:
    """(rung, err, iters) rows for the sketch-free token-stream estimator:
    per cycle, a growing prefix of a splitmix64 hash stream is tokenized
    (computeToken) and estimated at each ladder rung — the same
    incremental-prefix structure as the reference's per-cycle token arrays.

    All rungs of a cycle are evaluated in ONE pass (row-for-row equal to
    calling estimate_distinct_from_tokens per prefix — pinned in tests):
    the prefix's distinct-token set is exactly the tokens whose FIRST
    occurrence lands in the prefix, so one np.unique(return_index) plus a
    per-rung cumulative nlz histogram reconstructs every (a, b) coefficient
    system, batch-solved with per-rung iteration counts. This is what lets
    the artifacts carry the reference's own 206-rung x 100k-cycle fidelity
    (~8 ms/cycle instead of ~0.6 s/cycle for per-prefix re-sorting)."""
    import math

    from ..sketchlib.bitops import ZERO, U64
    from ..sketchlib.exaloglog import compute_token
    from ..sketchlib.mlsolver import solve_ml_equation_batch
    from ..sketchlib.replay import _u64_to_f64

    if ladder is None:
        ladder = reference_token_ladder()
    rungs = np.asarray(sorted(int(n) for n in ladder), np.int64)
    max_n = int(rungs[-1])
    nr = len(rungs)
    max_nlz_m1 = 63 - v
    zvec = np.uint64(1 << max_nlz_m1) >> np.arange(64, dtype=np.uint64)
    rungs_f = rungs.astype(np.float64)

    def run(iterator):
        for pdf in iterator:
            rows_rung, rows_err, rows_iters = [], [], []
            for cycle in pdf["id"].tolist():
                cycle_seed = int(
                    splitmix64_stream((seed << 32) | 0x70CE, 1, offset=cycle)[0]
                )
                hashes = splitmix64_stream(cycle_seed, max_n)
                tokens = compute_token(hashes, v)
                utok, first_idx = np.unique(tokens, return_index=True)
                jj = np.minimum(utok & U64(63), U64(max_nlz_m1)).astype(np.int64)
                ev_bin = np.searchsorted(rungs, first_idx + 1, side="left")
                b = (
                    np.bincount(ev_bin * 64 + jj, minlength=nr * 64)
                    .reshape(nr, 64)
                    .cumsum(axis=0)
                )
                with np.errstate(over="ignore"):  # 0 ≡ 2^64 wraparound convention
                    a_int = ZERO - (
                        b.astype(np.uint64) * zvec[None, :]
                    ).sum(axis=1, dtype=np.uint64)
                a = _u64_to_f64(a_int) * math.ldexp(1.0, -max_nlz_m1)
                its = np.zeros(nr, np.int64)
                x = solve_ml_equation_batch(a, b, max_nlz_m1, iters_out=its)
                est = x * math.ldexp(1.0, v + 1)
                rows_rung.extend(rungs_f.tolist())
                rows_err.extend((est / rungs_f - 1.0).tolist())
                rows_iters.extend(its.tolist())
            yield pd.DataFrame(
                {"rung": rows_rung, "err": rows_err, "iters": rows_iters}
            )

    par = max(spark.sparkContext.defaultParallelism, 4)
    return spark.range(0, num_cycles, 1, par).mapInPandas(
        run, "rung double, err double, iters long"
    )


def token_error_summary(errors: DataFrame) -> DataFrame:
    """Per-rung moments + solver stats (reference token-CSV columns)."""
    return _moment_summary(errors)


def write_token_csv(summary_pdf: pd.DataFrame, path: str, v: int, num_cycles: int) -> None:
    """Reference token-error CSV shape: metadata line + semicolon columns
    (distinct count; relative bias; relative rmse; min/mean/max num
    iterations) — results/error/token-estimation-error-{v}.csv."""
    with open(path, "w") as f:
        f.write(f"token_parameter={v}; num_cycles={num_cycles}\n")
        f.write(
            "distinct count; relative bias; relative rmse; "
            "min num iterations; mean num iterations; max num iterations\n"
        )
        for _, r in summary_pdf.iterrows():
            f.write(
                f"{float(r['rung'])!r}; {float(r['bias'])!r}; {float(r['rmse'])!r}; "
                f"{int(r['min_iterations'])}; {float(r['mean_iterations'])!r}; "
                f"{int(r['max_iterations'])}\n"
            )
