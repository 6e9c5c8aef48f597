"""Per-op kernel microbenchmarks — the repo-side counterpart of the
reference's JMH table (BASELINE.md: insert 25.4 ns/elem, merge 3.52 us,
estimate 6.02 us, serialize 0.30 us on a dedicated c5.metal).

Prints ONE JSON line; reproduces the per-op numbers quoted in
BENCH/BASELINE.md. Usage: python scripts/microbench.py [--n 2000000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from exaloglog_paper_spark.ops.agg import ExaLogLogSpec  # noqa: E402
from exaloglog_paper_spark.sketchlib.bitops import (  # noqa: E402
    splitmix64_stream,
    unpack_registers,
)
from exaloglog_paper_spark.sketchlib.exaloglog import ExaLogLog  # noqa: E402


def best_of(fn, reps=7):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2_000_000)
    ap.add_argument("--t", type=int, default=2)
    ap.add_argument("--d", type=int, default=20)
    ap.add_argument("--p", type=int, default=8)  # reference JMH config (2,20,8)
    args = ap.parse_args()
    t, d, p = args.t, args.d, args.p
    n = args.n
    hashes = splitmix64_stream(1, n)

    out = {"config": f"ExaLogLog({t},{d},{p})", "n": n}
    # batch insert incl. hashing-free path (pre-hashed, like the JMH loop)
    out["insert_ns_per_element"] = round(
        best_of(lambda: ExaLogLog.create(t, d, p).add_hashes(hashes)) / n * 1e9, 1
    )
    # token-stream shape: heavy repetition from a small distinct pool (the
    # real workload of the flagship query — few distinct k per register, so
    # the no-op filter can't drop and the dense-grid build path carries it)
    pool = splitmix64_stream(7, 50_000)
    rep = pool[(splitmix64_stream(8, n) % np.uint64(50_000)).astype(np.int64)]
    out["insert_repeated_pool_ns_per_element"] = round(
        best_of(lambda: ExaLogLog.create(t, d, p).add_hashes(rep)) / n * 1e9, 1
    )

    a = ExaLogLog.create(t, d, p).add_hashes(splitmix64_stream(2, 100_000))
    b = ExaLogLog.create(t, d, p).add_hashes(splitmix64_stream(3, 100_000))
    out["merge_us"] = round(best_of(lambda: a.copy().merge_(b), reps=200) * 1e6, 1)
    # batched k-way merge (the shape tree-merge reducers + driver folds
    # actually run via spec.merge_many): amortized per-pair cost
    spec_mm = ExaLogLogSpec(t, d, p)
    many = [
        ExaLogLog.create(t, d, p).add_hashes(splitmix64_stream(100 + i, 20_000))
        for i in range(64)
    ]
    # merge_many rebinds states[0].regs only, so copy just that one
    out["merge_many_us_per_pair"] = round(
        best_of(lambda: spec_mm.merge_many([many[0].copy()] + many[1:]), reps=50)
        / (len(many) - 1) * 1e6, 1,
    )
    out["estimate_us"] = round(best_of(lambda: a.estimate(), reps=200) * 1e6, 1)
    # combined op, mirroring the reference's MergeAndEstimationTest.java:74-84
    # JMH op (published 9.41 us for ELL(2,20,8)): fresh merged sketch (copy,
    # like the static merge's allocation) then the ML estimate
    out["merge_and_estimate_us"] = round(
        best_of(lambda: a.copy().merge_(b).estimate(), reps=200) * 1e6, 1
    )
    out["serialize_us"] = round(best_of(lambda: a.serialize(), reps=200) * 1e6, 1)
    state = a.serialize()
    out["deserialize_us"] = round(
        best_of(lambda: ExaLogLog.wrap(t, d, state), reps=200) * 1e6, 1
    )

    # batched estimation over many serialized states (finalize_batch path)
    spec = ExaLogLogSpec(t, d, p)
    sketches = [
        ExaLogLog.create(t, d, p).add_hashes(splitmix64_stream(i + 10, 3000))
        for i in range(512)
    ]
    states = [sk.serialize() for sk in sketches]
    out["estimate_batched_us_per_state"] = round(
        best_of(lambda: spec.finalize_batch(states), reps=5) / len(states) * 1e6, 1
    )
    # the codec at B = 512: one pack of the flush, one unpack of the batch
    out["serialize_batched_us_per_state"] = round(
        best_of(lambda: spec.serialize_batch(sketches), reps=20) / len(states) * 1e6, 1
    )
    cfg = spec.cfg
    packed = np.frombuffer(b"".join(states), np.uint8).reshape(len(states), -1)
    out["deserialize_batched_us_per_state"] = round(
        best_of(lambda: unpack_registers(packed, cfg.register_bits, cfg.m), reps=20)
        / len(states) * 1e6, 1,
    )

    # sequential martingale over a full stream: per-element loop (the
    # reference's only shape) vs the vectorized first-hit replay
    # (sketchlib/replay.py) — same estimate, batch speed
    from exaloglog_paper_spark.sketchlib.martingale import (
        MartingaleEstimator,
        add_hashes_martingale,
    )
    from exaloglog_paper_spark.sketchlib.replay import martingale_estimate_stream

    mh = hashes[:200_000]
    out["martingale_loop_ns_per_element"] = round(
        best_of(
            lambda: add_hashes_martingale(
                ExaLogLog.create(t, d, p), mh, MartingaleEstimator()
            ),
            reps=1,
        )
        / len(mh) * 1e9, 1,
    )
    out["martingale_replay_ns_per_element"] = round(
        best_of(lambda: martingale_estimate_stream(hashes, t, d, p), reps=3)
        / n * 1e9, 1,
    )

    # count-sketch (linear frequency-moment state): batch insert rate and
    # the driver-side estimator costs (F2, inner product on merged states)
    from exaloglog_paper_spark.sketchlib.countsketch import (
        CountSketch,
        CountSketchConfig,
    )

    cs_cfg = CountSketchConfig(width=8192, depth=5)
    out["countsketch_insert_ns_per_element"] = round(
        best_of(lambda: CountSketch(cs_cfg).add_hashes(rep), reps=3) / n * 1e9, 1
    )
    cs_a = CountSketch(cs_cfg).add_hashes(splitmix64_stream(4, 200_000))
    cs_b = CountSketch(cs_cfg).add_hashes(splitmix64_stream(5, 200_000))
    out["countsketch_f2_us"] = round(best_of(lambda: cs_a.f2(), reps=200) * 1e6, 1)
    out["countsketch_inner_product_us"] = round(
        best_of(lambda: cs_a.inner_product(cs_b), reps=200) * 1e6, 1
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
