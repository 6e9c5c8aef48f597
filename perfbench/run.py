"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload distinct_global --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark sets the box-fit environment
itself (all cores of this machine, a driver heap that fits it, Spark's
scratch dirs under ``.perfbench/run``), makes or reuses the seeded inputs,
sets up the session ``SETUPS`` times (each: ``get_spark`` plus one warm-up
op; the median is ``setup_s``), then runs ops back to back from one
driver thread for ``--seconds`` and checks every op's output.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, alternates untraced ops with traced ones (timing wrappers
and per-call spans), and prints the per-layer metrics. The last stdout line
is the result; the line before it is a report with the run's stamps.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
# fits a 4-core, 15 GB box next to the Python workers; session.py's
# default (48g) is sized for a 32-core host
DRIVER_MEM = "2g"
# per arm, in a traced run; count metrics come from the first this-many
# traced ops, so they repeat exactly for a seed whatever the box speed
TRACE_MIN_OPS = 2


def box_env(run_dir: str, trace: bool) -> None:
    """Environment for the engine, set here and nowhere else."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k == "SPARK_MASTER":
            del os.environ[k]
    conf_dir = os.path.join(run_dir, "conf")
    os.makedirs(conf_dir)
    lines = []
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        lines = [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{log_dir}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("".join(line + "\n" for line in lines))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # keep the JVM's and Python's scratch files inside the run dir
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "SPARK_CONF_DIR": conf_dir,
            "SPARK_SUBMIT_OPTS": " ".join(p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), jvm_opts) if p),
            "TMPDIR": tmp,
            # Python workers import the package and the wrappers from here
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _identity(x):
    return x


def set_up(wl, get_spark, plain_call) -> tuple[object, list]:
    """``SETUPS`` times: start a session, then one checked warm-up op."""
    setups, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark()
        t1 = time.perf_counter()
        wl.session_ready(spark)
        wl.before_op()
        t2 = time.perf_counter()
        _, check = wl.op(spark, plain_call, wl.spec, _identity)
        t3 = time.perf_counter()
        errs = check()
        if errs:
            raise RuntimeError(f"warm-up op failed its check: {errs[:3]}")
        setups.append({"start_s": t1 - t0, "warm_op_s": t3 - t2, "untimed_s": t2 - t1})
    return spark, setups


def timed_loop(spark, wl, seconds: float, trace: bool) -> tuple[list, list]:
    """Ops back to back until ``seconds`` have passed; in a traced run,
    every other op is traced and each arm gets at least ``TRACE_MIN_OPS``."""
    from perfbench import tracing
    from perfbench.workloads import SPEC_ARGS

    sc = spark.sparkContext
    sink = sc.accumulator({}, tracing.DictSumParam()) if trace else None
    ops, failures = [], []
    deadline = time.perf_counter() + seconds
    while True:
        n_arm = [sum(1 for o in ops if o["traced"] == a) for a in (False, True)]
        if time.perf_counter() >= deadline and not (trace and min(n_arm) < TRACE_MIN_OPS):
            return ops, failures
        i = len(ops)
        traced = trace and i % 2 == 1
        if traced:
            clock = tracing.TaskClock()
            spec = tracing.TracedExaLogLogSpec(sink, *SPEC_ARGS, clock=clock)
            extractor_of = lambda e, c=clock: tracing.TracedExtractor(e, sink, c)  # noqa: E731
            call = tracing.Spans(sc, i, sink)
            before = dict(sink.value)
        else:
            spec, extractor_of, call = wl.spec, _identity, tracing.plain_call
        wl.before_op()
        epoch0, t0 = time.time(), time.perf_counter()
        try:
            tokens, check = wl.op(spark, call, spec, extractor_of)
            wall, epoch1 = time.perf_counter() - t0, time.time()
            errs = check()
        except Exception as e:  # an op that raises counts as failed
            wall, epoch1, tokens, errs = time.perf_counter() - t0, time.time(), 0, [repr(e)]
        rec = {"traced": traced, "wall": wall, "tokens": tokens, "ok": not errs}
        if traced:
            rec.update(
                spans=call.spans,
                t0=epoch0,
                t1=epoch1,
                kernel=tracing.diff(sink.value, before),
                counts=wl.layer_counts(),
            )
        failures += errs
        ops.append(rec)


def stop_jvm() -> None:
    """Stop the gateway JVM and wait for it: pyspark leaves it running
    until the interpreter exits. It exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run(args, run_dir: str) -> tuple[dict, dict]:
    from exaloglog_paper_spark.session import get_spark

    from perfbench import stats, tracing
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    stamp_before = stats.run_stamp()
    wl = WORKLOADS[args.workload](os.path.join(WORK, "cache"), run_dir, args.seed)
    t = time.perf_counter()
    prepared = wl.prepare()
    datagen_s = time.perf_counter() - t

    with stats.PeakRss() as rss:
        try:
            spark, setups = set_up(wl, get_spark, tracing.plain_call)
            ops, failures = timed_loop(spark, wl, args.seconds, bool(args.trace))
            final_errs = wl.final_check(spark)
            spark.stop()
        finally:
            stop_jvm()
    stamp_after = stats.run_stamp()

    good = [o for o in ops if o["ok"] and not o["traced"]]
    if not good:
        raise RuntimeError(f"no op succeeded: {failures[:3]}")
    walls = [o["wall"] for o in good]
    tail_s, tail_pct = stats.tail(walls)
    failed = sum(1 for o in ops if not o["ok"])
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(ops),
        "ops_timed": len(good),
        "ops_failed_frac": failed / len(ops),
        "op_s_tail_percentile": tail_pct,
        "op_walls_s": walls,
        "failures": failures[:5],
        "final_check": final_errs or "ok",
        "rel_err_over_rse": wl.max_rel_err,
        "bench.datagen_s": datagen_s,
        "inputs_cached": prepared["cached"],
        "setups": setups,
        "stamp_before": stamp_before,
        "stamp_after": stamp_after,
        "steal_frac": stats.steal_frac(stamp_before["cpu_ticks"], stamp_after["cpu_ticks"]),
    }
    result = {"correct": not failed and not final_errs, "attempted": len(ops), "failed": failed}
    if args.trace:
        from perfbench.layers import per_layer_metrics

        metrics, report["layers"] = per_layer_metrics(
            [o for o in ops if o["traced"]], walls, setups, wl, os.path.join(run_dir, "eventlog"), TRACE_MIN_OPS
        )
    else:
        metrics = {
            "op_s_p50": (statistics.median(walls), "s"),
            "op_s_tail": (tail_s, "s"),
            "tokens_per_s": (sum(o["tokens"] for o in good) / sum(walls), "1/s"),
            "setup_s": (statistics.median(s["start_s"] + s["warm_op_s"] for s in setups), "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
            "state_bytes_per_group": (wl.state_bytes, "B"),
        }
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    box_env(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        report, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
