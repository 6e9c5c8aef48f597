"""Record the event-log fixture the parser tests read.

    python3 perfbench/tests/record_fixture.py

Runs one traced ``distinct_global`` op and one traced ``shard_append`` op
(seed 1, each after one warm-up op) and writes, under ``fixtures/``:

- ``eventlog.jsonl``: those ops' events, cut down to the fields
  ``perfbench.eventlog.parse`` reads;
- ``ops.json``: the same ops' spans, wall interval, wrapper sink and
  input counts, as ``run.py`` records them.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import run  # noqa: E402

TASK_METRICS = (
    "Executor Deserialize Time",
    "Executor Run Time",
    "Executor CPU Time",
    "Result Size",
    "JVM GC Time",
    "Result Serialization Time",
)


def reduce_event(e: dict) -> dict:
    kind = e["Event"]
    out = {"Event": kind}
    if "Properties" in e:
        out["Properties"] = {"spark.jobGroup.id": e["Properties"].get("spark.jobGroup.id")}
    if kind == "SparkListenerJobStart":
        out.update({"Job ID": e["Job ID"], "Submission Time": e["Submission Time"]})
    elif kind == "SparkListenerJobEnd":
        out.update({"Job ID": e["Job ID"], "Completion Time": e["Completion Time"]})
    elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
        si = e["Stage Info"]
        keep = ("Stage ID", "Stage Attempt ID", "Submission Time", "Completion Time")
        out["Stage Info"] = {k: si[k] for k in keep if k in si}
        out["Stage Info"]["RDD Info"] = [{"Scope": r["Scope"]} for r in si["RDD Info"] if r.get("Scope")]
    elif kind == "SparkListenerTaskEnd":
        m, info = e["Task Metrics"], e["Task Info"]
        out.update({"Stage ID": e["Stage ID"], "Stage Attempt ID": e["Stage Attempt ID"]})
        out["Task Info"] = {k: info[k] for k in ("Launch Time", "Finish Time", "Getting Result Time")}
        out["Task Metrics"] = {k: m[k] for k in TASK_METRICS}
        rd = m["Shuffle Read Metrics"]
        out["Task Metrics"]["Shuffle Read Metrics"] = {k: rd[k] for k in ("Remote Bytes Read", "Local Bytes Read")}
        out["Task Metrics"]["Output Metrics"] = {"Bytes Written": m["Output Metrics"]["Bytes Written"]}
    return out


def main() -> None:
    run_dir = os.path.join(run.WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run.box_env(run_dir, trace=True)

    from exaloglog_paper_spark.session import get_spark

    from perfbench import tracing
    from perfbench.workloads import SPEC_ARGS, WORKLOADS

    spark = get_spark()
    sc = spark.sparkContext
    sink = sc.accumulator({}, tracing.DictSumParam())
    ops = []
    for i, name in enumerate(("distinct_global", "shard_append")):
        wl = WORKLOADS[name](os.path.join(run.WORK, "cache"), run_dir, 1)
        wl.prepare()
        wl.session_ready(spark)
        wl.before_op()
        wl.op(spark, tracing.plain_call, wl.spec, lambda e: e)[1]()  # warm-up
        wl.before_op()
        clock = tracing.TaskClock()
        spec = tracing.TracedExaLogLogSpec(sink, *SPEC_ARGS, clock=clock)
        call = tracing.Spans(sc, i, sink)
        before = dict(sink.value)
        t0 = time.time()
        _, check = wl.op(spark, call, spec, lambda e, c=clock: tracing.TracedExtractor(e, sink, c))
        t1 = time.time()
        errs = check()
        if errs:
            raise RuntimeError(f"{name}: op failed its check: {errs[:3]}")
        ops.append(
            {
                "workload": name,
                "t0": t0,
                "t1": t1,
                "spans": [dataclasses.asdict(s) for s in call.spans],
                "kernel": [[sid, k, v] for (sid, k), v in tracing.diff(sink.value, before).items()],
                "counts": wl.layer_counts(),
            }
        )
    spark.stop()

    groups = {s["group"] for op in ops for s in op["spans"]}
    (log_file,) = glob.glob(os.path.join(run_dir, "eventlog", "*"))
    kept, wanted = [], set()
    with open(log_file) as f:
        for line in f:
            e = json.loads(line)
            if e["Event"] in ("SparkListenerJobStart", "SparkListenerStageSubmitted"):
                if (e.get("Properties") or {}).get("spark.jobGroup.id") not in groups:
                    continue
                if "Stage Info" in e:
                    wanted.add((e["Stage Info"]["Stage ID"], e["Stage Info"]["Stage Attempt ID"]))
                else:
                    wanted.add(("job", e["Job ID"]))
            elif e["Event"] == "SparkListenerJobEnd":
                if ("job", e["Job ID"]) not in wanted:
                    continue
            elif e["Event"] == "SparkListenerStageCompleted":
                if (e["Stage Info"]["Stage ID"], e["Stage Info"]["Stage Attempt ID"]) not in wanted:
                    continue
            elif e["Event"] == "SparkListenerTaskEnd":
                if (e["Stage ID"], e["Stage Attempt ID"]) not in wanted:
                    continue
            else:
                continue
            kept.append(json.dumps(reduce_event(e)))
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(HERE, "fixtures")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "eventlog.jsonl"), "w") as f:
        f.write("\n".join(kept) + "\n")
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump(ops, f, indent=1)


if __name__ == "__main__":
    main()
