"""Per-layer metrics of a traced run.

Three sources, joined per traced op:

- driver-side spans (``tracing.Spans``): each public call's interval and
  Spark job group;
- the event log (``eventlog``): each job's and stage's interval, the
  operators in each stage and its summed task metrics;
- the wrapper sink (``tracing``): kernel and extractor calls, items and
  seconds, keyed by the stage that ran them.

Wall-time split. Inside a span, time covered by a stage goes to the
stage's layer (split evenly where stages of different layers overlap);
time inside a job but outside any stage is ``spark.scheduling``; time
outside jobs is driver time, of which the wrapper-measured driver kernel
time is ``sketchlib.exaloglog`` and the rest is ``driver`` for a
DataFrame-building call or the call's module otherwise. A stage's layer
is set by the first Python operator it holds (``MapInArrow`` build, then
``FlatMapGroupsInPandas`` merge or fold, then ``ArrowEvalPython``
estimate), else ``WriteFiles``, else the call's module. Time in an op
outside every span is ``unaccounted_s``.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from . import eventlog
from .tracing import DRIVER_STAGE

LAYERS = (
    "driver",
    "spark.scheduling",
    "ops.source",
    "ops.agg.tree_merge",
    "ops.agg.with_estimate",
    "ops.snapshot_table",
    "ops.profile",
    "sketchlib.exaloglog",
)
WALL_METRIC = {layer: "wall." + layer.rsplit(".", 1)[-1] + "_s" for layer in LAYERS}
WALL_METRIC["sketchlib.exaloglog"] = "wall.kernel_driver_s"

# name -> unit; the order is the order printed
METRICS = {
    "session.start_s": "s",
    "source.splits": "count",
    "source.scan_tasks": "count",
    "source.read_bytes": "B",
    "source.decode_s": "s",
    "extract.calls": "count",
    "extract.s": "s",
    "kernel.add_calls": "count",
    "kernel.add_s": "s",
    "kernel.add_ns_per_value": "ns",
    "kernel.serialize_states": "count",
    "kernel.serialize_s": "s",
    "kernel.deserialize_states": "count",
    "kernel.deserialize_s": "s",
    "kernel.merge_states": "count",
    "kernel.merge_s": "s",
    "kernel.estimate_states": "count",
    "kernel.estimate_s": "s",
    "merge.driver_fold": "count",
    "merge.levels": "count",
    "merge.tasks": "count",
    "merge.task_s": "s",
    "merge.shuffle_bytes": "B",
    "merge.overhead_s": "s",
    "snapshot.commit_s": "s",
    "snapshot.jobs": "count",
    "snapshot.bytes_written": "B",
    "snapshot.read_s": "s",
    "snapshot.expire_s": "s",
    "profile.build_task_s": "s",
    "profile.fold_tasks": "count",
    "profile.fold_task_s": "s",
    "profile.fold_shuffle_bytes": "B",
    "profile.driver_fold_s": "s",
    "driver.plan_s": "s",
    "driver.eager_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scheduler_delay_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.result_bytes": "B",
    **{m: "s" for m in WALL_METRIC.values()},
    "unaccounted_s": "s",
    "wall.accounted_frac": "ratio",
    "trace.op_s_p50": "s",
    "trace.overhead_frac": "ratio",
    "accuracy.rel_err_over_rse": "ratio",
}
# counts that repeat exactly for a seed: taken from the first traced ops
# only, so a faster or slower box (more or fewer ops) cannot change them.
# Shuffle, result and written bytes are left out: state rows carry the
# engine's build_secs timing column, so their sizes move by a few bytes.
EXACT = {k for k, u in METRICS.items() if u == "count"} | {"source.read_bytes"}


def stage_layer(stage: eventlog.Stage, module: str) -> str:
    ops = stage.ops
    if "MapInArrow" in ops:
        return "ops.profile" if module == "ops.profile" else "ops.source"
    if "FlatMapGroupsInPandas" in ops:
        return "ops.profile" if module == "ops.profile" else "ops.agg.tree_merge"
    if "ArrowEvalPython" in ops:
        return "ops.agg.with_estimate"
    if "WriteFiles" in ops:
        return "ops.snapshot_table"
    return module


def span_wall(span, jobs: list, stages: list) -> dict:
    """Seconds of one span per layer; the values sum to the span's length."""
    t0, t1 = span.t0 * 1000.0, span.t1 * 1000.0
    job_iv = [(max(j.submit_ms, t0), min(j.end_ms or t1, t1)) for j in jobs]
    st_iv = [
        (max(s.submit_ms, t0), min(s.done_ms or t1, t1), stage_layer(s, span.module)) for s in stages
    ]
    cuts = sorted({t0, t1, *(x for iv in job_iv for x in iv[:2]), *(x for iv in st_iv for x in iv[:2])})
    cuts = [c for c in cuts if t0 <= c <= t1]
    out: dict = defaultdict(float)
    own = "driver" if span.builds_df else span.module
    for a, b in zip(cuts, cuts[1:]):
        mid, width = (a + b) / 2, (b - a) / 1000.0
        active = {layer for x, y, layer in st_iv if x <= mid < y}
        if active:
            for layer in active:
                out[layer] += width / len(active)
        elif any(x <= mid < y for x, y in job_iv):
            out["spark.scheduling"] += width
        else:
            out[own] += width
    moved = min(span.driver_kernel_s, out[own])
    out[own] -= moved
    out["sketchlib.exaloglog"] += moved
    return dict(out)


def _kernel_totals(kernel: dict) -> dict:
    tot: dict = defaultdict(float)
    for (_, name), v in kernel.items():
        tot[name] += v
    return tot


def op_metrics(op: dict, log: eventlog.EventLog) -> dict:
    """Every per-layer metric of one traced op (``op`` from run.py)."""
    m: dict = defaultdict(float)
    m.update(op["counts"])
    k = _kernel_totals(op["kernel"])
    m["source.decode_s"] = k["decode_s"]
    m["extract.calls"] = k["extract_calls"]
    m["extract.s"] = k["extract_s"]
    m["kernel.add_calls"] = k["add_calls"]
    m["kernel.add_s"] = k["add_s"]
    m["kernel.add_ns_per_value"] = k["add_s"] / k["add_n"] * 1e9 if k["add_n"] else 0.0
    for name in ("serialize", "deserialize", "merge", "estimate"):
        m[f"kernel.{name}_states"] = k[f"{name}_n"]
        m[f"kernel.{name}_s"] = k[f"{name}_s"]
    m["merge.driver_fold"] = 1 if op["kernel"].get((DRIVER_STAGE, "merge_calls")) else 0

    stage_kernel_s: dict = defaultdict(float)
    for (sid, name), v in op["kernel"].items():
        if name.endswith("_s") and name != "decode_s":
            stage_kernel_s[sid] += v

    seen_read = False
    for span in op["spans"]:
        jobs, stages = log.jobs_of(span.group), log.stages_of(span.group)
        length = span.t1 - span.t0
        split = span_wall(span, jobs, stages)
        for layer, s in split.items():
            m[WALL_METRIC[layer]] += s
        m["spark.jobs"] += len(jobs)
        if span.builds_df:
            m["driver.eager_jobs"] += len(jobs)
            m["driver.plan_s"] += split.get("driver", 0.0)
        if span.name == "update_snapshot_table":
            m["snapshot.commit_s"] += length
            m["snapshot.jobs"] += len(jobs)
            m["snapshot.bytes_written"] += sum(s.bytes_written for s in stages)
        elif span.name == "expire_snapshots":
            m["snapshot.expire_s"] += length
        # the read-back is read_snapshot_table and the calls after it
        seen_read = seen_read or span.name == "read_snapshot_table"
        if seen_read:
            m["snapshot.read_s"] += length
        if span.module == "ops.profile" and jobs:
            m["profile.driver_fold_s"] += span.t1 - max(j.end_ms or 0 for j in jobs) / 1000.0
        for s in stages:
            layer = stage_layer(s, span.module)
            m["spark.stages"] += 1
            m["spark.tasks"] += s.tasks
            m["spark.scheduler_delay_s"] += s.sched_delay_ms / 1000.0
            m["spark.executor_run_s"] += s.run_ms / 1000.0
            m["spark.executor_cpu_s"] += s.cpu_ns / 1e9
            m["spark.jvm_gc_s"] += s.gc_ms / 1000.0
            m["spark.result_bytes"] += s.result_bytes
            if "MapInArrow" in s.ops:
                m["source.scan_tasks"] += s.tasks
            if "FlatMapGroupsInPandas" in s.ops and layer != "ops.profile":
                m["merge.levels"] += 1
                m["merge.tasks"] += s.tasks
                m["merge.task_s"] += s.run_ms / 1000.0
                m["merge.shuffle_bytes"] += s.shuffle_read_bytes
                m["merge.overhead_s"] += s.run_ms / 1000.0 - stage_kernel_s[s.id]
            elif layer == "ops.profile":
                if "MapInArrow" in s.ops:
                    m["profile.build_task_s"] += s.run_ms / 1000.0
                else:
                    m["profile.fold_tasks"] += s.tasks
                    m["profile.fold_task_s"] += s.run_ms / 1000.0
                    m["profile.fold_shuffle_bytes"] += s.shuffle_read_bytes
    covered = sum(sp.t1 - sp.t0 for sp in op["spans"])
    m["unaccounted_s"] = max(op["t1"] - op["t0"] - covered, 0.0)
    return {name: m[name] for name in METRICS}


def per_layer_metrics(traced_ops, untraced_walls, setups, workload, log_dir, exact_ops) -> tuple[dict, dict]:
    """(metrics as ``{name: (value, unit)}``, report with the layer split)."""
    log = eventlog.load(log_dir)
    ok = [o for o in traced_ops if o["ok"]]
    if not ok:
        raise RuntimeError("no traced op succeeded")
    per_op = [op_metrics(o, log) for o in ok]
    walls = [o["t1"] - o["t0"] for o in ok]

    def mean(name, rows):
        return statistics.fmean(r.get(name, 0.0) for r in rows)

    values = {name: mean(name, per_op[:exact_ops] if name in EXACT else per_op) for name in METRICS}
    wall = statistics.fmean(walls)
    values["wall.accounted_frac"] = sum(values[w] for w in WALL_METRIC.values()) / wall
    values["trace.op_s_p50"] = statistics.median(walls)
    values["trace.overhead_frac"] = statistics.median(walls) / statistics.median(untraced_walls) - 1.0
    values["session.start_s"] = statistics.median(s["start_s"] for s in setups)
    values["accuracy.rel_err_over_rse"] = workload.max_rel_err
    split = {layer: values[WALL_METRIC[layer]] for layer in LAYERS}
    report = {
        "traced_ops": len(ok),
        "op_wall_mean_s": wall,
        "wall_split_s": split,
        "unaccounted_s": values["unaccounted_s"],
        "accounted_frac": values["wall.accounted_frac"],
        "dominant_layer": max(split, key=split.get),
    }
    return {name: (values[name], unit) for name, unit in METRICS.items()}, report
