"""Event-log parser and layer accounting, on a recorded fixture."""

import json
import os

import pytest

from perfbench import eventlog, layers
from perfbench.tracing import Span

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def log():
    with open(os.path.join(FIXTURES, "eventlog.jsonl")) as f:
        return eventlog.parse(f)


@pytest.fixture(scope="module")
def ops():
    with open(os.path.join(FIXTURES, "ops.json")) as f:
        raw = json.load(f)
    for op in raw:
        op["spans"] = [Span(**s) for s in op["spans"]]
        op["kernel"] = {(sid, k): v for sid, k, v in op["kernel"]}
    return {op["workload"]: op for op in raw}


def test_parser_reads_jobs_stages_and_tasks(log, ops):
    groups = {s.group for op in ops.values() for s in op["spans"]}
    assert log.jobs and {j.group for j in log.jobs.values()} <= groups
    for job in log.jobs.values():
        assert job.end_ms >= job.submit_ms
    for st in log.stages.values():
        assert st.done_ms >= st.submit_ms
        assert st.tasks >= 1 and st.run_ms >= 0
    all_ops = set().union(*(s.ops for s in log.stages.values()))
    assert {"MapInArrow", "FlatMapGroupsInPandas", "ArrowEvalPython", "WriteFiles"} <= all_ops


def test_parser_sums_task_metrics():
    lines = [
        {"Event": "SparkListenerStageSubmitted", "Properties": {"spark.jobGroup.id": "g"},
         "Stage Info": {"Stage ID": 4, "Stage Attempt ID": 0, "Submission Time": 100,
                        "RDD Info": [{"Scope": json.dumps({"id": "1", "name": "MapInArrow"})}, {}]}},
        *[
            {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Stage Attempt ID": 0,
             "Task Info": {"Launch Time": 100, "Finish Time": 200, "Getting Result Time": 0},
             "Task Metrics": {"Executor Deserialize Time": 5, "Executor Run Time": 80,
                              "Executor CPU Time": 7_000_000, "Result Size": 10, "JVM GC Time": 1,
                              "Result Serialization Time": 2,
                              "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4},
                              "Output Metrics": {"Bytes Written": 9}}}
            for _ in range(2)
        ],
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 4, "Stage Attempt ID": 0, "Submission Time": 100, "Completion Time": 250}},
    ]
    log = eventlog.parse(json.dumps(e) for e in lines)
    (st,) = log.stages.values()
    assert (st.group, st.ops, st.submit_ms, st.done_ms) == ("g", frozenset({"MapInArrow"}), 100, 250)
    assert (st.tasks, st.run_ms, st.cpu_ns, st.gc_ms, st.result_bytes) == (2, 160, 14_000_000, 2, 20)
    assert (st.shuffle_read_bytes, st.bytes_written) == (14, 18)
    assert st.sched_delay_ms == 2 * (100 - 80 - 5 - 2)


def test_span_wall_splits_overlaps_and_gaps():
    stages = [
        eventlog.Stage(1, 0, "g", frozenset({"MapInArrow"}), 200, 600),
        eventlog.Stage(2, 0, "g", frozenset({"ArrowEvalPython"}), 400, 800),
    ]
    jobs = [eventlog.Job(0, "g", 100, 900)]
    span = Span("collect", "g", "driver", False, 0.0, 1.0, driver_kernel_s=0.05)
    split = layers.span_wall(span, jobs, stages)
    assert split == pytest.approx(
        {"driver": 0.15, "sketchlib.exaloglog": 0.05, "spark.scheduling": 0.2,
         "ops.source": 0.3, "ops.agg.with_estimate": 0.3}
    )


@pytest.mark.parametrize("workload, dominant", [("distinct_global", "ops.source"), ("shard_append", None)])
def test_layer_accounting(log, ops, workload, dominant):
    op = ops[workload]
    wall = op["t1"] - op["t0"]
    for span in op["spans"]:
        split = layers.span_wall(span, log.jobs_of(span.group), log.stages_of(span.group))
        assert sum(split.values()) == pytest.approx(span.t1 - span.t0, abs=1e-6)
        assert min(split.values()) >= 0
    m = layers.op_metrics(op, log)
    accounted = sum(m.get(w, 0.0) for w in layers.WALL_METRIC.values())
    assert accounted <= wall + 1e-6
    assert m["unaccounted_s"] >= 0
    assert accounted + m["unaccounted_s"] == pytest.approx(wall, abs=1e-6)
    assert accounted >= 0.85 * wall
    if dominant:
        split = {layer: m.get(w, 0.0) for layer, w in layers.WALL_METRIC.items()}
        assert max(split, key=split.get) == dominant


def test_op_metrics_name_the_merge_arm(log, ops):
    glob_m = layers.op_metrics(ops["distinct_global"], log)
    assert glob_m["merge.driver_fold"] == 1 and glob_m["merge.levels"] == 0
    assert glob_m["driver.eager_jobs"] == glob_m["spark.jobs"] > 0
    append = layers.op_metrics(ops["shard_append"], log)
    assert append["merge.driver_fold"] == 0 and append["merge.levels"] >= 1
    assert append["snapshot.jobs"] > 0 and append["snapshot.bytes_written"] > 0
    assert append["kernel.add_calls"] > 0 and append["kernel.merge_states"] > 0
