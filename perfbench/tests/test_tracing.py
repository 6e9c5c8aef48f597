"""The timing wrappers must leave every state byte-identical."""

import os

import numpy as np
import pyarrow as pa
import pytest

from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, token_array_values, token_trigram_values
from perfbench.tracing import DRIVER_STAGE, DictSum, TaskClock, TracedExaLogLogSpec, TracedExtractor


def _batch(seed: int, rows: int = 50) -> pa.RecordBatch:
    rng = np.random.default_rng(seed)
    tokens = [rng.integers(0, 50_000, size=rng.integers(0, 40), dtype=np.int32) for _ in range(rows)]
    return pa.record_batch([pa.array(tokens, type=pa.list_(pa.int32()))], names=["tokens"])


def _pipeline(spec, extractor, batches):
    """Every spec op the engine calls, in the order a build + merge + estimate runs them."""
    states = [spec.add(spec.empty(), extractor(b)[0]) for b in batches]
    packed = spec.serialize_batch(states)
    single = [spec.serialize(s) for s in states]
    merged = spec.merge_many(spec.deserialize(p) for p in packed)
    pair = spec.merge(spec.deserialize(packed[0]), spec.deserialize(packed[1]))
    out = [spec.serialize(merged), spec.serialize(pair)]
    return packed, single, out, list(spec.finalize_batch(out)), spec.finalize(spec.deserialize(out[0]))


@pytest.mark.parametrize("extractor", [token_array_values("tokens"), token_trigram_values("tokens")])
def test_wrapped_spec_and_extractor_are_byte_identical(extractor):
    batches = [_batch(i) for i in range(5)]
    sink, clock = DictSum(), TaskClock()
    traced = TracedExaLogLogSpec(sink, 2, 20, 10, clock=clock)
    want = _pipeline(ExaLogLogSpec(2, 20, 10), extractor, batches)
    got = _pipeline(traced, TracedExtractor(extractor, sink, clock), batches)
    assert got == want

    k = {name: v for (sid, name), v in sink.value.items() if sid == DRIVER_STAGE}
    assert k["extract_calls"] == 5 and k["add_calls"] == 5
    assert k["add_n"] == sum(len(extractor(b)[0]) for b in batches)
    # the batch serialize counts once, not once more per state inside it
    assert k["serialize_calls"] == 1 + 5 + 2 and k["serialize_n"] == 5 + 5 + 2
    assert k["deserialize_n"] == 5 + 2 + 1
    assert k["merge_n"] == 5 + 2
    assert k["estimate_n"] == 2 + 1
    assert all(v >= 0 for v in k.values())


def test_wrappers_pickle_with_a_shared_clock():
    import pickle

    sink, clock = DictSum(), TaskClock()
    spec = TracedExaLogLogSpec(sink, clock=clock)
    ext = TracedExtractor(token_array_values("tokens"), sink, clock)
    spec2, ext2 = pickle.loads(pickle.dumps((spec, ext)))
    assert spec2.clock is ext2.clock


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import run

    run_dir = str(tmp_path_factory.mktemp("run"))
    os.environ.pop("SPARK_CONF_DIR", None)
    run.box_env(run_dir, trace=False)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    from exaloglog_paper_spark.session import get_spark

    s = get_spark()
    yield s
    s.stop()
    run.stop_jvm()


def test_wrapped_scan_sketch_agg_is_byte_identical(spark, tmp_path):
    from exaloglog_paper_spark.ops.source import scan_sketch_agg
    from perfbench import inputs
    from perfbench.tracing import DictSumParam

    for i in range(2):
        inputs.write_table(inputs.doc_table(i * 300, 300, seed=3), str(tmp_path / f"part-{i}.parquet"))
    sink = spark.sparkContext.accumulator({}, DictSumParam())
    clock = TaskClock()
    runs = []
    for spec, ext in (
        (ExaLogLogSpec(2, 20, 10), token_trigram_values("tokens")),
        (TracedExaLogLogSpec(sink, 2, 20, 10, clock=clock), TracedExtractor(token_trigram_values("tokens"), sink, clock)),
    ):
        rows = scan_sketch_agg(spark, str(tmp_path), spec, ext, by=["shard"]).collect()
        runs.append(sorted((r["shard"], bytes(r["sketch"]), r["n_values"]) for r in rows))
    assert runs[0] == runs[1]
    worker = {name: v for (sid, name), v in sink.value.items() if sid != DRIVER_STAGE}
    assert worker["add_calls"] > 0 and worker["merge_calls"] > 0 and worker["extract_calls"] == 2
