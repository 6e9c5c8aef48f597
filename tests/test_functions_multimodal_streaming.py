"""Column functions, multimodal plumbing, and streaming state tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from exaloglog_paper_spark.ops import functions as fx
from exaloglog_paper_spark.ops import tokens as tok
from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, sketch_agg, token_array_values
from exaloglog_paper_spark.sketchlib.bitops import splitmix64
from exaloglog_paper_spark.sketchlib.exaloglog import ExaLogLog


def test_token_column_functions_roundtrip(spark):
    df = spark.range(0, 500).select(F.xxhash64("id").alias("h"))
    out = (
        df.withColumn("token", fx.token_of(F.col("h")))
        .withColumn("valid", fx.token_is_valid(F.col("token")))
        .withColumn("rh", fx.hash_of_token(F.col("token")))
        .withColumn("token2", fx.token_of(F.col("rh")))
    )
    rows = out.collect()
    assert all(r.valid for r in rows)
    assert all(r.token == r.token2 for r in rows)  # idempotent roundtrip
    # token path state == hash path state (via column funcs feeding kernels)
    h = np.array([r.h for r in rows], dtype=np.int64).view(np.uint64)
    t = np.array([r.token for r in rows], dtype=np.int32).view(np.uint32).astype(np.uint64)
    a = ExaLogLog.create(2, 20, 8).add_hashes(h)
    b = ExaLogLog.create(2, 20, 8).add_tokens(t)
    assert np.array_equal(a.regs, b.regs)


def test_estimate_and_downsize_functions(spark):
    tdf = tok.token_table(spark, 200, num_partitions=4)
    spec = ExaLogLogSpec(2, 20, 10)
    sk = sketch_agg(tdf, spec, token_array_values("tokens"))
    out = sk.select(
        fx.ell_estimate(F.col("sketch"), 2, 20).alias("est"),
        fx.ell_state_change_probability(F.col("sketch"), 2, 20).alias("p"),
        fx.ell_downsize(F.col("sketch"), 2, 20, to_d=16, to_p=6).alias("small"),
    ).collect()[0]
    assert out.est > 0 and 0 <= out.p <= 1
    small = ExaLogLog.wrap(2, 16, bytes(out.small))
    assert small.cfg.p == 6
    # downsized estimate still in the right ballpark (wider RSE at p=6)
    assert abs(small.estimate() / out.est - 1) < 0.3


def test_token_stream_estimate_column(spark):
    from exaloglog_paper_spark.sketchlib.exaloglog import compute_token

    n = 5000
    h = splitmix64(np.arange(n, dtype=np.uint64))
    toks = compute_token(h).astype(np.uint32).view(np.int32)
    df = spark.createDataFrame([(toks.tolist(),)], "tokens array<int>")
    est = df.select(fx.token_stream_estimate(F.col("tokens")).alias("e")).collect()[0].e
    assert abs(est / n - 1) < 0.02


def test_token_stream_estimate_distributed_matches_driver(spark):
    """Sparse mode across partitions: per-row token-stream estimates
    computed in Spark equal the driver's ``estimate_distinct_from_tokens``
    on the same tokens, and are near-exact at per-document cardinality."""
    from exaloglog_paper_spark.sketchlib.exaloglog import (
        compute_token,
        estimate_distinct_from_tokens,
    )

    rows = tok.token_table(spark, 60, num_partitions=4).select("doc_id", "tokens").collect()
    toks = {}
    for r in rows:
        h = splitmix64(np.asarray(r.tokens, dtype=np.int64).astype(np.uint64))
        toks[r.doc_id] = compute_token(h)
    df = spark.createDataFrame(
        [(d, t.astype(np.uint32).view(np.int32).tolist()) for d, t in toks.items()],
        "doc_id string, tokens array<int>",
    ).repartition(4)
    got = {
        r.doc_id: r.e
        for r in df.select("doc_id", fx.token_stream_estimate(F.col("tokens")).alias("e"))
        .collect()
    }
    assert got == {d: estimate_distinct_from_tokens(t) for d, t in toks.items()}
    for r in rows:
        exact = len(set(r.tokens))
        assert got[r.doc_id] == pytest.approx(exact, rel=0.02)


def test_sql_registered_functions(spark):
    from exaloglog_paper_spark.ops.functions import register_sql_functions
    from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, sketch_agg

    register_sql_functions(spark, 2, 20)
    tdf = tok.token_table(spark, 150, num_partitions=3)
    spec = ExaLogLogSpec(2, 20, 10)
    sketch_agg(tdf, spec, token_array_values("tokens")).createOrReplaceTempView("sk")
    row = spark.sql(
        "SELECT ell_estimate(sketch) AS est, ell_change_probability(sketch) AS p FROM sk"
    ).collect()[0]
    assert row.est > 0 and 0 <= row.p <= 1
    r2 = spark.sql(
        "SELECT ell_token_valid(ell_token(xxhash64('abc'))) AS ok, "
        "ell_hash_of_token(ell_token(xxhash64('abc'))) AS h"
    ).collect()[0]
    assert r2.ok
    tdf.createOrReplaceTempView("toks")
    # proper pipeline: element hashes -> ExaLogLog tokens -> stream estimate
    r3 = spark.sql(
        """
        WITH e AS (
            SELECT doc_id, ell_token(xxhash64(t)) AS tk
            FROM toks LATERAL VIEW explode(tokens) AS t
        ),
        g AS (SELECT doc_id, collect_list(tk) AS tks, count(DISTINCT tk) AS exact
              FROM e GROUP BY doc_id)
        SELECT avg(ell_token_stream_estimate(tks) / exact) AS ratio FROM g
        """
    ).collect()[0]
    assert r3.ratio == pytest.approx(1.0, abs=0.02)  # near-exact at small n


def test_martingale_partition_estimates(spark):
    from exaloglog_paper_spark.ops.functions import martingale_partition_estimates
    from exaloglog_paper_spark.sketchlib.constants import martingale_rse_constant

    tdf = tok.token_table(spark, 120, num_partitions=3)
    rows = martingale_partition_estimates(
        tdf, token_array_values("tokens"), 2, 20, 10
    ).collect()
    assert len(rows) == 3
    rse = martingale_rse_constant(2, 20) / (1 << 10) ** 0.5
    for r in rows:
        # per-partition true distinct ~ estimate within generous band
        assert r.martingale_estimate > 0 and r.ml_estimate > 0
        assert abs(r.martingale_estimate / r.ml_estimate - 1) < 8 * rse


@pytest.mark.parametrize("n_part", [1, 5])
def test_keyed_martingale_equals_each_keys_stream(spark, n_part):
    """With ``by``, each key's estimates equal the whole-stream replay of
    its tokens concatenated in ``order_by`` order, bit for bit. Arrow
    batches of 5 rows make every source (~24 docs) a run that spans
    batches; the input's partition count does not change the result."""
    from exaloglog_paper_spark.ops.functions import martingale_partition_estimates
    from exaloglog_paper_spark.sketchlib.replay import (
        StreamingFirstHits,
        martingale_estimate_stream,
    )

    tdf = tok.token_table(spark, 120, num_partitions=n_part)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        rows = martingale_partition_estimates(
            tdf, token_array_values("tokens"), 2, 20, 8,
            by=["source"], order_by=["doc_id"],
        ).collect()
    finally:
        spark.conf.set(key, old)
    streams = {}
    for r in sorted(tdf.collect(), key=lambda r: r.doc_id):
        streams.setdefault(r.source, []).extend(r.tokens)
    assert sorted(r.source for r in rows) == sorted(streams)
    for r in rows:
        flat = np.array(streams[r.source], dtype=np.int64)
        h = splitmix64(flat.view(np.uint64))
        acc = StreamingFirstHits(2, 20, 8)
        acc.update(h)
        assert r.martingale_estimate == martingale_estimate_stream(h, 2, 20, 8)
        assert r.ml_estimate == acc.estimates()[1]
        assert r.n_values == len(flat)


def test_martingale_partition_stream_bound_query(spark):
    """The bounded-memory per-bucket martingale query: every md5 bucket
    present, within the published bound, and invariant to the input's
    partition layout (hash repartitioning re-collects each bucket)."""
    from exaloglog_paper_spark.ops.queries import martingale_partition_stream_bound

    rows = martingale_partition_stream_bound(spark, "/root/testdata/sf0.001").collect()
    assert [r.bucket for r in rows] == list(range(8))
    assert all(r.martingale_within_bound for r in rows)
    assert all(r.total_tokens > 0 and r.exact_distinct_tokens > 0 for r in rows)


def test_multimodal_plumbing(spark):
    from exaloglog_paper_spark.ops.multimodal import (
        decode_and_featurize,
        sample_frames,
        synth_media_table,
    )

    media = synth_media_table(spark, 120).cache()
    assert media.count() == 120
    # codec stub raises without fake_codec
    with pytest.raises(Exception, match="NotImplementedError|real media codecs"):
        decode_and_featurize(media, fake_codec=False).collect()
    feats = decode_and_featurize(media, dim=32, fake_codec=True)
    rows = feats.collect()
    assert len(rows) == 120
    assert all(len(r.features) == 32 for r in rows)
    # deterministic: same blob -> same features
    again = {r.media_id: r.features for r in decode_and_featurize(media, dim=32, fake_codec=True).collect()}
    for r in rows:
        assert again[r.media_id] == r.features
    frames = sample_frames(media)
    assert frames.filter(F.col("frame_no") % 4 != 0).count() == 0
    assert frames.count() > 0


def test_streaming_restart_from_checkpoint(spark, tmp_path):
    """Stop a stateful sketch stream, append new data, restart from the
    same checkpointLocation: state carries over and the final estimates
    equal a batch run over ALL data (exactly-once state recovery)."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops.agg import (
        ExaLogLogSpec,
        sketch_agg,
        token_array_values,
        with_estimate,
    )
    from exaloglog_paper_spark.streaming.stateful import streaming_distinct_sketch

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spec = ExaLogLogSpec(2, 20, 8)
    first = tok.token_table(spark, 150, num_partitions=3)
    first.write.mode("append").parquet(src)

    latest: dict = {}

    def run_once():
        stream = (
            spark.readStream.schema(tok.TOKEN_TABLE_SCHEMA).parquet(src)
            .selectExpr("source AS key", "tokens")
            .groupBy("key")
        )

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                latest[r.key] = (round(r.estimate, 6), r.n_values)

        q = (
            streaming_distinct_sketch(stream, spec)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # second batch of NEW rows arrives after the first query stopped
    second = tok.token_table(spark, 150, num_partitions=3, seed=777)
    second.write.mode("append").parquet(src)
    run_once()
    got = latest
    both = first.unionByName(second)
    batch = {
        r.source: (round(r.estimate, 6), r.n_values)
        for r in with_estimate(
            sketch_agg(both, spec, token_array_values("tokens"), by=["source"]), spec
        ).collect()
    }
    for key, v in batch.items():
        assert got[key] == v, key


def test_windowed_streaming_matches_batch(spark, tmp_path):
    """Tumbling-window watermarked streaming aggregation == batch result."""
    from exaloglog_paper_spark.streaming.windows import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)
    batch = {
        (r.window_start, r.event_type): (r.events, r.approx_users)
        for r in windowed_event_counts(events).collect()
    }
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.events, r.approx_users)
        for r in spark.sql("select * from win_events").collect()
    }
    # append mode emits only watermark-closed windows; every emitted window
    # must match batch exactly, and most windows should have closed
    assert len(got) >= 0.5 * len(batch)
    for k, v in got.items():
        assert batch[k] == v, k


def test_streaming_sketch_matches_batch(spark, tmp_path):
    """availableNow micro-batch stream over a parquet dir: final per-source
    estimates equal the batch pipeline's (same kernel, same states)."""
    from exaloglog_paper_spark.streaming.stateful import streaming_distinct_sketch

    src = str(tmp_path / "stream_src")
    tdf = tok.token_table(spark, 300, num_partitions=6)
    tdf.write.parquet(src)

    spec = ExaLogLogSpec(2, 20, 8)
    stream = (
        spark.readStream.schema(tok.TOKEN_TABLE_SCHEMA).parquet(src)
        .selectExpr("source AS key", "tokens")
        .groupBy("key")
    )
    out = streaming_distinct_sketch(stream, spec)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_sketch")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.key: (r.estimate, r.n_values)
        for r in spark.sql(
            "select key, estimate, n_values from stream_sketch"
        ).collect()
    }
    from exaloglog_paper_spark.ops.agg import with_estimate

    batch = {
        r.source: (r.estimate, r.n_values)
        for r in with_estimate(
            sketch_agg(tdf, spec, token_array_values("tokens"), by=["source"]), spec
        ).collect()
    }
    # memory sink in update mode may hold several versions; the last per key
    # must match the batch result exactly
    for src_key, (est, n) in batch.items():
        assert got[src_key] == (est, n), src_key


def test_watermark_drops_late_events(spark, tmp_path):
    """Watermark semantics: an event arriving LATER than the watermark must
    be dropped from the streaming aggregation (batch, with no watermark,
    keeps it). Two availableNow runs against one checkpoint — the watermark
    persists in the checkpoint state between runs."""
    import pandas as pd

    from exaloglog_paper_spark.streaming.windows import windowed_event_counts

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")

    def write_events(rows):
        pdf = pd.DataFrame(rows, columns=["ts", "event_type", "user_id"])
        spark.createDataFrame(pdf).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.mode("append").parquet(src)

    # run 1: events up to 12:10 -> watermark after the run = 12:10 - 2h
    write_events(
        [("2026-01-01 09:30:00", "click", "u1"),
         ("2026-01-01 12:10:00", "click", "u2")],
    )
    schema = "ts timestamp, event_type string, user_id string"

    def run_once():
        # foreachBatch: the only update-mode sink that supports checkpoint
        # recovery (the watermark lives in the checkpoint between runs)
        emitted = []

        def sink(df, epoch_id):
            emitted.extend(df.collect())

        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            windowed_event_counts(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(str(r.window_start), r.event_type): r.events for r in emitted}

    run_once()
    # run 2: one event 1 minute late beyond the watermark (09:31 < 10:10)
    # and one on-time event
    write_events(
        [("2026-01-01 09:31:00", "click", "u3"),      # LATE -> dropped
         ("2026-01-01 12:30:00", "view", "u4")],      # on time -> emitted
    )
    got2 = run_once()
    # the memory sink is fresh per run: only run-2 updates appear
    assert ("2026-01-01 12:00:00", "view") in got2
    assert not any(k[0] == "2026-01-01 09:00:00" for k in got2), got2
    # batch (no watermark) DOES count the late event
    batch = {
        (str(r.window_start), r.event_type): r.events
        for r in windowed_event_counts(spark.read.parquet(src)).collect()
    }
    assert batch[("2026-01-01 09:00:00", "click")] == 2
