"""Distributed sketch aggregation tests: partitioning invariance (the key
distributed-correctness property — state equality no matter how rows are
split), grouped aggregation, salted path, estimate accuracy vs exact."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from exaloglog_paper_spark.ops import tokens as tok
from exaloglog_paper_spark.ops.agg import (
    ExaLogLogSpec,
    HyperLogLogSpec,
    hash64_values,
    sketch_agg,
    sketch_agg_salted,
    token_array_values,
    with_estimate,
)
from exaloglog_paper_spark.sketchlib.bitops import splitmix64
from exaloglog_paper_spark.sketchlib.exaloglog import ExaLogLog

N_ROWS = 400
SEED = 42


@pytest.fixture(scope="module")
def tdf(spark):
    return tok.token_table(spark, N_ROWS, seed=SEED, num_partitions=7).cache()


@pytest.fixture(scope="module")
def truth():
    return tok.exact_ground_truth(N_ROWS, seed=SEED)


def test_token_table_deterministic_under_partitioning(spark):
    a = tok.token_table(spark, 100, num_partitions=1).orderBy("doc_id").collect()
    b = tok.token_table(spark, 100, num_partitions=13).orderBy("doc_id").collect()
    assert a == b
    # n_tok invariant (FIXTURES.md F1) and pass-through bit-identity vs the
    # local generator (the per-row invariant from BASELINE.json input_hint)
    import numpy as np

    local = tok.generate_rows(np.arange(100, dtype=np.uint64))
    for row, (_, lrow) in zip(a, local.iterrows()):
        assert row.n_tok == len(row.tokens) == lrow.n_tok
        assert list(row.tokens) == list(lrow.tokens)
        assert row.doc_id == lrow.doc_id and row.source == lrow.source


def test_global_sketch_state_equals_local_build(spark, tdf, truth):
    """Distributed build (7 partitions, tree merge) must produce the exact
    register state of a single local build over the same values."""
    spec = ExaLogLogSpec(2, 20, 8)
    row = sketch_agg(tdf, spec, token_array_values("tokens")).collect()[0]
    # local reference build
    pdf = tok.generate_rows(np.arange(N_ROWS, dtype=np.uint64))
    flat = np.concatenate(pdf["tokens"].to_list()).astype(np.int64)
    local = ExaLogLog.create(2, 20, 8).add_hashes(splitmix64(flat.view(np.uint64)))
    assert bytes(row.sketch) == local.serialize()
    assert row.n_values == truth["total_tokens"]
    est = spec.finalize(spec.deserialize(bytes(row.sketch)))
    rse = spec.theoretical_rse()
    assert abs(est / truth["distinct_tokens"] - 1) < 3 * rse


def test_partitioning_invariance(spark):
    """Same data, different partition counts -> byte-identical sketch."""
    spec = ExaLogLogSpec(2, 20, 6)
    states = []
    for parts in [1, 3, 11]:
        df = tok.token_table(spark, 150, num_partitions=parts)
        row = sketch_agg(df, spec, token_array_values("tokens"), fanin=4).collect()[0]
        states.append(bytes(row.sketch))
    assert states[0] == states[1] == states[2]


def test_grouped_sketch_agg_per_source(spark, tdf, truth):
    spec = ExaLogLogSpec(2, 20, 8)
    out = sketch_agg(tdf, spec, token_array_values("tokens"), by=["source"])
    rows = {r.source: r for r in with_estimate(out, spec).collect()}
    assert set(rows) == set(truth["per_source"])
    rse = spec.theoretical_rse()
    for src, info in truth["per_source"].items():
        assert rows[src].n_values == info["total_tokens"]
        assert abs(rows[src].estimate / info["distinct_tokens"] - 1) < 4 * rse, src


def test_salted_agg_matches_mapside_agg(spark, tdf):
    """Salted shuffle path and map-side partial path give identical states."""
    spec = ExaLogLogSpec(2, 20, 8)
    a = {
        r.source: bytes(r.sketch)
        for r in sketch_agg(
            tdf, spec, token_array_values("tokens"), by=["source"]
        ).collect()
    }
    b = {
        r.source: bytes(r.sketch)
        for r in sketch_agg_salted(
            tdf, spec, token_array_values("tokens"), by=["source"],
            salt_col="doc_id", n_salts=5,
        ).collect()
    }
    assert a == b


def test_distinct_docs_via_jvm_xxhash(spark, tdf):
    """doc_id distinct count with hashing kept JVM-side (xxhash64 in codegen)."""
    spec = ExaLogLogSpec(2, 20, 10)
    hashed = tdf.select(F.xxhash64("doc_id").alias("h"))
    row = with_estimate(
        sketch_agg(hashed, spec, hash64_values("h")), spec
    ).collect()[0]
    assert abs(row.estimate / N_ROWS - 1) < 3 * spec.theoretical_rse()


def test_mixed_precision_union(spark, tdf):
    """Sketch tables built at different precisions combine via downsize +
    merge into exactly the state of a direct low-precision build (the
    reference's heterogeneous-merge semantics, distributed)."""
    from exaloglog_paper_spark.ops import functions as fx
    from exaloglog_paper_spark.ops.rollup import rollup_level

    half_a = tdf.filter(F.col("n_tok") % 2 == 0)
    half_b = tdf.filter(F.col("n_tok") % 2 == 1)
    hi = sketch_agg(half_a, ExaLogLogSpec(2, 20, 10), token_array_values("tokens"))
    lo = sketch_agg(half_b, ExaLogLogSpec(2, 20, 8), token_array_values("tokens"))
    hi_down = hi.select(
        fx.ell_downsize(F.col("sketch"), 2, 20, to_d=20, to_p=8).alias("sketch"),
        "n_values",
    )
    spec8 = ExaLogLogSpec(2, 20, 8)
    combined = rollup_level(
        hi_down.unionByName(lo.select("sketch", "n_values")), spec8, ()
    ).collect()[0]
    direct = sketch_agg(tdf, spec8, token_array_values("tokens")).collect()[0]
    assert bytes(combined.sketch) == bytes(direct.sketch)
    assert combined.n_values == direct.n_values


def test_facade_helpers(spark, tdf, truth):
    from exaloglog_paper_spark.ops import (
        approx_distinct,
        approx_distinct_tokens,
        approx_quantiles,
    )

    rows = {r.source: r for r in approx_distinct_tokens(tdf, by=["source"]).collect()}
    rse = ExaLogLogSpec(2, 20, 10).theoretical_rse()
    for src, info in truth["per_source"].items():
        assert abs(rows[src].estimate / info["distinct_tokens"] - 1) < 4 * rse
    g = approx_distinct(tdf, "doc_id").collect()[0]
    assert abs(g.estimate / N_ROWS - 1) < 3 * rse
    q = approx_quantiles(tdf, "n_tok", [0.25, 0.5, 0.75])
    assert q == sorted(q) and all(v > 0 for v in q)


def test_hll_spec_shares_kernel(spark, tdf, truth):
    spec = HyperLogLogSpec(p=10)
    assert (spec.cfg.t, spec.cfg.d) == (0, 0)
    row = with_estimate(
        sketch_agg(tdf, spec, token_array_values("tokens")), spec
    ).collect()[0]
    assert abs(row.estimate / truth["distinct_tokens"] - 1) < 3 * spec.theoretical_rse()


def test_null_group_keys_form_their_own_group(spark):
    """Null by-column values must group together (SQL semantics), not crash
    the Arrow dictionary-encode path or corrupt indexing (ADVICE r1)."""
    rows = [("a", 1), (None, 2), ("a", 3), (None, 4), ("b", 2), (None, 2)]
    df = spark.createDataFrame(rows, "k string, v long")
    out = sketch_agg(df, ExaLogLogSpec(2, 8, 8), hash64_values("v"), by=["k"]).collect()
    got = {r.k: r.n_values for r in out}
    assert got == {"a": 2, "b": 1, None: 3}
    # multi-column key path (pandas factorize) with nulls in either column
    df2 = spark.createDataFrame(
        [("a", None, 1), ("a", None, 2), (None, 5, 3), (None, 5, 3), ("a", 5, 9)],
        "k1 string, k2 int, v long",
    )
    out2 = sketch_agg(
        df2, ExaLogLogSpec(2, 8, 8), hash64_values("v"), by=["k1", "k2"]
    ).collect()
    got2 = {(r.k1, r.k2): r.n_values for r in out2}
    assert got2 == {("a", None): 2, (None, 5): 2, ("a", 5): 1}


def test_finalize_batch_matches_per_row(spark, tdf):
    """ExaLogLogSpec.finalize_batch (one unpack + batched contribute +
    vectorized ML solve) must match per-row deserialize+estimate exactly."""
    spec = ExaLogLogSpec(2, 20, 8)
    rows = sketch_agg(tdf, spec, token_array_values("tokens"), by=["source"]).collect()
    states = [bytes(r.sketch) for r in rows]
    batch = spec.finalize_batch(states)
    per_row = [spec.finalize(spec.deserialize(s)) for s in states]
    np.testing.assert_allclose(batch, per_row, rtol=1e-12)
    # with_estimate must route through the batch path and agree too
    df = sketch_agg(tdf, spec, token_array_values("tokens"), by=["source"])
    got = {r.source: r.estimate for r in with_estimate(df, spec).collect()}
    want = {r.source: spec.finalize(spec.deserialize(bytes(r.sketch))) for r in rows}
    for k in want:
        assert abs(got[k] - want[k]) <= 1e-9 * max(1.0, abs(want[k]))


@pytest.mark.parametrize("distributed", [False, True], ids=["local", "distributed"])
def test_with_estimate_default_finalize_batch(spark, distributed):
    """A spec without its own batched estimate (KLL) goes through
    SketchSpec.finalize_batch on both with_estimate arms: the driver-local
    one and the per-Arrow-batch UDF."""
    from exaloglog_paper_spark.ops.agg import local_df
    from exaloglog_paper_spark.ops.specs import KLLSpec

    spec = KLLSpec(16)
    rng = np.random.default_rng(11)
    rows = [
        (g, spec.serialize(spec.add(spec.empty(), rng.normal(g, 1.0, size=300))))
        for g in range(5)
    ]
    df = local_df(spark, rows, "g long, sketch binary")
    if distributed:
        df = df.repartition(2)
    assert df.isLocal() is not distributed
    got = {r.g: r.estimate for r in with_estimate(df, spec).collect()}
    assert got == {g: spec.finalize(spec.deserialize(s)) for g, s in rows}


def test_local_df_types_round_trip_as_local_relation(spark):
    """local_df has one path: the column types its callers pass (group
    keys, band ids and buckets, binary states, counts, estimates, window
    starts; nulls included) convert through Arrow into a LocalRelation
    row-exactly, and a value no path accepts raises instead of being
    retried."""
    import datetime

    from pyspark.errors import PySparkTypeError

    from exaloglog_paper_spark.ops.agg import local_df

    rows = [
        (1, 0, "ab", b"\x00\xff", 1.5, True, datetime.datetime(2024, 1, 1, 3)),
        (None, 3, None, b"", None, False, None),
    ]
    df = local_df(
        spark,
        rows,
        "g long, band int, bucket string, sketch binary, estimate double, "
        "ok boolean, window_start timestamp",
    )
    assert df.isLocal()
    assert [tuple(r) for r in df.collect()] == rows
    with pytest.raises(PySparkTypeError):
        local_df(spark, [("not a long",)], "x long")


def test_read_tokens_parquet_and_iceberg_gating(spark):
    """read_tokens: parquet path works and auto-detects; the Iceberg path
    (no jars in this sandbox) raises an actionable error, not a bare
    ClassNotFound."""
    import pytest as _pytest

    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.source import read_tokens

    path = tok.materialize_token_table("sf0.001")
    df = read_tokens(spark, path)  # auto -> parquet
    assert set(df.columns) >= {"doc_id", "tokens", "n_tok", "source"}
    assert df.count() > 0
    with _pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_tokens(spark, "catalog.db.tokens", fmt="iceberg")
    with _pytest.raises(RuntimeError, match="Iceberg identifier"):
        read_tokens(spark, "tokens.not_yet_written")
    # 'auto' rule: only the catalog.db.table two-dot shape means Iceberg —
    # a single-dot relative name that doesn't exist yet is a parquet path
    # (so its error talks about the path, not a phantom catalog)
    from exaloglog_paper_spark.ops.source import resolve_format

    assert resolve_format("catalog.db.tokens") == "iceberg"
    assert resolve_format("tokens.v2") == "parquet"
    assert resolve_format("data/not_yet_written.parquet") == "parquet"
    assert resolve_format("tokens.v2", fmt="iceberg") == "iceberg"
    assert resolve_format("data/tokens.orc") == "orc"


def test_read_tokens_orc_roundtrip(spark, tmp_path):
    """ORC source: same table through read_tokens(fmt auto-detected) gives
    byte-identical sketch states to the parquet route (format-agnostic
    DataFrame path)."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.agg import (
        ExaLogLogSpec,
        sketch_agg,
        token_array_values,
    )
    from exaloglog_paper_spark.ops.source import read_tokens

    ppath = tok.materialize_token_table("sf0.001")
    opath = str(tmp_path / "tokens.orc")
    spark.read.parquet(ppath).write.orc(opath)
    spec = ExaLogLogSpec(2, 20, 8)
    a = sketch_agg(read_tokens(spark, opath), spec, token_array_values("tokens")).collect()
    b = sketch_agg(read_tokens(spark, ppath), spec, token_array_values("tokens")).collect()
    assert bytes(a[0].sketch) == bytes(b[0].sketch)
    assert a[0].n_values == b[0].n_values


def test_partial_flush_is_byte_identical(spark, tdf):
    """Map-side memory bound: flushing the partial-state dict mid-task
    (flush_groups tiny) must produce byte-identical final states — early
    partials for a group merge exactly like partials from other tasks.

    The direct-builder phase feeds MULTIPLE Arrow batches with recurring
    groups so one 'task' genuinely emits several partials containing the
    SAME group (the flush check runs per input batch — a single-batch task
    never flushes mid-group and would leave the invariant unexercised)."""
    import pyarrow as pa

    from exaloglog_paper_spark.ops.agg import (
        _build_partials_batches,
        hash64_values,
        tree_merge,
    )

    spec = ExaLogLogSpec(2, 20, 8)

    # phase 1: direct builder, same group across many flushed emits
    ext = hash64_values("h")

    def mk(keys, vals):
        return pa.record_batch(
            {"k": pa.array(keys, pa.string()), "h": pa.array(vals, pa.int64())}
        )

    batches = [
        mk(["a", "b", "c"], [1, 2, 3]),
        mk(["a", "d"], [4, 5]),
        mk(["a", "b", "e"], [6, 7, 8]),
        mk(["f", "a"], [9, 10]),
    ]

    def collect(flush):
        out = {}
        emits = 0
        stamps = set()
        for rb in _build_partials_batches(
            iter(batches), spec, ext, ["k"], flush_groups=flush, num_partitions=4
        ):
            emits += 1
            for i in range(rb.num_rows):
                k = rb.column("k")[i].as_py()
                st = spec.deserialize(rb.column("sketch")[i].as_py())
                prev = out.get(k)
                out[k] = spec.merge(prev, st) if prev is not None else st
                stamps.add(rb.column("partition_id")[i].as_py())
        return (
            {k: spec.serialize(v) for k, v in out.items()},
            emits,
            stamps,
        )

    flushed, n_emits, stamps = collect(1)
    single, n_single, _ = collect(10**9)
    assert n_emits >= 4 and n_single == 1  # group 'a' spans several emits
    assert flushed == single  # byte-identical after merging
    # every emit carries a DISTINCT partition_id stamp so the tree merge's
    # pmod bucketing spreads a hot group's flushed partials across reducers
    assert len(stamps) == n_emits

    # phase 2: end-to-end through Spark + tree merge
    ext2 = token_array_values("tokens")

    def run(flush):
        def fn(bs):
            yield from _build_partials_batches(
                bs, spec, ext2, ["source"], flush_groups=flush, num_partitions=8
            )

        partials = tdf.mapInArrow(
            fn,
            schema="source string, sketch binary, n_values long, partition_id long",
        )
        out = tree_merge(partials, spec, by=["source"], num_partials=8)
        return {r.source: (bytes(r.sketch), r.n_values) for r in out.collect()}

    assert run(2) == run(65536)

    # phase 3: the profile composite (row-level KLL part beside token-level
    # parts) through forced flushes; its derived default bound is in bytes
    from exaloglog_paper_spark.ops.agg import _flush_bound
    from exaloglog_paper_spark.ops.profile import _profile_spec, profile_values

    composite = _profile_spec()
    batches = tdf.select("source", "tokens", "n_tok").toArrow().to_batches(
        max_chunksize=40
    )
    assert len(batches) >= 4

    def build(flush):
        rows = []
        for rb in _build_partials_batches(
            iter(batches), composite, profile_values(), ["source"],
            flush_groups=flush,
        ):
            rows += zip(rb.column("source").to_pylist(),
                        rb.column("sketch").to_pylist(),
                        rb.column("n_values").to_pylist())
        out = {}
        for g in {r[0] for r in rows}:
            blobs = sorted(bytes(r[1]) for r in rows if r[0] == g)
            st = composite.merge_many(composite.deserialize(x) for x in blobs)
            out[g] = (composite.serialize(st), sum(r[2] for r in rows if r[0] == g))
        return out, len(rows)

    flushed, n_flushed = build(1)
    single, n_single = build(10**9)
    assert n_flushed > n_single
    # ELL/CS are byte-identical; MG/KLL summarize a stream cut at other
    # points (their merge is not a replay of adds), so they keep their
    # stream weights, and n_values stays exact
    for g, (blob, n) in single.items():
        a, b = composite.deserialize(blob), composite.deserialize(flushed[g][0])
        assert n == flushed[g][1]  # n_values counts rows for parts
        assert composite.specs[0].serialize(a[0]) == composite.specs[0].serialize(b[0])
        assert composite.specs[1].serialize(a[1]) == composite.specs[1].serialize(b[1])
        assert a[2].n == b[2].n and a[3].n == b[3].n
    # the by=() arm counts rows for parts too (len of the parts tuple is 4)
    (rb,) = _build_partials_batches(iter(batches), composite, profile_values(), [])
    assert rb.column("n_values").to_pylist() == [sum(b.num_rows for b in batches)]
    assert _flush_bound(composite) <= 256
    assert _flush_bound(ExaLogLogSpec(2, 20, 10)) == 16384


def test_merge_state_tables_beyond_fanin_byte_identical(spark, tdf):
    """Folding MORE state tables than the tree fanin (the multi-day
    backfill shape) must stay byte-identical to a one-shot build — and the
    per-table partition stamps must spread first-level buckets (a constant
    stamp would funnel every state through one reducer). fanin=2 with 6
    tables exercises 3 tree levels cheaply."""
    from exaloglog_paper_spark.ops.snapshot_table import merge_state_tables

    spec = ExaLogLogSpec(2, 20, 8)
    parts = [
        sketch_agg(
            tdf.filter(F.pmod(F.xxhash64("doc_id"), F.lit(6)) == i),
            spec, token_array_values("tokens"), by=["source"],
        )
        for i in range(6)
    ]
    got = {
        r.source: (bytes(r.sketch), r.n_values)
        for r in merge_state_tables(parts, spec, by=["source"], fanin=2).collect()
    }
    want = {
        r.source: (bytes(r.sketch), r.n_values)
        for r in sketch_agg(tdf, spec, token_array_values("tokens"), by=["source"]).collect()
    }
    assert got == want


def test_sliding_window_state_fanout_equals_direct_window_build(spark):
    """The sliding-window query derives each window's sketch by MERGING the
    covering per-hour states (queries.sliding_window_distinct_users_bound).
    The merge algebra makes that derivation exact: for every window, the
    merged state must be byte-identical to a sketch built directly from
    that window's raw rows."""
    import pyspark.sql.functions as F

    from exaloglog_paper_spark.ops.agg import (
        ExaLogLogSpec,
        hash64_values,
        sketch_agg,
        tree_merge,
    )

    spec = ExaLogLogSpec(2, 20, 8)
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
            "user_id",
        )
        .withColumn("h", F.xxhash64("user_id"))
    )
    hour_states = sketch_agg(ev, spec, hash64_values("h"), by=["hour"])
    fanned = (
        hour_states.select(
            "hour", "sketch", "n_values",
            F.explode(F.sequence(F.lit(0), F.lit(5))).alias("k"),
        )
        .select(
            F.expr("timestampadd(HOUR, -k, hour)").alias("window_start"),
            "sketch", "n_values",
            F.col("k").cast("long").alias("partition_id"),
        )
    )
    merged = {
        r.window_start: bytes(r.sketch)
        for r in tree_merge(fanned, spec, by=["window_start"], num_partials=6).collect()
    }
    direct = (
        ev.select(
            "h", F.explode(F.sequence(F.lit(0), F.lit(5))).alias("k"), "hour"
        )
        .select(F.expr("timestampadd(HOUR, -k, hour)").alias("window_start"), "h")
    )
    direct_states = {
        r.window_start: bytes(r.sketch)
        for r in sketch_agg(direct, spec, hash64_values("h"), by=["window_start"]).collect()
    }
    assert merged.keys() == direct_states.keys() and len(merged) > 10
    assert all(merged[w] == direct_states[w] for w in merged)


def test_token_trigram_extractor_windows_and_order():
    """Sliding 3-token windows: never cross row boundaries, short rows
    contribute nothing, counts are exact, and the hash is order-sensitive
    (permuted trigrams get different hashes)."""
    import pyarrow as pa

    from exaloglog_paper_spark.ops.agg import token_trigram_values

    ex = token_trigram_values("tokens")
    batch = pa.record_batch(
        {
            "tokens": pa.array(
                [[1, 2, 3, 4], [5, 6], [], [7, 8, 9], [2, 1, 3]],
                pa.list_(pa.int32()),
            )
        }
    )
    tri, lengths = ex(batch)
    # rows contribute max(len-2, 0) windows: 2 + 0 + 0 + 1 + 1
    assert list(lengths) == [2, 0, 0, 1, 1]
    assert len(tri) == 4
    # (1,2,3) vs (2,1,3): same multiset, different order -> different hash
    assert tri[0] != tri[3]
    # all four windows distinct here
    assert len(np.unique(tri)) == 4
    # batch-splitting invariance: same rows in two batches, same hashes
    b1 = pa.record_batch({"tokens": pa.array([[1, 2, 3, 4]], pa.list_(pa.int32()))})
    tri1, _ = ex(b1)
    assert list(tri1) == list(tri[:2])


def test_property_trigram_extractor_matches_reference():
    """Hypothesis: for arbitrary ragged token tables the vectorized
    window extraction equals a per-row Python reference — same hashes,
    same per-row counts, any batch slicing."""
    import pyarrow as pa
    from hypothesis import given, settings, strategies as st

    from exaloglog_paper_spark.ops.agg import token_trigram_values
    from exaloglog_paper_spark.sketchlib.bitops import splitmix64

    def ref_hashes(rows):
        out = []
        for row in rows:
            h = splitmix64(np.asarray(row, dtype=np.int64).view(np.uint64))
            for i in range(max(len(row) - 2, 0)):
                acc = splitmix64(np.array([h[i]], dtype=np.uint64))
                acc = splitmix64(acc ^ h[i + 1])
                acc = splitmix64(acc ^ h[i + 2])
                out.append(int(acc[0]))
        return out

    @settings(max_examples=40, deadline=None)
    @given(
        rows=st.lists(
            st.lists(st.integers(0, 2**31 - 1), min_size=0, max_size=12),
            min_size=0,
            max_size=25,
        )
    )
    def run(rows):
        ex = token_trigram_values("tokens")
        batch = pa.record_batch({"tokens": pa.array(rows, pa.list_(pa.int32()))})
        tri, lengths = ex(batch)
        assert list(lengths) == [max(len(r) - 2, 0) for r in rows]
        assert [int(x) for x in tri] == ref_hashes(rows)

    run()


@pytest.mark.parametrize(
    "by, num_partials",
    [([], 12), ([], None), (["g"], 12)],
    ids=["driver_fold", "seed_union", "tree"],
)
def test_tree_merge_is_independent_of_row_order(spark, by, num_partials):
    """KLL merges depend on input order; tree_merge merges every level's
    inputs in state byte order, so feeding the same partial rows reversed
    gives the same bytes on every arm (driver fold, ungrouped tree with its
    seed row, grouped tree). The partials carry the former ``build_secs``
    column, as checkpoint buckets written before it was dropped do."""
    from exaloglog_paper_spark.ops.agg import local_df, tree_merge
    from exaloglog_paper_spark.ops.specs import KLLSpec

    spec = KLLSpec(16)
    rng = np.random.default_rng(7)
    rows = [
        ("a", spec.serialize(spec.add(spec.empty(), rng.normal(size=200 + 37 * i))),
         200 + 37 * i, i, 0.0)
        for i in range(12)
    ]
    schema = "g string, sketch binary, n_values long, partition_id long, build_secs double"
    cols = by + ["sketch", "n_values", "partition_id", "build_secs"]

    def merged(rs):
        partials = local_df(spark, rs, schema).select(*cols)
        out = tree_merge(partials, spec, by=by, num_partials=num_partials).collect()
        assert len(out) == 1
        return bytes(out[0].sketch), out[0].n_values

    # the data really is order-sensitive under a plain sequential fold
    def fold(rs):
        return spec.serialize(spec.merge_many(spec.deserialize(r[1]) for r in rs))

    assert fold(rows) != fold(rows[::-1])
    assert merged(rows) == merged(rows[::-1])


def test_composite_spec_round_trip_and_partwise_merge():
    from exaloglog_paper_spark.ops.agg import CompositeSpec
    from exaloglog_paper_spark.ops.specs import CountSketchSpec, KLLSpec

    parts = (ExaLogLogSpec(2, 20, 8), CountSketchSpec(64, 3), KLLSpec(16))
    comp = CompositeSpec(parts)
    rng = np.random.default_rng(3)
    states = []
    for _ in range(3):
        h = splitmix64(rng.integers(0, 1 << 40, size=500).astype(np.uint64))
        states.append(comp.add(comp.empty(), (h, h, rng.normal(size=50))))
    blobs = [comp.serialize(s) for s in states]
    assert [comp.serialize(comp.deserialize(b)) for b in blobs] == blobs
    merged = comp.merge_many(comp.deserialize(b) for b in blobs)
    for i, spec in enumerate(parts):
        direct = spec.merge_many(comp.deserialize(b)[i] for b in blobs)
        assert spec.serialize(merged[i]) == spec.serialize(direct)


@pytest.fixture
def two_row_batches(spark):
    """Arrow batches of two rows, so a merge level's key runs span batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, old)


def test_merge_level_runs_span_arrow_batches(spark, two_row_batches):
    """Each group's partials arrive over several Arrow batches; the level
    still gives one row per group, byte-equal to a driver merge of the
    group's partials in byte order (KLL: a wrong run split changes bytes)."""
    from exaloglog_paper_spark.ops.agg import _merge_sorted, local_df, tree_merge
    from exaloglog_paper_spark.ops.specs import KLLSpec

    spec = KLLSpec(16)
    rng = np.random.default_rng(11)
    rows = [
        (g, spec.serialize(spec.add(spec.empty(), rng.normal(size=40 + i))), 40 + i, i)
        for i in range(9)
        for g in ("a", "b", "c")
    ]
    schema = "g string, sketch binary, n_values long, partition_id long"
    out = tree_merge(local_df(spark, rows, schema), spec, by=["g"], num_partials=9).collect()
    assert sorted(r.g for r in out) == ["a", "b", "c"]
    for r in out:
        mine = [row for row in rows if row[0] == r.g]
        assert bytes(r.sketch) == spec.serialize(_merge_sorted(spec, [m[1] for m in mine]))
        assert r.n_values == sum(m[2] for m in mine)


def test_merge_level_null_and_two_column_keys(spark, two_row_batches):
    """Null keys form one group and two-column keys group as in Spark's
    groupBy, through an intermediate level (fanin=2) and batch-spanning runs."""
    rows = [
        ("a" if i % 3 else None, None if i % 4 == 0 else i % 2, i) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "k1 string, k2 int, v long").repartition(6)
    out = sketch_agg(
        df, ExaLogLogSpec(2, 8, 8), hash64_values("v"), by=["k1", "k2"], fanin=2
    ).collect()
    want = {(r.k1, r.k2): r["count"] for r in df.groupBy("k1", "k2").count().collect()}
    assert {(r.k1, r.k2): r.n_values for r in out} == want
    assert len(out) == len(want) == 6


def test_merge_runs_emits_bounded_chunks():
    """The level's task body flushes every flush_groups groups; the chunks
    concatenate to the unchunked output."""
    import pyarrow as pa

    from exaloglog_paper_spark.ops.agg import _merge_runs

    spec = ExaLogLogSpec(2, 8, 6)
    rng = np.random.default_rng(5)
    keys = sorted([("x", 0), ("x", 0), ("y", 1), ("z", 0), ("z", 0), ("z", 0), (None, 2)],
                  key=lambda k: (k[0] is not None, k))
    sketches = [
        spec.serialize(spec.add(spec.empty(), splitmix64(rng.integers(0, 1 << 40, 30).astype(np.uint64))))
        for _ in keys
    ]
    table = pa.table({
        "g": [k[0] for k in keys],
        "sketch": pa.array(sketches, pa.binary()),
        "n_values": pa.array([30] * len(keys), pa.int64()),
        "__bucket": pa.array([k[1] for k in keys], pa.int32()),
    })
    batches = table.to_batches(max_chunksize=2)
    chunks = list(_merge_runs(iter(batches), spec, ["g"], flush_groups=2))
    assert [c.num_rows for c in chunks] == [2, 2]
    whole = list(_merge_runs(iter(batches), spec, ["g"]))
    assert len(whole) == 1
    assert pa.Table.from_batches(chunks).equals(pa.Table.from_batches(whole))
    assert whole[0].column("g").to_pylist() == [None, "x", "y", "z"]
    assert whole[0].column("n_values").to_pylist() == [30, 60, 30, 90]
    assert whole[0].column("partition_id").to_pylist() == [2, 0, 1, 0]
