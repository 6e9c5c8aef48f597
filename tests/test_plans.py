"""Physical-plan assertions: the Catalyst properties the engine relies on at
100 TB must hold in the plan, not just in prose (SURVEY.md §4).

Each test captures .explain() output and asserts the load-bearing feature:
filter pushdown reaching the parquet scan, column pruning in ReadSchema,
broadcast joins for small dimensions, whole-stage codegen on exact
aggregates, and a single shuffle for the sketch partial/final aggregation.
"""

import contextlib
import io

import pytest

from exaloglog_paper_spark.ops import queries as Q


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


SF_DIR = "/root/testdata/sf0.001"


def test_q1_filter_pushdown_and_column_pruning(spark):
    plan = _plan(Q.q1_pricing_summary(spark, SF_DIR))
    # the shipdate predicate must reach the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and the scan must not read columns the query never touches
    assert "l_comment" not in plan
    assert "l_partkey" not in plan


def test_top_customers_uses_broadcast_join(spark):
    plan = _plan(Q.top_customers_by_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the fact table side is aggregated before the join (partial agg first),
    # so no SortMergeJoin of raw orders against customers
    assert "SortMergeJoin" not in plan


def test_exact_aggregates_run_in_wholestage_codegen(spark):
    df = Q.exact_distinct_words_per_source(spark, SF_DIR)
    df.collect()  # AQE: codegen annotations appear on the final plan
    plan = _plan(df)
    # formatted mode tags codegen stages; the explode + hash aggregate
    # pipeline must be inside one
    assert "[codegen id :" in plan
    assert "HashAggregate" in plan


def test_sketch_agg_by_group_single_shuffle(spark):
    """The sketch partial/final pattern shuffles once: tiny partial states on
    the group key. More exchanges would mean shuffling raw rows."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.agg import (
        ExaLogLogSpec,
        sketch_agg,
        token_array_values,
    )

    df = tok.token_table(spark, 500)
    out = sketch_agg(df, ExaLogLogSpec(2, 20, 8), token_array_values("tokens"), by=["source"])
    plan = _plan(out)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, plan  # one hashpartitioning (+ AQE read at most)
    assert "hashpartitioning(source" in plan, plan


def test_token_scan_prunes_to_used_columns(spark):
    """The flagship per-source query over a parquet token table must read
    only (tokens, source) — not doc_id/n_tok (SURVEY.md §4 'What Catalyst
    already gives us')."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.agg import (
        ExaLogLogSpec,
        sketch_agg,
        token_array_values,
    )

    path = tok.materialize_token_table("sf0.001")
    df = spark.read.parquet(path)
    out = sketch_agg(df, ExaLogLogSpec(2, 20, 8), token_array_values("tokens"), by=["source"])
    plan = _plan(out)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "tokens" in scan and "source" in scan
    assert "doc_id" not in scan and "n_tok" not in scan


def test_dedup_plans_have_partial_aggregation(spark):
    """Map-side partial aggregation must precede the shuffle for the
    dedup/minhash groupBys (partial_min / partial_count in the plan).
    r6: the band table is a lazy localCheckpoint boundary, which hides the
    signature build from the final explain — so the minhash pin targets
    the signature subplan the pipeline routes through."""
    from exaloglog_paper_spark.ops.dedup import minhash_signatures

    plan = _plan(minhash_signatures(Q._words(spark, SF_DIR)))
    assert "partial_" in plan, plan
    # the wiring pin: the registered query really builds its candidates
    # from this helper (source-level, survives the checkpoint boundary)
    import inspect

    assert "minhash_signatures" in inspect.getsource(Q.minhash_lsh_candidates)
    plan = _plan(Q.dedup_exact_summary(spark, SF_DIR))
    assert "partial_" in plan, plan


def test_jaccard_wordset_agg_is_candidate_pruned(spark):
    """The exact-Jaccard verification must aggregate word sets ONLY for docs
    in the candidate list (VERDICT r2 item 1): the collect_set aggregate's
    input carries a LeftSemi join against the candidate ids, so the
    full-corpus word table is never shuffled or cached for verification.
    r6: the verification stage eagerly checkpoints its intermediates (plan
    truncation), which hides this subplan from the final explain — so the
    pin targets the named helper jaccard_verified_pairs routes through.
    Its candidate ids are built as jaccard_verified_pairs builds them (the
    union+distinct of both pair columns over checkpointed LSH candidates):
    Catalyst over-estimates that side, so without the explicit broadcast
    hint this plans a SortMergeJoin and the pin fails."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops import dedup

    words = Q._words(spark, SF_DIR)
    cands = dedup.lsh_candidate_pairs(dedup.minhash_signatures(words))
    cands = cands.localCheckpoint(eager=True)
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .unionByName(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    plan = _plan(dedup._candidate_word_sets(words, cand_ids, "doc_id", "word"))
    assert "LeftSemi" in plan, plan
    # and the prune is a broadcast, not a full shuffle of the word table
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    # the wiring pin: jaccard_verified_pairs' ws really is this helper's
    # output (source-level, cheap, survives the checkpoint boundary)
    import inspect

    assert "_candidate_word_sets" in inspect.getsource(dedup.jaccard_verified_pairs)


def test_quantile_bound_checks_are_single_pass(spark):
    """The KLL/t-digest bound verification must run ONE verification job
    (count + all rank checks + exact percentiles in a single agg), not a
    filter().count() per quantile (VERDICT r1 item 3)."""
    from pyspark.sql import functions as F

    tracker = spark.sparkContext.statusTracker()
    docs = Q._docs(spark, SF_DIR).select(F.col("n_chars").cast("double").alias("v"))
    before = len(tracker.getJobIdsForGroup(None) or [])
    Q._quantile_bound_rows(docs, [100.0, 200.0, 300.0, 400.0, 500.0])
    after = len(tracker.getJobIdsForGroup(None) or [])
    # one agg == one job (+1 AQE final-stage materialization); the old
    # per-quantile filter().count() loop needed ~12
    assert after - before <= 2, f"too many verification jobs: {after - before}"
    before = after
    Q.kll_nchars_quantiles_bound(spark, SF_DIR)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 6, f"too many total jobs: {after - before}"


def test_ivf_partitioned_probe_prunes_partitions(spark, tmp_path):
    """The IVF scale path (ops/similarity.py docstring): embeddings written
    partitioned by ivf_cell let a probe read ONLY the probed cells' files —
    the partition filter must appear in the scan (PartitionFilters), not as
    a post-scan Filter over all files."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops.similarity import (
        train_ivf_centroids,
        with_ivf_cell,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cent = train_ivf_centroids(emb, n_centroids=8)
    path = str(tmp_path / "emb_by_cell")
    with_ivf_cell(emb, cent).write.partitionBy("ivf_cell").parquet(path)

    probed = spark.read.parquet(path).filter(F.col("ivf_cell").isin(0, 1))
    plan = _plan(probed)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "ivf_cell" in pf[0], plan
    # directory-pruned scan returns only the probed cells
    cells = {r.ivf_cell for r in probed.select("ivf_cell").distinct().collect()}
    assert cells <= {0, 1}


def test_bloom_verification_never_collects_data_columns(spark):
    """Bloom bound check must aggregate (members, false_negs, fps)
    distributed — the only driver-side results are KB-sized sketch rows and
    the final 4-long aggregate (VERDICT r1 item 2)."""
    from unittest import mock

    from pyspark.sql import DataFrame

    real_collect = DataFrame.collect
    sizes = []

    def spying_collect(self):
        rows = real_collect(self)
        sizes.append((len(rows), len(self.columns)))
        return rows

    with mock.patch.object(DataFrame, "collect", spying_collect):
        Q.bloom_membership_bound(spark, SF_DIR)
    # every collect returns a handful of rows (sketch partials / final agg),
    # never a per-document hash column
    assert all(n_rows <= 16 for n_rows, _ in sizes), sizes


def test_lsh_probe_is_bucket_equi_join_not_nlj(spark):
    """Multi-probe sign-LSH must probe via an equi-join on the bucket key
    (BroadcastHashJoin on lsh_bucket over the expanded probe set), never a
    BroadcastNestedLoopJoin + post-join hamming filter that popcount-tests
    every (row, query) pair (VERDICT r3 item 2)."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops.similarity import lsh_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3)
    df = lsh_cosine_topk(emb, queries, k=5, nbits=8, probe_hamming=2, dim=64)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the join key is the bucket
    assert "lsh_bucket" in plan


def test_ivf_probe_is_cell_equi_join_not_nlj(spark):
    """The IVF probe must mirror the LSH one: an equi-join on ivf_cell over
    the exploded (query, cell) probe rows (BroadcastHashJoin), never a
    BroadcastNestedLoopJoin + array_contains test of every (row, query)
    pair (VERDICT r4 item 2)."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops.similarity import (
        ivf_cosine_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3)
    cent = train_ivf_centroids(emb, n_centroids=8)
    df = ivf_cosine_topk(emb, queries, k=5, centroids=cent, nprobe=3)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "ivf_cell" in plan


def test_lsh_partitioned_probe_prunes_partitions(spark, tmp_path):
    """The LSH scale path mirrors the IVF one: embeddings written
    partitioned by lsh_bucket let a probe read ONLY the probed buckets'
    files — the bucket filter must appear as PartitionFilters in the
    scan."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops.similarity import with_lsh_bucket

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / "emb_by_bucket")
    with_lsh_bucket(emb, "embedding", dim=64, nbits=4).write.partitionBy(
        "lsh_bucket"
    ).parquet(path)

    probed = spark.read.parquet(path).filter(F.col("lsh_bucket").isin(3, 7))
    plan = _plan(probed)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "lsh_bucket" in pf[0], plan
    buckets = {r.lsh_bucket for r in probed.select("lsh_bucket").distinct().collect()}
    assert buckets <= {3, 7}


def test_contamination_probe_is_broadcast_join(spark):
    """The benchmark-shingle probe in contamination_ngram_overlap must be a
    broadcast LEFT join on the shingle (benchmark set = small side by
    contract) — never a SortMergeJoin shuffling the full training shingle
    table on a string key."""
    df = Q.contamination_ngram_overlap(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_stable_sample_filter_is_scan_level(spark):
    """The md5-nibble sampling predicate is key-pure and must evaluate as a
    plain Filter over the scan — no shuffle before the per-source
    aggregation's single exchange, no RNG/nondeterministic expression
    (nondeterministic exprs block pushdown and re-evaluate per retry,
    breaking sample stability under task re-execution)."""
    df = Q.stable_sample_digest(spark, SF_DIR)
    plan = _plan(df, mode="extended")
    assert "rand(" not in plan  # no RNG anywhere in the sampling plan
    # sampled-side plan: Filter directly over the file scan
    assert "Filter" in plan


def test_bloom_probe_is_scan_side_no_shuffle(spark):
    """The Bloom prefilter mark must be a pure map stage: scan ->
    mapInArrow, no Exchange anywhere in the marked DataFrame's plan (the
    100-TB property: only filter hits ever reach a join shuffle), and the
    exact-finish semi join must broadcast the (small) distinct key side."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops.joins import (
        bloom_semi_join,
        build_key_filter,
        with_bloom_hit,
    )

    left = spark.read.parquet(f"{SF_DIR}/customer.parquet").select("c_custkey")
    right = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    fb, spec = build_key_filter(right, "o_custkey", num_bits=1 << 16)
    marked = with_bloom_hit(left, "c_custkey", fb, spec)
    plan = _plan(marked)
    assert "MapInArrow" in plan
    assert "Exchange" not in plan, "probe mark must not shuffle"
    joined = bloom_semi_join(left, right, "c_custkey", "o_custkey", num_bits=1 << 16)
    jplan = _plan(joined)
    assert "BroadcastHashJoin" in jplan or "BroadcastExchange" in jplan


def test_profile_scan_prunes_to_input_columns(spark):
    """The one-pass profiler must read only (source, tokens, n_tok) from
    the parquet scan — doc_id is pruned even though the profiler consumes
    whole Arrow batches (pinned on the REAL distributed stage: the
    profile's composite spec and extractor through sketch_partials)."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.agg import (
        CompositeSpec,
        ExaLogLogSpec,
        sketch_partials,
    )
    from exaloglog_paper_spark.ops.profile import profile_values
    from exaloglog_paper_spark.ops.specs import (
        CountSketchSpec,
        KLLSpec,
        MisraGriesSpec,
    )

    path = tok.materialize_token_table("sf0.001")
    df = spark.read.parquet(path)
    partials = sketch_partials(
        df,
        CompositeSpec((ExaLogLogSpec(2, 20, 8), CountSketchSpec(512, 3),
                       MisraGriesSpec(32), KLLSpec(100))),
        profile_values(),
        by=["source"],
    )
    plan = _plan(partials)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "tokens" in scan and "source" in scan and "n_tok" in scan
    assert "doc_id" not in scan


def test_trigram_estimate_plan_has_no_explode(spark):
    """The trigram-novelty ESTIMATE path must not contain a Generate
    (explode) node: windows are hashed inside the Arrow batch, never
    materialized as rows (the exact verification side explodes, the
    estimator must not)."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.agg import (
        ExaLogLogSpec,
        sketch_agg,
        token_trigram_values,
    )

    path = tok.materialize_token_table("sf0.001")
    df = spark.read.parquet(path)
    out = sketch_agg(df, ExaLogLogSpec(2, 20, 8), token_trigram_values("tokens"))
    plan = _plan(out)
    assert "Generate" not in plan and "explode" not in plan.lower()


@pytest.mark.parametrize(
    "query",
    [Q.martingale_distinct_tokens_bound, Q.martingale_partition_stream_bound],
)
def test_martingale_queries_run_the_sorted_run_operator(spark, query):
    """Both martingale queries stream each key through the sorted-run
    ``mapInArrow`` operator; a grouped ``applyInPandas`` (which converts
    ``array<int32>`` to pandas and holds a whole group) must not return."""
    plan = _plan(query(spark, SF_DIR))
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInArrow" in plan


def test_sketch_agg_plans_its_input_partitions_once(spark, monkeypatch):
    """Counting the input partitions plans the scan (17-57 ms warm, ~0.4 s
    cold): one sketch_agg pays it once, for the flush stamps and the tree."""
    from pyspark import RDD

    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, sketch_agg, token_array_values

    df = tok.token_table(spark, 60, seed=3, num_partitions=3)
    calls = []
    plan = RDD.getNumPartitions

    def counted(self):
        calls.append(1)
        return plan(self)

    monkeypatch.setattr(RDD, "getNumPartitions", counted)
    for by in ([], ["source"]):
        calls.clear()
        sketch_agg(df, ExaLogLogSpec(2, 20, 8), token_array_values("tokens"), by=by)
        assert len(calls) == 1, by


def test_read_pq_schema_memo_sees_a_rewritten_table(spark, tmp_path):
    """A table rewritten at the same path with another schema is read with
    the new schema, not the memoized one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert Q._read_pq(spark, path).columns == ["a"]
    assert Q._read_pq(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [3, 4], "b": ["x", "y"]}), path)
    df = Q._read_pq(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, "x"), (4, "y")]


def test_sketch_agg_salted_runs_no_job_while_building(spark):
    """Building the salted aggregation's DataFrame runs no Spark job: its
    shuffle partition count is known, so the repartition is not planned
    (under AQE, planning it would run the shuffle)."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, sketch_agg_salted, token_array_values

    sc = spark.sparkContext
    df = tok.token_table(spark, 200, num_partitions=2)
    sc.setJobGroup("salted_build", "sketch_agg_salted construction")
    try:
        out = sketch_agg_salted(
            df, ExaLogLogSpec(2, 20, 8), token_array_values("tokens"),
            by=["source"], salt_col="doc_id", n_salts=4,
        )
        jobs = sc.statusTracker().getJobIdsForGroup("salted_build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert {r.source for r in out.collect()} <= set(tok.SOURCES)


@pytest.fixture(scope="module")
def shard_table(tmp_path_factory):
    """Four parquet files, one row group each, with a ``shard`` column."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from exaloglog_paper_spark.ops import tokens as tok

    d = tmp_path_factory.mktemp("shard_table")
    for f in range(4):
        pdf = tok.generate_rows(np.arange(f * 50, f * 50 + 50, dtype=np.uint64))
        pdf["shard"] = np.arange(len(pdf), dtype=np.int64) % 8
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(d / f"part-{f}.parquet"))
    return str(d)


def _assert_build_over_range(df, num_p):
    """The stage-A build is the plan's first stage: MapInArrow directly over
    a Range of one id per task, with no Exchange or LocalTableScan."""
    lines = _plan(df, mode="simple").splitlines()
    plan = "\n".join(lines)
    i = next(i for i, ln in enumerate(lines) if "MapInArrow run(id" in ln)
    assert f"Range (0, {num_p}, step=1, splits={num_p})" in lines[i + 1], plan
    assert "Exchange" not in plan and "LocalTableScan" not in plan, plan


def test_parquet_scan_build_has_no_shuffle(spark, shard_table, tmp_path, monkeypatch):
    """Every parquet build's stage A — scan_partials by () and by shard,
    over 4 splits and over 1, the profile's partials and a checkpoint
    bucket — is MapInArrow over a JVM Range: no shuffle spreads the
    split list in front of it."""
    from exaloglog_paper_spark.ops import checkpoints
    from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, token_array_values
    from exaloglog_paper_spark.ops.profile import _profile_spec, profile_values
    from exaloglog_paper_spark.ops.source import list_row_group_splits, scan_partials

    spec, ex = ExaLogLogSpec(2, 20, 8), token_array_values("tokens")
    splits = list_row_group_splits(shard_table)
    assert len(splits) == 4
    for by in ([], ["shard"]):
        for subset in (None, splits[:1]):
            partials, num_p = scan_partials(spark, shard_table, spec, ex, by, splits=subset)
            assert num_p == (1 if subset else min(4, spark.sparkContext.defaultParallelism))
            _assert_build_over_range(partials, num_p)
    partials, num_p = scan_partials(spark, shard_table, _profile_spec(), profile_values(), ["source"])
    _assert_build_over_range(partials, num_p)

    built = []
    real = checkpoints.scan_partials

    def spy(*args, **kwargs):
        built.append(real(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(checkpoints, "scan_partials", spy)
    checkpoints.checkpointed_partials(
        spark, shard_table, str(tmp_path / "ck"), spec, ex, ["shard"], num_buckets=2
    )
    assert len(built) == 2
    _assert_build_over_range(*built[0])


def test_large_split_table_ships_as_broadcast(spark, shard_table, monkeypatch):
    """A split table whose task closure passes PySpark's UDF broadcast
    threshold (spark.broadcast.UDFCompressionThreshold, 1 MB) ships as one
    broadcast rather than inline with every task; a small one stays inline.
    Nothing here runs a job: the command is pickled when the DataFrame is
    built."""
    from pyspark import SparkContext

    from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, token_array_values
    from exaloglog_paper_spark.ops.source import list_row_group_splits, scan_partials

    sc = spark.sparkContext
    threshold = sc._jvm.PythonUtils.getBroadcastThreshold(sc._jsc)
    shipped = []
    real = SparkContext.broadcast

    def spy(self, value):
        shipped.append(len(value))
        return real(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    spec, ex = ExaLogLogSpec(2, 20, 8), token_array_values("tokens")
    path, _ = list_row_group_splits(shard_table)[0]
    scan_partials(spark, shard_table, spec, ex, ["shard"], splits=[(path, 0)] * 4)
    assert shipped == []
    scan_partials(spark, shard_table, spec, ex, ["shard"], splits=[(path, 0)] * 200_000)
    assert len(shipped) == 1 and shipped[0] > threshold, (shipped, threshold)
