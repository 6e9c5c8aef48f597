"""One-pass multi-sketch profiler (ops/profile.py): the single-scan
states must equal independent per-spec builds — byte-identical for the
register/linear sketches (ELL, count-sketch: partitioning-invariant merge
algebras), guarantee-level for the partitioning-dependent summaries
(Misra-Gries bracket, KLL rank tolerance) — and the exact counters must
be exact."""

import re

import numpy as np

from exaloglog_paper_spark.ops import tokens as tok
from exaloglog_paper_spark.ops.agg import ExaLogLogSpec
from exaloglog_paper_spark.ops.profile import profile_token_table
from exaloglog_paper_spark.ops.specs import CountSketchSpec
from exaloglog_paper_spark.sketchlib.bitops import splitmix64


def test_profile_matches_independent_builds(spark):
    tdf = tok.token_table(spark, 400, num_partitions=7)
    profs = profile_token_table(tdf)

    rows = tdf.select("source", "tokens", "n_tok").collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert set(profs) == set(by_src)

    ell_spec = ExaLogLogSpec(2, 20, 10)
    cs_spec = CountSketchSpec(8192, 5)
    for s, rs in by_src.items():
        p = profs[s]
        flat = np.concatenate(
            [np.asarray(r.tokens, dtype=np.int64) for r in rs]
        )
        h = splitmix64(flat.view(np.uint64))
        # exact counters
        assert p.n_docs == len(rs)
        assert p.n_tokens == len(flat)
        # partitioning-invariant states: byte-identical to a single build
        assert ell_spec.serialize(p.ell) == ell_spec.serialize(
            ell_spec.add(ell_spec.empty(), h)
        )
        assert cs_spec.serialize(p.cs) == cs_spec.serialize(
            cs_spec.add(cs_spec.empty(), h)
        )
        # Misra-Gries: deterministic bracket vs exact counts
        ids, cnt = np.unique(flat, return_counts=True)
        est = p.mg.estimate(ids)
        assert (est <= cnt).all()
        assert (cnt - est <= p.mg.err_bound + 1e-9).all()
        # KLL: saw every row; median within rank tolerance
        assert p.kll.n == len(rs)
        ntoks = np.array([r.n_tok for r in rs], dtype=np.float64)
        med = float(p.kll.quantile(0.5))
        assert abs((ntoks <= med).mean() - 0.5) <= 0.08


def test_checkpointed_profile_resumes_byte_identically(spark, tmp_path):
    """On a table with more splits than scan tasks (each task reads several,
    so split placement fixes the stream every MG/KLL state sees):
    checkpointed_profile uninterrupted vs crash-and-resume (one bucket dir
    deleted) produce byte-identical states for ALL four sketches —
    including the merge-order-dependent MG/KLL, thanks to tree_merge's
    byte-order merge rule — scan_profile gives the same bytes on every
    run, and the register/linear states match the direct one-pass build
    exactly."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from exaloglog_paper_spark.ops.checkpoints import lineage_metrics
    from exaloglog_paper_spark.ops.profile import (
        _profile_spec,
        checkpointed_profile,
        profile_values,
        scan_profile,
    )
    from exaloglog_paper_spark.ops.source import list_row_group_splits, scan_partials

    src = tmp_path / "cp_tokens"
    src.mkdir()
    n_splits = 3 * spark.sparkContext.defaultParallelism + 2
    for f in range(2):
        pdf = tok.generate_rows(np.arange(f * 200, f * 200 + 200, dtype=np.uint64))
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            str(src / f"part-{f}.parquet"),
            row_group_size=-(-400 // n_splits),
        )
    src = str(src)
    _, num_p = scan_partials(spark, src, _profile_spec(), profile_values(), ["source"])
    # more splits than tasks, in each of two buckets too
    assert num_p < len(list_row_group_splits(src)) // 2
    ck1 = str(tmp_path / "ck1")
    ck2 = str(tmp_path / "ck2")

    full = checkpointed_profile(spark, src, ck1, num_buckets=2)
    # lineage/metrics table is readable and carries one digest per
    # composite partial row
    from pyspark.sql import functions as F

    lm = lineage_metrics(spark, ck1)
    assert lm.count() > 0
    assert lm.filter(F.length("state_sha256") != 64).count() == 0

    # crash simulation: run, destroy one bucket, resume
    checkpointed_profile(spark, src, ck2, num_buckets=2)
    shutil.rmtree(str(tmp_path / "ck2" / "bucket=1"))
    resumed = checkpointed_profile(spark, src, ck2, num_buckets=2)

    def blobs(profs):
        return {
            g: (p.n_docs, p.n_tokens, p.ell.serialize(), p.cs.serialize(),
                p.mg.serialize(), p.kll.serialize())
            for g, p in profs.items()
        }

    assert blobs(resumed) == blobs(full)
    scanned = blobs(scan_profile(spark, src))
    assert blobs(scan_profile(spark, src)) == scanned
    # partitioning-invariant states and exact counts also equal the scan
    # and the direct Spark build
    def order_free(b):
        return {g: v[:4] for g, v in b.items()}

    direct = blobs(profile_token_table(spark.read.parquet(src)))
    assert order_free(blobs(full)) == order_free(scanned) == order_free(direct)


def test_scan_profile_matches_spark_scan_build(spark, tmp_path):
    """The pyarrow-native scan path produces the same profile: exact
    counters equal, register/linear states byte-identical (partitioning-
    invariant), MG/KLL guarantee-level (spot: n equal)."""
    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.profile import scan_profile

    src = str(tmp_path / "scan_tokens")
    tok.token_table(spark, 300, num_partitions=4).write.parquet(src)
    a = profile_token_table(spark.read.parquet(src))
    b = scan_profile(spark, src)
    ell_spec = ExaLogLogSpec(2, 20, 10)
    cs_spec = CountSketchSpec(8192, 5)
    assert set(a) == set(b)
    for g in a:
        assert (a[g].n_docs, a[g].n_tokens) == (b[g].n_docs, b[g].n_tokens)
        assert ell_spec.serialize(a[g].ell) == ell_spec.serialize(b[g].ell)
        assert cs_spec.serialize(a[g].cs) == cs_spec.serialize(b[g].cs)
        assert a[g].kll.n == b[g].kll.n


def test_profile_high_cardinality_group_key(spark):
    """Group dispatch must stay correct when ``by`` has many groups per
    batch (the sort-based dispatch path): per-doc profile of 120 docs."""
    from exaloglog_paper_spark.ops import tokens as tok

    tdf = tok.token_table(spark, 120, num_partitions=2)
    profs = profile_token_table(tdf, by="doc_id", mg_k=16, kll_k=50)
    rows = tdf.select("doc_id", "tokens", "n_tok").collect()
    assert set(profs) == {r.doc_id for r in rows}
    for r in rows:
        p = profs[r.doc_id]
        assert p.n_docs == 1
        assert p.n_tokens == len(r.tokens)
        exact_distinct = len(set(r.tokens))
        assert abs(p.ell.estimate() / max(exact_distinct, 1) - 1) < 0.15


def test_profile_empty_and_all_null_group_inputs(spark, tmp_path):
    """Profiles of empty tables and tables whose group keys are all NULL
    are {} — no crashes in the builder or the fold — and a table with some
    NULL keys profiles exactly its non-NULL groups on both scans."""
    from pyspark.sql import functions as F

    from exaloglog_paper_spark.ops import tokens as tok
    from exaloglog_paper_spark.ops.profile import scan_profile

    empty = tok.token_table(spark, 5, num_partitions=2).filter(F.lit(False))
    assert profile_token_table(empty) == {}
    src = str(tmp_path / "empty_tokens")
    empty.write.parquet(src)
    # an empty write produces zero part files; the pyarrow scan raises the
    # engine-wide informative error rather than silently profiling nothing
    # (same contract as scan_sketch_agg / splits_df)
    import pytest

    with pytest.raises(FileNotFoundError):
        scan_profile(spark, src)
    nullsrc = tok.token_table(spark, 10).withColumn(
        "source", F.lit(None).cast("string")
    )
    assert profile_token_table(nullsrc) == {}
    # the pyarrow scan drops the NULL group too: mixed NULL and non-NULL
    # keys profile exactly the non-NULL groups, as the Spark-scan build
    mixed = tok.token_table(spark, 60, num_partitions=2).withColumn(
        "source",
        F.when(F.expr("cast(substr(doc_id, 5) as int) % 3 = 0"), F.lit(None))
        .otherwise(F.col("source")),
    )
    mixsrc = str(tmp_path / "mixed_null_tokens")
    mixed.write.parquet(mixsrc)
    assert spark.read.parquet(mixsrc).filter(F.col("source").isNull()).count() > 0
    a = profile_token_table(spark.read.parquet(mixsrc))
    b = scan_profile(spark, mixsrc)
    assert set(a) == set(b) and a and "None" not in b
    for g in a:
        assert (a[g].n_docs, a[g].n_tokens) == (b[g].n_docs, b[g].n_tokens)
        assert a[g].ell.serialize() == b[g].ell.serialize()
        assert a[g].cs.serialize() == b[g].cs.serialize()
    assert sum(p.n_docs for p in b.values()) == spark.read.parquet(mixsrc).filter(
        F.col("source").isNotNull()
    ).count()


def test_profile_fold_is_distributed(spark):
    """r6 plan pin: the profiler's fold is tree_merge over composite
    partials — an executor-side merge level (MapInArrow over a hash
    shuffle on the group key), ONE row per group, so only KB-per-group rows
    ever reach the driver, never the raw (task x group) partial states
    (VERDICT r5 item 1)."""
    from exaloglog_paper_spark.ops.agg import (
        CompositeSpec,
        ExaLogLogSpec,
        sketch_partials,
        tree_merge,
    )
    from exaloglog_paper_spark.ops.profile import profile_values
    from exaloglog_paper_spark.ops.specs import (
        CountSketchSpec,
        KLLSpec,
        MisraGriesSpec,
    )

    df = tok.token_table(spark, 2_000, num_partitions=8)
    specs = (
        ExaLogLogSpec(2, 20, 8),
        CountSketchSpec(512, 3),
        MisraGriesSpec(32),
        KLLSpec(64),
    )
    composite = CompositeSpec(specs)
    partials = sketch_partials(df, composite, profile_values(), by=["source"])
    folded = tree_merge(partials, composite, by=["source"])
    plan = folded._jdf.queryExecution().executedPlan().toString()
    # the fold is a merge level reading the shuffle on the group key
    assert re.search(
        r"MapInArrow merge_runs[^\n]*\n\s*\+- Sort \[source[^\n]*\n"
        r"\s*\+- Exchange hashpartitioning\(source",
        plan,
    ), plan
    assert "FlatMapGroupsInPandas" not in plan
    rows = folded.collect()
    assert len(rows) == len({r.source for r in rows})  # one row per group
    # and it equals a driver merge_many of the collected partials
    grouped: dict[str, list] = {}
    for r in partials.collect():
        grouped.setdefault(r.source, []).append(r)
    assert set(grouped) == {r.source for r in rows}
    for r in rows:
        ps = grouped[r.source]
        direct = composite.merge_many(
            composite.deserialize(b) for b in sorted(bytes(p.sketch) for p in ps)
        )
        assert bytes(r.sketch) == composite.serialize(direct)
        assert r.n_values == sum(p.n_values for p in ps)
