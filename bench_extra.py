"""Extra benchmarks for optimization work (guide §1.4): per-query noop-sink
isolation, sub-stage timing of the heavy dedup pipelines, and
``.explain("formatted")`` capture. NOT part of the frozen driver bench —
bench.py stays the measured contract; this file only produces evidence for
OPTIMIZATION_r06.md and plans/r06/.

Usage:
  python bench_extra.py plans <outdir>     # dump explain(formatted) per query
  python bench_extra.py stages             # sub-stage timing of heavy queries
  python bench_extra.py queries [name...]  # noop-sink min-of-3 per query
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from exaloglog_paper_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    sf_name = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    spark = get_spark(app_name=f"bench-extra-{sf_name}", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _token_path(spark):
    """Same materialized token table bench.py uses (reuses its cache)."""
    from bench import materialize_token_table

    sf_name = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    materialize_token_table(spark, sf_name)
    return f"/tmp/exaloglog_bench/{sf_name}/tokens.parquet"


# DataFrame-returning bench queries (subset of bench.py's suite whose body
# lives in ops/ — the spark-builtin ones are defined inline in bench.py).
def _query_dfs(spark, tokens_path):
    from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, sketch_agg, token_array_values, with_estimate
    from exaloglog_paper_spark.ops.queries import (
        ann_cosine_topk,
        dedup_exact_summary,
        jaccard_near_duplicates,
        minhash_lsh_candidates,
        ngram_jaccard_near_duplicates,
        simhash_near_duplicates,
        text_quality_by_source,
    )
    from exaloglog_paper_spark.ops.source import scan_sketch_agg

    spec = ExaLogLogSpec(2, 20, 10)
    tdf = spark.read.parquet(tokens_path)
    return {
        "ell_global_build": lambda: with_estimate(
            scan_sketch_agg(spark, tokens_path, spec, token_array_values("tokens")), spec
        ),
        "ell_by_source": lambda: scan_sketch_agg(
            spark, tokens_path, spec, token_array_values("tokens"), by=["source"]
        ),
        "ell_global_build_jvm_bridge": lambda: sketch_agg(
            tdf, spec, token_array_values("tokens")
        ),
        "minhash_lsh_candidates": lambda: minhash_lsh_candidates(spark, SF_DIR),
        "dedup_exact_summary": lambda: dedup_exact_summary(spark, SF_DIR),
        "jaccard_near_duplicates": lambda: jaccard_near_duplicates(spark, SF_DIR),
        "ann_cosine_topk": lambda: ann_cosine_topk(spark, SF_DIR),
        "simhash_near_duplicates": lambda: simhash_near_duplicates(spark, SF_DIR),
        "ngram_jaccard_near_duplicates": lambda: ngram_jaccard_near_duplicates(spark, SF_DIR),
        "text_quality_by_source": lambda: text_quality_by_source(spark, SF_DIR),
    }


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, name, fn, reps=3, clear=True):
    best = float("inf")
    for _ in range(reps):
        spark.sparkContext.setJobDescription(name)
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
        if clear:
            spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(None)
    return round(best, 3)


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def cmd_plans(outdir):
    os.makedirs(outdir, exist_ok=True)
    spark = _spark()
    tp = _token_path(spark)

    def write(name, text):
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(text)
        print(f"wrote {name}")

    for name, mk in _query_dfs(spark, tp).items():
        df = mk()
        write(name, _explain(df))
        spark.catalog.clearCache()

    # the ungrouped/grouped scan paths now driver-fold: their final DF is a
    # LocalRelation, so ALSO dump the distributed partials-stage plan the
    # fold consumes (this is where pruning/exchange claims are checkable)
    from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, sketch_partials, token_array_values, tree_merge
    from exaloglog_paper_spark.ops.profile import _profile_spec, profile_values
    from exaloglog_paper_spark.ops.source import scan_partials

    spec = ExaLogLogSpec(2, 20, 10)
    ex = token_array_values("tokens")
    for label, by in (("ell_global_build_partials", []), ("ell_by_source_partials", ["source"])):
        partials, _ = scan_partials(spark, tp, spec, ex, by)
        write(label, _explain(partials))

    # profiler: composite partials + the tree_merge fold plan
    composite = _profile_spec()
    partials = sketch_partials(spark.read.parquet(tp), composite, profile_values(), by=["source"])
    write("token_profile_fold", _explain(tree_merge(partials, composite, by=["source"])))
    spark.stop()


def cmd_queries(names):
    spark = _spark()
    tp = _token_path(spark)
    qs = _query_dfs(spark, tp)
    if names:
        qs = {k: v for k, v in qs.items() if k in names}
    # warmup
    spark.read.parquet(tp).limit(100).count()
    out = {}
    for name, mk in qs.items():
        out[name] = _timed(spark, name, lambda m=mk: _noop(m()))
        print(name, out[name], flush=True)
    print(out)
    spark.stop()


def cmd_stages():
    """Sub-stage timing of the heavy near-dup pipelines + profiler."""
    from exaloglog_paper_spark.ops.dedup import (
        jaccard_verified_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        simhash_near_pairs,
        simhash_signatures,
    )
    from exaloglog_paper_spark.ops.queries import _shingles, _words

    spark = _spark()
    tp = _token_path(spark)
    spark.read.parquet(tp).limit(100).count()
    res = {}

    def stage(name, fn, reps=3):
        res[name] = _timed(spark, name, fn, reps=reps)
        print(name, res[name], flush=True)

    stage("words_explode", lambda: _noop(_words(spark, SF_DIR)))
    stage("minhash_sigs", lambda: _noop(minhash_signatures(_words(spark, SF_DIR))))
    stage(
        "lsh_candidates",
        lambda: _noop(lsh_candidate_pairs(minhash_signatures(_words(spark, SF_DIR)))),
    )
    def jacc():
        w = _words(spark, SF_DIR)
        _noop(jaccard_verified_pairs(w, lsh_candidate_pairs(minhash_signatures(w)), threshold=0.8))
    stage("jaccard_full", jacc)
    stage("shingles_explode", lambda: _noop(_shingles(spark, SF_DIR, n=3)))
    stage("simhash_sigs", lambda: _noop(simhash_signatures(_words(spark, SF_DIR))))
    stage(
        "simhash_pairs",
        lambda: _noop(simhash_near_pairs(simhash_signatures(_words(spark, SF_DIR)))),
    )

    def profile():
        from exaloglog_paper_spark.ops.profile import scan_profile

        scan_profile(spark, tp)
    stage("token_profile", profile)

    # profiler split: partials only (collect) vs full fold
    def profile_partials():
        from exaloglog_paper_spark.ops.profile import _profile_spec, profile_values
        from exaloglog_paper_spark.ops.source import scan_partials

        partials, _ = scan_partials(spark, tp, _profile_spec(), profile_values(), ["source"])
        return len(partials.collect())

    stage("profile_partials_collect", profile_partials)
    print(res)
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "plans":
        cmd_plans(sys.argv[2] if len(sys.argv) > 2 else "plans/r06/scratch")
    elif cmd == "stages":
        cmd_stages()
    else:
        cmd_queries(sys.argv[2:])
