"""Per-partition lineage/metrics checkpoints and resume-after-failure.

North-rule requirement: long sketch builds over 10^12 rows must be
resumable with per-partition lineage + metrics. Design:

- The unit of work is a *bucket*: a deterministic group of row-group splits
  (``split_index % num_buckets``). Buckets are sized so one bucket is
  minutes of work on the target cluster.
- Each completed bucket writes its partial-sketch rows to
  ``<ckpt_dir>/bucket=<i>/`` (parquet, with Spark's ``_SUCCESS`` marker) —
  the rows carry (group keys, sketch, n_values, partition_id)
  plus a sha256 state digest: that parquet IS the lineage/metrics table.
- On rerun, completed buckets are detected by their ``_SUCCESS`` marker and
  skipped; only missing buckets are recomputed. The final tree merge reads
  all bucket partials. Because sketch states are exact functions of their
  input sets (merge algebra tests), a resumed run is byte-identical to an
  uninterrupted one — asserted in tests.
- The first run records the bucket count and the split list in
  ``<ckpt_dir>/_manifest.json``; a resume under a different bucket count
  or input file set raises ``ValueError`` instead of double counting or
  skipping splits.
- Every checkpointed build (single sketch or profile) runs the one loop in
  :func:`checkpointed_partials`, which takes the build's (spec, extractor)
  and runs the one stage-A builder through ``ops.source.scan_partials``.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .agg import tree_merge
from .source import list_row_group_splits, scan_partials

_MANIFEST = "_manifest.json"


def _bucket_dir(ckpt_dir: str, bucket: int) -> str:
    return os.path.join(ckpt_dir, f"bucket={bucket}")


def completed_buckets(ckpt_dir: str, num_buckets: int) -> list[int]:
    return [
        b
        for b in range(num_buckets)
        if os.path.exists(os.path.join(_bucket_dir(ckpt_dir, b), "_SUCCESS"))
    ]


def _check_manifest(ckpt_dir: str, num_buckets: int, splits) -> None:
    """Pin the bucket layout on the first run; refuse a resume under a
    different one. Buckets are ``split_index % num_buckets``, so another
    bucket count or split list would re-read splits an existing bucket
    already holds (double counting) or skip splits none holds."""
    want = {
        "num_buckets": num_buckets,
        "splits": [[os.path.abspath(f), rg] for f, rg in splits],
    }
    path = os.path.join(ckpt_dir, _MANIFEST)
    if os.path.exists(path):
        with open(path) as f:
            have = json.load(f)
        changed = [k for k in want if have.get(k) != want[k]]
        if changed:
            raise ValueError(
                f"checkpoint {ckpt_dir} was built with another "
                f"{' and '.join(changed)}; resume with the original layout "
                "or use a fresh checkpoint dir"
            )
        return
    os.makedirs(ckpt_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(want, f)
    os.replace(path + ".tmp", path)


def checkpointed_partials(
    spark: SparkSession,
    path: str,
    ckpt_dir: str,
    spec,
    extractor,
    by: Sequence[str],
    num_buckets: int,
) -> tuple[DataFrame, int]:
    """THE bucket-checkpoint loop: stage A of :func:`ops.source.scan_partials`
    bucket by bucket, skipping buckets already checkpointed. Each written
    bucket carries a ``state_sha256`` digest per partial row. Returns
    ``(all bucket partials, number of splits)`` for the caller's tree
    merge."""
    splits = list_row_group_splits(path)
    if not splits:
        raise FileNotFoundError(f"no parquet files under {path}")
    _check_manifest(ckpt_dir, num_buckets, splits)
    done = set(completed_buckets(ckpt_dir, num_buckets))
    for b in range(num_buckets):
        if b in done:
            continue
        bucket_splits = splits[b::num_buckets]
        if not bucket_splits:
            os.makedirs(_bucket_dir(ckpt_dir, b), exist_ok=True)
            open(os.path.join(_bucket_dir(ckpt_dir, b), "_SUCCESS"), "w").close()
            continue
        partials, _ = scan_partials(
            spark, path, spec, extractor, by, splits=bucket_splits
        )
        partials.withColumn(
            "state_sha256", F.sha2(F.col("sketch"), 256)
        ).write.mode("overwrite").parquet(_bucket_dir(ckpt_dir, b))

    all_partials = spark.read.parquet(
        *[_bucket_dir(ckpt_dir, b) for b in range(num_buckets)]
    ).drop("state_sha256")
    return all_partials, len(splits)


def checkpointed_sketch_agg(
    spark: SparkSession,
    path: str,
    spec,
    extractor,
    ckpt_dir: str,
    by: Sequence[str] = (),
    num_buckets: int = 8,
    fanin: int = 64,
) -> DataFrame:
    """Resumable sketch aggregation over a parquet table.

    Computes partials bucket-by-bucket (skipping buckets already
    checkpointed), then tree-merges all bucket partials. Returns the same
    (byte-identical) result as :func:`ops.source.scan_sketch_agg`.
    """
    partials, num_splits = checkpointed_partials(
        spark, path, ckpt_dir, spec, extractor, by, num_buckets
    )
    return tree_merge(partials, spec, by=by, num_partials=num_splits, fanin=fanin)


def lineage_metrics(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """The lineage/metrics table: one row per (bucket partition × group) with
    n_values and the sha256 state digest."""
    return spark.read.option("basePath", ckpt_dir).parquet(ckpt_dir + "/bucket=*")
