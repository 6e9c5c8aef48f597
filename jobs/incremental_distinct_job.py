"""spark-submit entry point: incrementally-maintained distinct-token counts.

Maintains a snapshot sketch table (one ExaLogLog state row per group,
ops/snapshot_table.py) and folds each new data increment into it with one
pass over the increment — history is never rescanned. Because the merge
algebra is exact, the maintained table is byte-identical to a
from-scratch rebuild over all increments (the oracle-checked
resume/merge invariants). Each update is one atomic snapshot commit with
per-commit lineage metrics.

Usage (daily pipeline shape):

    scripts/build_dist.sh
    spark-submit --master local[8] \
        --py-files dist/exaloglog_paper_spark.zip \
        jobs/incremental_distinct_job.py \
        --table /warehouse/token_sketches --add /data/tokens_2026_08_16.parquet \
        --by source
    # next day:
    spark-submit ... --add /data/tokens_2026_08_17.parquet --by source

Each run prints the committed snapshot's summary (groups, values folded,
commit seconds, and the commit ``arm``: ``driver`` when the merge and
write ran on the driver, ``spark`` when a Spark job ran them) and the
post-update per-group estimates. ``--estimate-only``
reads the latest snapshot without updating; add ``--snapshot-id K`` to
time-travel to snapshot K. ``--prune-keep N`` expires all but the newest
N snapshots after an update.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="sketch-table directory")
    ap.add_argument("--add", default="", help="new data increment (token table)")
    ap.add_argument("--by", default="", help="comma-separated group columns")
    ap.add_argument("--format", default="auto", choices=["auto", "parquet", "orc", "iceberg"])
    ap.add_argument("--t", type=int, default=2)
    ap.add_argument("--d", type=int, default=20)
    ap.add_argument("--p", type=int, default=10)
    ap.add_argument("--estimate-only", action="store_true")
    ap.add_argument(
        "--snapshot-id",
        type=int,
        default=None,
        help="with --estimate-only: time-travel read of this snapshot",
    )
    ap.add_argument(
        "--lineage",
        default="",
        help="free-form increment label recorded in the snapshot history "
        "(e.g. the batch date)",
    )
    ap.add_argument(
        "--prune-keep",
        type=int,
        default=0,
        help="after a successful update, keep only the newest N snapshots "
        "(0 = never prune)",
    )
    args = ap.parse_args()
    by = [c for c in args.by.split(",") if c]

    from exaloglog_paper_spark.ops.agg import (
        ExaLogLogSpec,
        sketch_agg,
        token_array_values,
        with_estimate,
    )
    from exaloglog_paper_spark.ops.snapshot_table import (
        expire_snapshots,
        read_snapshot_table,
        update_snapshot_table,
    )
    from exaloglog_paper_spark.ops.source import read_tokens

    spark = SparkSession.builder.appName("incremental-distinct").getOrCreate()
    spec = ExaLogLogSpec(args.t, args.d, args.p)
    if args.estimate_only:
        table = read_snapshot_table(spark, args.table, snapshot_id=args.snapshot_id)
    else:
        if not args.add:
            raise SystemExit("--add is required unless --estimate-only")
        inc = sketch_agg(
            read_tokens(spark, args.add, args.format),
            spec,
            token_array_values("tokens"),
            by=by,
        )
        lineage = {"increment": args.lineage or args.add}
        s = update_snapshot_table(spark, args.table, inc, spec, by=by, lineage=lineage)
        print(
            f"committed snapshot {s['id']} (parent {s['parent_id']}): "
            f"{s['summary']} lineage={s['lineage']}"
        )
        if args.prune_keep > 0:
            expired = expire_snapshots(args.table, keep=args.prune_keep)
            if expired:
                print(f"expired snapshots: {expired}")
        table = read_snapshot_table(spark, args.table)
    # group columns come from the table itself, so --estimate-only needs no --by
    out_cols = [c for c in table.columns if c != "sketch"]
    with_estimate(table, spec).select(*out_cols, "estimate").show(50, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
