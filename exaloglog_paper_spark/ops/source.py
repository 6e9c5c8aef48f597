"""Python-native columnar parquet source for sketch building.

Why: Spark's JVM->Arrow bridge converts ``array<int32>`` columns
element-wise when shipping rows to Python workers — measured ~19s overhead
for a 67M-token sf0.1 scan where the raw JVM columnar scan takes 1.75s and
a direct pyarrow read of the same files takes ~4s single-threaded. For
full-table sketch builds (the 10^12-row production case) we instead
parallelize over *row-group splits* and let each task read its split with
pyarrow directly: parquet -> Arrow with zero JVM round-trip, preserving
column pruning (explicit ``columns=``) and row-group pruning (optional
pyarrow ``filter``).

This is the standard DataSourceV2-python-reader pattern expressed with the
DataFrame API: a JVM ``Range`` with one row per task drives a map-only
stage (no shuffle), each task's id selects its splits from the driver's
split table, and PySpark's UDF broadcast threshold ships a large split
table as a broadcast. The row-DataFrame path in ops/agg.py remains for
inputs that are outputs of arbitrary Spark plans (joins, filters).
"""

from __future__ import annotations

import glob
import os
from typing import Sequence

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def list_row_group_splits(path: str) -> list[tuple[str, int]]:
    """Enumerate (file, row_group) splits of a parquet file/directory."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # flat Spark output dirs and hive/Iceberg-style partitioned layouts
        files = sorted(
            glob.glob(os.path.join(path, "*.parquet"))
            or glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    else:
        files = [path]
    splits: list[tuple[str, int]] = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            splits.append((f, rg))
    return splits


# parquet bytes per scan task, and rows per decoded Arrow batch
_TARGET_SPLIT_BYTES = 256 * 1024**2
_BATCH_ROWS = 65536


def batch_iterator(split_rows, columns: Sequence[str]):
    """Yield Arrow record batches for the given (path, row_group) rows."""
    import pyarrow.parquet as pq

    for path, groups in split_rows:
        pf = pq.ParquetFile(path)
        yield from pf.iter_batches(
            batch_size=_BATCH_ROWS, row_groups=groups, columns=list(columns)
        )


def scan_partials(
    spark: SparkSession,
    path: str,
    spec,
    extractor,
    by: Sequence[str],
    splits: list | None = None,
) -> tuple[DataFrame, int]:
    """Stage A over parquet: THE pyarrow-native scan every parquet build
    rides (``scan_sketch_agg``, ``scan_profile`` and the bucket loop of
    ``ops.checkpoints``). Returns ``(partials, num_partitions)``.

    ``splits`` is the full split list of ``path`` (listed here when None)
    or a checkpoint bucket's subset. A JVM ``Range`` of ``num_partitions``
    ids, one per partition, drives a map-only stage: task ``i`` reads the
    ``by`` and ``extractor.input_cols`` columns of the splits assigned to
    it (round-robin by split index) with pyarrow and feeds the batches to
    the one stage-A builder, ``agg._build_partials_batches``, which yields
    partial rows in the ``by..., PARTIAL_COLS`` schema (``by`` types from
    the parquet footer).

    Task count is SCALE-ADAPTIVE (guide §2/§6): enough tasks that each
    reads ~256 MB of parquet (finer granularity as the table grows — at
    100 TB that is ~4·10^5 tasks, many waves per core, good straggler
    balance), floored at one wave over the cluster's cores so small
    inputs still use every core without extra waves of sub-second tasks.
    """
    import pyarrow.parquet as pq

    from .agg import _build_partials_batches, _by_schema_from_fields

    by = list(by)
    cols = list(dict.fromkeys(by + list(extractor.input_cols)))
    if splits is None:
        splits = list_row_group_splits(path)
    if not splits:
        raise FileNotFoundError(f"no parquet files under {path}")
    file_schema = pq.read_schema(splits[0][0])
    schema = _by_schema_from_fields([file_schema.field(c) for c in by])
    total_bytes = sum(os.path.getsize(f) for f in {f for f, _ in splits})
    num_p = min(
        len(splits),
        max(
            spark.sparkContext.defaultParallelism,
            -(-total_bytes // _TARGET_SPLIT_BYTES),
        ),
    )
    # Task i reads tasks[i]: a deterministic round-robin over the split
    # list. A JVM Range with one id per partition drives the tasks, so the
    # build is the first and only stage (no Exchange, no LocalTableScan).
    # The split table rides in the task closure; above
    # spark.broadcast.UDFCompressionThreshold (1 MB, ~10^5 splits) PySpark
    # ships that closure as a broadcast rather than inline with each task.
    tasks = [[(p, [g]) for p, g in splits[i::num_p]] for i in range(num_p)]

    def run(batches):
        for b in batches:
            for i in b.column("id").to_pylist():
                yield from _build_partials_batches(
                    batch_iterator(tasks[i], cols), spec, extractor, by,
                    num_partitions=num_p,
                )

    return spark.range(0, num_p, 1, num_p).mapInArrow(run, schema=schema), num_p


def scan_sketch_agg(
    spark: SparkSession,
    path: str,
    spec,
    extractor,
    by: Sequence[str] = (),
    fanin: int = 64,
) -> DataFrame:
    """sketch_agg over a parquet table using the pyarrow-native scan.

    Equivalent result (byte-identical states) to
    ``sketch_agg(spark.read.parquet(path), ...)`` — asserted in tests — at a
    fraction of the transfer cost for array columns. With no ``by``,
    ``tree_merge``'s driver fold runs the scan job while this DataFrame is
    built, and the result is a one-row LocalRelation.
    """
    from .agg import tree_merge

    partials, num_p = scan_partials(spark, path, spec, extractor, by)
    # Grouped aggregations keep the distributed tree unconditionally: a
    # grouped driver-fold fast path measured no faster (OPTIMIZATION_r06.md).
    return tree_merge(partials, spec, by=by, num_partials=num_p, fanin=fanin)


def resolve_format(source: str, fmt: str = "auto") -> str:
    """THE iceberg-vs-parquet 'auto' rule (single definition — the job and
    read_tokens both call this so their decisions can't drift): a path
    separator, a parquet-ish suffix, or an existing filesystem path means
    parquet; otherwise only the full ``catalog.db.table`` two-dot shape is
    an Iceberg identifier. A single-dot relative name that doesn't exist
    yet (``tokens.v2``, a typo'd path) resolves to parquet so the reader's
    error talks about the path the user actually meant."""
    if fmt != "auto":
        return fmt
    if source.endswith(".orc"):
        return "orc"
    if "/" in source or source.endswith((".parquet", ".pq")) or os.path.exists(source):
        return "parquet"
    return "iceberg" if source.count(".") >= 2 else "parquet"


def read_tokens(spark: SparkSession, source: str, fmt: str = "auto") -> DataFrame:
    """Load the pre-tokenized sequence table (doc_id, tokens:array<int32>,
    n_tok, source) — the BASELINE.json input_hint shape — from either an
    Iceberg table or parquet files.

    ``fmt``:
      - ``"iceberg"``: ``source`` is a catalog identifier
        (``catalog.db.table``) or a path for ``spark.read.format("iceberg")``
        — requires ``iceberg-spark-runtime`` on the cluster classpath (the
        production deployment; this sandbox has no Iceberg jars, so the
        path is exercised on real clusters only). All downstream operators
        consume the DataFrame, so Iceberg's hidden partitioning / snapshot
        isolation compose for free; use the DataFrame route
        (``ops.agg.sketch_agg``), not the pyarrow row-group scan, which is
        parquet-file-layout specific.
      - ``"parquet"``: ``source`` is a parquet file/directory.
      - ``"orc"``: ``source`` is an ORC file/directory (auto-detected for
        ``*.orc`` paths). Downstream is format-agnostic (DataFrame route);
        the pyarrow row-group scan stays parquet-only.
      - ``"auto"``: see :func:`resolve_format`.
    """
    fmt = resolve_format(source, fmt)
    if fmt == "orc":
        return spark.read.orc(source)
    if fmt == "iceberg":
        try:
            return spark.read.format("iceberg").load(source)
        except (AnalysisException, Py4JJavaError) as e:
            # jars absent (a JVM ClassNotFound) or table missing: actionable error
            raise RuntimeError(
                f"cannot read Iceberg table {source!r}: is "
                "iceberg-spark-runtime on the classpath and the catalog "
                "configured? (if this was meant as a parquet path, pass "
                f"fmt='parquet') ({e})"
            ) from e
    try:
        return spark.read.parquet(source)
    except AnalysisException as e:
        # 'auto' resolves single-dot names (`db.table`) to parquet; if the
        # path doesn't exist the caller may have meant a 2-part Iceberg
        # identifier against the session default catalog — say so
        raise RuntimeError(
            f"cannot read parquet at {source!r} (if this was meant as an "
            "Iceberg identifier, e.g. a 2-part `db.table` name against the "
            f"session default catalog, pass fmt='iceberg') ({e})"
        ) from e
