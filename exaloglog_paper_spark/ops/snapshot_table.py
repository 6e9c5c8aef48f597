"""Snapshot-committed sketch tables (Iceberg-style semantics, no jars).

The production pattern for 10^12-row distinct counting: keep one row of
serialized sketch state per group in a persistent table, and fold each new
data increment (today's partition) into it with ONE pass over the
increment only — never rescanning history. The table is committed with
the semantics a production deployment gets from an Iceberg table, while
staying runnable on a plain filesystem:

- **Immutable data files**: every commit writes a brand-new parquet dir
  under ``data/``; nothing is ever rewritten in place.
- **Atomic commits**: a commit is ONE ``os.replace`` of the
  ``metadata/version-hint.text`` pointer (POSIX-atomic rename). A crash
  anywhere before the swap leaves at most an orphaned data dir and an
  unreferenced metadata file — readers are untouched and the next commit
  simply supersedes them.
- **Snapshot isolation**: a reader resolves hint → metadata → manifest →
  an exact, immutable file set. Writers never disturb in-flight readers.
- **Snapshot history + lineage**: each snapshot records its parent, the
  operation, per-commit metrics (groups, values folded, fold seconds) and
  caller lineage (e.g. which day's increment produced it) — the
  resume/audit trail the north rule asks for.
- **Time travel**: ``read_snapshot_table(..., snapshot_id=k)`` reads the
  table exactly as of commit ``k``.
- **No jobs beyond the write**: each snapshot records its files' schema
  (as a parquet read infers it, every field nullable), so reads skip
  inference; older snapshots without one still read through inference.
- **Small tables stay on the driver**: a snapshot of at most
  ``_DRIVER_READ_BYTES`` (uncompressed) is read eagerly with pyarrow at
  call time into a LocalRelation — estimating or collecting it runs no
  Spark job, and a later ``expire_snapshots`` cannot break it. A larger
  one is read lazily by a parquet scan, which fails if its files are
  expired before an action runs. A commit whose increment and current
  snapshot together hold at most that bound streams the increment to the
  driver and merges and writes there too; a larger one merges and writes
  by a Spark job.

The sketch-state table is KB-per-group (MBs total even when the SOURCE
data is 10^12 rows), so copy-on-write per commit — rewrite the merged
state table, cost proportional to #groups — is the right trade; the
expensive pass is only ever over the new increment, and mergeability
(``state(A ∪ B) == merge(state(A), state(B))``, byte-for-byte) makes the
snapshot chain byte-identical to a from-scratch rebuild (asserted by the
``incremental_update_invariant`` and ``snapshot_time_travel_invariant``
oracles and tests/test_snapshot_table.py).

Reference behavior-parity note: the reference persists nothing between
runs (in-memory Java sketches); persistent snapshot tables are this
repo's distributed-deployment surface built on the same merge algebra
(``ExaLogLog.java`` add/merge contract, see sketchlib/exaloglog.py).
"""

from __future__ import annotations

import datetime
import functools
import glob
import json
import os
import re
import shutil
import time
from typing import Mapping, Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

from .agg import _merge_runs, tree_merge

_STATE_COLS = ["sketch", "n_values"]

# uncompressed bytes of state rows up to which the driver handles them:
# read_snapshot_table reads a snapshot of at most this on the driver, and
# update_snapshot_table merges and writes there while the current
# snapshot plus the streamed increment stay within it. Measured on
# local[4] with ELL(2,20,10) states (3.6 KB each):
# - read + with_estimate + collect: 512 states (1.8 MB) took 0.16 s on
#   the driver vs 0.22 s by a scan job, 1024 (3.7 MB) tied at 0.26 s, and
#   13000 (47 MB) took 3.4 vs 1.1 s — the driver estimates on one thread
#   what the scan's tasks estimate in parallel. 32 profile composites
#   (11 MB) still took 0.14 vs 0.21 s.
# - commit of an increment of I groups (4 docs each, I - S of them new)
#   on a table of S groups, the increment's scan included, median of 4
#   interleaved commits:
#     S, I        0,64  0,512  0,1024  64,512  64,1024  512,512  512,1024
#     driver s    0.57   0.91   1.67    1.29    1.95     1.04     1.75
#     Spark  s    0.81   0.98   1.17    1.64    1.89     1.51     1.83
#   The stream runs the increment's merge level one partition at a time,
#   and AQE splits an increment of ~1000 states into several, so the
#   commit ties at ~3.7 MB of increment too (~5 MB with the snapshot).
#   Collected by one parallel job instead, 2048 + 2048 states (15 MB)
#   still merged faster on the driver (2.5 vs 2.7 s): the driver's merge
#   is not what binds.
# More cores move both ties lower.
_DRIVER_READ_BYTES = 2 << 20


def _meta_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "metadata")


def _hint_path(table_dir: str) -> str:
    return os.path.join(_meta_dir(table_dir), "version-hint.text")


def _commit_metadata(table_dir: str, version: int, by: list, snapshots: list) -> None:
    """Write ``v{version}.metadata.json``, then make it current by the
    atomic version-hint swap: THE commit point."""
    os.makedirs(_meta_dir(table_dir), exist_ok=True)
    with open(os.path.join(_meta_dir(table_dir), f"v{version}.metadata.json"), "w") as f:
        json.dump({"format_version": 1, "by": by, "snapshots": snapshots}, f, indent=1)
    tmp = _hint_path(table_dir) + f".tmp{version}"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, _hint_path(table_dir))


def current_metadata(table_dir: str) -> dict | None:
    """Metadata the version hint points at, or None for an empty table.

    Only the hint is trusted: metadata/data files not reachable from it
    (crash leftovers) are invisible, which is the whole crash-safety story.
    """
    hint = _hint_path(table_dir)
    if not os.path.exists(hint):
        return None
    with open(hint) as f:
        v = int(f.read().strip())
    with open(os.path.join(_meta_dir(table_dir), f"v{v}.metadata.json")) as f:
        meta = json.load(f)
    meta["version"] = v
    return meta


def snapshot_history(table_dir: str) -> list[dict]:
    """All committed snapshots, oldest first (id, parent_id, timestamp_ms,
    operation, manifest, summary, lineage, schema)."""
    meta = current_metadata(table_dir)
    return list(meta["snapshots"]) if meta else []


def _resolve_snapshot(meta: dict, snapshot_id: int | None) -> dict:
    snaps = meta["snapshots"]
    if snapshot_id is None:
        return snaps[-1]
    for s in snaps:
        if s["id"] == snapshot_id:
            return s
    raise KeyError(
        f"snapshot {snapshot_id} not in table (have "
        f"{[s['id'] for s in snaps]}; expired snapshots are unreadable)"
    )


def _scan(spark: SparkSession, table_dir: str, snap: dict) -> DataFrame:
    """Lazy parquet scan of ``snap``'s files."""
    reader = spark.read
    if "schema" in snap:  # recorded at commit: no schema-inference job
        reader = reader.schema(StructType.fromJson(snap["schema"]))
    return reader.parquet(*[os.path.join(table_dir, rel) for rel in snap["manifest"]])


def _snapshot_files(table_dir: str, snap: dict) -> list[str]:
    return sorted(
        f
        for rel in snap["manifest"]
        for f in glob.glob(os.path.join(table_dir, rel, "*.parquet"))
    )


def _state_bytes(files: Sequence[str]) -> int:
    """The row-group bytes ``files``' parquet footers record before
    compression: what a driver read of them holds (no Spark job)."""
    size = 0
    for f in files:
        md = pq.read_metadata(f)
        size += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return size


def read_snapshot_table(
    spark: SparkSession, table_dir: str, snapshot_id: int | None = None
) -> DataFrame:
    """Current table state, or — time travel — the state as of
    ``snapshot_id``. The manifest names immutable dirs, so the read is
    reproducible for as long as the snapshot isn't expired. Both arms
    return the group keys and state columns only (``by`` + sketch,
    n_values), whatever else an older snapshot's files hold.

    Two arms, chosen by the files' ``_state_bytes`` (no Spark job): at
    most ``_DRIVER_READ_BYTES``, the files are read now by pyarrow into a
    LocalRelation, so ``with_estimate`` and ``collect`` on it run no
    Spark job; above it, a lazy parquet scan."""
    meta = current_metadata(table_dir)
    if meta is None:
        raise FileNotFoundError(f"no committed snapshot under {table_dir}")
    snap = _resolve_snapshot(meta, snapshot_id)
    files = _snapshot_files(table_dir, snap)
    cols = meta["by"] + _STATE_COLS
    if not files or _state_bytes(files) > _DRIVER_READ_BYTES:
        return _scan(spark, table_dir, snap).select(*cols)
    # no partitioning: a `k=v` dir above the table is no column here, as
    # it is none in the scan; with no recorded schema the Arrow files'
    # own is the one a scan infers
    table = pq.read_table(files, columns=cols, partitioning=None)
    schema = None
    if "schema" in snap:
        fields = {f.name: f for f in StructType.fromJson(snap["schema"]).fields}
        schema = StructType([fields[c] for c in cols])
    return spark.createDataFrame(table, schema=schema)


def merge_state_tables(
    states: Sequence[DataFrame], spec, by: Sequence[str] = (), fanin: int = 64
) -> DataFrame:
    """Merge several (by..., sketch, n_values) state tables into one row
    per group. Inputs are state rows (KB each), so this is a shuffle of
    sketch states on the group key — never of raw data. Each input is
    projected to those columns, so snapshots committed with the former
    ``build_secs`` column merge with newer ones."""
    by = list(by)
    # tree_merge wants a DISTINCT partition stamp per planned partial: stamp
    # each input table with its ordinal so the pmod bucketing spreads states
    # across first-level reducers even for > fanin input tables (multi-day
    # backfills) — a constant stamp would funnel every state into one bucket
    stamped = [
        s.select(*by, *_STATE_COLS, F.lit(i).alias("partition_id"))
        for i, s in enumerate(states)
    ]
    return tree_merge(
        functools.reduce(DataFrame.unionByName, stamped),
        spec, by=by, num_partials=len(states), fanin=fanin,
    )


def _collect_within(inc: DataFrame, schema: StructType, budget: int) -> pa.Table | None:
    """``inc``'s rows as an Arrow table of ``schema``'s types, streamed to
    the driver a partition at a time, or None as soon as their states
    pass ``budget`` bytes: an increment's size is unknown until it is
    computed, and one above the bound is never held here."""
    rows, size = [], 0
    for row in inc.toLocalIterator():
        size += len(row.sketch)
        if size > budget:
            return None
        rows.append(row)
    arrow = to_arrow_schema(schema)
    cols = []
    for f, values in zip(arrow, zip(*rows) if rows else [()] * len(arrow)):
        if pa.types.is_timestamp(f.type) and f.type.tz:
            # a TimestampType row holds a naive time in the local zone
            values = [v and v.astimezone(datetime.timezone.utc) for v in values]
        cols.append(pa.array(values, f.type))
    return pa.Table.from_arrays(cols, schema=arrow)


def _merge_on_driver(increment: pa.Table, files: list[str], spec, by: list) -> pa.Table:
    """The driver arm's merge: read the current snapshot's ``files`` with
    pyarrow as the ``increment``'s types, sort both on ``by`` and run the
    merge level's own task body, ``agg._merge_runs``, over them —
    byte-order merges, null/NaN key groups and ``n_values`` sums as in
    the Spark arm."""
    both = [increment]
    if files:
        current = pq.read_table(files, columns=increment.column_names, partitioning=None)
        both.insert(0, current.cast(increment.schema))
    both = pa.concat_tables(both)
    if by:
        both = both.sort_by([(c, "ascending") for c in by])
    both = both.append_column("__bucket", pa.repeat(0, len(both)))
    out = list(_merge_runs(both.to_batches(), spec, by))
    return (pa.Table.from_batches(out) if out else both).select(increment.column_names)


def update_snapshot_table(
    spark: SparkSession,
    table_dir: str,
    increment_states: DataFrame,
    spec,
    by: Sequence[str] = (),
    lineage: Mapping[str, str] | None = None,
) -> dict:
    """Commit one increment as a new snapshot.

    ``increment_states`` is ``sketch_agg``/``scan_sketch_agg`` output over
    the NEW data only; history is never rescanned — the commit folds the
    increment into the current state rows (KB each) and writes the merged
    table as a fresh immutable data dir. Two arms (``summary["arm"]``
    records which), chosen by the current snapshot's ``_state_bytes``
    plus the increment's state bytes against ``_DRIVER_READ_BYTES``:

    - ``"driver"``, within the bound: the increment streams to the driver
      (its Spark jobs: the increment's map stages and one result job per
      partition AQE leaves it), and pyarrow reads the snapshot, merges
      both and writes one ``part-00000.parquet``;
    - ``"spark"``, above it — when the snapshot alone passes the bound, or
      as soon as the streamed increment does: a Spark job merges the
      increment with a lazy scan of the snapshot (``merge_state_tables``)
      and writes the parquet files, so large states stay distributed.
      After a stream stopped early, the increment's rows come from the
      stream's computed result, so its scan and shuffle do not rerun.

    Commit order: data dir → metadata json → atomic hint swap; a crash at
    any point leaves the previous snapshot intact and current.

    Returns the committed snapshot's record, ``snapshot_history(table_dir)[-1]``;
    a caller that wants the table reads it with ``read_snapshot_table``.
    """
    by = list(by)
    t0 = time.monotonic()
    meta = current_metadata(table_dir)
    inc = increment_states.select(*by, *_STATE_COLS)
    # recorded as a parquet read infers it: every field nullable
    schema = StructType([StructField(f.name, f.dataType, True, f.metadata) for f in inc.schema])
    snaps = list(meta["snapshots"]) if meta else []
    snap_id = snaps[-1]["id"] + 1 if snaps else 1
    rel_data = os.path.join("data", f"snap-{snap_id:06d}")
    data_dir = os.path.join(table_dir, rel_data)
    files = _snapshot_files(table_dir, snaps[-1]) if snaps else []
    budget = _DRIVER_READ_BYTES - _state_bytes(files)
    increment = _collect_within(inc, schema, budget) if budget >= 0 else None

    if increment is not None:
        merged = _merge_on_driver(increment, files, spec, by)
        # a retry reuses this snap-N: clear what a crashed attempt left
        shutil.rmtree(data_dir, ignore_errors=True)
        os.makedirs(data_dir)
        pq.write_table(
            merged,
            os.path.join(data_dir, "part-00000.parquet"),
            use_dictionary=False,
            write_statistics=False,
        )
        n_values = merged.column("n_values")
        arm = "driver"
    else:
        if budget >= 0:
            # the stream's computed result (the same queryExecution.toRdd),
            # not a new plan of the increment
            inc = spark.createDataFrame(inc.rdd, schema, verifySchema=False)
        if snaps:
            # the lazy scan: merging a LocalRelation runs one map task per
            # core even for a few state rows, and was no faster
            current = _scan(spark, table_dir, snaps[-1])
            inc = merge_state_tables([current, inc], spec, by=by)
        inc.write.mode("overwrite").parquet(data_dir)
        # driver-side summary: no Spark job after the write
        n_values = pq.read_table(data_dir, columns=["n_values"]).column("n_values")
        arm = "spark"

    snaps.append(
        {
            "id": snap_id,
            "parent_id": snaps[-1]["id"] if snaps else None,
            "timestamp_ms": int(time.time() * 1000),
            # COW: an overwrite replaces all state rows
            "operation": "overwrite" if snaps else "append",
            "manifest": [rel_data],
            "summary": {
                "n_groups": len(n_values),
                "total_values": int(pc.sum(n_values).as_py() or 0),
                "commit_secs": round(time.monotonic() - t0, 3),
                "arm": arm,
            },
            "lineage": dict(lineage or {}),
            "schema": schema.jsonValue(),
        }
    )

    _commit_metadata(table_dir, meta["version"] + 1 if meta else 1, by, snaps)
    return snaps[-1]


def expire_snapshots(table_dir: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` snapshots: rewrite metadata without
    them (committed via the same atomic hint swap), then delete their
    now-unreferenced data dirs and any orphans from crashed commits.
    Never touches the current snapshot, nor a ``snap-N`` dir with N above
    it: that is a pending commit whose hint swap has not happened yet (a
    retry of a crashed one computes the same id and overwrites it).
    Returns expired snapshot ids."""
    meta = current_metadata(table_dir)
    if meta is None:
        return []
    snaps = meta["snapshots"]
    keep = max(keep, 1)  # the current snapshot is never expirable
    kept, doomed = snaps[-keep:], snaps[:-keep]
    if doomed:
        _commit_metadata(table_dir, meta["version"] + 1, meta["by"], kept)
    live = {rel for s in kept for rel in s["manifest"]}
    data_dir = os.path.join(table_dir, "data")
    if os.path.isdir(data_dir):
        for name in os.listdir(data_dir):
            m = re.fullmatch(r"snap-(\d+)", name)
            if (
                m
                and int(m.group(1)) <= kept[-1]["id"]
                and os.path.join("data", name) not in live
            ):
                shutil.rmtree(os.path.join(data_dir, name), ignore_errors=True)
    return [s["id"] for s in doomed]

