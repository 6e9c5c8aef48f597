"""Snapshot-committed sketch tables (ops/snapshot_table.py): byte-exact
COW merges, time travel against immutable manifests, atomic-commit crash
safety (only the version hint is trusted), lineage metrics, and expiry."""

import contextlib
import io
import json
import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from exaloglog_paper_spark.ops import snapshot_table, tokens as tok
from exaloglog_paper_spark.ops.agg import (
    ExaLogLogSpec,
    sketch_agg,
    token_array_values,
    with_estimate,
)
from exaloglog_paper_spark.ops.snapshot_table import (
    current_metadata,
    expire_snapshots,
    merge_state_tables,
    read_snapshot_table,
    snapshot_history,
    update_snapshot_table,
)

SPEC = ExaLogLogSpec(2, 20, 8)


@pytest.fixture(scope="module")
def tdf(spark):
    return tok.token_table(spark, 4_000, seed=7, num_partitions=5).cache()


def _states(df, by=("source",)):
    return {
        tuple(r[c] for c in by): (bytes(r.sketch), int(r.n_values))
        for r in df.collect()
    }


def _build(df, by=("source",)):
    return sketch_agg(df, SPEC, token_array_values("tokens"), by=list(by))


def _commit(spark, tdir, part, lineage=None, by=("source",)):
    return update_snapshot_table(
        spark, tdir, _build(part, by), SPEC, by=list(by), lineage=lineage
    )


def _thirds(tdf):
    return [
        tdf.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i) for i in (0, 1, 2)
    ]


@pytest.mark.parametrize("by", [(), ("source",)], ids=["global", "by_source"])
def test_snapshot_commits_equal_full_rebuild_and_time_travel(spark, tdf, tmp_path, by):
    tdir = str(tmp_path / "snap")
    parts = _thirds(tdf)
    for i, p in enumerate(parts):
        _commit(spark, tdir, p, lineage={"increment": f"day-{i}"}, by=by)

    # final state: byte-identical to a one-shot build over the union
    assert _states(read_snapshot_table(spark, tdir), by) == _states(_build(tdf, by), by)

    # time travel: snapshot k == one-shot build over the first k increments
    assert _states(read_snapshot_table(spark, tdir, snapshot_id=1), by) == _states(
        _build(parts[0], by), by
    )
    assert _states(read_snapshot_table(spark, tdir, snapshot_id=2), by) == _states(
        _build(parts[0].unionByName(parts[1]), by), by
    )

    # history: parent chain, operations, lineage, and honest volume metrics
    hist = snapshot_history(tdir)
    assert [s["id"] for s in hist] == [1, 2, 3]
    assert [s["parent_id"] for s in hist] == [None, 1, 2]
    assert [s["operation"] for s in hist] == ["append", "overwrite", "overwrite"]
    assert [s["lineage"]["increment"] for s in hist] == ["day-0", "day-1", "day-2"]
    vols = [
        sum(n for _, n in _states(_build(d, by), by).values())
        for d in (parts[0], parts[0].unionByName(parts[1]), tdf)
    ]
    assert [s["summary"]["total_values"] for s in hist] == vols
    assert all(s["summary"]["n_groups"] >= 1 for s in hist)
    assert [s["summary"]["arm"] for s in hist] == ["driver"] * 3


def test_crashed_commit_is_invisible_until_hint_swap(spark, tdf, tmp_path):
    """A writer that dies after the data dir and metadata json but BEFORE
    the atomic version-hint swap must leave readers on the old snapshot;
    the next successful commit supersedes the orphans."""
    tdir = str(tmp_path / "snap")
    parts = _thirds(tdf)
    _commit(spark, tdir, parts[0])
    before = _states(read_snapshot_table(spark, tdir))

    # simulate the crash: orphan data dir + unreferenced metadata file
    os.makedirs(os.path.join(tdir, "data", "snap-000099"))
    bogus = {"format_version": 1, "by": ["source"], "snapshots": []}
    with open(os.path.join(tdir, "metadata", "v99.metadata.json"), "w") as f:
        json.dump(bogus, f)

    assert current_metadata(tdir)["version"] == 1
    assert _states(read_snapshot_table(spark, tdir)) == before
    assert len(snapshot_history(tdir)) == 1

    # recovery: a retry commits normally on top of snapshot 1
    _commit(spark, tdir, parts[1])
    assert _states(read_snapshot_table(spark, tdir)) == _states(
        _build(parts[0].unionByName(parts[1]))
    )


def test_expire_snapshots_prunes_history_and_data(spark, tdf, tmp_path):
    tdir = str(tmp_path / "snap")
    for p in _thirds(tdf):
        _commit(spark, tdir, p)
    current = _states(read_snapshot_table(spark, tdir))

    assert expire_snapshots(tdir, keep=1) == [1, 2]
    # current snapshot untouched; expired ids unreadable; data dirs pruned
    assert _states(read_snapshot_table(spark, tdir)) == current
    assert [s["id"] for s in snapshot_history(tdir)] == [3]
    with pytest.raises(KeyError):
        read_snapshot_table(spark, tdir, snapshot_id=1)
    assert sorted(os.listdir(os.path.join(tdir, "data"))) == ["snap-000003"]
    # expiring again is a no-op
    assert expire_snapshots(tdir, keep=1) == []


def test_expire_snapshots_keeps_pending_commit_dir(spark, tdf, tmp_path):
    """A data dir above the current snapshot id belongs to a commit that has
    written its files but not yet swapped the hint: expiry must leave it
    alone (else that commit would point at a missing dir) while still
    deleting the expired snapshots' dirs."""
    tdir = str(tmp_path / "snap")
    parts = _thirds(tdf)
    for p in parts[:2]:
        _commit(spark, tdir, p)
    data = os.path.join(tdir, "data")
    pending = os.path.join(data, "snap-000003")
    os.makedirs(pending)

    assert expire_snapshots(tdir, keep=1) == [1]
    assert sorted(os.listdir(data)) == ["snap-000002", "snap-000003"]

    # the pending writer's retry computes the same id and overwrites it
    _commit(spark, tdir, parts[2])
    assert snapshot_history(tdir)[-1]["manifest"] == ["data/snap-000003"]
    assert _states(read_snapshot_table(spark, tdir)) == _states(_build(tdf))


def test_expire_snapshots_deletes_stale_orphans_only(spark, tdf, tmp_path):
    """A ``snap-N`` dir at or below the current id that no kept snapshot
    names is a crash leftover no retry will overwrite: expiry deletes it
    even when no snapshot expires. Dirs not shaped ``snap-N`` are not the
    table's and are left alone."""
    tdir = str(tmp_path / "snap")
    parts = _thirds(tdf)
    for p in parts[:2]:
        _commit(spark, tdir, p)
    assert expire_snapshots(tdir, keep=1) == [1]
    current = _states(read_snapshot_table(spark, tdir))

    data = os.path.join(tdir, "data")
    for name in ("snap-000001", "snap-000002.bak", "notes"):
        os.makedirs(os.path.join(data, name))
    assert expire_snapshots(tdir, keep=1) == []
    assert sorted(os.listdir(data)) == ["notes", "snap-000002", "snap-000002.bak"]
    assert _states(read_snapshot_table(spark, tdir)) == current


def test_expire_snapshots_keep_bounds(spark, tdf, tmp_path):
    """``keep`` at or above the history length expires nothing and deletes
    no data dir; ``keep`` below 1 still keeps the current snapshot."""
    tdir = str(tmp_path / "snap")
    for p in _thirds(tdf):
        _commit(spark, tdir, p)
    data = os.path.join(tdir, "data")
    current = _states(read_snapshot_table(spark, tdir))

    assert expire_snapshots(tdir, keep=3) == []
    assert [s["id"] for s in snapshot_history(tdir)] == [1, 2, 3]
    assert len(os.listdir(data)) == 3

    assert expire_snapshots(tdir, keep=0) == [1, 2]
    assert [s["id"] for s in snapshot_history(tdir)] == [3]
    assert sorted(os.listdir(data)) == ["snap-000003"]
    assert _states(read_snapshot_table(spark, tdir)) == current
    assert expire_snapshots(str(tmp_path / "nope")) == []


def test_commit_of_empty_increment_keeps_states(spark, tdf, tmp_path):
    """An increment with no rows still commits a snapshot, and its state
    rows are the parent's, byte for byte, with the same summary volumes."""
    tdir = str(tmp_path / "snap")
    _commit(spark, tdir, tdf)
    before = _states(read_snapshot_table(spark, tdir))

    _commit(spark, tdir, tdf.filter(F.lit(False)), lineage={"increment": "empty"})
    hist = snapshot_history(tdir)
    assert [s["id"] for s in hist] == [1, 2]
    assert hist[-1]["lineage"] == {"increment": "empty"}
    assert _states(read_snapshot_table(spark, tdir)) == before
    assert hist[-1]["summary"]["n_groups"] == hist[0]["summary"]["n_groups"]
    assert hist[-1]["summary"]["total_values"] == hist[0]["summary"]["total_values"]


def test_merge_state_tables_global_beyond_fanin(spark, tdf):
    """Global (``by=()``) state tables fold like grouped ones: more tables
    than the fanin merge to the one-shot build's single row, and a single
    table comes back unchanged."""
    parts = [
        _build(tdf.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) == i), ())
        for i in range(5)
    ]
    want = _states(_build(tdf, ()), ())
    assert len(want) == 1
    assert _states(merge_state_tables(parts, SPEC, by=(), fanin=2), ()) == want
    assert _states(merge_state_tables(parts[:1], SPEC, by=()), ()) == _states(
        parts[0], ()
    )


def test_incremental_update_invariant_query(spark):
    """The registered query commits two increments as snapshots and flags
    every source byte-identical to a one-shot build; its volumes are the
    per-source token counts of the materialized table."""
    import pyarrow.parquet as pq

    from exaloglog_paper_spark.ops import queries as Q

    rows = Q.incremental_update_invariant(spark, "/sf/sf0.001").collect()
    table = pq.read_table(tok.materialize_token_table("sf0.001"))
    want = table.group_by("source").aggregate([("n_tok", "sum")])
    want = dict(zip(want["source"].to_pylist(), want["n_tok_sum"].to_pylist()))
    assert {r.source: r.total_tokens for r in rows} == want
    assert all(r.incremental_byte_identical for r in rows)


def test_empty_table_reads_raise(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_snapshot_table(spark, str(tmp_path / "nope"))
    assert current_metadata(str(tmp_path / "nope")) is None
    assert snapshot_history(str(tmp_path / "nope")) == []


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _jobs_in(spark, fn):
    """(fn(), number of Spark jobs it ran), counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"jobs-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_records_schema_and_exact_summary(spark, tdf, tmp_path):
    """A commit records its files' schema (reads then infer nothing: zero
    jobs, before and after expiry) and an exact summary."""
    tdir = str(tmp_path / "snap")
    parts = _thirds(tdf)
    for p in parts:
        _commit(spark, tdir, p)
    want = _states(_build(tdf))

    table, jobs = _jobs_in(spark, lambda: read_snapshot_table(spark, tdir))
    assert jobs == 0
    manifest = os.path.join(tdir, *snapshot_history(tdir)[-1]["manifest"])
    assert table.schema == spark.read.parquet(manifest).schema
    assert _states(table) == want
    summary = snapshot_history(tdir)[-1]["summary"]
    assert summary["n_groups"] == len(want)
    assert summary["total_values"] == sum(n for _, n in want.values())

    expire_snapshots(tdir, keep=1)
    assert _jobs_in(spark, lambda: read_snapshot_table(spark, tdir))[1] == 0


def _rows(df):
    """Every row, sketches as bytes, in a stable order."""
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in df.collect()
    )


def test_small_snapshot_reads_and_estimates_on_the_driver(spark, tdf, tmp_path):
    """A table under the byte bound is a LocalRelation: read + estimate +
    collect runs no Spark job, and the estimates are the scan's."""
    tdir = str(tmp_path / "snap")
    for p in _thirds(tdf):
        _commit(spark, tdir, p)

    rows, jobs = _jobs_in(
        spark, lambda: with_estimate(read_snapshot_table(spark, tdir), SPEC).collect()
    )
    assert jobs == 0
    scanned = spark.read.parquet(
        os.path.join(tdir, *snapshot_history(tdir)[-1]["manifest"])
    )
    assert {r.source: r.estimate for r in rows} == {
        r.source: r.estimate for r in with_estimate(scanned, SPEC).collect()
    }


def test_snapshot_above_byte_bound_plans_parquet_scan(spark, tdf, tmp_path, monkeypatch):
    """Above the bound the read stays a lazy parquet scan; both arms give
    the same schema and byte-identical rows, also under a ``k=v`` dir that
    neither arm reads as a partition column."""
    tdir = str(tmp_path / "day=1" / "snap")
    for p in _thirds(tdf):
        _commit(spark, tdir, p)

    small = read_snapshot_table(spark, tdir)
    monkeypatch.setattr(snapshot_table, "_DRIVER_READ_BYTES", 0)
    large = read_snapshot_table(spark, tdir)
    assert small.isLocal() and "FileScan parquet" not in _plan(small)
    assert not large.isLocal() and "FileScan parquet" in _plan(large)
    assert small.schema == large.schema
    assert _rows(small) == _rows(large)


def test_byte_bound_counts_uncompressed_bytes(spark, tdf, tmp_path, monkeypatch):
    """The bound is on the bytes a driver read holds, not on file sizes:
    per-document states are mostly empty registers that parquet
    compresses many-fold, so a bound their files fit in still reads
    them by a scan."""
    tdir = str(tmp_path / "snap")
    _commit(spark, tdir, tdf, by=("doc_id",))
    (rel,) = snapshot_history(tdir)[-1]["manifest"]
    data = os.path.join(tdir, rel)
    disk = sum(
        os.path.getsize(os.path.join(data, f))
        for f in os.listdir(data)
        if f.endswith(".parquet")
    )

    monkeypatch.setattr(snapshot_table, "_DRIVER_READ_BYTES", 2 * disk)
    assert not read_snapshot_table(spark, tdir).isLocal()
    monkeypatch.setattr(snapshot_table, "_DRIVER_READ_BYTES", 100 * disk)
    assert read_snapshot_table(spark, tdir).isLocal()


def test_commit_returns_the_snapshot_record(spark, tdf, tmp_path, monkeypatch):
    """``update_snapshot_table`` returns the record of the snapshot it
    committed and reads no table back to do so."""
    tdir = str(tmp_path / "snap")
    reads = []
    monkeypatch.setattr(
        snapshot_table, "read_snapshot_table", lambda *a, **k: reads.append(a)
    )
    for i, p in enumerate(_thirds(tdf), 1):
        out = _commit(spark, tdir, p)
        assert out == snapshot_history(tdir)[-1]
        assert out["id"] == i
    assert reads == []


def test_snapshot_without_recorded_schema_still_reads(spark, tdf, tmp_path, monkeypatch):
    """Metadata written before schemas were recorded reads to the same rows
    and schema on both arms: the driver arm takes the Arrow files' own
    schema, and the parquet scan infers it (which runs a job)."""
    tdir = str(tmp_path / "snap")
    _commit(spark, tdir, tdf)
    recorded = read_snapshot_table(spark, tdir)
    meta = current_metadata(tdir)
    path = os.path.join(tdir, "metadata", f"v{meta.pop('version')}.metadata.json")
    for s in meta["snapshots"]:
        del s["schema"]
    with open(path, "w") as f:
        json.dump(meta, f)

    small, jobs = _jobs_in(spark, lambda: read_snapshot_table(spark, tdir))
    assert jobs == 0
    with monkeypatch.context() as m:
        m.setattr(snapshot_table, "_DRIVER_READ_BYTES", 0)
        large, jobs = _jobs_in(spark, lambda: read_snapshot_table(spark, tdir))
    assert jobs >= 1
    for table in (small, large):
        assert table.schema == recorded.schema
        assert _rows(table) == _rows(recorded)


def _parquet_files(tdir, snap):
    data = os.path.join(tdir, *snap["manifest"])
    return sorted(
        os.path.join(data, f) for f in os.listdir(data) if f.endswith(".parquet")
    )


@pytest.mark.parametrize("arm", ["driver", "spark"])
def test_commit_files_are_reproducible(spark, tdf, tmp_path, monkeypatch, arm):
    """The same increments committed into two fresh tables give the same
    parquet byte total and equal file contents on either commit arm: the
    data holds states and counts only, no wall-clock column. (Files are
    compared by content, not byte for byte: parquet-mr writes a column
    chunk's encodings list in no fixed order.)"""
    if arm == "spark":
        monkeypatch.setattr(snapshot_table, "_DRIVER_READ_BYTES", 0)
    parts = _thirds(tdf)
    totals, tables = [], []
    for name in ("a", "b"):
        tdir = str(tmp_path / name)
        _commit(spark, tdir, parts[0])
        assert _commit(spark, tdir, parts[1])["summary"]["arm"] == arm
        files = _parquet_files(tdir, snapshot_history(tdir)[-1])
        totals.append(sum(os.path.getsize(f) for f in files))
        tables.append(pq.read_table(files, partitioning=None).sort_by("source"))
    assert totals[0] == totals[1]
    assert tables[0].equals(tables[1])


def test_snapshot_with_build_secs_takes_a_new_commit(spark, tdf, tmp_path, monkeypatch):
    """A snapshot committed while state rows still carried the
    ``build_secs`` timing column merges with a new increment, and time
    travel reads both snapshots, on either read arm, as group keys and
    state columns only (the old one's ``build_secs`` is left unread), each
    byte-identical to a one-shot build."""
    tdir = str(tmp_path / "snap")
    parts = _thirds(tdf)
    with monkeypatch.context() as m:
        # written as the Spark commit wrote state rows then
        m.setattr(snapshot_table, "_DRIVER_READ_BYTES", 0)
        m.setattr(snapshot_table, "_STATE_COLS", ["sketch", "n_values", "build_secs"])
        old = _build(parts[0]).withColumn("build_secs", F.lit(0.25))
        update_snapshot_table(spark, tdir, old, SPEC, by=["source"])
    _commit(spark, tdir, parts[1])

    first = read_snapshot_table(spark, tdir, snapshot_id=1)
    second = read_snapshot_table(spark, tdir, snapshot_id=2)
    assert "build_secs" not in first.columns and "build_secs" not in second.columns
    assert _states(first) == _states(_build(parts[0]))
    assert _states(second) == _states(_build(parts[0].unionByName(parts[1])))
    # the scan arm projects the same way
    monkeypatch.setattr(snapshot_table, "_DRIVER_READ_BYTES", 0)
    assert read_snapshot_table(spark, tdir, snapshot_id=1).columns == first.columns


def _keyed(tdf):
    """``tdf`` with a null ``source`` on a quarter of the documents, plus
    an int, a date and a timestamp key."""
    h = F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int")
    day = F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(3)).cast("int")
    return tdf.select(
        "doc_id",
        "tokens",
        F.when(h == 0, F.lit(None)).otherwise(F.col("source")).alias("source"),
        h.alias("bucket"),
        F.date_add(F.to_date(F.lit("2024-01-01")), day).alias("day"),
        F.timestamp_seconds(F.lit(1_700_000_000) + day * 3600).alias("ts"),
    )


@pytest.fixture
def new_york_driver(monkeypatch):
    """The driver process's local zone is not the session's (UTC): rows
    collected to the driver then hold naive New York times."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize(
    "by", [(), ("source",), ("source", "bucket", "day", "ts")],
    ids=["global", "by_source", "null_int_date_timestamp_keys"],
)
def test_commit_arms_agree(spark, tdf, tmp_path, monkeypatch, new_york_driver, by):
    """The driver and Spark commit arms commit equal states, recorded
    schemas and summaries, each equal to a one-shot build, and each
    recorded schema is the one a parquet read of the files infers."""
    df = _keyed(tdf)
    bounds = {"driver": snapshot_table._DRIVER_READ_BYTES, "spark": 0}
    got = {}
    for arm, bound in bounds.items():
        monkeypatch.setattr(snapshot_table, "_DRIVER_READ_BYTES", bound)
        tdir = str(tmp_path / arm)
        for p in _thirds(df):
            rec = _commit(spark, tdir, p, by=by)
        assert rec["summary"]["arm"] == arm
        table = read_snapshot_table(spark, tdir)
        assert table.schema == spark.read.parquet(os.path.join(tdir, *rec["manifest"])).schema
        summary = {k: rec["summary"][k] for k in ("n_groups", "total_values")}
        got[arm] = (_states(table, by), rec["schema"], summary)
    assert got["driver"] == got["spark"]
    states = got["driver"][0]
    assert states == _states(_build(df, by), by)
    if by:
        assert any(k[0] is None for k in states)


def test_driver_commit_runs_only_the_increments_job(spark, tdf, tmp_path):
    """Streaming the increment is the driver arm's only Spark work: the
    commit runs no more jobs than ``toArrow`` of the increment alone."""
    tdir = str(tmp_path / "snap")
    parts = _thirds(tdf)
    _commit(spark, tdir, parts[0])
    _, alone = _jobs_in(
        spark, lambda: _build(parts[1]).select("source", "sketch", "n_values").toArrow()
    )
    rec, jobs = _jobs_in(
        spark, lambda: update_snapshot_table(spark, tdir, _build(parts[1]), SPEC, by=["source"])
    )
    assert rec["summary"]["arm"] == "driver"
    assert 1 <= jobs <= alone


def test_commit_arm_bounds_snapshot_plus_increment(spark, tdf, tmp_path, monkeypatch):
    """The commit bound is on the current snapshot and the increment
    together: an increment of many new groups on a small snapshot takes
    the Spark arm, where a small one takes the driver arm; both commit a
    one-shot build's states, and the stream that stopped early is not
    computed again: the increment's scan runs once."""
    tdir = str(tmp_path / "snap")
    small = tdf.filter(F.pmod(F.xxhash64("doc_id"), F.lit(100)) == 0)
    _commit(spark, tdir, small, by=("doc_id",))
    files = snapshot_table._snapshot_files(tdir, snapshot_history(tdir)[-1])
    monkeypatch.setattr(
        snapshot_table, "_DRIVER_READ_BYTES", 3 * snapshot_table._state_bytes(files)
    )
    rec = _commit(spark, tdir, small, by=("doc_id",))
    assert rec["summary"]["arm"] == "driver"
    assert rec["summary"]["n_groups"] == small.count()

    scanned = spark.sparkContext.accumulator(0)

    def count(batches):
        for b in batches:
            scanned.add(b.num_rows)
            yield b

    counted = tdf.mapInArrow(count, tdf.schema)
    rec = _commit(spark, tdir, counted, by=("doc_id",))
    assert rec["summary"]["arm"] == "spark"
    assert rec["summary"]["n_groups"] == tdf.count()
    assert scanned.value == tdf.count()
    want = _states(_build(tdf.unionByName(small).unionByName(small), ("doc_id",)), ("doc_id",))
    assert _states(read_snapshot_table(spark, tdir), ("doc_id",)) == want


def test_driver_commit_clears_a_crashed_attempts_files(spark, tdf, tmp_path):
    """A retry reuses the pending ``snap-N`` dir: part files a crashed
    Spark-arm attempt left there are removed, not read beside the new
    file."""
    tdir = str(tmp_path / "snap")
    parts = _thirds(tdf)
    _commit(spark, tdir, parts[0])
    pending = os.path.join(tdir, "data", "snap-000002")
    os.makedirs(pending)
    junk = _build(parts[2]).toArrow()
    pq.write_table(junk, os.path.join(pending, "part-00000-0a1b-c000.snappy.parquet"))

    assert _commit(spark, tdir, parts[1])["summary"]["arm"] == "driver"
    assert _states(read_snapshot_table(spark, tdir)) == _states(
        _build(parts[0].unionByName(parts[1]))
    )
    assert [f for f in os.listdir(pending) if f.endswith(".parquet")] == [
        "part-00000.parquet"
    ]


def test_driver_commit_crash_before_hint_swap_keeps_previous(
    spark, tdf, tmp_path, monkeypatch
):
    """A driver-arm commit that dies after its data dir, in the metadata
    commit, leaves the previous snapshot current and readable; a retry
    then commits normally."""
    tdir = str(tmp_path / "snap")
    parts = _thirds(tdf)
    for p in parts[:2]:
        _commit(spark, tdir, p)
    before = _states(read_snapshot_table(spark, tdir))

    def crash(*args):
        raise OSError("crashed before the hint swap")

    with monkeypatch.context() as m:
        m.setattr(snapshot_table, "_commit_metadata", crash)
        with pytest.raises(OSError):
            _commit(spark, tdir, parts[2])
    assert os.listdir(os.path.join(tdir, "data", "snap-000003"))
    assert [s["id"] for s in snapshot_history(tdir)] == [1, 2]
    assert _states(read_snapshot_table(spark, tdir)) == before

    assert _commit(spark, tdir, parts[2])["summary"]["arm"] == "driver"
    assert _states(read_snapshot_table(spark, tdir)) == _states(_build(tdf))
