"""Local mimic of the driver's correctness gate: run each __spark_entry__
query on Spark and its oracle on DuckDB at sf0.01, compare row count, column
names, and order-insensitive values (columns sorted by name).

Each result line ends with ``sha256=`` of the query's normalized sorted
rows, so two trees' runs can be compared with ``diff``."""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from exaloglog_paper_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def main():
    only = sys.argv[1:] or None
    # session.py's local[32] and 48g heap suit the benchmark host; on a
    # small box they let the JVM outgrow its RAM mid-run, so cap both
    # unless the caller set them (as tests/conftest.py does)
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark(app_name="oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, SF_DIR)
        rows = sdf.collect()
        cols = sorted(sdf.columns)
        svals = sorted(tuple(norm(r[c]) for c in cols) for r in rows)
        digest = hashlib.sha256(repr((cols, svals)).encode()).hexdigest()
        if name not in oracles:
            print(f"{name}: rows-only, {len(rows)} rows  cols={cols}  sha256={digest}")
            if len(rows) == 0 and name != "dedup":
                print("  WARNING: zero rows")
            continue
        od = con.execute(oracles[name]).fetch_df()
        ocols = sorted(od.columns)
        ovals = sorted(
            tuple(norm(v) for v in row) for row in od[ocols].itertuples(index=False)
        )
        ok = cols == ocols and len(svals) == len(ovals) and svals == ovals
        print(
            f"{name}: {'OK' if ok else 'MISMATCH'} ({len(svals)} spark rows, "
            f"{len(ovals)} oracle rows)  sha256={digest}"
        )
        if not ok:
            failures += 1
            if cols != ocols:
                print(f"  cols spark={cols} oracle={ocols}")
            for i, (a, b) in enumerate(zip(svals, ovals)):
                if a != b:
                    print(f"  first diff row {i}: spark={a} oracle={b}")
                    break
            if len(svals) != len(ovals):
                print(f"  row counts differ: {len(svals)} vs {len(ovals)}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
