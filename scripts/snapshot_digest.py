"""Digest of the snapshot states one tree commits, to compare two trees.

Commits perfbench's seed-1 base file plus 5 ``shard_append`` increments
(trigram states by ``shard``) into a fresh snapshot table, then prints one
line per committed snapshot: id, groups, total ``n_values``, its parquet
bytes on disk, and the sha256 of its sorted (shard, n_values, sketch)
states. Two trees commit byte-identical states and equal-sized files when
their outputs ``cmp`` equal:

    python scripts/snapshot_digest.py <tree> <work dir> > a.txt
    python scripts/snapshot_digest.py <other tree> <work dir 2> > b.txt
    cmp a.txt b.txt

``<tree>`` is a checkout (e.g. a ``git archive`` export) whose package and
``perfbench/`` are imported; ``<work dir>`` is wiped and reused.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

root, work = sys.argv[1], sys.argv[2]
sys.path.insert(0, os.path.abspath(root))
# Python workers import the package too; they inherit the JVM's environment
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [os.path.abspath(root), os.environ.get("PYTHONPATH")])
)
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
shutil.rmtree(work, ignore_errors=True)
os.makedirs(work)

from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, token_trigram_values  # noqa: E402
from exaloglog_paper_spark.ops.snapshot_table import (  # noqa: E402
    read_snapshot_table,
    snapshot_history,
    update_snapshot_table,
)
from exaloglog_paper_spark.ops.source import scan_sketch_agg  # noqa: E402
from exaloglog_paper_spark.session import get_spark  # noqa: E402
from perfbench import inputs  # noqa: E402
from perfbench.workloads import SPEC_ARGS  # noqa: E402

SEED, INCREMENTS = 1, 5

main, _ = inputs.main_table(os.path.join(work, "cache"), SEED)
sources = [main.files[0]]
for k in range(INCREMENTS):
    d = os.path.join(work, "increments", f"{k:05d}")
    os.makedirs(d)
    first = inputs.MAIN_DOCS + k * inputs.INCREMENT_DOCS
    table = inputs.doc_table(first, inputs.INCREMENT_DOCS, SEED)
    inputs.write_table(table, os.path.join(d, "part-000.parquet"))
    sources.append(d)

spec = ExaLogLogSpec(*SPEC_ARGS)
spark = get_spark(app_name="snapshot-digest", shuffle_partitions=8)
tdir = os.path.join(work, "table")
for path in sources:
    states = scan_sketch_agg(spark, path, spec, token_trigram_values("tokens"), by=["shard"])
    update_snapshot_table(spark, tdir, states, spec, by=["shard"])
for snap in snapshot_history(tdir):
    rows = sorted(
        (r.shard, r.n_values, bytes(r.sketch))
        for r in read_snapshot_table(spark, tdir, snap["id"]).collect()
    )
    digest = hashlib.sha256()
    for shard, n, sketch in rows:
        digest.update(f"{shard}:{n}:".encode() + sketch)
    data = os.path.join(tdir, *snap["manifest"])
    size = sum(
        os.path.getsize(os.path.join(data, f))
        for f in os.listdir(data)
        if f.endswith(".parquet")
    )
    n_values = sum(n for _, n, _ in rows)
    print(snap["id"], len(rows), n_values, size, digest.hexdigest())
spark.stop()
