"""The three workloads: inputs, one op, and the output checks.

Each op goes through the package's public functions only. ``call`` is
either :class:`perfbench.tracing.Spans` (traced ops) or
:func:`perfbench.tracing.plain_call`; ``spec``/``extractor`` are either the
package's own or the benchmark's timing wrappers. Checks run outside the
timed region and return a list of failure messages (empty = correct).

Why these three (see README.md): ``distinct_global`` is the paper's
headline op and is bound by scan, extractor and insert kernel;
``shard_append`` drives the merge layer to *write* a snapshot table and is
bound by per-group merge, (de)serialize and commit jobs; ``source_profile``
is the only path through ``ops.profile`` and the only hot group key.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from exaloglog_paper_spark.ops.agg import (
    ExaLogLogSpec,
    token_array_values,
    token_trigram_values,
    with_estimate,
)
from exaloglog_paper_spark.ops.profile import scan_profile
from exaloglog_paper_spark.ops.snapshot_table import (
    expire_snapshots,
    read_snapshot_table,
    snapshot_history,
    update_snapshot_table,
)
from exaloglog_paper_spark.ops.source import list_row_group_splits, scan_sketch_agg

from . import inputs

SPEC_ARGS = (2, 20, 10)
# estimates must fall within this many theoretical RSEs of the exact count
RSE_MULTIPLE = 5.0


def check_estimate(label: str, est: float, exact: int, rse: float, errs: list) -> float:
    rel = abs(est / exact - 1.0) / rse
    if rel > RSE_MULTIPLE:
        errs.append(f"{label}: estimate {est:.1f} vs exact {exact} is {rel:.2f} RSE")
    return rel


def read_bytes(paths, cols) -> int:
    """Compressed bytes of the column chunks a scan of ``paths`` reads."""
    total = 0
    for path, rg in list_row_group_splits(paths):
        md = pq.ParquetFile(path).metadata.row_group(rg)
        for i in range(md.num_columns):
            col = md.column(i)
            if col.path_in_schema.split(".")[0] in cols:
                total += col.total_compressed_size
    return total


class Workload:
    name = ""

    def __init__(self, cache_dir: str, run_dir: str, seed: int):
        self.cache_dir = cache_dir
        self.run_dir = run_dir
        self.seed = seed
        self.spec = ExaLogLogSpec(*SPEC_ARGS)
        self.rse = self.spec.theoretical_rse()
        self.max_rel_err = 0.0

    def prepare(self) -> dict:
        """Make or reuse the inputs (before Spark starts)."""
        self.main, cached = inputs.main_table(self.cache_dir, self.seed)
        return {"cached": cached}

    def session_ready(self, spark) -> None:
        """Called after each ``get_spark`` (set-up work that is not timed)."""

    def before_op(self) -> None:
        """Makes the next op's input; called before the op's timed region."""

    # columns an op's scan reads
    read_cols: set = set()

    def scan_input(self) -> str:
        """The parquet path an op scans."""
        return self.main.dir

    def layer_counts(self) -> dict:
        """Source-layer counts of one op, known from its input."""
        path = self.scan_input()
        return {
            "source.splits": len(list_row_group_splits(path)),
            "source.read_bytes": read_bytes(path, self.read_cols),
        }

    def final_check(self, spark) -> list:
        return []


class DistinctGlobal(Workload):
    name = "distinct_global"
    read_cols = {"tokens"}

    def op(self, spark, call, spec, extractor_of):
        ext = extractor_of(token_array_values("tokens"))
        states = call("scan_sketch_agg", "ops.source", True, scan_sketch_agg, spark, self.main.dir, spec, ext)
        est = call("with_estimate", "ops.agg.with_estimate", True, with_estimate, states, spec)
        rows = call("collect", "driver", False, est.collect)
        return self.main.truth["tokens"], lambda: self._check(rows)

    def _check(self, rows) -> list:
        errs: list = []
        truth = self.main.truth
        if len(rows) != 1:
            return [f"expected one row, got {len(rows)}"]
        if rows[0]["n_values"] != truth["tokens"]:
            errs.append(f"n_values {rows[0]['n_values']} != {truth['tokens']}")
        rel = check_estimate("global", rows[0]["estimate"], truth["distinct"], self.rse, errs)
        self.max_rel_err = max(self.max_rel_err, rel)
        self.state_bytes = len(rows[0]["sketch"])
        return errs


class SourceProfile(Workload):
    name = "source_profile"
    read_cols = {"source", "tokens", "n_tok"}

    def op(self, spark, call, spec, extractor_of):
        prof = call("scan_profile", "ops.profile", False, scan_profile, spark, self.main.dir)
        return self.main.truth["tokens"], lambda: self._check(prof)

    def _check(self, prof) -> list:
        errs: list = []
        want = self.main.truth["per_source"]
        if sorted(prof) != sorted(want):
            return [f"groups {sorted(prof)} != {sorted(want)}"]
        for g, p in prof.items():
            w = want[g]
            if (p.n_docs, p.n_tokens) != (w["docs"], w["tokens"]):
                errs.append(f"{g}: n_docs/n_tokens {p.n_docs}/{p.n_tokens} != {w['docs']}/{w['tokens']}")
            rel = check_estimate(g, p.ell.estimate(), w["distinct"], self.rse, errs)
            self.max_rel_err = max(self.max_rel_err, rel)
        self.state_bytes = float(np.mean([len(p.ell.serialize()) for p in prof.values()]))
        return errs


class ShardAppend(Workload):
    """A snapshot table of per-shard distinct-trigram states.

    The table is seeded from the main table's first file when the first
    session starts, so every op (warm-up ops included) is an overwrite
    commit of one fresh increment of ``INCREMENT_DOCS`` docs.
    """

    name = "shard_append"
    read_cols = {"shard", "tokens"}

    def prepare(self):
        info = super().prepare()
        self.table_dir = os.path.join(self.run_dir, "snapshot_table")
        self.inc_root = os.path.join(self.run_dir, "increments")
        self.truth = inputs.ShardTruth()
        self.increments: list = []
        self.base = self.main.files[0]
        self.truth.add(pq.read_table(self.base))
        return info

    def session_ready(self, spark):
        if self.increments or os.path.exists(self.table_dir):
            return
        ext = token_trigram_values("tokens")
        states = scan_sketch_agg(spark, self.base, self.spec, ext, by=["shard"])
        update_snapshot_table(spark, self.table_dir, states, self.spec, by=["shard"])

    def before_op(self):
        k = len(self.increments)
        first = inputs.MAIN_DOCS + k * inputs.INCREMENT_DOCS
        tb = inputs.doc_table(first, inputs.INCREMENT_DOCS, self.seed)
        d = os.path.join(self.inc_root, f"{k:05d}")
        os.makedirs(d)
        path = os.path.join(d, "part-000.parquet")
        inputs.write_table(tb, path)
        self.increments.append((path, tb, int(np.sum(tb.column("n_tok").to_numpy()))))

    def op(self, spark, call, spec, extractor_of):
        path, tb, n_tokens = self.increments[-1]
        inc_dir = os.path.dirname(path)
        ext = extractor_of(token_trigram_values("tokens"))
        states = call("scan_sketch_agg", "ops.source", True, scan_sketch_agg, spark, inc_dir, spec, ext, by=["shard"])
        call("update_snapshot_table", "ops.snapshot_table", False, update_snapshot_table,
             spark, self.table_dir, states, spec, by=["shard"])
        call("expire_snapshots", "ops.snapshot_table", False, expire_snapshots, self.table_dir, keep=2)
        table = call("read_snapshot_table", "ops.snapshot_table", True, read_snapshot_table, spark, self.table_dir)
        est = call("with_estimate", "ops.agg.with_estimate", True, with_estimate, table, spec)
        rows = call("collect", "driver", False, est.collect)
        return n_tokens, lambda: self._check(rows, tb)

    def _check(self, rows, increment) -> list:
        errs: list = []
        self.truth.add(increment)
        got = {r["shard"]: r for r in rows}
        distinct = self.truth.distinct()
        if sorted(got) != list(range(inputs.SHARDS)):
            return [f"shards {sorted(got)[:8]}... != 0..{inputs.SHARDS - 1}"]
        for s, r in got.items():
            if r["n_values"] != self.truth.totals[s]:
                errs.append(f"shard {s}: n_values {r['n_values']} != {self.truth.totals[s]}")
            rel = check_estimate(f"shard {s}", r["estimate"], int(distinct[s]), self.rse, errs)
            self.max_rel_err = max(self.max_rel_err, rel)
        latest = os.path.join(self.table_dir, *snapshot_history(self.table_dir)[-1]["manifest"])
        size = sum(os.path.getsize(os.path.join(latest, f)) for f in os.listdir(latest) if f.endswith(".parquet"))
        self.state_bytes = size / inputs.SHARDS
        return errs

    def scan_input(self):
        return self.increments[-1][0]

    def final_check(self, spark):
        """The merge-algebra contract: the committed states equal one
        ``scan_sketch_agg`` over the base and every appended increment."""
        all_dir = os.path.join(self.run_dir, "all_increments")
        os.makedirs(all_dir)
        for i, p in enumerate([self.base] + [inc[0] for inc in self.increments]):
            shutil.copyfile(p, os.path.join(all_dir, f"part-{i:05d}.parquet"))
        ext = token_trigram_values("tokens")
        fresh = scan_sketch_agg(spark, all_dir, self.spec, ext, by=["shard"]).collect()
        committed = read_snapshot_table(spark, self.table_dir).collect()
        want = {r["shard"]: (bytes(r["sketch"]), r["n_values"]) for r in fresh}
        have = {r["shard"]: (bytes(r["sketch"]), r["n_values"]) for r in committed}
        if want != have:
            diff = sorted(s for s in set(want) | set(have) if want.get(s) != have.get(s))
            return [f"snapshot states differ from a fresh scan on shards {diff[:8]}"]
        return []


WORKLOADS = {w.name: w for w in (DistinctGlobal, ShardAppend, SourceProfile)}
