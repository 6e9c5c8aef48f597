"""Seeded benchmark inputs, their cache, and exact ground truth.

Every table is made with the package's own generator
(``ops.tokens.generate_rows``) plus a ``shard`` column derived from the row
id, so the program sees only parquet paths. The main table is cached per
seed under a key that also digests a probe of the generator's output: if
the generator changes, the key changes and the table is regenerated
instead of silently reused. The files' sha256 digests are checked on every
reuse.

Ground truth is computed in process with numpy from the same rows.
Trigrams are identified by their three token ids packed into one int64
(the vocabulary fits in 16 bits), with the shard in the top bits.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from exaloglog_paper_spark.ops.tokens import VOCAB_SIZE, generate_rows
from exaloglog_paper_spark.sketchlib.bitops import U64, splitmix64

MAIN_DOCS = 20_000
MAIN_FILES = 4
SHARDS = 64
INCREMENT_DOCS = 500
CACHE_ENTRIES = 24

assert VOCAB_SIZE < 1 << 16 and SHARDS < 1 << 15

_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("shard", pa.int32()),
    ]
)


def doc_table(first: int, count: int, seed: int) -> pa.Table:
    """Rows ``first .. first+count-1`` of the seeded corpus, with shards."""
    ids = np.arange(first, first + count, dtype=np.uint64)
    pdf = generate_rows(ids, seed)
    pdf["shard"] = (splitmix64(ids ^ U64(0x5348415244)) % U64(SHARDS)).astype(np.int32)
    return pa.Table.from_pandas(pdf, schema=_SCHEMA, preserve_index=False)


def write_table(table: pa.Table, path: str) -> None:
    """One file, one row group (one scan split)."""
    tmp = f"{path}.tmp"
    pq.write_table(table, tmp, row_group_size=max(table.num_rows, 1))
    os.replace(tmp, path)


def flat_tokens(table: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    col = table.column("tokens").combine_chunks()
    offsets = col.offsets.to_numpy()
    flat = col.values.to_numpy()[offsets[0] : offsets[-1]]
    return flat.astype(np.int64), np.diff(offsets)


def trigram_keys(table: pa.Table) -> np.ndarray:
    """``shard << 48 | a << 32 | b << 16 | c`` for every in-row trigram."""
    flat, lengths = flat_tokens(table)
    shards = table.column("shard").to_numpy().astype(np.int64)
    row_end = np.repeat(np.cumsum(lengths), lengths)
    starts = np.flatnonzero(np.arange(len(flat)) + 2 < row_end)
    return (
        (np.repeat(shards, lengths)[starts] << 48)
        | (flat[starts] << 32)
        | (flat[starts + 1] << 16)
        | flat[starts + 2]
    )


def generator_digest(seed: int) -> str:
    """Digest of a probe of the generator's output and of this module's sizes."""
    probe = doc_table(0, 64, seed)
    h = hashlib.sha256(repr((MAIN_DOCS, MAIN_FILES, SHARDS, seed)).encode())
    for name in probe.column_names:
        h.update(repr(probe.column(name).to_pylist()).encode())
    return h.hexdigest()[:16]


def _file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


@dataclass
class MainTable:
    dir: str
    files: list
    truth: dict


def main_table(cache_root: str, seed: int) -> tuple[MainTable, bool]:
    """The cached main table for ``seed``; returns (table, was_cached)."""
    key = f"seed{seed}-{generator_digest(seed)}"
    entry = os.path.join(cache_root, key)
    manifest = os.path.join(entry, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            man = json.load(f)
        files = [os.path.join(entry, n) for n in man["files"]]
        if all(os.path.exists(p) and _file_digest(p) == d for p, d in zip(files, man["sha256"])):
            os.utime(entry)
            return MainTable(entry, files, man["truth"]), True
    shutil.rmtree(entry, ignore_errors=True)
    os.makedirs(entry)
    per = -(-MAIN_DOCS // MAIN_FILES)
    names, truth_parts = [], []
    for i in range(MAIN_FILES):
        tb = doc_table(i * per, min(per, MAIN_DOCS - i * per), seed)
        name = f"part-{i:03d}.parquet"
        write_table(tb, os.path.join(entry, name))
        names.append(name)
        truth_parts.append(tb)
    truth = corpus_truth(pa.concat_tables(truth_parts))
    files = [os.path.join(entry, n) for n in names]
    with open(manifest, "w") as f:
        json.dump({"files": names, "sha256": [_file_digest(p) for p in files], "truth": truth}, f)
    _evict(cache_root, keep=entry)
    return MainTable(entry, files, truth), False


def _evict(cache_root: str, keep: str) -> None:
    entries = sorted(
        (os.path.join(cache_root, n) for n in os.listdir(cache_root)), key=os.path.getmtime
    )
    for e in entries[: max(len(entries) - CACHE_ENTRIES, 0)]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)


def corpus_truth(table: pa.Table) -> dict:
    """Exact token counts, globally and per source."""
    flat, lengths = flat_tokens(table)
    source = np.asarray(table.column("source").to_pylist())
    tok_source = np.repeat(source, lengths)
    per_source = {}
    for s in np.unique(source):
        sel = source == s
        per_source[str(s)] = {
            "docs": int(sel.sum()),
            "tokens": int(lengths[sel].sum()),
            "distinct": int(len(np.unique(flat[tok_source == s]))),
        }
    return {
        "tokens": int(len(flat)),
        "distinct": int(len(np.unique(flat))),
        "per_source": per_source,
    }


class ShardTruth:
    """Exact per-shard trigram totals and distinct counts as increments land."""

    def __init__(self):
        self.seen = np.empty(0, dtype=np.int64)
        self.totals = np.zeros(SHARDS, dtype=np.int64)

    def add(self, table: pa.Table) -> int:
        """Fold one table in; returns its trigram count."""
        keys = trigram_keys(table)
        self.totals += np.bincount(keys >> 48, minlength=SHARDS)
        self.seen = np.union1d(self.seen, keys)
        return len(keys)

    def distinct(self) -> np.ndarray:
        return np.bincount(self.seen >> 48, minlength=SHARDS)
