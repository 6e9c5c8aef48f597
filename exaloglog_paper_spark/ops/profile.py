"""One-pass multi-sketch table profiling (ANALYZE-style statistics).

``profile_token_table`` scans the token table ONCE and builds, per group,
every optimizer statistic the engine's sketches can answer:

- ExaLogLog  → distinct-token cardinality (ML estimate + published bound)
- count sketch → F2 / self-join size (the skew statistic pricing every
  hash-partitioned shuffle) + unbiased per-token frequencies
- Misra-Gries → deterministic heavy-hitter bracket
- KLL → n_tok quantiles (rank error ≤ eps)

where classical ANALYZE runs one pass per statistic family. This module
owns only the stage-A builder — all four states per group over the same
decoded Arrow batch, tokens splitmix-hashed once for ELL and count-sketch
— and the ``TokenProfile`` view. The four states travel as ONE
``CompositeSpec`` state in standard partial rows, so the scan
(``ops.source.scan_partials``), the bucket checkpoints
(``ops.checkpoints.checkpointed_partials``) and the merge
(``ops.agg.tree_merge``, whose byte-order rule makes the order-dependent
MG/KLL merges deterministic) are the code every single-sketch build runs.
Only the merged per-group rows (KB each) reach the driver.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..sketchlib.bitops import splitmix64
from ..sketchlib.countsketch import CountSketch
from ..sketchlib.exaloglog import ExaLogLog
from ..sketchlib.freqitems import MisraGries
from ..sketchlib.kll import KLL
from .agg import (
    PARTIAL_COLS,
    CompositeSpec,
    ExaLogLogSpec,
    _by_schema,
    partial_batch,
    tree_merge,
)
from .agg import flat_list_values as _flat_tokens  # single definition in agg
from .specs import CountSketchSpec, KLLSpec, MisraGriesSpec


@dataclass
class TokenProfile:
    """Per-group profile: merged sketch states + exact row/token counts."""

    group: str
    n_docs: int
    n_tokens: int
    ell: ExaLogLog
    cs: CountSketch
    mg: MisraGries
    kll: KLL


def _specs(t=2, d=20, p=10, cs_width=8192, cs_depth=5, mg_k=256, kll_k=200):
    """The profile's four specs; every entry point forwards its sketch
    keyword arguments here."""
    return (
        ExaLogLogSpec(t, d, p),
        CountSketchSpec(cs_width, cs_depth),
        MisraGriesSpec(mg_k),
        KLLSpec(kll_k),
    )


def _merge_profiles(partials, by: str, specs, num_partials=None) -> dict[str, TokenProfile]:
    """tree_merge the composite partials, then view each merged group row
    as a TokenProfile. ``n_tokens`` is the Misra-Gries stream weight
    (exact; KLL skips NaN ``n_tok`` rows)."""
    composite = CompositeSpec(specs)
    out: dict[str, TokenProfile] = {}
    for r in tree_merge(partials, composite, by=[by], num_partials=num_partials).collect():
        ell, cs, mg, kll = composite.deserialize(r.sketch)
        g = str(r[by])
        out[g] = TokenProfile(g, int(r.n_values), int(mg.n), ell, cs, mg, kll)
    return out


def profile_partials_df(
    df: DataFrame,
    specs: tuple,
    *,
    by: str = "source",
    tokens_col: str = "tokens",
    ntok_col: str = "n_tok",
) -> DataFrame:
    """The profiler's distributed stage as a DataFrame: standard partial
    rows (``by, PARTIAL_COLS``), one per (partition, group), whose
    ``sketch`` is the ``CompositeSpec(specs)`` state — exposed so plan
    properties (column pruning) are pinnable on the REAL plan and so
    callers can sink partials instead of folding them."""
    build = _make_builder(specs, by, tokens_col, ntok_col)
    df = (
        df.select(by, tokens_col, ntok_col)
        # NULL group keys would poison np.unique's object-array sort; a
        # profile of the NULL group is meaningless anyway — drop explicitly
        # (the builder also drops them, for the pyarrow-scan path)
        .filter(F.col(by).isNotNull())
    )
    return df.mapInArrow(build, schema=_by_schema(df, [by]) + PARTIAL_COLS)


def _make_builder(specs, by: str, tokens_col: str, ntok_col: str):
    """The profiler's stage-A builder: an iterator of Arrow record batches
    in, ONE batch of per-group composite partial rows out. It is the only
    builder that sees row-level ``n_tok`` beside token-level values, and it
    hashes each token once for both ELL and count-sketch. Fits the
    ``builder(batches, num_partitions=...)`` contract of
    ``ops.source.scan_partials``; it emits once per task, so the task's
    partition id is already unique."""
    composite = CompositeSpec(specs)

    def build(batches, num_partitions=None):
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        t0 = time.monotonic()
        states: dict = {}  # g -> composite state
        docs: dict = {}
        for b in batches:
            key_type = b.schema.field(by).type
            if b.column(by).null_count:
                b = b.filter(pc.is_valid(b.column(by)))
            if b.num_rows == 0:
                continue
            codes, inv = np.unique(
                b.column(by).to_numpy(zero_copy_only=False), return_inverse=True
            )
            # group dispatch by one STABLE row sort, not per-group masks
            # (O(groups * n) per batch): each group's rows — hence its
            # tokens — become one contiguous segment in input order, so
            # every state (incl. the order-dependent MG/KLL) sees its
            # stream exactly as the unsorted batch holds it
            b = b.take(np.argsort(inv, kind="stable"))
            flat, lengths = _flat_tokens(b, tokens_col)
            hashed = splitmix64(flat.view(np.uint64))
            ntok = b.column(ntok_col).to_numpy(zero_copy_only=False).astype(np.float64)
            row_ends = np.cumsum(np.bincount(inv, minlength=len(codes)))
            tok_ends = np.concatenate(([0], np.cumsum(lengths)))[row_ends]
            r_lo = t_lo = 0
            for g, r_hi, t_hi in zip(codes, row_ends.tolist(), tok_ends.tolist()):
                h = hashed[t_lo:t_hi]
                # hash once, share: ELL and count-sketch both take the
                # splitmix64 stream; MG wants raw ids for identifiability
                states[g] = composite.add(
                    states.get(g) or composite.empty(),
                    (h, h, flat[t_lo:t_hi], ntok[r_lo:r_hi]),
                )
                docs[g] = docs.get(g, 0) + r_hi - r_lo
                r_lo, t_lo = r_hi, t_hi
        if states:
            tc = TaskContext.get()
            yield partial_batch(
                {by: pa.array(list(states), key_type)},
                composite.serialize_batch(states.values()),
                list(docs.values()),
                tc.partitionId() if tc is not None else 0,
                time.monotonic() - t0,
            )

    return build


def profile_token_table(
    df: DataFrame,
    *,
    by: str = "source",
    tokens_col: str = "tokens",
    ntok_col: str = "n_tok",
    **sketch_params,
) -> dict[str, TokenProfile]:
    """One scan of ``df`` → per-``by``-group TokenProfile. ``sketch_params``
    are the sketch sizes of :func:`_specs`."""
    specs = _specs(**sketch_params)
    partials = profile_partials_df(
        df, specs, by=by, tokens_col=tokens_col, ntok_col=ntok_col
    )
    return _merge_profiles(partials, by, specs)


def checkpointed_profile(
    spark,
    path: str,
    ckpt_dir: str,
    *,
    by: str = "source",
    tokens_col: str = "tokens",
    ntok_col: str = "n_tok",
    num_buckets: int = 8,
    **sketch_params,
) -> dict[str, TokenProfile]:
    """Resumable one-pass ANALYZE over a parquet token table: the profile
    builder in ``ops.checkpoints.checkpointed_partials``, the bucket loop
    ``checkpointed_sketch_agg`` uses (``lineage_metrics`` reads its bucket
    dirs). A resumed result is byte-identical to an uninterrupted run for
    every state, MG/KLL included, by the tree merge's byte-order rule."""
    from .checkpoints import checkpointed_partials

    specs = _specs(**sketch_params)
    partials, num_splits = checkpointed_partials(
        spark, path, ckpt_dir, [by], [by, tokens_col, ntok_col],
        _make_builder(specs, by, tokens_col, ntok_col), num_buckets,
    )
    return _merge_profiles(partials, by, specs, num_splits)


def scan_profile(
    spark,
    path: str,
    *,
    by: str = "source",
    tokens_col: str = "tokens",
    ntok_col: str = "n_tok",
    **sketch_params,
) -> dict[str, TokenProfile]:
    """``profile_token_table`` over the pyarrow-native row-group scan
    (``ops.source.scan_partials``), bypassing the JVM→Arrow bridge for the
    ``array<int32>`` column. ELL/count-sketch states and the exact counts
    equal the Spark-scan build byte for byte; MG/KLL retained sets depend
    on partitioning, so they match at guarantee level."""
    from .source import scan_partials

    specs = _specs(**sketch_params)
    partials, num_p = scan_partials(
        spark, path, [by], [by, tokens_col, ntok_col],
        _make_builder(specs, by, tokens_col, ntok_col),
    )
    return _merge_profiles(partials, by, specs, num_p)
