"""One-pass multi-sketch table profiling (ANALYZE-style statistics).

``profile_token_table`` scans the token table ONCE and builds, per group,
every optimizer statistic the engine's sketches can answer:

- ExaLogLog  → distinct-token cardinality (ML estimate + published bound)
- count sketch → F2 / self-join size (the skew statistic pricing every
  hash-partitioned shuffle) + unbiased per-token frequencies
- Misra-Gries → deterministic heavy-hitter bracket
- KLL → n_tok quantiles (rank error ≤ eps)

where classical ANALYZE runs one pass per statistic family. The profile is
not a pipeline of its own: it is ``CompositeSpec`` of the four specs plus
one extractor, :class:`profile_values`, which hashes each token once for
ELL and count-sketch and hands KLL the row-level ``n_tok`` beside the
token-level parts. ``profile_token_table``, ``scan_profile`` and
``checkpointed_profile`` are views over ``sketch_agg``, ``scan_sketch_agg``
and ``checkpointed_sketch_agg``: the one stage-A builder, the one tree
merge (whose byte-order rule makes the order-dependent MG/KLL merges
deterministic) and the one bucket-checkpoint loop. Only the merged
per-group rows (KB each) reach the driver, where the view drops the NULL
group.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from ..sketchlib.bitops import splitmix64
from ..sketchlib.countsketch import CountSketch
from ..sketchlib.exaloglog import ExaLogLog
from ..sketchlib.freqitems import MisraGries
from ..sketchlib.kll import KLL
from .agg import CompositeSpec, ExaLogLogSpec, Extractor, flat_list_values, sketch_agg
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


def _profile_spec(t=2, d=20, p=10, cs_width=8192, cs_depth=5, mg_k=256, kll_k=200):
    """The profile's ONE spec: a CompositeSpec of its four specs. Every
    entry point forwards its sketch keyword arguments here."""
    return CompositeSpec((
        ExaLogLogSpec(t, d, p),
        CountSketchSpec(cs_width, cs_depth),
        MisraGriesSpec(mg_k),
        KLLSpec(kll_k),
    ))


class profile_values(Extractor):
    """The profile's parts for ``_profile_spec(...)``: token hashes
    for ELL and count-sketch (ONE splitmix64 buffer, hashed once and
    shared), raw token ids for Misra-Gries (identifiable heavy hitters),
    and the row-level ``n_tok`` for KLL (NULL -> NaN, which KLL skips)."""

    def __init__(self, tokens_col: str = "tokens", ntok_col: str = "n_tok"):
        self.tokens_col, self.ntok_col = tokens_col, ntok_col
        self.input_cols = (tokens_col, ntok_col)

    def __call__(self, batch):
        flat, lengths = flat_list_values(batch, self.tokens_col)
        h = splitmix64(flat.view(np.uint64))
        ntok = batch.column(self.ntok_col).to_numpy(zero_copy_only=False)
        return (h, h, flat, ntok.astype(np.float64)), (lengths, lengths, lengths, None)


def _profiles(states, by: str, composite) -> dict[str, TokenProfile]:
    """View merged composite rows as TokenProfiles. The NULL group is
    dropped: a profile of rows with no group key answers nothing.
    ``n_docs`` is the rows' ``n_values``; ``n_tokens`` is the Misra-Gries
    stream weight (exact; KLL skips NaN ``n_tok`` rows)."""
    out: dict[str, TokenProfile] = {}
    for r in states.collect():
        if r[by] is None:
            continue
        ell, cs, mg, kll = composite.deserialize(r.sketch)
        g = str(r[by])
        out[g] = TokenProfile(g, int(r.n_values), int(mg.n), ell, cs, mg, kll)
    return out


def profile_token_table(
    df: DataFrame,
    *,
    by: str = "source",
    tokens_col: str = "tokens",
    ntok_col: str = "n_tok",
    **sketch_params,
) -> dict[str, TokenProfile]:
    """One scan of ``df`` → per-``by``-group TokenProfile. ``sketch_params``
    are the sketch sizes of :func:`_profile_spec`."""
    spec = _profile_spec(**sketch_params)
    ext = profile_values(tokens_col, ntok_col)
    return _profiles(sketch_agg(df, spec, ext, by=[by]), by, spec)


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
    through ``ops.checkpoints.checkpointed_sketch_agg`` (``lineage_metrics``
    reads its bucket dirs). A resumed result is byte-identical to an
    uninterrupted run for every state, MG/KLL included, by the tree merge's
    byte-order rule."""
    from .checkpoints import checkpointed_sketch_agg

    spec = _profile_spec(**sketch_params)
    ext = profile_values(tokens_col, ntok_col)
    states = checkpointed_sketch_agg(
        spark, path, spec, ext, ckpt_dir, by=[by], num_buckets=num_buckets
    )
    return _profiles(states, by, spec)


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
    (``ops.source.scan_sketch_agg``), bypassing the JVM→Arrow bridge for the
    ``array<int32>`` column. ELL/count-sketch states and the exact counts
    equal the Spark-scan build byte for byte; MG/KLL retained sets depend
    on partitioning, so they match at guarantee level."""
    from .source import scan_sketch_agg

    spec = _profile_spec(**sketch_params)
    ext = profile_values(tokens_col, ntok_col)
    return _profiles(scan_sketch_agg(spark, path, spec, ext, by=[by]), by, spec)
