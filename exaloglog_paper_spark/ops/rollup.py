"""Rollup / set-operation layers over mergeable sketches.

Because sketch states are exact under union (merge algebra), coarser
aggregation levels are derived by *re-merging finer-level sketch rows* — no
rescan of the raw data. This is the sketch-native equivalent of
ROLLUP/GROUPING SETS and the reason a 10^12-row corpus only ever needs one
pass per grouping *hierarchy*, not per grouping *set*.

Set operations: union = merge (exact state); intersection has no exact
sketch form for log-family sketches — estimated via inclusion-exclusion
|A ∩ B| ≈ est(A) + est(B) − est(A ∪ B) (variance grows as the Jaccard
similarity shrinks; documented, tested).
"""

from __future__ import annotations

import functools
from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from .agg import SketchSpec, tree_merge


def rollup_level(
    fine: DataFrame, spec: SketchSpec, keep: Sequence[str]
) -> DataFrame:
    """Merge finer-level sketch rows up to the ``keep`` grouping columns
    (pass () for the grand total) — the rows ride ``tree_merge`` as
    partials. Input must have `sketch` + `n_values`."""
    keep = list(keep)
    partials = fine.select(
        *keep, "sketch", "n_values",
        F.lit(0).cast("long").alias("partition_id"),
    )
    return tree_merge(partials, spec, by=keep)


def _pad_union(fine: DataFrame, all_keys: Sequence[str], levels, tag: str) -> DataFrame:
    """Union ``(keys, level_df, tag_value)`` levels over ``all_keys``, the
    missing keys as nulls. The nulls carry the key column's ACTUAL type — a
    hard-coded string cast would coerce non-string key columns to string
    across the unionByName, silently changing the output schema and
    breaking typed joins against exact oracles."""
    key_types = {f.name: f.dataType for f in fine.schema.fields}
    outs = [
        lvl.select(
            *[
                (F.col(k) if k in keys else F.lit(None).cast(key_types[k])).alias(k)
                for k in all_keys
            ],
            "sketch",
            "n_values",
            F.lit(v).alias(tag),
        )
        for keys, lvl, v in levels
    ]
    return functools.reduce(DataFrame.unionByName, outs)


def sketch_rollup(
    fine: DataFrame, spec: SketchSpec, hierarchy: Sequence[Sequence[str]]
) -> DataFrame:
    """All levels of a grouping hierarchy from one finest-level sketch table.

    ``hierarchy`` is ordered finest -> coarsest, e.g.
    ``[("source", "lang"), ("source",), ()]``. Output rows carry the level's
    keys (missing keys as null) + sketch + n_values + ``level``.
    """
    levels = [(hierarchy[0], fine, 0)]
    for i, keys in enumerate(hierarchy[1:], start=1):
        levels.append((keys, rollup_level(levels[-1][1], spec, keys), i))
    return _pad_union(fine, list(hierarchy[0]), levels, "level")


def sketch_grouping_sets(
    fine: DataFrame, spec: SketchSpec, all_keys: Sequence[str], sets: Sequence[Sequence[str]]
) -> DataFrame:
    """GROUPING SETS / CUBE from one finest-level sketch table.

    Every grouping set is derived by re-merging the finest sketch rows —
    the raw data is scanned exactly once no matter how many sets. Output
    carries all keys (missing ones null) + ``gid``, bit-compatible with SQL
    ``GROUPING(k1, k2, …)`` (leftmost key = most significant bit), so
    results join directly against an exact CUBE oracle.
    """
    all_keys = list(all_keys)
    levels = [
        (
            keys,
            fine if list(keys) == all_keys else rollup_level(fine, spec, keys),
            sum(1 << (len(all_keys) - 1 - i) for i, k in enumerate(all_keys) if k not in keys),
        )
        for keys in sets
    ]
    return _pad_union(fine, all_keys, levels, "gid")


def sketch_cube(fine: DataFrame, spec: SketchSpec, all_keys: Sequence[str]) -> DataFrame:
    """All 2^k grouping sets of ``all_keys`` (SQL CUBE) from one pass."""
    from itertools import combinations

    all_keys = list(all_keys)
    sets = [
        list(c) for r in range(len(all_keys), -1, -1) for c in combinations(all_keys, r)
    ]
    return sketch_grouping_sets(fine, spec, all_keys, sets)


def estimate_intersection(spec: SketchSpec, state_a: bytes, state_b: bytes) -> float:
    """Inclusion-exclusion distinct-count intersection estimate."""
    a = spec.deserialize(state_a)
    b = spec.deserialize(state_b)
    est_a = spec.finalize(a)  # before the merge, which folds b into a
    est_b = spec.finalize(b)
    est_union = spec.finalize(spec.merge(a, b))
    return max(est_a + est_b - est_union, 0.0)
