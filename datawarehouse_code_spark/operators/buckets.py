"""Bucket-then-verify primitives shared by every hashed dedup family.

CDC chunks, winnowing fingerprints, dHash/pHash bands, audio energy
grams and video temporal grams all find near-duplicates the same way:
a key table (one row per carrier × bucket key) → hot keys capped by
DISTINCT carriers (cap_hot_keys) → an equi-join on the key, either a
batch against itself with d1 < d2 (shared_key_pairs) or an increment
against a persisted index (match_increment) → an optional exact
verify column → per-pair aggregates → a threshold.  Each family
supplies only its key table, verify column and aggregates, so the cap
grain, the pair filter and the join shape cannot drift between
modalities (REPOSE's one framework parametrized by the metric).

The primitives never materialize anything: a caller whose key table
feeds several consumers (the cap's carrier count + both self-join
sides) places its own localCheckpoint on that table first.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cap_hot_keys(
    df: DataFrame, key_cols: Sequence[str], id_col: str, cap: int
) -> DataFrame:
    """Drop every bucket key carried by more than `cap` DISTINCT
    `id_col` values, BEFORE the join — boilerplate chunks,
    constant-color images, digital silence and black-frame loops
    would otherwise hand the join a quadratic bucket.

    Distinct-carrier grain: one carrier repeating a key many times
    must not evict a key carried by few carriers — the cap bounds the
    join's cross-carrier fan-out, which is carrier count, not
    occurrence count.  Kept keys keep all their rows (the cap never
    dedups the table).  Persisted indexes are capped at READ time:
    append-only maintenance can only push a key's carrier count up,
    so capping when the index is read keeps stream replays
    idempotent."""
    cold = (
        df.groupBy(*key_cols)
        .agg(F.countDistinct(id_col).alias("_k"))
        .filter(F.col("_k") <= cap)
        .select(*key_cols)
    )
    return df.join(cold, list(key_cols), "left_semi")


def shares_at_least(min_shared: int) -> dict:
    """The share-count verify as shared_key_pairs / match_increment
    keywords: n_shared = shared key rows per pair (occurrence grain,
    count(*)), kept at ≥ `min_shared`."""
    return {
        "aggs": [F.count(F.lit(1)).alias("n_shared")],
        "having": F.col("n_shared") >= min_shared,
    }


def _aggregate(joined, group, aggs, having, verify) -> DataFrame:
    if verify is not None:
        joined = joined.withColumn(*verify)
    out = joined.groupBy(*group).agg(*aggs)
    return out if having is None else out.filter(having)


def shared_key_pairs(
    keys: DataFrame,
    on: Sequence[str],
    id_col: str,
    aggs: Sequence[Column],
    having: Column,
    left: Sequence[str | Column] = (),
    right: Sequence[str | Column] = (),
    verify: tuple[str, Column] | None = None,
) -> DataFrame:
    """Pairs (d1 < d2) of `id_col` values sharing `on` keys within one
    key table.  Each side projects (id AS d1|d2, *on, *left|*right) —
    `left`/`right` carry the payload the verify or aggregates read,
    renamed per side where both need it — then the equi-join, the
    optional `verify` column (name, expression), the (d1, d2)
    aggregates and the `having` threshold."""
    a = keys.select(F.col(id_col).alias("d1"), *on, *left)
    b = keys.select(F.col(id_col).alias("d2"), *on, *right)
    return _aggregate(
        a.join(b, list(on)).filter(F.col("d1") < F.col("d2")),
        ("d1", "d2"), aggs, having, verify,
    )


def match_increment(
    inc: DataFrame,
    index: DataFrame,
    on: Sequence[str],
    group: Sequence[str],
    aggs: Sequence[Column],
    having: Column | None = None,
    exclude_self: bool = True,
    verify: tuple[str, Column] | None = None,
) -> DataFrame:
    """An increment's key rows against an index's key rows, both
    projected with their own id names (the index side already capped),
    joined on `on` and aggregated per `group` (kept where `having`
    holds, when given).  `exclude_self` drops rows whose first two
    group columns — the increment id and the index id — are equal, so
    a replayed item never matches its own index rows; cross-modal
    matches, whose id spaces are disjoint, pass False.  Cost scales
    with the increment, not the corpus."""
    joined = inc.join(index, list(on))
    if exclude_self:
        joined = joined.filter(F.col(group[0]) != F.col(group[1]))
    return _aggregate(joined, group, aggs, having, verify)
