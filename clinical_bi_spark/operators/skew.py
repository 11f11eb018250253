"""Skew-handling helpers (SURVEY.md §4 scale posture).

AQE's skew-join splitting covers sort-merge joins automatically; explicit
salting remains necessary for skewed *aggregations* and for joins AQE
can't split (e.g. under windows). The pattern: explode the hot key into
``n_salts`` sub-keys, partial-aggregate, then merge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted(*content: Column, n_salts: int) -> Column:
    """Deterministic sub-key: hash of CONTENT columns mod n_salts. Use as
    an extra first-phase groupBy key for a skewed aggregation, then
    re-aggregate without the salt.

    The salt must be a pure function of row content: ``F.rand()`` and
    ``F.monotonically_increasing_id()`` both change across task retries
    and repartitioning, which breaks retry determinism (results stay
    correct only because phase 2 merges the salt out — but the shuffle
    layout, spill behavior, and any debugging of phase-1 output would be
    unstable). Pass columns that vary WITHIN the hot key; rows that are
    full duplicates share a salt, so the split is bounded by duplicate
    multiplicity, not by n_salts alone."""
    return F.pmod(F.xxhash64(*content), F.lit(n_salts))


def two_phase_count(df: DataFrame, key: str, n_salts: int) -> DataFrame:
    """Example two-phase (salted) aggregation: COUNT per hot key without a
    single reducer absorbing the whole key. Phase 1 groups on (key, salt),
    phase 2 merges the partials — both shuffles are uniform. The salt
    hashes every non-key column, so it is retry-deterministic."""
    content = [F.col(c) for c in df.columns if c != key] or [F.col(key)]
    phase1 = (
        df.withColumn("__salt", salted(*content, n_salts=n_salts))
        .groupBy(key, "__salt")
        .agg(F.count("*").alias("partial_n"))
    )
    return phase1.groupBy(key).agg(F.sum("partial_n").cast("bigint").alias("n"))
