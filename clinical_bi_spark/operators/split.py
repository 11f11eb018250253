"""Dataset split operators (SURVEY.md M1).

The reference splits with a seeded numpy permutation sliced by exact
fractions (ct_data.py:43-53): every run yields *exactly*
floor(0.7·n)/floor(0.005·n)/rest rows. Spark's randomSplit is per-row
Bernoulli — right scale behavior, different semantics. Both are provided:

* :func:`exact_size_seeded_split` — parity: exact sizes, seeded. Needs a
  global rank (one extra shuffle); fine up to ~10⁹ rows, documented
  trade-off beyond that.
* :func:`keyed_hash_split` — scale path: deterministic per-key hash,
  no shuffle, reproducible across engines and runs (used by the
  m1_keyed_split oracle query).
* :func:`exact_size_seeded_split_distributed` — the parity contract at
  scale, ranked by :func:`~clinical_bi_spark.operators.ranking.global_row_number`.
* randomSplit — Spark built-in, recommended when exact sizes don't matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clinical_bi_spark.operators.ranking import global_row_number


def exact_size_seeded_split(
    df: DataFrame,
    train_frac: float,
    validate_frac: float,
    *,
    seed: int,
    order_key: str | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Exact-size 3-way split: rank rows by rand(seed) and cut at
    floor(train_frac·n) and floor((train_frac+validate_frac)·n) —
    the reference's permutation-slice semantics (ct_data.py:43-53).

    ``order_key`` (any unique column) makes the shuffle deterministic under
    ties. The global row_number serializes through a single partition at
    rank time — acceptable for ML feature tables (already heavily reduced),
    not for raw 100 TB facts; use keyed_hash_split or randomSplit there.
    """
    n = df.count()
    n_train = int(train_frac * n)
    n_validate = int(validate_frac * n)
    order_cols = [F.rand(seed)] + ([F.col(order_key)] if order_key else [])
    ranked = df.withColumn(
        "__rank", F.row_number().over(Window.orderBy(*order_cols))
    )
    train = ranked.filter(F.col("__rank") <= n_train).drop("__rank")
    validate = ranked.filter(
        (F.col("__rank") > n_train) & (F.col("__rank") <= n_train + n_validate)
    ).drop("__rank")
    test = ranked.filter(F.col("__rank") > n_train + n_validate).drop("__rank")
    return train, validate, test


#: Fibonacci-hash constants: golden-ratio multiplier mixes *sequential*
#: keys uniformly (an affine k·a+b with small stride mod the modulus
#: stripes — hypothesis found the first ~87 sequential keys all landing in
#: one split). The pre-mod keeps k·MULT < 2^62 (ANSI-safe int64).
_SPLIT_PRE_MOD = 999_983  # prime
_SPLIT_MULT = 2_654_435_761  # ⌊2^32/φ⌋
_SPLIT_RANGE = 1 << 32
_SPLIT_MODULUS = 10_000


def split_bucket(key: F.Column) -> F.Column:
    """Deterministic bucket in [0, _SPLIT_MODULUS) — same arithmetic is
    valid ANSI SQL for the oracle (see m1_keyed_split)."""
    mixed = F.pmod(F.pmod(key, F.lit(_SPLIT_PRE_MOD)) * F.lit(_SPLIT_MULT), F.lit(_SPLIT_RANGE))
    return F.pmod(mixed, F.lit(_SPLIT_MODULUS))


def keyed_hash_split(
    df: DataFrame,
    key: str,
    train_frac: float = 0.7,
    validate_frac: float = 0.005,
) -> DataFrame:
    """Deterministic keyed split: label each row train/validate/test from a
    Fibonacci hash of its key. Engine-independent (same SQL runs in
    DuckDB), shuffle-free, and stable under repartitioning — the property
    the reference's global permutation cannot give at scale."""
    bucket = split_bucket(F.col(key))
    t_cut = int(train_frac * _SPLIT_MODULUS)
    v_cut = t_cut + int(validate_frac * _SPLIT_MODULUS)
    return df.withColumn(
        "split",
        F.when(bucket < t_cut, "train")
        .when(bucket < v_cut, "validate")
        .otherwise("test"),
    )


def exact_size_seeded_split_distributed(
    df: DataFrame,
    train_frac: float,
    validate_frac: float,
    *,
    seed: int,
    order_key: str | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Exact-size 3-way split WITHOUT the single-partition global sort —
    the 100 TB form of :func:`exact_size_seeded_split` (same contract:
    exact floor(frac·n) sizes, seeded, deterministic).

    The rank over (rand(seed), order_key) is
    :func:`~clinical_bi_spark.operators.ranking.global_row_number`: one
    range shuffle, a narrow local rank and a broadcast of per-partition
    offsets, so no executor ever holds more than its partition.
    """
    n = df.count()
    n_train = int(train_frac * n)
    n_validate = int(validate_frac * n)
    order_cols = [F.col("__r")] + ([F.col(order_key)] if order_key else [])
    ranked = global_row_number(
        df.withColumn("__r", F.rand(seed)), order_cols, out_col="__rank"
    )
    drop = ["__r", "__rank"]
    train = ranked.filter(F.col("__rank") <= n_train).drop(*drop)
    validate = ranked.filter(
        (F.col("__rank") > n_train) & (F.col("__rank") <= n_train + n_validate)
    ).drop(*drop)
    test = ranked.filter(F.col("__rank") > n_train + n_validate).drop(*drop)
    return train, validate, test


def stratified_sample_exact(
    df: DataFrame,
    stratum_col: str,
    frac: float,
    key: str,
) -> DataFrame:
    """Exact-size stratified sample: floor(frac · n_s) rows from every
    stratum s, chosen by Fibonacci-hash order of ``key`` (then key, so the
    order is total) — the training-data downsampler that keeps class
    proportions exact. Deterministic and engine-independent (the same
    arithmetic is the DuckDB oracle in m12_stratified_sample), stable
    under repartitioning, one shuffle on the stratum column.

    ``df.sampleBy`` gives only expected-size strata and Spark-RNG rows;
    this form trades one window shuffle for exact sizes + reproducibility.
    Skew note: a hot stratum serializes its window; at 100 TB pre-split a
    giant stratum by a salt on the hash order (rank is still exact per
    salt-range prefix sum, same trick as ranking.global_row_number).
    """
    b = split_bucket(F.col(key))
    w = Window.partitionBy(stratum_col).orderBy("__b", key)
    return (
        df.withColumn("__b", b)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(Window.partitionBy(stratum_col)))
        .filter(F.col("__rn") <= F.floor(F.lit(frac) * F.col("__n")))
        .drop("__b", "__rn", "__n")
    )
