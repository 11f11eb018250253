"""Engine-portable probabilistic sketches: HyperLogLog, count-min, Bloom.

The reference keeps exact SQL aggregates only (no sketches anywhere in
``/root/reference/src/main/py/ct_data.py`` — its distinct counts are plain
``COUNT(DISTINCT ...)``); at 100 TB a distinct count or a membership
pre-filter cannot afford a full shuffle of the key domain, so these are
the scale substitutes. The design premise (same as the dedup
family, ``operators/dedup.py``): every hash is the md5-prefix u32
family (:func:`clinical_bi_spark.operators.dedup._md5_word`) and every
combining step is integer arithmetic, so a DuckDB oracle can recompute
registers / cells / bit positions EXACTLY — the sketches are approximate
w.r.t. the true statistic, but deterministic and adjudicable w.r.t. their
own definition.

Scale posture:

* HLL — map-side (bucket, rho) then a two-level ``groupBy(bucket).max``:
  the shuffle carries at most ``m`` rows (m = 256 registers) regardless of
  input size; partial aggregation collapses each map partition to ≤ m rows
  before the exchange.
* count-min — ``depth × width`` cells (4 × 1024) with map-side partial
  counts; the sketch size is constant in corpus size, which is the entire
  point vs an exact token ``groupBy``.
* Bloom — the bit array is built once from the (small) build side and
  shipped as a LITERAL int64 array into the probe expression, so the probe
  is a pure map-side, whole-stage-codegen filter before any join shuffle —
  Spark's own runtime row-level filters (bloomFilterAgg) do exactly this
  injection, but opaquely and non-portably; this one is adjudicable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_bi_spark.operators.dedup import _md5_word

#: 2^33 — the common scale factor that turns every HLL register term
#: 2^(-rho) (rho ≤ 33) into an exact BIGINT 2^(33-rho), so the harmonic
#: sum is integer-exact and order-independent across partitions.
_HLL_SCALE = 1 << 33


#: Small-m alpha constants from Flajolet et al. 2007 §4. Explicit DOUBLE
#: casts: both engines parse a bare decimal literal as DECIMAL, and the
#: downstream multiply chain must be IEEE double (DuckDB's DECIMAL(18)
#: even overflows on it), not decimal arithmetic.
_HLL_SMALL_ALPHA = {
    16: "CAST(0.673 AS DOUBLE)",
    32: "CAST(0.697 AS DOUBLE)",
    64: "CAST(0.709 AS DOUBLE)",
}


def hll_alpha_expr(m: int) -> str:
    """The alpha_m bias constant as a SQL fragment, kept as LITERAL TEXT so
    Spark and DuckDB evaluate the identical IEEE expression (both engines'
    double ops are correctly rounded, so identical text → identical bits).
    m >= 128 uses the asymptotic formula; 16/32/64 the tabulated
    constants (Flajolet et al. 2007)."""
    if m in _HLL_SMALL_ALPHA:
        return _HLL_SMALL_ALPHA[m]
    if m < 128:
        raise ValueError(f"no alpha constant for m={m}")
    # every literal CAST to DOUBLE: engines promote bare decimal literals
    # through DECIMAL arithmetic with engine-specific precision rules, and
    # a 1-ulp pre-ROUND divergence flips the 4th decimal (observed on the
    # hll-merge slice estimates); all-DOUBLE operands make both engines
    # run the identical IEEE op sequence
    return (
        f"CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + "
        f"CAST(1.079 AS DOUBLE) / CAST({m} AS DOUBLE))"
    )


def hll_bucket_rho(col: Column, m: int) -> tuple[Column, Column]:
    """The per-value HLL pair: bucket = md5-u32 word 1 mod m; rho = leading
    zeros of the second md5 u32 word + 1, as pure integer arithmetic
    (33 - bit_length via conv-to-binary string length; w=0 → 33). Shared
    by the batch register table and the streaming windowed variant."""
    v = col.cast("string")
    w = _md5_word(v, 9)
    rho = F.when(w == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.conv(w, 10, 2))
    )
    return F.pmod(_md5_word(v, 1), F.lit(m)), rho


def hll_sum_scaled_cols(m: int) -> list[Column]:
    """Final-fold aggregate columns over a register table (bucket, r):
    buckets_used and the integer-exact scaled harmonic sum (empty
    registers contribute 2^33 each)."""
    return [
        F.count("*").cast("long").alias("buckets_used"),
        (
            F.sum(
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (F.lit(33) - F.col("r")).cast("int"),
                )
            )
            + (F.lit(m) - F.count("*")) * F.lit(_HLL_SCALE)
        )
        .cast("long")
        .alias("sum_scaled"),
    ]


def hll_estimate_expr(m: int) -> str:
    """The raw-estimator readout over a ``sum_scaled`` column — one float
    division from integer operands, text shared verbatim with oracles."""
    return (
        f"ROUND({hll_alpha_expr(m)} * CAST({m} AS DOUBLE) * "
        f"CAST({m} AS DOUBLE) * CAST({_HLL_SCALE} AS DOUBLE)"
        f" / CAST(sum_scaled AS DOUBLE), 4)"
    )


def hll_registers(df: DataFrame, col: str, m: int) -> DataFrame:
    """HyperLogLog register table for ``df[col]``: (bucket, r).

    bucket = md5-u32(word 1) mod m; rho = leading-zero count of the SECOND
    md5 u32 word + 1, computed with pure integer arithmetic
    (33 - bit_length) so no log/float enters the register path. Empty
    buckets are absent (the estimator accounts for them).
    """
    bucket, rho = hll_bucket_rho(F.col(col), m)
    return (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate(df: DataFrame, col: str, m: int) -> DataFrame:
    """One-row HLL distinct estimate with its integer evidence columns.

    Returns (m, buckets_used, sum_scaled, est_distinct) where
    ``sum_scaled`` = sum over ALL m registers of 2^(33-r) as an exact
    BIGINT (empty registers contribute 2^33), and
    ``est_distinct = alpha_m * m^2 * 2^33 / sum_scaled`` — the raw HLL
    estimator. No small-range linear-counting branch: it would need ln(),
    whose cross-engine bit-agreement is environmental (PERF.md lesson on
    text_lm_score), and the callers here are in the n >> 2.5m regime by
    construction. The single float division happens once, from integer
    operands, with the expression text shared verbatim with the oracle.
    """
    regs = hll_registers(df, col, m)
    return regs.agg(
        F.lit(m).alias("m"), *hll_sum_scaled_cols(m)
    ).withColumn("est_distinct", F.expr(hll_estimate_expr(m)))


def countmin_cells(
    tokens: DataFrame, col: str, depth: int, width: int
) -> DataFrame:
    """Count-min sketch cell table (j, cell, cnt) over token OCCURRENCES.

    Row j's hash is the j-th u32 word of md5 (offsets 1, 9, 17, 25 — md5's
    128 bits cap depth at 4) mod width. Pure integer counts, so the DuckDB
    oracle reproduces every cell exactly. Shuffle volume is ≤ depth*width
    rows after map-side partial aggregation, independent of corpus size.
    """
    if depth > 4:
        raise ValueError("md5 yields four u32 words; depth must be <= 4")
    t = F.col(col)
    rows = tokens.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.pmod(_md5_word(t, 1 + 8 * j), F.lit(width)).alias(
                            "cell"
                        ),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("e")
    )
    return (
        rows.select("e.j", "e.cell")
        .groupBy("j", "cell")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def countmin_probe(
    cells: DataFrame, probes: DataFrame, col: str, depth: int, width: int
) -> DataFrame:
    """CM point-estimate for each probe token: min over the depth cells the
    token maps to. ``probes`` is small by construction (a top-k list); the
    join broadcasts the ≤ depth*width cell table."""
    t = F.col(col)
    exploded = probes.select(
        col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.pmod(_md5_word(t, 1 + 8 * j), F.lit(width)).alias(
                            "cell"
                        ),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("e"),
    ).select(col, "e.j", "e.cell")
    return (
        exploded.join(F.broadcast(cells), ["j", "cell"], "inner")
        .groupBy(col)
        .agg(F.min("cnt").alias("cm_estimate"))
    )


def bloom_build(
    keys: DataFrame, col: str, m_bits: int, k: int
) -> list[int]:
    """Build a Bloom filter over ``keys[col]`` and return it as a list of
    int64 words (m_bits/64 entries, fixed size).

    The k bit positions of a key are md5 u32 words (offsets 1,9,17,25) mod
    m_bits — engine-portable, so an oracle can recompute the exact bit set.
    The ONLY driver materialization is this fixed-size bitmap
    (m_bits/64 * 8 bytes = 2 KiB at the default), the same
    small-by-construction contract as the PQ codebook collect
    (similarity.py) — the key set itself never leaves the cluster:
    positions are computed and OR-folded distributedly via bit_or.
    """
    if k > 4:
        raise ValueError("md5 yields four u32 words; k must be <= 4")
    v = F.col(col).cast("string")
    pos = keys.select(
        F.explode(
            F.array(
                *[F.pmod(_md5_word(v, 1 + 8 * j), F.lit(m_bits)) for j in range(k)]
            )
        ).alias("pos")
    )
    words = (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("pos") % 64).cast("int"),
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    out = [0] * (m_bits // 64)
    for r in words:
        out[r["w"]] = r["bits"]
    return out


def bloom_probe_expr(
    col: Column, words: list[int], m_bits: int, k: int
) -> Column:
    """Membership-test Column: true iff all k bit positions of ``col`` are
    set in ``words``. The bitmap rides into the plan as a literal array →
    the probe is a zero-shuffle, whole-stage-codegen map filter (the
    pushed-down-literal pattern pipelineops established for overflow
    keys). At 1000 executors the 2 KiB literal ships once per task binary,
    not per row."""
    v = col.cast("string")
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    checks = []
    for j in range(k):
        p = F.pmod(_md5_word(v, 1 + 8 * j), F.lit(m_bits))
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        checks.append(
            F.call_function("shiftright", word, (p % 64).cast("int")).bitwiseAND(
                F.lit(1).cast("long")
            )
            == 1
        )
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out
