"""Sketch queries: portable HLL distinct, count-min heavy hitters, Bloom
pre-filtered join.

Reference parity: the reference computes distinct counts and frequency
tables exactly (plain SQL over ~400k rows — e.g. the COUNT(DISTINCT)
sites in /root/reference/src/main/py/ct_data.py's condition/intervention
rollups); at 100 TB those exact forms shuffle the full key domain. These
queries are the scale substitutes, and — unlike the engine's builtin
``approx_count_distinct`` (a3, rows-only by construction) — every one is
EXACTLY adjudicable: the md5-u32 hash family (operators/sketches.py) lets
the DuckDB oracle recompute registers, cells, and bit positions
value-for-value, so the driver pins the whole approximate pipeline, not
just row counts, as for the dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_bi_spark.functions.text import word_tokens
from clinical_bi_spark.operators.sketches import (
    _HLL_SCALE,
    bloom_build,
    bloom_probe_expr,
    countmin_cells,
    countmin_probe,
    hll_estimate,
    hll_estimate_expr,
)
from clinical_bi_spark.queries import query
from clinical_bi_spark.session import tune
from clinical_bi_spark.sources import load_tables


def _duck_md5_word(expr: str, offset: int) -> str:
    """DuckDB fragment mirroring operators.dedup._md5_word."""
    return (
        f"CAST(CAST('0x' || substr(md5({expr}), {offset}, 8) AS UBIGINT) "
        f"AS BIGINT)"
    )


_HLL_M = 256

_HLL_ORACLE = f"""
WITH hw AS (
  SELECT {_duck_md5_word("CAST(l_orderkey AS VARCHAR)", 1)} % {_HLL_M} AS bucket,
         {_duck_md5_word("CAST(l_orderkey AS VARCHAR)", 9)} AS w
  FROM lineitem
), regs AS (
  SELECT bucket,
         MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS r
  FROM hw GROUP BY bucket
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS buckets_used,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - r AS INT))
              + ({_HLL_M} - COUNT(*)) * {_HLL_SCALE} AS BIGINT) AS sum_scaled
  FROM regs
), ex AS (
  SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct FROM lineitem
), est AS (
  SELECT CAST({_HLL_M} AS INT) AS m,
         buckets_used,
         sum_scaled,
         {hll_estimate_expr(_HLL_M)} AS est_distinct,
         CAST(exact_distinct AS BIGINT) AS exact_distinct
  FROM agg, ex
)
SELECT m, buckets_used, sum_scaled, est_distinct, exact_distinct,
       ROUND(ABS(est_distinct - CAST(exact_distinct AS DOUBLE))
             / CAST(exact_distinct AS DOUBLE) * 100.0, 3) AS rel_err_pct
FROM est
"""


@query("a3_hll_portable", oracle=_HLL_ORACLE)
def a3_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 at scale: HyperLogLog distinct-orderkey estimate whose REGISTERS
    the oracle recomputes exactly. Unlike `a3_approx_count_distinct`
    (Spark's builtin HLL++, opaque and rows-only), every step here is
    engine-portable integer arithmetic: md5-u32 bucket/witness words,
    integer leading-zero ranks (no log), and an integer-scaled harmonic
    sum (2^(33-rho) as BIGINT — the order-independent-sum trick
    text_lm_score established), with ONE final float division shared
    verbatim with the oracle text. The exact COUNT(DISTINCT) rides along
    so the estimate's error is visible in the output (raw estimator,
    n >> 2.5m regime by construction — see operators/sketches.py on the
    deliberately-omitted linear-counting branch).

    100 TB: the shuffle after map-side partial max is <= m=256 rows per
    partition, constant in input size — vs the full orderkey-domain
    shuffle of the exact form it substitutes for.
    """
    t = load_tables(tune(spark), sf_dir)
    est = hll_estimate(t.lineitem, "l_orderkey", _HLL_M)
    exact = t.lineitem.agg(
        F.countDistinct("l_orderkey").cast("long").alias("exact_distinct")
    )
    return (
        est.crossJoin(F.broadcast(exact))  # 1 row x 1 row
        .withColumn(
            "rel_err_pct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
                * 100.0,
                3,
            ),
        )
        .select(
            "m",
            "buckets_used",
            "sum_scaled",
            "est_distinct",
            "exact_distinct",
            "rel_err_pct",
        )
    )


_CM_D, _CM_W, _CM_K = 4, 1024, 20

_CM_ORACLE = f"""
WITH tok AS (
  SELECT UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                x -> x <> '')) AS token
  FROM documents
), occ AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM tok GROUP BY token
), top AS (
  SELECT token, true_count FROM occ
  ORDER BY true_count DESC, token LIMIT {_CM_K}
), cells AS (
  SELECT j,
         {_duck_md5_word("token", "1 + 8 * j")} % {_CM_W} AS cell,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tok, (SELECT UNNEST(range(0, {_CM_D})) AS j)
  GROUP BY j, cell
), probepos AS (
  SELECT t.token, t.true_count, js.j,
         {_duck_md5_word("t.token", "1 + 8 * js.j")} % {_CM_W} AS cell
  FROM top t, (SELECT UNNEST(range(0, {_CM_D})) AS j) js
), probe AS (
  SELECT p.token, p.true_count, MIN(c.cnt) AS cm_estimate
  FROM probepos p
  JOIN cells c ON c.j = p.j AND c.cell = p.cell
  GROUP BY p.token, p.true_count
)
SELECT token, true_count, cm_estimate,
       CAST(cm_estimate - true_count AS BIGINT) AS overcount
FROM probe
"""


@query("sketch_countmin_topk", oracle=_CM_ORACLE)
def sketch_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over corpus token occurrences, probed at the top-20
    true-frequent tokens: (token, true_count, cm_estimate, overcount).
    All-integer sketch (4 x 1024 cells, md5-u32 row hashes), so the oracle
    reproduces every cell and every min-estimate exactly — the CM
    guarantee (estimate >= truth, bounded overcount) is directly visible
    in the overcount column. The exact groupBy rides along as the
    comparator; at 100 TB only the sketch runs: its shuffle is <= 4096
    cells after map-side partial counts, constant in corpus size, which is
    the point vs the exact token groupBy it replaces (heavy-hitter
    monitoring over a training mixture without a token-domain shuffle).
    """
    t = load_tables(tune(spark), sf_dir)
    toks = t.documents.select(
        F.explode(word_tokens(F.lower(F.col("text")))).alias("token")
    )
    cells = countmin_cells(toks, "token", _CM_D, _CM_W)
    top = (
        toks.groupBy("token")
        .agg(F.count("*").cast("long").alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("token"))
        .limit(_CM_K)
    )
    est = countmin_probe(cells, top.select("token"), "token", _CM_D, _CM_W)
    return (
        top.join(F.broadcast(est), "token")
        .withColumn(
            "overcount",
            (F.col("cm_estimate") - F.col("true_count")).cast("long"),
        )
        .select("token", "true_count", "cm_estimate", "overcount")
    )


_BLOOM_M, _BLOOM_K = 16384, 4

_BLOOM_ORACLE = f"""
WITH members AS (
  SELECT s_suppkey
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
), bits AS (
  SELECT DISTINCT
         {_duck_md5_word("CAST(s_suppkey AS VARCHAR)", "1 + 8 * j")} % {_BLOOM_M} AS pos
  FROM members, (SELECT UNNEST(range(0, {_BLOOM_K})) AS j)
), fact AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_suppkey
), probepos AS (
  SELECT f.l_suppkey, f.n,
         {_duck_md5_word("CAST(f.l_suppkey AS VARCHAR)", "1 + 8 * js.j")} % {_BLOOM_M} AS pos
  FROM fact f, (SELECT UNNEST(range(0, {_BLOOM_K})) AS j) js
), probe AS (
  SELECT pp.l_suppkey, pp.n,
         SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS hits
  FROM probepos pp LEFT JOIN bits b ON b.pos = pp.pos
  GROUP BY pp.l_suppkey, pp.n
), flagged AS (
  SELECT p.l_suppkey, p.n,
         p.hits = {_BLOOM_K} AS bloom_pass,
         m.s_suppkey IS NOT NULL AS is_member
  FROM probe p LEFT JOIN members m ON p.l_suppkey = m.s_suppkey
)
SELECT CAST(SUM(n) AS BIGINT) AS fact_rows,
       CAST(SUM(CASE WHEN bloom_pass THEN n ELSE 0 END) AS BIGINT) AS bloom_pass_rows,
       CAST(SUM(CASE WHEN is_member THEN n ELSE 0 END) AS BIGINT) AS match_rows,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN n ELSE 0 END)
            AS BIGINT) AS false_positive_rows,
       CAST((SELECT COUNT(*) FROM members) AS BIGINT) AS member_keys
FROM flagged
"""


@query("j_bloom_prefilter_join", oracle=_BLOOM_ORACLE)
def j_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime pre-filter for a fact->dim join (the J-family
    at 100 TB): build a 16384-bit / 4-hash filter over the EUROPE supplier
    keys, probe every lineitem BEFORE any join, then verify against the
    true semi-join. Output is one row of integer evidence: total fact
    rows, rows passing the bloom, true member rows, false-positive rows
    (pass minus true — the bloom's one-sided error made observable), and
    the member-key count. The oracle recomputes the exact bit set and
    every probe, so a green row proves (a) zero false negatives and
    (b) the false-positive arithmetic, not just the final join.

    Spark shape: the bit array is built distributedly (explode -> bit_or
    groupBy), collected as a FIXED-SIZE 2 KiB literal (the
    pushed-down-literal pattern from pipelineops), and probed in a pure
    map stage — whole-stage codegen, zero shuffle before the filter. This
    is what Spark's runtime row-level bloom injection does, made explicit
    and adjudicable. At 1000 executors the probe cost is a per-row hash,
    and the filter removes ~80% of fact rows before they reach the join
    exchange.
    """
    t = load_tables(tune(spark), sf_dir)
    members = (
        t.supplier.join(
            F.broadcast(t.nation),
            t.supplier.s_nationkey == t.nation.n_nationkey,
        )
        .join(
            F.broadcast(t.region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    words = bloom_build(members, "s_suppkey", _BLOOM_M, _BLOOM_K)
    n_members = members.count()

    fact = t.lineitem.select("l_suppkey").withColumn(
        "bloom_pass", bloom_probe_expr(F.col("l_suppkey"), words, _BLOOM_M, _BLOOM_K)
    )
    joined = fact.join(
        F.broadcast(members.withColumnRenamed("s_suppkey", "mk")),
        fact.l_suppkey == F.col("mk"),
        "left",
    )
    return joined.agg(
        F.count("*").cast("long").alias("fact_rows"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
        .cast("long")
        .alias("bloom_pass_rows"),
        F.sum(F.when(F.col("mk").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("match_rows"),
        F.sum(
            F.when(F.col("bloom_pass") & F.col("mk").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("false_positive_rows"),
        F.lit(n_members).cast("long").alias("member_keys"),
    )


_MERGE_M = 256
_MERGE_SPLIT = "1997-06-01"


def _duck_hll_block(name: str, src: str, m: int) -> str:
    """CTE pair computing (buckets_used, sum_scaled) for one key source —
    the DuckDB twin of hll_registers + hll_sum_scaled_cols."""
    word1 = _duck_md5_word("CAST(k AS VARCHAR)", 1)
    word9 = _duck_md5_word("CAST(k AS VARCHAR)", 9)
    return f"""{name}_regs AS (
  SELECT {word1} % {m} AS bucket,
         MAX(CASE WHEN {word9} = 0 THEN 33
                  ELSE 33 - length(bin({word9})) END) AS r
  FROM ({src}) GROUP BY 1
), {name}_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS used,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - r AS INT))
              + ({m} - COUNT(*)) * {_HLL_SCALE} AS BIGINT) AS sum_scaled
  FROM {name}_regs
)"""


def _hll_merge_oracle() -> str:
    from clinical_bi_spark.operators.sketches import hll_estimate_expr

    m = _MERGE_M
    h1 = f"SELECT l_orderkey AS k FROM lineitem WHERE l_shipdate < TIMESTAMP '{_MERGE_SPLIT}'"
    h2 = f"SELECT l_orderkey AS k FROM lineitem WHERE l_shipdate >= TIMESTAMP '{_MERGE_SPLIT}'"
    est = hll_estimate_expr(m)
    return f"""
WITH {_duck_hll_block("h1", h1, m)},
{_duck_hll_block("h2", h2, m)},
merged_regs AS (
  SELECT bucket, MAX(r) AS r FROM (
    SELECT * FROM h1_regs UNION ALL SELECT * FROM h2_regs
  ) GROUP BY bucket
), merged_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS used,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - r AS INT))
              + ({m} - COUNT(*)) * {_HLL_SCALE} AS BIGINT) AS sum_scaled
  FROM merged_regs
), ex AS (
  SELECT
    CAST(COUNT(DISTINCT CASE WHEN l_shipdate < TIMESTAMP '{_MERGE_SPLIT}'
                             THEN l_orderkey END) AS BIGINT) AS exact_h1,
    CAST(COUNT(DISTINCT CASE WHEN l_shipdate >= TIMESTAMP '{_MERGE_SPLIT}'
                             THEN l_orderkey END) AS BIGINT) AS exact_h2,
    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_union
  FROM lineitem
)
SELECT CAST({m} AS INT) AS m,
       (SELECT {est} FROM h1_agg) AS est_h1,
       (SELECT {est} FROM h2_agg) AS est_h2,
       (SELECT {est} FROM merged_agg) AS est_union,
       exact_h1, exact_h2, exact_union
FROM ex
"""


@query("a3_hll_merge", oracle=_hll_merge_oracle())
def a3_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY — the property that makes a distinct sketch a
    distributed aggregate at all: registers built independently over two
    overlapping time slices of lineitem (shipdate halves of the orderkey
    domain) merge by per-bucket MAX into exactly the registers of the
    union, so est_union accounts for the overlap (est_h1 + est_h2
    overcounts it; the exact columns make that visible). This is
    register-level what every executor→final merge does at 1000 nodes,
    and what incremental daily-sketch rollups do over time: state is
    m=256 integers per slice forever, with no re-scan of history.
    Exactly oracled end to end (slice registers, merged registers, three
    readouts)."""
    from clinical_bi_spark.operators.sketches import (
        hll_estimate_expr,
        hll_registers,
        hll_sum_scaled_cols,
    )

    m = _MERGE_M
    t = load_tables(tune(spark), sf_dir)
    split = F.lit(_MERGE_SPLIT).cast("timestamp")
    h1 = t.lineitem.filter(F.col("l_shipdate") < split)
    h2 = t.lineitem.filter(F.col("l_shipdate") >= split)
    r1 = hll_registers(h1, "l_orderkey", m)
    r2 = hll_registers(h2, "l_orderkey", m)
    merged = (
        r1.unionByName(r2).groupBy("bucket").agg(F.max("r").alias("r"))
    )

    def est(regs: DataFrame, name: str) -> DataFrame:
        return (
            regs.agg(*hll_sum_scaled_cols(m))
            .withColumn(name, F.expr(hll_estimate_expr(m)))
            .select(name)
        )

    exact = t.lineitem.agg(
        F.countDistinct(
            F.when(F.col("l_shipdate") < split, F.col("l_orderkey"))
        )
        .cast("long")
        .alias("exact_h1"),
        F.countDistinct(
            F.when(F.col("l_shipdate") >= split, F.col("l_orderkey"))
        )
        .cast("long")
        .alias("exact_h2"),
        F.countDistinct("l_orderkey").cast("long").alias("exact_union"),
    )
    return (
        est(r1, "est_h1")
        .crossJoin(F.broadcast(est(r2, "est_h2")))
        .crossJoin(F.broadcast(est(merged, "est_union")))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(m).cast("int").alias("m"),
            "est_h1",
            "est_h2",
            "est_union",
            "exact_h1",
            "exact_h2",
            "exact_union",
        )
    )


_HIST_BINS = 256
_HIST_QS = (0.25, 0.5, 0.9, 0.99)

# interpolation readout, shared VERBATIM between the Spark plan and the
# DuckDB oracle (all-DOUBLE operands; see hll_alpha_expr on why)
_HIST_EST = (
    "ROUND(lo + width * (CAST(bin AS DOUBLE) + "
    "(target - CAST(cumprev AS DOUBLE)) / CAST(cnt AS DOUBLE)), 4)"
)

_HIST_ORACLE = f"""
WITH bounds AS (
  SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
         CAST(MAX(l_extendedprice) AS DOUBLE) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem
), binned AS (
  SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) /
              CAST({_HIST_BINS} AS DOUBLE))), CAST({_HIST_BINS - 1} AS DOUBLE))
         AS INT) AS bin
  FROM lineitem, bounds
), hist AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM binned GROUP BY bin
), cum AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS c,
         SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) - cnt
           AS cumprev
  FROM hist
), qs AS (
  SELECT UNNEST([{", ".join(f"CAST({q} AS DOUBLE)" for q in _HIST_QS)}]) AS q
), targets AS (
  SELECT q, q * CAST(n AS DOUBLE) AS target FROM qs, bounds
), picked AS (
  SELECT t.q, t.target, MIN(c.bin) AS bin
  FROM targets t JOIN cum c ON CAST(c.c AS DOUBLE) >= t.target
  GROUP BY t.q, t.target
), est AS (
  SELECT p.q, p.target, p.bin, c.cnt, c.cumprev, b.lo,
         (b.hi - b.lo) / CAST({_HIST_BINS} AS DOUBLE) AS width
  FROM picked p JOIN cum c ON c.bin = p.bin, bounds b
), ex AS (
  SELECT UNNEST([{", ".join(f"CAST({q} AS DOUBLE)" for q in _HIST_QS)}]) AS q,
         UNNEST((SELECT quantile_cont(l_extendedprice,
                 [{", ".join(str(q) for q in _HIST_QS)}]) FROM lineitem))
           AS exact_price
  FROM (SELECT 1)
)
SELECT e.q, e.bin,
       {_HIST_EST} AS est_price,
       ROUND(x.exact_price, 4) AS exact_price
FROM est e JOIN ex x ON e.q = x.q
"""


@query("agg_histogram_quantiles", oracle=_HIST_ORACLE)
def agg_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation through a fixed-width 256-bin histogram — the
    mergeable, constant-size-shuffle scale path the exact
    `agg_percentiles` (global sort) and opaque `agg_percentiles_approx`
    (builtin KLL-ish sketch, rows-only) bracket. Two passes: bounds
    (min/max/count — one tiny agg), then integer bin counts (map-side
    partial, <= 256 rows shuffled at any input size), then an
    interpolation readout whose expression text the oracle shares
    verbatim. The exact quantile_cont rides along so the histogram's
    resolution error is visible per q.

    Exactly oracled: bin assignment is one float divide from exact data
    values with all-DOUBLE literals (identical IEEE sequence in both
    engines), counts are integers, and the readout is shared text —
    Spark's percentile() and DuckDB's quantile_cont use the same
    (n-1)*q interpolation, rounded to 4.

    100 TB: this is the histogram every monitoring system computes; a
    second pass over the data costs one scan, and the histogram merges
    across partitions/days by adding integer cells (same mergeability
    argument as a3_hll_merge)."""
    t = load_tables(tune(spark), sf_dir)
    li = t.lineitem
    bounds = li.agg(
        F.min("l_extendedprice").cast("double").alias("lo"),
        F.max("l_extendedprice").cast("double").alias("hi"),
        F.count("*").cast("long").alias("n"),
    )
    binned = li.crossJoin(F.broadcast(bounds)).select(
        F.least(
            # try_divide: hi == lo (constant column) has bin width 0 —
            # NULL bin on both engines, not an ANSI crash
            F.floor(
                F.try_divide(
                    F.col("l_extendedprice") - F.col("lo"),
                    (F.col("hi") - F.col("lo")) / F.lit(float(_HIST_BINS)),
                )
            ).cast("double"),
            F.lit(float(_HIST_BINS - 1)),
        )
        .cast("int")
        .alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count("*").cast("long").alias("cnt"))
    from pyspark.sql.window import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("c"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cumprev"),
    )
    qs = spark.createDataFrame([(float(q),) for q in _HIST_QS], ["q"])
    targets = qs.crossJoin(F.broadcast(bounds.select("n"))).select(
        "q", (F.col("q") * F.col("n").cast("double")).alias("target")
    )
    picked = (
        F.broadcast(targets)
        .join(cum, cum["c"].cast("double") >= F.col("target"))
        .groupBy("q", "target")
        .agg(F.min("bin").alias("bin"))
    )
    est = (
        picked.join(cum, "bin")
        .crossJoin(
            F.broadcast(
                bounds.select(
                    "lo",
                    ((F.col("hi") - F.col("lo")) / F.lit(float(_HIST_BINS))).alias(
                        "width"
                    ),
                )
            )
        )
        .select("q", "bin", F.expr(_HIST_EST).alias("est_price"))
    )
    exact = (
        li.agg(
            F.expr(
                "percentile(l_extendedprice, array("
                + ", ".join(str(q) for q in _HIST_QS)
                + "))"
            ).alias("ps")
        )
        .select(F.posexplode("ps").alias("i", "exact_price"))
        .select(
            F.element_at(
                F.array(*[F.lit(float(q)) for q in _HIST_QS]), F.col("i") + 1
            ).alias("q"),
            F.round("exact_price", 4).alias("exact_price"),
        )
    )
    return est.join(F.broadcast(exact), "q").select(
        "q", "bin", "est_price", "exact_price"
    )


# --- KMV (k-minimum-values / bottom-k theta) distinct sketch -------------
# Beyer et al. 2007 ("On Synopses for Distinct-Value Estimation Under
# Multiset Operations" — public literature): keep the k smallest DISTINCT
# hash values; with U the kth smallest over a domain of size D, the
# unbiased estimator is (k-1) * D / U. Complements HLL: the sketch IS a
# set of hashes, so union-merge is set-union-then-truncate (exact at the
# sketch level, no register algebra), and intersection/Jaccard estimates
# come free — the property theta sketches are used for in production
# pipelines. Same portability premise as the HLL family: hashes are
# md5-u32 words combined into a 62-bit value with integer arithmetic, so
# the DuckDB oracle reproduces every sketch element exactly.

_KMV_K = 256
_KMV_DOMAIN = float(1 << 62)
_KMV_HV = (
    "(CAST(CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8) AS UBIGINT)"
    f" AS BIGINT) * {1 << 30}"
    " + (CAST(CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 9, 8) AS"
    f" UBIGINT) AS BIGINT) % {1 << 30}))"
)

_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT l_returnflag AS g,
         {_KMV_HV.format(col='l_orderkey')} AS hv
  FROM lineitem
), ranked AS (
  SELECT g, hv,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY hv) AS rn
  FROM h
), sk AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_sketch,
         MAX(CASE WHEN rn = {_KMV_K} THEN hv END) AS kth
  FROM ranked WHERE rn <= {_KMV_K} GROUP BY g
), ex AS (
  SELECT l_returnflag AS g,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
  FROM lineitem GROUP BY g
)
SELECT sk.g AS l_returnflag, sk.n_sketch, ex.exact_distinct,
       ROUND(CASE WHEN sk.n_sketch < {_KMV_K}
                  THEN CAST(sk.n_sketch AS DOUBLE)
                  ELSE CAST({_KMV_K - 1} AS DOUBLE) * {_KMV_DOMAIN!r}
                       / CAST(sk.kth AS DOUBLE) END, 4) AS est_distinct
FROM sk JOIN ex ON ex.g = sk.g
"""


def _kmv_hash(col: F.Column) -> F.Column:
    """Portable 62-bit hash: md5-u32 high word << 30 | low word mod 2^30
    — integer arithmetic only, inside int64 under ANSI mode."""
    from clinical_bi_spark.operators.dedup import _md5_word

    s = col.cast("string")
    return _md5_word(s, 1) * F.lit(1 << 30) + F.pmod(
        _md5_word(s, 9), F.lit(1 << 30)
    )


def _kmv_sketch(df: DataFrame, group_col, value_col: str, k: int) -> DataFrame:
    """The k-row KMV sketch per group: k smallest distinct hashes.
    Shuffle carries (group, hash) int pairs (distinct-reduced map-side);
    the RESULT is k rows per group — the bounded state that merges."""
    from pyspark.sql.window import Window

    h = (
        df.select(group_col.alias("g"), _kmv_hash(F.col(value_col)).alias("hv"))
        .distinct()
    )
    w = Window.partitionBy("g").orderBy("hv")
    return h.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def _kmv_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """(k-1) * D / kth for full sketches; the exact sketch size below k
    (a sketch with < k entries has seen every distinct value)."""
    return sketch.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n_sketch"),
        F.max(F.when(F.col("rn") == k, F.col("hv"))).alias("kth"),
    ).select(
        "g",
        "n_sketch",
        F.round(
            F.when(
                F.col("n_sketch") < k, F.col("n_sketch").cast("double")
            ).otherwise(
                F.lit(float(_KMV_K - 1))
                * F.lit(_KMV_DOMAIN)
                / F.col("kth").cast("double")
            ),
            4,
        ).alias("est_distinct"),
    )


@query("sketch_kmv_distinct", oracle=_KMV_ORACLE, bench=True)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV distinct estimate next to the exact count — the
    bottom-k complement of a3_hll_portable (hash-set sketch instead of
    register algebra; unions/intersections stay exact at sketch level).
    Exactly oracled: hashes are engine-portable md5-u32 arithmetic and
    the estimator is one double expression over exact integers.

    Scale shape: the distinct-reduce shuffles (group, hash) int pairs
    with map-side partial dedup — the same exchange an exact
    count-distinct pays — but the sketch RESULT is k=256 rows per group
    forever: incremental maintenance and cross-slice merging (see
    sketch_kmv_merge) never rescan history, which is the production
    win at 100 TB."""
    t = load_tables(tune(spark), sf_dir)
    sk = _kmv_sketch(t.lineitem, F.col("l_returnflag"), "l_orderkey", _KMV_K)
    est = _kmv_estimate(sk, _KMV_K)
    exact = t.lineitem.groupBy(F.col("l_returnflag").alias("g")).agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("exact_distinct")
    )
    return est.join(exact, "g").select(
        F.col("g").alias("l_returnflag"),
        "n_sketch",
        "exact_distinct",
        "est_distinct",
    )


_KMV_MERGE_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT
         CASE WHEN l_shipdate < DATE '{_MERGE_SPLIT}' THEN 0 ELSE 1 END AS half,
         {_KMV_HV.format(col='l_orderkey')} AS hv
  FROM lineitem
), ranked AS (
  SELECT half, hv,
         ROW_NUMBER() OVER (PARTITION BY half ORDER BY hv) AS rn
  FROM h
), slices AS (
  SELECT half, hv FROM ranked WHERE rn <= {_KMV_K}
), est_slice AS (
  SELECT half,
         ROUND(CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE CAST({_KMV_K - 1} AS DOUBLE) * {_KMV_DOMAIN!r}
                         / CAST(MAX(CASE WHEN rn = {_KMV_K} THEN hv END)
                                AS DOUBLE) END, 4) AS est
  FROM (SELECT half, hv, ROW_NUMBER() OVER (PARTITION BY half ORDER BY hv)
               AS rn FROM slices) s
  GROUP BY half
), merged AS (
  SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
  FROM (SELECT DISTINCT hv FROM slices) u
), est_merged AS (
  SELECT ROUND(CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE CAST({_KMV_K - 1} AS DOUBLE) * {_KMV_DOMAIN!r}
                         / CAST(MAX(CASE WHEN rn = {_KMV_K} THEN hv END)
                                AS DOUBLE) END, 4) AS est_union
  FROM (SELECT hv, rn FROM merged WHERE rn <= {_KMV_K}) m
)
SELECT (SELECT est FROM est_slice WHERE half = 0) AS est_h1,
       (SELECT est FROM est_slice WHERE half = 1) AS est_h2,
       (SELECT est_union FROM est_merged) AS est_union,
       (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem)
         AS exact_union
"""


@query("sketch_kmv_merge", oracle=_KMV_MERGE_ORACLE)
def sketch_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV MERGEABILITY: sketches built independently over two
    overlapping shipdate halves merge by set-union + re-truncate to the
    k smallest — structurally exact (the merged sketch IS the sketch of
    the union), which is what lets per-day / per-executor k-row sketches
    roll up without rescanning history. est_h1 + est_h2 overcounts the
    overlap; est_union does not — the exact column makes that visible.
    Merge state: 2k int64s in, k out."""
    t = load_tables(tune(spark), sf_dir)
    split = F.lit(_MERGE_SPLIT).cast("date")
    half = F.when(F.col("l_shipdate") < split, F.lit(0)).otherwise(F.lit(1))
    sk = _kmv_sketch(t.lineitem, half, "l_orderkey", _KMV_K)

    est_slice = _kmv_estimate(sk, _KMV_K)
    from pyspark.sql.window import Window

    merged = (
        sk.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("hv")))
        .filter(F.col("rn") <= _KMV_K)
        .withColumn("g", F.lit(0))
    )
    est_union = _kmv_estimate(merged, _KMV_K).select(
        F.col("est_distinct").alias("est_union")
    )
    exact = t.lineitem.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("exact_union")
    )
    h1 = est_slice.filter(F.col("g") == 0).select(
        F.col("est_distinct").alias("est_h1")
    )
    h2 = est_slice.filter(F.col("g") == 1).select(
        F.col("est_distinct").alias("est_h2")
    )
    return (
        h1.crossJoin(F.broadcast(h2))
        .crossJoin(F.broadcast(est_union))
        .crossJoin(F.broadcast(exact))
    )


_KMV_JACCARD_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT
         CASE WHEN l_shipdate < DATE '{_MERGE_SPLIT}' THEN 0 ELSE 1 END AS half,
         {_KMV_HV.format(col='l_orderkey')} AS hv
  FROM lineitem
), ranked AS (
  SELECT half, hv,
         ROW_NUMBER() OVER (PARTITION BY half ORDER BY hv) AS rn
  FROM h
), sk AS (
  SELECT half, hv FROM ranked WHERE rn <= {_KMV_K}
), u AS (
  SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
  FROM (SELECT DISTINCT hv FROM sk) d
), uk AS (
  SELECT hv FROM u WHERE rn <= {_KMV_K}
), est AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_eff,
         CAST(SUM(CASE WHEN a.hv IS NOT NULL AND b.hv IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_both
  FROM uk
  LEFT JOIN (SELECT hv FROM sk WHERE half = 0) a ON a.hv = uk.hv
  LEFT JOIN (SELECT hv FROM sk WHERE half = 1) b ON b.hv = uk.hv
), ex AS (
  SELECT CAST(COUNT(DISTINCT CASE WHEN l_shipdate < DATE '{_MERGE_SPLIT}'
                                  THEN l_orderkey END) AS BIGINT) AS n_a,
         CAST(COUNT(DISTINCT CASE WHEN l_shipdate >= DATE '{_MERGE_SPLIT}'
                                  THEN l_orderkey END) AS BIGINT) AS n_b,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_union
  FROM lineitem
)
SELECT est.k_eff, est.n_both,
       ROUND(CAST(est.n_both AS DOUBLE) / CAST(est.k_eff AS DOUBLE), 6)
         AS est_jaccard,
       ROUND(CAST(ex.n_a + ex.n_b - ex.n_union AS DOUBLE)
             / CAST(ex.n_union AS DOUBLE), 6) AS exact_jaccard
FROM est CROSS JOIN ex
"""


@query("sketch_kmv_jaccard", oracle=_KMV_JACCARD_ORACLE)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-overlap estimation FROM SKETCHES ALONE — the theta-sketch use
    case register sketches cannot serve: with U the k smallest hashes of
    the union of two slice sketches, |U ∩ A ∩ B| / |U| is the standard
    KMV Jaccard estimator (Beyer et al. 2007). Everything after the two
    k-row sketches touches only 3k integers, so cross-corpus overlap
    audits (eval-contamination checks, crawl-snapshot drift) run on
    sketch tables without rescanning either corpus. Exactly oracled:
    portable hashes + integer membership counts + one rounded division;
    the exact Jaccard column sits alongside for the error to be
    visible."""
    t = load_tables(tune(spark), sf_dir)
    split = F.lit(_MERGE_SPLIT).cast("date")
    half = F.when(F.col("l_shipdate") < split, F.lit(0)).otherwise(F.lit(1))
    sk = _kmv_sketch(t.lineitem, half, "l_orderkey", _KMV_K)

    from pyspark.sql.window import Window

    uk = (
        sk.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("hv")))
        .filter(F.col("rn") <= _KMV_K)
        .select("hv")
    )
    a = sk.filter(F.col("g") == 0).select(F.col("hv").alias("hv_a"))
    b = sk.filter(F.col("g") == 1).select(F.col("hv").alias("hv_b"))
    est = (
        uk.join(a, uk["hv"] == a["hv_a"], "left")
        .join(b, uk["hv"] == b["hv_b"], "left")
        .agg(
            F.count("*").cast("bigint").alias("k_eff"),
            F.sum(
                (F.col("hv_a").isNotNull() & F.col("hv_b").isNotNull())
                .cast("bigint")
            ).alias("n_both"),
        )
    )
    exact = t.lineitem.agg(
        F.countDistinct(
            F.when(F.col("l_shipdate") < split, F.col("l_orderkey"))
        ).cast("bigint").alias("n_a"),
        F.countDistinct(
            F.when(F.col("l_shipdate") >= split, F.col("l_orderkey"))
        ).cast("bigint").alias("n_b"),
        F.countDistinct("l_orderkey").cast("bigint").alias("exact_union"),
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "k_eff",
            "n_both",
            F.round(
                F.col("n_both").cast("double") / F.col("k_eff").cast("double"),
                6,
            ).alias("est_jaccard"),
            F.round(
                (F.col("n_a") + F.col("n_b") - F.col("exact_union"))
                .cast("double")
                / F.col("exact_union").cast("double"),
                6,
            ).alias("exact_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Bottom-k quantile sketch: the sketch family's missing member — a
# MERGEABLE quantile estimator. The sketch is the k rows with the
# smallest engine-portable md5-u32 row hash: a uniform row sample that
# merges by union-then-retake-bottom-k (associative, order-free), which
# Spark executes as TakeOrderedAndProject (per-partition bottom-k + one
# k-row merge — bounded state, corpus-size-independent, the
# data_weighted_sample scale shape). Quantiles interpolate positions in
# the SORTED sample with literal constants, so — like HLL-portable/KMV —
# the approximate operator is EXACTLY adjudicable: DuckDB recomputes the
# identical sample and arithmetic. Error contract (sample quantile vs
# exact) and the merge property live in tests/test_sketches.py.
# ---------------------------------------------------------------------------

_BKQ_K = 256
# (quantile, 1-based lower element index, interpolation fraction) for
# pos = q * (K - 1): 63.75, 127.5, 191.25, 242.25 (0-based)
_BKQ_POINTS = (
    ("p25", 64, 0.75),
    ("p50", 128, 0.5),
    ("p75", 192, 0.25),
    ("p95", 243, 0.25),
)

_BKQ_HASH_SQL = _duck_md5_word(
    "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
    " || ':bkq'",
    1,
)

_BKQ_ORACLE = f"""
WITH h AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS v, {_BKQ_HASH_SQL} AS hv
  FROM lineitem
), samp AS (
  SELECT v FROM h ORDER BY hv, v LIMIT {_BKQ_K}
), arr AS (
  SELECT list(v ORDER BY v) AS vs FROM samp
), n AS (
  SELECT COUNT(*) AS n_rows FROM lineitem
)
SELECT CAST({_BKQ_K} AS INT) AS k,
       CAST(n.n_rows AS BIGINT) AS n_rows,
""" + ",\n".join(
    # LEAST-clamped indices: a corpus smaller than k yields a sample of
    # len(vs) < k rows; positions beyond it collapse onto the last
    # element (identical clamp on the Spark side)
    f"       ROUND(vs[LEAST({i}, len(vs))] + {frac}"
    f" * (vs[LEAST({i + 1}, len(vs))] - vs[LEAST({i}, len(vs))]), 6)"
    f" AS {name}"
    for name, i, frac in _BKQ_POINTS
) + """
FROM arr, n
"""


@query("sketch_bottomk_quantiles", oracle=_BKQ_ORACLE, bench=True)
def sketch_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k quantile sketch over l_extendedprice: keep the
    k = 256 rows with the smallest md5-u32 row hash (uniform sample,
    ties on the 32-bit hash broken by value — value-identical however
    the cut falls), estimate p25/p50/p75/p95 by linear interpolation in
    the sorted sample. TakeOrderedAndProject keeps per-partition state
    at k rows and merges once; the exact row count rides a separate
    partial-agg'd one-row aggregate (crossJoin(broadcast) of two 1-row
    relations, the KMV pattern). Exactly oracle-checked despite being
    an approximate estimator — determinism is the contract."""
    from clinical_bi_spark.operators.dedup import _md5_word

    t = load_tables(tune(spark), sf_dir)
    h = t.lineitem.select(
        F.col("l_extendedprice").cast("double").alias("v"),
        _md5_word(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
                F.lit(":bkq"),
            ),
            1,
        ).alias("hv"),
    )
    samp = h.orderBy("hv", "v").limit(_BKQ_K)
    arr = samp.agg(F.sort_array(F.collect_list("v")).alias("vs"))
    n = t.lineitem.agg(F.count("*").cast("bigint").alias("n_rows"))
    vs = F.col("vs")
    return (
        arr.crossJoin(F.broadcast(n))
        .select(
            F.lit(_BKQ_K).cast("int").alias("k"),
            "n_rows",
            *[
                # LEAST-clamped indices: n_rows < k leaves a short
                # sample; positions beyond it collapse onto the last
                # element instead of throwing (mirrors the oracle's
                # LEAST(i, len(vs)); degenerate-input sweep).
                # F.get (0-based, NULL out of bounds) rather than
                # element_at: an EMPTY relation clamps the index to 0,
                # where element_at raises ANSI INVALID_ARRAY_INDEX while
                # the oracle's vs[0] is NULL — get(-1) is the matching
                # NULL
                F.round(
                    F.get(vs, F.least(F.lit(i), F.size(vs)) - 1)
                    + F.lit(frac)
                    * (
                        F.get(vs, F.least(F.lit(i + 1), F.size(vs)) - 1)
                        - F.get(vs, F.least(F.lit(i), F.size(vs)) - 1)
                    ),
                    6,
                ).alias(name)
                for name, i, frac in _BKQ_POINTS
            ],
        )
    )
