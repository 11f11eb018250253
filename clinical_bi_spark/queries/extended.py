"""Extended relational surface: as-of join, rollup/grouping sets, pivot,
MERGE-style upsert emulation, salted aggregation — §2.5's 'reserved for
extensions' plus the common OLAP patterns a reference user would reach for
next. All oracle-checked (DuckDB speaks ASOF JOIN and ROLLUP natively).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_bi_spark.caching import persist_tracked
from clinical_bi_spark.operators.asof import asof_join
from clinical_bi_spark.queries import query
from clinical_bi_spark.session import tune
from clinical_bi_spark.sources import load_tables

# ---------------------------------------------------------------------------
# As-of join: for each error event, the most recent click by the same user.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts, MAX(value) AS value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), errors AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'error'
)
SELECT e.event_id AS event_id,
       e.user_id  AS user_id,
       e.ts       AS ts,
       c.value    AS value_asof
FROM errors e
ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
"""


@query("asof_join_events", oracle=_ASOF_ORACLE, bench=True)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via union+window (operators/asof.py) — one shuffle on the
    key, linear partition-local pass; pinned against DuckDB's native
    ASOF LEFT JOIN. Right side pre-aggregated per (user, ts) so inclusive
    ties are deterministic in both engines."""
    t = load_tables(tune(spark), sf_dir)
    clicks = (
        t.events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    errors = t.events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(errors, clicks, key="user_id", ts="ts", value_cols=["value"])
    return out.select("event_id", "user_id", "ts", "value_asof")


# ---------------------------------------------------------------------------
# Rollup (GROUPING SETS family).
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT l_returnflag                   AS l_returnflag,
       l_linestatus                   AS l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) + 2 * CAST(GROUPING(l_linestatus) AS INT)
         AS grouping_level,
       COUNT(*)                       AS n,
       ROUND(SUM(l_quantity), 4)      AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("agg_rollup", oracle=_ROLLUP_ORACLE, bench=True)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (§2.5 extension): grand total + per-flag + per
    (flag, status), with grouping indicators to disambiguate NULL keys."""
    t = load_tables(tune(spark), sf_dir)
    return (
        t.lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            (
                F.grouping("l_returnflag").cast("int")
                + 2 * F.grouping("l_linestatus").cast("int")
            ).alias("grouping_level"),
        )
        .select("l_returnflag", "l_linestatus", "grouping_level", "n", "sum_qty")
    )


# ---------------------------------------------------------------------------
# Pivot.
# ---------------------------------------------------------------------------

_PIVOT_ORACLE = """
SELECT l_linestatus AS l_linestatus,
       ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 4) AS A,
       ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 4) AS N,
       ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 4) AS R
FROM lineitem
GROUP BY l_linestatus
"""


@query("agg_pivot", oracle=_PIVOT_ORACLE)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot wide (§2.5 extension). Explicit value list — at scale an
    unconstrained pivot forces an extra distinct pass to discover values."""
    t = load_tables(tune(spark), sf_dir)
    out = (
        t.lineitem.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 4))
    )
    return out


# ---------------------------------------------------------------------------
# MERGE-style upsert emulation (no Delta in this runtime): anti-join + union.
# ---------------------------------------------------------------------------

_MERGE_ORACLE = """
SELECT c_custkey                    AS c_custkey,
       CASE WHEN c_acctbal > 5000 THEN 'VIP' ELSE c_mktsegment END AS c_mktsegment,
       c_acctbal                    AS c_acctbal
FROM customer
"""


@query("merge_upsert_emulation", oracle=_MERGE_ORACLE)
def merge_upsert_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (guide: 'CDC/SCD2 — emulate with anti-join +
    union'): updates replace matched rows, unmatched base rows pass
    through. With a table format (Delta/Iceberg) this becomes MERGE — the
    pattern here is the format-free equivalent."""
    t = load_tables(tune(spark), sf_dir)
    base = t.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
    updates = base.filter(F.col("c_acctbal") > 5000).withColumn(
        "c_mktsegment", F.lit("VIP")
    )
    untouched = base.join(updates.select("c_custkey"), "c_custkey", "left_anti")
    return untouched.unionByName(updates)


# ---------------------------------------------------------------------------
# Salted (two-phase) aggregation for skewed keys.
# ---------------------------------------------------------------------------

_SALTED_ORACLE = """
SELECT event_type AS event_type, COUNT(*) AS n
FROM events GROUP BY event_type
"""


@query("agg_salted_count", oracle=_SALTED_ORACLE)
def agg_salted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted count (operators/skew.py): identical result to the
    direct groupBy — the oracle proves the salt+merge is transparent —
    while bounding any single reducer's share of a hot key at 1/n_salts."""
    from clinical_bi_spark.operators.skew import two_phase_count

    t = load_tables(tune(spark), sf_dir)
    return two_phase_count(t.events, "event_type", n_salts=8)


# ---------------------------------------------------------------------------
# Exact percentiles (sort-based aggregate) + approx variant.
# ---------------------------------------------------------------------------

_PERCENTILE_ORACLE = """
SELECT l_returnflag AS l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_percentiles", oracle=_PERCENTILE_ORACLE, bench=True)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    quantile_cont). The 100 TB flag-switch is percentile_approx
    (t-digest sketch, mergeable partials) — registered rows-only below."""
    t = load_tables(tune(spark), sf_dir)
    # one percentile aggregate with an array of fractions: the per-group
    # value buffer is built (and sorted) once, not once per fraction
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, array(0.5D, 0.9D))").alias("pcts"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("pcts")[0], 4).alias("median_price"),
            F.round(F.col("pcts")[1], 4).alias("p90_price"),
            "n",
        )
    )


@query("agg_percentiles_approx", oracle=None)
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles for the 100 TB path (single pass, mergeable;
    no global sort). Rows-only: approximation has no exact oracle."""
    t = load_tables(tune(spark), sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("median_price"),
        F.percentile_approx("l_extendedprice", 0.9, 10000).alias("p90_price"),
    )


# ---------------------------------------------------------------------------
# lag/lead/first/last window battery.
# ---------------------------------------------------------------------------

_LAG_LEAD_ORACLE = """
SELECT o_custkey AS o_custkey,
       o_orderkey AS o_orderkey,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       first_value(o_totalprice) OVER w AS first_price,
       ROUND(o_totalprice - COALESCE(lag(o_totalprice) OVER w, o_totalprice), 4)
         AS price_delta
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("w3_lag_lead_first", oracle=_LAG_LEAD_ORACLE)
def w3_lag_lead_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset/first-value window battery (§2.5 extension): per-customer
    order sequence deltas — one shuffle on the partition key."""
    from pyspark.sql.window import Window

    t = load_tables(tune(spark), sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.round(
            F.col("o_totalprice") - F.coalesce(prev, F.col("o_totalprice")), 4
        ).alias("price_delta"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS / CUBE via the spark.sql path (SQL API surface, F11 parity
# with the reference's assembled-SQL entry style).
# ---------------------------------------------------------------------------

_GROUPING_SETS_ORACLE = """
SELECT o_orderstatus AS o_orderstatus,
       o_orderpriority AS o_orderpriority,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 4) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("agg_grouping_sets", oracle=_GROUPING_SETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through spark.sql() — the engine's SQL text
    entry point (the reference assembles SQL strings, ct_data.py:72-91;
    F11), exercised on a grouping-sets aggregate."""
    t = load_tables(tune(spark), sf_dir)
    t.orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 4) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_CUBE_ORACLE = """
SELECT o_orderstatus AS o_orderstatus,
       c_mktsegment AS c_mktsegment,
       COUNT(*) AS n
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY CUBE (o_orderstatus, c_mktsegment)
"""


@query("agg_cube", oracle=_CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over a join (all 2^2 grouping combinations)."""
    t = load_tables(tune(spark), sf_dir)
    return (
        t.orders.join(
            F.broadcast(t.customer), F.col("c_custkey") == F.col("o_custkey")
        )
        .cube("o_orderstatus", "c_mktsegment")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# SCD2 (type-2 slowly-changing dimension) history build.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH seq AS (
  SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
         lag(o_orderpriority) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS prev
  FROM orders
), chg AS (
  SELECT * FROM seq WHERE prev IS NULL OR prev <> o_orderpriority
)
SELECT o_custkey AS o_custkey,
       CAST(row_number() OVER w AS INT) AS version,
       o_orderpriority AS segment,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM chg
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("etl_scd2_history", oracle=_SCD2_ORACLE, bench=True)
def etl_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history from a change log (the warehouse pattern behind
    the reference's derived-table rebuilds, ct_data.py's idea of 'current
    state' generalized to full history): treat each order as an event that
    may change the customer's priority segment; collapse consecutive
    repeats, then version the survivors with [valid_from, valid_to)
    intervals and an is_current flag.

    Scale shape: both window passes partition on o_custkey and sort on the
    same (o_orderdate, o_orderkey) key, so Catalyst plans ONE exchange and
    one sort — the change-filter and the versioning ride the same
    partition-local pass. The tie-break on o_orderkey makes the ordering
    total, so the collapse is deterministic in both engines."""
    t = load_tables(tune(spark), sf_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = (
        t.orders.withColumn("prev", F.lag("o_orderpriority").over(w))
        .filter(
            F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority"))
        )
    )
    nxt = F.lead("o_orderdate").over(w)
    return chg.select(
        "o_custkey",
        F.row_number().over(w).alias("version"),
        F.col("o_orderpriority").alias("segment"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Statistical aggregate battery from exact integer sums.
# ---------------------------------------------------------------------------

# Correctness model: corr/stddev/covar/regr_slope are float-order-sensitive
# if computed by the engines' native streaming aggregates (Welford /
# pairwise merges differ), so this battery computes the six classical
# BIGINT power sums exactly (order-independent, mergeable — the same
# partial-agg shape a 1000-executor cluster needs) and then derives every
# statistic through ONE identical correctly-rounded double expression in
# both engines. Domain bounds that keep every conversion exact (< 2^53):
# x = quantity in [1, 50] integral; y = price rounded to whole dollars
# <= ~110k, so syy <= n * 1.2e10 stays exactly representable up to n ~ 7e5
# per group (sf0.1). The documented 100 TB switch is DECIMAL(38,0) sums —
# same shape, wider lattice.
_STATS_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(qx)::BIGINT AS sx,  SUM(qy)::BIGINT AS sy,
         SUM(qx * qx)::BIGINT AS sxx,
         SUM(qy * qy)::BIGINT AS syy,
         SUM(qx * qy)::BIGINT AS sxy
  FROM (
    SELECT l_returnflag,
           CAST(l_quantity AS BIGINT) AS qx,
           CAST(ROUND(l_extendedprice) AS BIGINT) AS qy
    FROM lineitem
  ) t
  GROUP BY l_returnflag
)
SELECT l_returnflag AS l_returnflag,
       n AS n,
       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_price_usd,
       sqrt((CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
            / CAST(n - 1 AS DOUBLE)) AS stddev_qty,
       (CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         / CAST(n - 1 AS DOUBLE) AS covar_qty_price,
       (CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt((CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
         AS corr_qty_price,
       (CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         / (CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
         AS regr_slope_price_on_qty
FROM s
"""


@query("agg_stats_battery", oracle=_STATS_ORACLE)
def agg_stats_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr / stddev_samp / covar_samp / regr_slope per group, EXACTLY
    oracled: six BIGINT power sums (order-independent, partial-agg
    mergeable) feed one identical double expression in both engines —
    every conversion below 2^53 is exact and every *, /, sqrt is
    IEEE-754 correctly rounded, so the doubles are bit-identical. The
    engines' native corr()/stddev() would NOT hash-match (Welford merge
    order varies with partitioning); this battery is how a distributed
    engine gets deterministic second-moment statistics."""
    t = load_tables(tune(spark), sf_dir)
    qx = F.col("l_quantity").cast("bigint")
    qy = F.round(F.col("l_extendedprice")).cast("bigint")
    s = (
        t.lineitem.select(
            "l_returnflag", qx.alias("qx"), qy.alias("qy")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("qx").alias("sx"),
            F.sum("qy").alias("sy"),
            F.sum(F.col("qx") * F.col("qx")).alias("sxx"),
            F.sum(F.col("qy") * F.col("qy")).alias("syy"),
            F.sum(F.col("qx") * F.col("qy")).alias("sxy"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    # try_divide: a single-row group (n-1 = 0) or a zero-variance column
    # makes these statistics undefined; DuckDB's division yields NULL
    # there, ANSI Spark would throw DIVIDE_BY_ZERO — the degenerate-
    # input sweep (tests/test_analytics.py) pins NULL on both engines
    var_x = F.try_divide(sxx - sx * sx / n, (F.col("n") - 1).cast("double"))
    cov = F.try_divide(sxy - sx * sy / n, (F.col("n") - 1).cast("double"))
    return s.select(
        "l_returnflag",
        "n",
        (sx / n).alias("mean_qty"),
        (sy / n).alias("mean_price_usd"),
        F.sqrt(var_x).alias("stddev_qty"),
        cov.alias("covar_qty_price"),
        F.try_divide(
            sxy - sx * sy / n,
            F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)),
        ).alias("corr_qty_price"),
        F.try_divide(sxy - sx * sy / n, sxx - sx * sx / n).alias(
            "regr_slope_price_on_qty"
        ),
    )


_UNPIVOT_ORACLE = """
SELECT o_orderkey AS o_orderkey, metric AS metric, value AS value
FROM (
  SELECT o_orderkey, 'totalprice' AS metric, ROUND(o_totalprice, 4) AS value
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'shippriority', CAST(o_custkey AS DOUBLE) FROM orders
) t
"""


@query("unpivot_long", oracle=_UNPIVOT_ORACLE)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide→long via stack() (§2.5 extension; the inverse of
    agg_pivot)."""
    t = load_tables(tune(spark), sf_dir)
    return t.orders.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'totalprice', round(o_totalprice, 4),"
            " 'shippriority', cast(o_custkey as double)) AS (metric, value)"
        ),
    ).select("o_orderkey", "metric", "value")


# ---------------------------------------------------------------------------
# Time-range rolling window (RANGE frame over event time).
# ---------------------------------------------------------------------------

_ROLLING_RANGE_ORACLE = """
SELECT o_custkey AS o_custkey,
       o_orderkey AS o_orderkey,
       o_orderdate AS o_orderdate,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT)
         AS roll_cents,
       COUNT(*) OVER w AS roll_n,
       CAST(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w
                 AS BIGINT) AS DOUBLE) / 100.0 AS roll_usd
FROM orders
WINDOW w AS (
  PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
)
"""


@query("w5_rolling_range_window", oracle=_ROLLING_RANGE_ORACLE)
def w5_rolling_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day rolling revenue per customer — a RANGE frame over event
    time, the window shape rows-based frames cannot express when events
    are irregularly spaced. The ORDER BY key is integer DAYS since epoch
    (datediff — date arithmetic, deliberately timezone-free: an epoch-
    seconds key would shift frame membership across DST transitions
    depending on session timezone). Summing integer CENTS keeps the
    rolling aggregate order-independent (range frames include all ORDER
    BY ties at once, and a float sum's value would depend on the
    engine's tie visit order); the usd column is one correctly-rounded
    division of the exact total. One shuffle on the partition key."""
    from pyspark.sql.window import Window

    t = load_tables(tune(spark), sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")))
        .rangeBetween(-30, 0)
    )
    roll = F.sum(cents).over(w)
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        roll.alias("roll_cents"),
        F.count("*").over(w).alias("roll_n"),
        (roll.cast("double") / 100.0).alias("roll_usd"),
    )


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) self-join via PassJoin segment blocking.
# ---------------------------------------------------------------------------

# The oracle is the NAIVE all-pairs form on purpose (same contract as
# dedup_simhash_blocked): a green driver row proves the segment blocking
# loses no pair within the radius, not just that the arithmetic matches.
_FUZZY_ORACLE = """
SELECT a.p_partkey AS a_id,
       b.p_partkey AS b_id,
       a.p_name AS a_text,
       b.p_name AS b_text,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM part a JOIN part b ON a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


@query("j_fuzzy_editdist_pairs", oracle=_FUZZY_ORACLE, bench=True)
def j_fuzzy_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All part-name pairs within Levenshtein distance 2 — record
    linkage without a cross join (operators/fuzzy.py, PassJoin segment
    blocking: candidates come from ONE hash equi-join on
    (length, segment_index, segment_text) keys; exact levenshtein runs
    only on blocked candidates). The all-pairs oracle proves the
    blocking is lossless on this data."""
    from clinical_bi_spark.operators.fuzzy import editdist_self_join

    t = load_tables(tune(spark), sf_dir)
    out = editdist_self_join(t.part, "p_partkey", "p_name", k=2)
    return out.select(
        F.col("a_id"),
        F.col("b_id"),
        "a_text",
        "b_text",
        F.col("dist").cast("int").alias("dist"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation from exact integer doubled ranks.
# ---------------------------------------------------------------------------

# Tied values take the average rank; avg_rank = rank + (ties-1)/2 can be a
# half-integer, so both engines compute DOUBLED ranks r2 = 2*rank+ties-1
# (always integral — rank() is the min rank of the tie group). Pearson
# correlation is invariant under the x -> 2x affine map, so rho over r2
# equals rho over the average ranks, and the exact-BIGINT power-sum
# technique from agg_stats_battery applies unchanged.
_SPEARMAN_ORACLE = """
WITH ranked AS (
  SELECT l_returnflag,
         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY qx)
           + COUNT(*) OVER (PARTITION BY l_returnflag, qx) - 1 AS rx,
         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY qy)
           + COUNT(*) OVER (PARTITION BY l_returnflag, qy) - 1 AS ry
  FROM (
    SELECT l_returnflag,
           CAST(l_quantity AS BIGINT) AS qx,
           CAST(ROUND(l_extendedprice) AS BIGINT) AS qy
    FROM lineitem
  ) t
), s AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(rx)::BIGINT AS sx, SUM(ry)::BIGINT AS sy,
         SUM(rx * rx)::BIGINT AS sxx, SUM(ry * ry)::BIGINT AS syy,
         SUM(rx * ry)::BIGINT AS sxy
  FROM ranked GROUP BY l_returnflag
)
SELECT l_returnflag AS l_returnflag,
       n AS n,
       (CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt((CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
         AS spearman_rho
FROM s
"""


@query("agg_spearman_corr", oracle=_SPEARMAN_ORACLE)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per group, EXACTLY oracled: tie-average
    ranks doubled into integers (see _SPEARMAN_ORACLE), then the
    agg_stats_battery power-sum pipeline — bit-identical across engines.
    Scale shape: one exchange on the group key serves all four window
    computations (two rank sorts + two tie counts), then the six sums
    partial-agg map-side."""
    from pyspark.sql.window import Window

    t = load_tables(tune(spark), sf_dir)
    g = "l_returnflag"
    base = t.lineitem.select(
        F.col(g),
        F.col("l_quantity").cast("bigint").alias("qx"),
        F.round(F.col("l_extendedprice")).cast("bigint").alias("qy"),
    )
    # tie counts ride the SAME sort as the ranks (RANGE CURRENT ROW frame
    # = all order-value ties), so the plan is one exchange + two sorts,
    # not four — values identical to a (group, value)-partitioned count
    wx = Window.partitionBy(g).orderBy("qx")
    wy = Window.partitionBy(g).orderBy("qy")
    rx = (
        2 * F.rank().over(wx)
        + F.count("*").over(wx.rangeBetween(0, 0))
        - 1
    )
    ry = (
        2 * F.rank().over(wy)
        + F.count("*").over(wy.rangeBetween(0, 0))
        - 1
    )
    ranked = base.select(F.col(g), rx.alias("rx"), ry.alias("ry"))
    s = ranked.groupBy(g).agg(
        F.count("*").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return s.select(
        g,
        "n",
        # try_divide: zero rank variance (constant column / single row)
        # is NULL on both engines, not an ANSI crash
        F.try_divide(
            sxy - sx * sy / n,
            F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)),
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Point-in-time (feature-store-correct) dimension lookup over SCD2.
# ---------------------------------------------------------------------------

# The training-data correctness operation: every fact row must see the
# dimension version that was valid AT ITS EVENT TIME — never a later
# one (future leakage) and never an earlier one once superseded. Facts
# here are the orders themselves, looked up against the SCD2 segment
# history they generated: each order must land in its own containing
# [valid_from, valid_to) version, which doubles as a self-consistency
# proof of the history build.
_PIT_ORACLE = f"""
WITH hist AS ({_SCD2_ORACLE}),
-- unique right side per (key, ts): when two versions share a change
-- date the later one (max version) is the survivor at that instant
vers AS (
  SELECT o_custkey, valid_from,
         MAX(struct_pack(version := version, segment := segment)) AS vs
  FROM hist GROUP BY o_custkey, valid_from
), v2 AS (
  SELECT o_custkey, valid_from,
         vs.version AS version, vs.segment AS segment
  FROM vers
)
SELECT o.o_orderkey AS o_orderkey,
       o.o_custkey AS o_custkey,
       o.o_orderdate AS o_orderdate,
       v.version AS version_asof,
       v.segment AS segment_asof
FROM orders o
ASOF LEFT JOIN v2 v
  ON o.o_custkey = v.o_custkey AND o.o_orderdate >= v.valid_from
"""


@query("j_point_in_time_scd2", oracle=_PIT_ORACLE)
def j_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of facts against SCD2 history (the
    feature-store correctness primitive: no future leakage, no stale
    reads) — composed from etl_scd2_history + the union+window as-of
    operator, so the whole lookup costs ONE shuffle on the key and a
    partition-local pass; right-side ties at a shared change date
    pre-reduce to the max version (deterministic in both engines via
    struct MAX)."""
    t = load_tables(tune(spark), sf_dir)
    hist = etl_scd2_history(spark, sf_dir)
    vers = (
        hist.groupBy("o_custkey", "valid_from")
        .agg(F.max(F.struct("version", "segment")).alias("vs"))
        .select(
            "o_custkey",
            F.col("valid_from").alias("o_orderdate"),
            F.col("vs.version").alias("version"),
            F.col("vs.segment").alias("segment"),
        )
    )
    facts = t.orders.select("o_orderkey", "o_custkey", "o_orderdate")
    out = asof_join(
        facts, vers, key="o_custkey", ts="o_orderdate",
        value_cols=["version", "segment"],
    )
    return out.select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.col("version_asof"), F.col("segment_asof"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (mergeable partials).
# ---------------------------------------------------------------------------

# The incremental-ETL contract: merge(partial(old), partial(delta)) must
# equal agg(old UNION delta). The query materializes both partials and
# merges them; the oracle computes the full aggregate directly — a green
# row proves the merge law holds in the engine, which is what lets a
# nightly pipeline update a 100 TB rollup by aggregating ONLY the new
# partition and folding it in.
_INCR_AGG_ORACLE = """
SELECT o_orderstatus AS o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(MIN(o_orderdate) AS TIMESTAMP) AS first_order,
       CAST(MAX(o_orderdate) AS TIMESTAMP) AS last_order
FROM orders
GROUP BY o_orderstatus
"""


@query("etl_incremental_agg_maintenance", oracle=_INCR_AGG_ORACLE)
def etl_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: the 'old' partition (orderkey
    below the midpoint) and the 'delta' partition aggregate SEPARATELY
    to partials (count/sum-cents/min/max — all mergeable), then fold
    together; the full-recompute oracle proves merge-equals-recompute.
    Integer cents keep the sum order-independent so the merged total is
    exact, not merely close."""
    t = load_tables(tune(spark), sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).alias("total_cents"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )

    cutoff = t.orders.agg(
        F.floor(F.max("o_orderkey") / 2).cast("bigint").alias("c")
    )
    with_cut = t.orders.crossJoin(F.broadcast(cutoff))
    old = partial(with_cut.filter(F.col("o_orderkey") < F.col("c")))
    delta = partial(with_cut.filter(F.col("o_orderkey") >= F.col("c")))
    return (
        old.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").cast("bigint").alias("total_cents"),
            F.min("first_order").alias("first_order"),
            F.max("last_order").alias("last_order"),
        )
    )


# ---------------------------------------------------------------------------
# End-to-end entity resolution: fuzzy pairs -> components -> canon table.
# ---------------------------------------------------------------------------

_ENTITY_ORACLE = """
WITH RECURSIVE pairs AS (
  SELECT a.p_partkey AS a_id, b.p_partkey AS b_id
  FROM part a JOIN part b ON a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 2
), nodes AS (
  SELECT DISTINCT u FROM (
    SELECT a_id AS u FROM pairs UNION ALL SELECT b_id AS u FROM pairs
  )
), edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id AS u, a_id AS v FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM nodes
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
), comp AS (
  SELECT node, MIN(lbl) AS entity_id FROM reach GROUP BY node
), assigned AS (
  SELECT p.p_partkey, COALESCE(c.entity_id, p.p_partkey) AS entity_id
  FROM part p LEFT JOIN comp c ON c.node = p.p_partkey
)
SELECT a.p_partkey AS p_partkey,
       CAST(a.entity_id AS BIGINT) AS entity_id,
       canon.p_name AS canonical_name,
       CAST(m.n_members AS BIGINT) AS n_members
FROM assigned a
JOIN part canon ON canon.p_partkey = a.entity_id
JOIN (SELECT entity_id, COUNT(*) AS n_members FROM assigned
      GROUP BY entity_id) m ON m.entity_id = a.entity_id
"""


@query("entity_resolution_parts", oracle=_ENTITY_ORACLE)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: PassJoin fuzzy pairs (distance <= 2)
    -> connected components (A~B, B~C merge even when A,C never paired)
    -> a canonical entity table (entity_id = min member key, canonical
    name = that member's name, member counts; unmatched parts are
    singleton entities). Composes two exactly-oracled operators into the
    master-data deliverable, and stays exactly oracled end to end
    (all-pairs edges + recursive-CTE components on the DuckDB side).

    Scale shape: the pair miner's equi-join blocking + the adaptive CC
    (single-task union-find under the edge threshold, min-label rounds
    above it) — entity assembly itself is two broadcast-scale joins on
    the entity key."""
    from clinical_bi_spark.operators.dedup import connected_components
    from clinical_bi_spark.operators.fuzzy import editdist_self_join

    t = load_tables(tune(spark), sf_dir)
    pairs = editdist_self_join(t.part, "p_partkey", "p_name", k=2).select(
        "a_id", "b_id"
    )
    comp = connected_components(pairs, src_col="a_id", dst_col="b_id").select(
        F.col("id").alias("p_partkey"), F.col("component").alias("entity_id")
    )
    assigned = (
        t.part.select("p_partkey")
        .join(comp, "p_partkey", "left")
        .select(
            "p_partkey",
            F.coalesce(F.col("entity_id"), F.col("p_partkey")).alias(
                "entity_id"
            ),
        )
    )
    members = assigned.groupBy("entity_id").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    canon = t.part.select(
        F.col("p_partkey").alias("entity_id"),
        F.col("p_name").alias("canonical_name"),
    )
    return (
        assigned.join(members, "entity_id")
        .join(canon, "entity_id")
        .select(
            "p_partkey",
            F.col("entity_id").cast("bigint").alias("entity_id"),
            "canonical_name",
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit: the fraud/drift screen — the leading
# significant digit of positive amounts should follow P(d) = log10(1+1/d).
# Counts are exact integers; shares and the Benford expectation are
# identical double expressions on both engines (log10 enters display
# only, rounded).
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH d AS (
  SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit
  FROM orders WHERE o_totalprice >= 1
), c AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
), t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM c
)
SELECT c.digit AS digit, c.n AS n,
       ROUND(CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS obs_share,
       ROUND(log10(1.0 + 1.0 / CAST(c.digit AS DOUBLE)), 6) AS benford_share,
       ROUND(ABS(CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE)
                 - log10(1.0 + 1.0 / CAST(c.digit AS DOUBLE))), 6) AS abs_dev
FROM c, t
"""


@query("agg_benford_firstdigit", oracle=_BENFORD_ORACLE)
def agg_benford_firstdigit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs the
    Benford expectation — the classic data-quality / fraud drift audit.
    FLOOR before the integer cast on BOTH engines (DuckDB's double->int
    cast rounds, Spark's truncates — floor removes the divergence). One
    9-group partial-agg'd count; the total enters as a broadcast one-row
    aggregate."""
    t = load_tables(tune(spark), sf_dir)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    )
    c = (
        t.orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    # `or 0`: SUM over zero qualifying orders is NULL — the empty audit
    # must yield zero rows, not a driver-side float(None) crash (the
    # 0.0 literal never divides a real row because
    # the grouped relation is empty exactly when total is NULL)
    total = c.agg(F.sum("n")).first()[0] or 0
    share = F.col("n").cast("double") / F.lit(float(total))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return c.select(
        "digit",
        "n",
        F.round(share, 6).alias("obs_share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(F.abs(share - benford), 6).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# Welch's two-sample t-test: mean order-value difference between
# returned ('R') and delivered ('A') lineitems, unequal variances. Same
# exact-power-sum machinery as agg_stats_battery: BIGINT sums feed ONE
# identical double expression (t statistic + Welch-Satterthwaite df) on
# both engines — bit-identical without tolerance.
# ---------------------------------------------------------------------------

_WELCH_ORACLE = """
WITH s AS (
  SELECT
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS n1,
    SUM(CASE WHEN l_returnflag = 'R' THEN q ELSE 0 END)::BIGINT AS s1,
    SUM(CASE WHEN l_returnflag = 'R' THEN q * q ELSE 0 END)::BIGINT AS ss1,
    SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::BIGINT AS n2,
    SUM(CASE WHEN l_returnflag = 'A' THEN q ELSE 0 END)::BIGINT AS s2,
    SUM(CASE WHEN l_returnflag = 'A' THEN q * q ELSE 0 END)::BIGINT AS ss2
  FROM (SELECT l_returnflag, CAST(ROUND(l_extendedprice) AS BIGINT) AS q
        FROM lineitem WHERE l_returnflag IN ('R', 'A')) t
)
SELECT n1, n2,
       CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean_r,
       CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean_a,
       (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
       / sqrt(((CAST(ss1 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
               / CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE)
              + ((CAST(ss2 AS DOUBLE)
                  - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                 / CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE)) AS t_stat,
       (((CAST(ss1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
         / CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE)
        + ((CAST(ss2 AS DOUBLE)
            - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE))
       * (((CAST(ss1 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
           / CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE)
          + ((CAST(ss2 AS DOUBLE)
              - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             / CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE))
       / ((((CAST(ss1 AS DOUBLE)
             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
            / CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE))
          * (((CAST(ss1 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
              / CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE))
          / CAST(n1 - 1 AS DOUBLE)
          + (((CAST(ss2 AS DOUBLE)
               - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
              / CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE))
          * (((CAST(ss2 AS DOUBLE)
               - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
              / CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE))
          / CAST(n2 - 1 AS DOUBLE)) AS welch_df
FROM s
"""


@query("agg_ttest_welch", oracle=_WELCH_ORACLE)
def agg_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test (returned vs delivered
    order values): t statistic and Welch-Satterthwaite degrees of
    freedom from six BIGINT power sums in ONE conditional-aggregation
    pass (no join, map-side combinable, order-independent) — the
    deterministic distributed form of a test whose naive per-group
    variance would hash-diverge with partitioning."""
    t = load_tables(tune(spark), sf_dir)
    q = F.round(F.col("l_extendedprice")).cast("bigint")
    is1 = F.col("l_returnflag") == "R"
    is2 = F.col("l_returnflag") == "A"
    s = (
        t.lineitem.filter(F.col("l_returnflag").isin("R", "A"))
        .select(F.col("l_returnflag"), q.alias("q"))
        .agg(
            F.sum(F.when(is1, 1).otherwise(0)).cast("bigint").alias("n1"),
            F.sum(F.when(is1, F.col("q")).otherwise(0)).cast("bigint").alias("s1"),
            F.sum(F.when(is1, F.col("q") * F.col("q")).otherwise(0))
            .cast("bigint")
            .alias("ss1"),
            F.sum(F.when(is2, 1).otherwise(0)).cast("bigint").alias("n2"),
            F.sum(F.when(is2, F.col("q")).otherwise(0)).cast("bigint").alias("s2"),
            F.sum(F.when(is2, F.col("q") * F.col("q")).otherwise(0))
            .cast("bigint")
            .alias("ss2"),
        )
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    ss1 = F.col("ss1").cast("double")
    ss2 = F.col("ss2").cast("double")
    v1n = ((ss1 - s1 * s1 / n1) / (F.col("n1") - 1).cast("double")) / n1
    v2n = ((ss2 - s2 * s2 / n2) / (F.col("n2") - 1).cast("double")) / n2
    se2 = v1n + v2n
    return s.select(
        "n1",
        "n2",
        (s1 / n1).alias("mean_r"),
        (s2 / n2).alias("mean_a"),
        ((s1 / n1 - s2 / n2) / F.sqrt(se2)).alias("t_stat"),
        (
            se2 * se2
            / (
                v1n * v1n / (F.col("n1") - 1).cast("double")
                + v2n * v2n / (F.col("n2") - 1).cast("double")
            )
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation: the classic customer-value quintile model over
# the event stream — recency (days since last event, vs corpus max),
# frequency (event count), monetary (value sum in exact micro-units) —
# each scored 1..5 by ntile over a DETERMINISTIC total order (metric,
# then user_id), so the segmentation is engine-exact.
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH mx AS (
  SELECT MAX(epoch(ts)) AS emax FROM events
), per_user AS (
  SELECT user_id,
         MAX(epoch(ts)) AS last_e,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
           AS monetary_micro
  FROM events GROUP BY user_id
), scored AS (
  SELECT user_id,
         CAST(FLOOR((mx.emax - last_e) / 86400.0) AS BIGINT) AS recency_days,
         frequency, monetary_micro,
         NTILE(5) OVER (ORDER BY last_e DESC, user_id) AS r_score,
         NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
         NTILE(5) OVER (ORDER BY monetary_micro DESC, user_id) AS m_score
  FROM per_user, mx
)
SELECT user_id, recency_days, frequency, monetary_micro,
       CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM scored
"""


@query("evt_rfm_segmentation", oracle=_RFM_ORACLE, bench=True)
def evt_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary quintile segmentation per user. The
    monetary metric folds as EXACT integer micro-units (the rounding
    pattern the etl rebuild established); quintiles score over (metric,
    user_id) total orders so bucket assignment is deterministic on both
    engines.

    Quintiles come from three passes of the SHARDED
    :func:`clinical_bi_spark.operators.ranking.global_row_number`
    (range-exchange + narrow local row number + broadcast prefix offsets,
    never a SinglePartition sort; the per-user ENTITY relation is itself
    billions of rows at 100 TB) composed with ``ntile_from_rank``'s exact
    NTILE(5) bucket arithmetic, adjudicated directly against the NTILE
    SQL oracle; tests/test_plans.py asserts the plan has no
    SinglePartition exchange."""
    from clinical_bi_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
    )

    t = load_tables(tune(spark), sf_dir)
    e = F.col("ts").cast("double")
    per_user = t.events.groupBy("user_id").agg(
        F.max(e).alias("last_e"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum(F.round(F.col("value") * 1000000).cast("bigint"))
        .cast("bigint")
        .alias("monetary_micro"),
    )
    # The corpus max event time is the max of the per-user maxes, so it
    # is read off the persisted entity relation instead of a second full
    # scan of the fact table. The persist sits ABOVE the scalar action so
    # the action populates the cache (the count below then reads it).
    per_user = persist_tracked(per_user)
    emax = per_user.agg(F.max("last_e")).first()[0]
    recency = (
        F.floor((F.lit(float(emax)) - F.col("last_e")) / 86400.0)
        .cast("bigint")
        .alias("recency_days")
    )
    n_users = per_user.count()  # one scalar (cache-served), inlined
    ranked = global_row_number(
        per_user, [F.col("last_e").desc(), F.col("user_id")], out_col="__r_rnk"
    )
    ranked = global_row_number(
        ranked, [F.col("frequency").desc(), F.col("user_id")], out_col="__f_rnk"
    )
    ranked = global_row_number(
        ranked,
        [F.col("monetary_micro").desc(), F.col("user_id")],
        out_col="__m_rnk",
    )
    n_lit = F.lit(int(n_users))
    scored = ranked.select(
        "user_id",
        recency,
        "frequency",
        "monetary_micro",
        ntile_from_rank(F.col("__r_rnk"), n_lit, 5).alias("r_score"),
        ntile_from_rank(F.col("__f_rnk"), n_lit, 5).alias("f_score"),
        ntile_from_rank(F.col("__m_rnk"), n_lit, 5).alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# Winsorized mean: robust group mean with tails clipped at the
# exact interpolated p05/p95. The clipped sum decomposes into
# order-independent exact parts — SUM of integer cents STRICTLY inside
# the bounds + n_below*lo + n_above*hi — combined in ONE final double
# expression, so the result is bit-identical under any partitioning
# (the same trick that makes the stats battery deterministic where a
# naive SUM(double) of clipped values would drift).
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH b AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY l_returnflag
), s AS (
  SELECT l.l_returnflag,
         COUNT(*) AS n,
         SUM(CASE WHEN l.l_extendedprice < b.lo THEN 1 ELSE 0 END)::BIGINT
           AS n_lo,
         SUM(CASE WHEN l.l_extendedprice > b.hi THEN 1 ELSE 0 END)::BIGINT
           AS n_hi,
         SUM(CASE WHEN l.l_extendedprice >= b.lo AND l.l_extendedprice <= b.hi
                  THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                  ELSE 0 END)::BIGINT AS s_mid_cents,
         ANY_VALUE(b.lo) AS lo, ANY_VALUE(b.hi) AS hi
  FROM lineitem l JOIN b ON b.l_returnflag = l.l_returnflag
  GROUP BY l.l_returnflag
)
SELECT l_returnflag AS l_returnflag, n AS n, n_lo, n_hi,
       ROUND(lo, 4) AS p05, ROUND(hi, 4) AS p95,
       ROUND((CAST(s_mid_cents AS DOUBLE) / 100.0
              + CAST(n_lo AS DOUBLE) * lo
              + CAST(n_hi AS DOUBLE) * hi) / CAST(n AS DOUBLE), 4)
         AS winsorized_mean
FROM s
"""


@query("agg_winsorized_mean", oracle=_WINSOR_ORACLE, bench=True)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-winsorized group mean: exact interpolated bounds (the proven
    percentile/quantile_cont parity), then the order-independent clipped
    -sum decomposition above. Two passes: a tiny per-group bounds
    aggregate broadcast back onto the facts, then one partial-agg'd
    scan."""
    t = load_tables(tune(spark), sf_dir)
    b = t.lineitem.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.05D, 0.95D))").alias("p")
    ).select(
        "l_returnflag", F.col("p")[0].alias("lo"), F.col("p")[1].alias("hi")
    )
    x = F.col("l_extendedprice")
    cents = F.round(x * 100).cast("bigint")
    s = (
        t.lineitem.join(F.broadcast(b), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(x < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_lo"),
            F.sum(F.when(x > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hi"),
            F.sum(
                F.when((x >= F.col("lo")) & (x <= F.col("hi")), cents).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("s_mid_cents"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
        )
    )
    return s.select(
        "l_returnflag",
        "n",
        "n_lo",
        "n_hi",
        F.round("lo", 4).alias("p05"),
        F.round("hi", 4).alias("p95"),
        F.round(
            (
                F.col("s_mid_cents").cast("double") / 100.0
                + F.col("n_lo").cast("double") * F.col("lo")
                + F.col("n_hi").cast("double") * F.col("hi")
            )
            / F.col("n").cast("double"),
            4,
        ).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval: the published DISTRIBUTED
# bootstrap (per-row Poisson(1) replication weights instead of global
# n-of-n resampling — Chamandy et al.) made fully deterministic: the
# weight comes from an md5-u32 coin through the Poisson(1) inverse CDF
# (constant thresholds, identical literals on both engines). Each
# bootstrap replicate's mean is integer-cents / integer-count — exact —
# and the CI is an interpolated percentile over the B replicate means
# (the proven quantile_cont parity).
# ---------------------------------------------------------------------------

_BOOT_B = 200


def _pois_thresholds() -> list[int]:
    """Poisson(1) CDF thresholds scaled to u32 (floor(cdf * 2^32)): a
    coin below threshold[k] draws weight <= k — identical integer
    literals inlined into both engines' CASE chains."""
    import math

    cdf, acc = [], 0.0
    p = math.exp(-1.0)
    term = p
    for k in range(7):
        acc += term
        cdf.append(int(acc * 4294967296))
        term = term / (k + 1)
    return cdf


def _boot_weight_sql(u: str) -> str:
    th = _pois_thresholds()
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(th)
    )
    return f"CASE {cases} ELSE 7 END"


_BOOT_ORACLE = f"""
WITH w AS (
  SELECT b.b AS b,
         {_boot_weight_sql(
             "CAST('0x' || substr(md5(o_orderkey::VARCHAR || ':' "
             "|| b.b::VARCHAR), 1, 8) AS UBIGINT)"
         )} AS wt,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders, (SELECT UNNEST(range(0, {_BOOT_B})) AS b) b
), m AS (
  SELECT b,
         CAST(SUM(wt * cents) AS DOUBLE)
           / (100.0 * CAST(SUM(wt) AS DOUBLE)) AS mean_b
  FROM w GROUP BY b HAVING SUM(wt) > 0
), pt AS (
  SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           / (100.0 * COUNT(*)) AS mean_hat,
         COUNT(*) AS n
  FROM orders
)
SELECT ROUND(pt.mean_hat, 4) AS mean_hat,
       CAST(pt.n AS BIGINT) AS n,
       CAST({_BOOT_B} AS INT) AS n_boot,
       ROUND(quantile_cont(m.mean_b, 0.025), 4) AS ci_lo,
       ROUND(quantile_cont(m.mean_b, 0.975), 4) AS ci_hi
FROM m, pt
GROUP BY pt.mean_hat, pt.n
"""


@query("agg_bootstrap_ci_mean", oracle=_BOOT_ORACLE)
def agg_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for the mean order value via the deterministic
    Poisson bootstrap: each (row, replicate) draws a Poisson(1) weight
    from md5(o_orderkey || ':' || b) through constant inverse-CDF
    thresholds, so all B = 200 replicates compute in ONE pass (explode +
    partial-agg'd integer sums — the published scale form; no global
    resampling shuffle) and the whole statistic is reproducible across
    engines. Replicate means are exact integer ratios; the CI is the
    interpolated percentile over 200 of them."""
    t = load_tables(tune(spark), sf_dir)
    th = _pois_thresholds()
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    wt = F.lit(7)
    for k in range(len(th) - 1, -1, -1):
        wt = F.when(u < th[k], k).otherwise(wt)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = t.orders.select(
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "o_orderkey",
        cents.alias("cents"),
    ).select("b", wt.alias("wt"), "cents")
    m = (
        w.groupBy("b")
        .agg(
            F.sum(F.col("wt") * F.col("cents")).alias("swc"),
            F.sum("wt").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            (
                F.col("swc").cast("double")
                / (F.lit(100.0) * F.col("sw").cast("double"))
            ).alias("mean_b")
        )
    )
    pt = t.orders.agg(
        (
            F.sum(cents).cast("double") / (F.lit(100.0) * F.count("*"))
        ).alias("mean_hat"),
        F.count("*").alias("n"),
    )
    ci = m.agg(
        F.expr("percentile(mean_b, array(0.025D, 0.975D))").alias("ci")
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        F.round("mean_hat", 4).alias("mean_hat"),
        F.col("n").cast("bigint").alias("n"),
        F.lit(_BOOT_B).cast("int").alias("n_boot"),
        F.round(F.col("ci")[0], 4).alias("ci_lo"),
        F.round(F.col("ci")[1], 4).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient per group — inequality of the price distribution, the
# rank-sum identity G = 2*SUM(i*x_i)/(n*SUM(x)) - (n+1)/n over ascending
# x. SUM(i*x_i) is invariant to tie ordering (equal x within a tie), but
# both engines use the same (value, orderkey, linenumber) total order
# anyway. EXACT integer sums (cents; the rank*cents product in
# DECIMAL(19,0)*DECIMAL(19,0) -> DECIMAL(38,0), headroom past 1e12 rows x
# 1e7-cent values = 1e31 << 1e38), then one identically-associated double
# expression — bit-identical across engines, the agg_stats_battery
# contract. Reuses the sharded rank (one range exchange,
# never a SinglePartition sort).
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH r AS (
  SELECT l_returnflag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (
           PARTITION BY l_returnflag
           ORDER BY CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                    l_orderkey, l_linenumber
         ) AS rn
  FROM lineitem
), s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s_cents,
         SUM(CAST(rn AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS si
  FROM r GROUP BY l_returnflag
)
SELECT l_returnflag AS l_returnflag,
       n AS n,
       CASE WHEN s_cents <> 0 THEN
         ROUND(2.0 * CAST(si AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(s_cents AS DOUBLE))
               - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 9)
       END AS gini
FROM s
"""


@query("agg_gini_coefficient", oracle=_GINI_ORACLE, bench=True)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Gini coefficient of l_extendedprice via the rank-sum
    identity, EXACTLY oracled (see _GINI_ORACLE) — computed at the VALUE
    level, with NO per-row ranks (the equidepth profile's lesson): a tie-run of c equal values v with exclusive
    prefix count R contributes v * (R*c + c*(c+1)/2) to SUM(rank*value)
    — rank order within ties cannot matter because v is constant across
    the run. So the plan is: groupBy(flag, cents) counts (the only
    fact-scale op, map-side combined, shuffle bounded by the PRICE
    DOMAIN), sharded running counts over distinct values
    (:func:`clinical_bi_spark.operators.ranking.global_prefix_sums`,
    domain-bounded), then exact DECIMAL(38,0) tie-run arithmetic
    (c*(c+1)/2 split into even/odd integer halves — no fractional
    intermediate) and one identically-associated double expression.
    All-zero prices yield NULL (not an ANSI crash) on both engines —
    the degenerate-input sweep's contract."""
    from clinical_bi_spark.operators.ranking import global_prefix_sums

    t = load_tables(tune(spark), sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    vals = persist_tracked(
        t.lineitem.select("l_returnflag", cents.alias("cents"))
        .groupBy("l_returnflag", "cents")
        .agg(F.count("*").alias("c"))
    )
    cum = global_prefix_sums(
        vals,
        [F.col("cents")],
        ["c"],
        ["k"],
        partition_by=["l_returnflag"],
    )
    c_l = F.col("c")
    # triangular term c*(c+1)/2 with integer halving (c or c+1 is even),
    # factors cast to DECIMAL(19,0) so products land in DECIMAL(38,0)
    half_c = F.expr("CAST(c DIV 2 AS DECIMAL(19,0))")
    half_c1 = F.expr("CAST((c + 1) DIV 2 AS DECIMAL(19,0))")
    c_d = c_l.cast("decimal(19,0)")
    c1_d = (c_l + F.lit(1)).cast("decimal(19,0)")
    tri = F.when(c_l % 2 == 0, half_c * c1_d).otherwise(c_d * half_c1)
    r_d = (F.col("k") - c_l).cast("decimal(19,0)")  # exclusive prefix
    rsum = r_d * c_d + tri
    term = F.col("cents").cast("decimal(8,0)") * rsum
    s = cum.groupBy("l_returnflag").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("cents").cast("decimal(19,0)") * c_d).alias("s_cents"),
        F.sum(term).alias("si"),
    )
    n_d = F.col("n").cast("double")
    s_d = F.col("s_cents").cast("double")
    si_d = F.col("si").cast("double")
    return s.select(
        "l_returnflag",
        "n",
        F.when(
            F.col("s_cents") != 0,
            F.round(
                F.lit(2.0) * si_d / (n_d * s_d)
                - (n_d + F.lit(1.0)) / n_d,
                9,
            ),
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov distance between the open ('O') and
# finished ('F') l_linestatus price distributions: D = max over values of
# |ECDF_1(x) - ECDF_2(x)|. Per-distinct-value cohort counts (one shuffle
# on the value), then the sharded running total (global_prefix_sums, no
# SinglePartition window), then one max-abs aggregate over exact-integer-
# derived doubles. An empty cohort NULLs D on both engines (try_divide /
# NULLIF), and an empty relation yields the same single NULL row.
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH v AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM lineitem
  GROUP BY 1
), n AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
  FROM v
), c AS (
  SELECT SUM(c1) OVER (ORDER BY cents) AS k1,
         SUM(c2) OVER (ORDER BY cents) AS k2
  FROM v
)
SELECT (SELECT n1 FROM n) AS n1,
       (SELECT n2 FROM n) AS n2,
       (SELECT ROUND(MAX(ABS(
            CAST(k1 AS DOUBLE)
              / NULLIF(CAST((SELECT n1 FROM n) AS DOUBLE), 0.0)
          - CAST(k2 AS DOUBLE)
              / NULLIF(CAST((SELECT n2 FROM n) AS DOUBLE), 0.0))), 9)
        FROM c) AS ks_d
"""


@query("agg_ks_two_sample", oracle=_KS_ORACLE, bench=True)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic, oracled against DuckDB's window
    cumsum. The ECDFs need a running total over the ordered distinct
    values — at 100 TB that is still millions of distinct prices, so the
    cumulative counts come from
    :func:`clinical_bi_spark.operators.ranking.global_prefix_sums`
    (range exchange + local cumsum + broadcast per-partition offsets;
    driver state = 2 longs per partition) instead of an unpartitioned
    window. D compares doubles derived from exact integer counts with
    identical association on both engines."""
    from clinical_bi_spark.operators.ranking import global_prefix_sums

    t = load_tables(tune(spark), sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    v = persist_tracked(
        t.lineitem.groupBy(cents.alias("cents")).agg(
            F.sum(
                F.when(F.col("l_linestatus") == "O", 1).otherwise(0)
            ).cast("bigint").alias("c1"),
            F.sum(
                F.when(F.col("l_linestatus") == "F", 1).otherwise(0)
            ).cast("bigint").alias("c2"),
        )
    )
    cum = global_prefix_sums(
        v, [F.col("cents")], ["c1", "c2"], ["k1", "k2"]
    )
    n = v.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    d = cum.crossJoin(F.broadcast(n)).agg(
        F.round(
            F.max(
                F.abs(
                    F.try_divide(
                        F.col("k1").cast("double"), F.col("n1").cast("double")
                    )
                    - F.try_divide(
                        F.col("k2").cast("double"), F.col("n2").cast("double")
                    )
                )
            ),
            9,
        ).alias("ks_d")
    )
    return n.crossJoin(F.broadcast(d)).select("n1", "n2", "ks_d")


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) two-sample test. Oracle parity,
# scipy-free numpy twin, and degenerate contracts are pinned in
# tests/test_analytics.py.
#
# Completes the two-sample family (Welch t = means, KS = distributions,
# MWU = stochastic dominance) on the same value-level machinery: with
# per-distinct-value cohort counts c1, c2 and the inclusive running
# total kt of ct = c1 + c2 over ascending values, the MIDRANK identity
#   2*R1 = sum_v c1(v) * (2*kt(v) - ct(v) + 1)
# gives the rank sum with tie midranks and NO per-row ranks anywhere
# (a tie run's midrank is (kt_excl + (ct+1)/2); doubling clears the
# half). U1 = R1 - n1(n1+1)/2; the tie-corrected normal z uses
# S3 = sum_v (ct^3 - ct), all exact DECIMAL(38,0) / HUGEINT integers
# until one identically-associated double expression per engine.
# Distinct from m13_auc_rank, which resolves ties by a deterministic KEY
# (classifier AUC under a total order); the test statistic REQUIRES
# midranks and carries the tie-corrected variance.
# ---------------------------------------------------------------------------

_MWU_ORACLE = """
WITH v AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM lineitem
  GROUP BY 1
), c AS (
  SELECT c1, c2, c1 + c2 AS ct,
         SUM(c1 + c2) OVER (ORDER BY cents) AS kt
  FROM v
), s AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c2) AS BIGINT) AS n2,
         SUM(CAST(c1 AS HUGEINT)
             * CAST(2 * kt - ct + 1 AS HUGEINT)) AS two_r1,
         SUM(CAST(ct - 1 AS HUGEINT) * CAST(ct AS HUGEINT)
             * CAST(ct + 1 AS HUGEINT)) AS s3
  FROM c
)
SELECT n1, n2,
  CASE WHEN n1 > 0 AND n2 > 0 THEN
    CAST(two_r1 - CAST(n1 AS HUGEINT) * CAST(n1 + 1 AS HUGEINT)
         AS DOUBLE) / 2.0
  END AS u1,
  CASE WHEN n1 > 0 AND n2 > 0
        AND (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
            * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
               - CAST(s3 AS DOUBLE)
                 / (CAST(n1 + n2 AS DOUBLE)
                    * (CAST(n1 + n2 AS DOUBLE) - 1.0))) > 0.0 THEN
    ROUND(
      (CAST(two_r1 - CAST(n1 AS HUGEINT) * CAST(n1 + 1 AS HUGEINT)
            AS DOUBLE) / 2.0
       - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
      / SQRT((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
             * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                - CAST(s3 AS DOUBLE)
                  / (CAST(n1 + n2 AS DOUBLE)
                     * (CAST(n1 + n2 AS DOUBLE) - 1.0)))), 9)
  END AS z
FROM s
"""


@query("agg_mannwhitney_u", oracle=_MWU_ORACLE, bench=True)
def agg_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U with midrank ties and tie-corrected z (see
    the block comment above for the value-level identity). One fact-scale groupBy (map-side combined,
    shuffle bounded by the price DOMAIN), one sharded running total
    (:func:`clinical_bi_spark.operators.ranking.global_prefix_sums`),
    exact integer arithmetic to two identically-associated double
    expressions. Empty cohort or zero tie-corrected variance (all values
    in one tie run) yields NULL u1/z on both engines, not a crash."""
    from clinical_bi_spark.operators.ranking import global_prefix_sums

    t = load_tables(tune(spark), sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    v = persist_tracked(
        t.lineitem.groupBy(cents.alias("cents"))
        .agg(
            F.sum(
                F.when(F.col("l_linestatus") == "O", 1).otherwise(0)
            ).cast("bigint").alias("c1"),
            F.sum(
                F.when(F.col("l_linestatus") == "F", 1).otherwise(0)
            ).cast("bigint").alias("c2"),
        )
        .withColumn("ct", F.col("c1") + F.col("c2"))
    )
    cum = global_prefix_sums(v, [F.col("cents")], ["ct"], ["kt"])
    # exact integers: DECIMAL(38,0) sums mirror the oracle's HUGEINT
    two_r1_term = F.col("c1").cast("decimal(19,0)") * (
        F.lit(2).cast("bigint") * F.col("kt") - F.col("ct") + F.lit(1)
    ).cast("decimal(19,0)")
    s3_term = (
        (F.col("ct") - F.lit(1)).cast("decimal(12,0)")
        * F.col("ct").cast("decimal(12,0)")
        * (F.col("ct") + F.lit(1)).cast("decimal(13,0)")
    )
    s = cum.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(two_r1_term).alias("two_r1"),
        F.sum(s3_term).alias("s3"),
    )
    n1_d = F.col("n1").cast("double")
    n2_d = F.col("n2").cast("double")
    n_d = (F.col("n1") + F.col("n2")).cast("double")
    # single exact-integer-to-double conversion, association identical
    # to the oracle: (two_r1 - n1*(n1+1)) stays integer-exact, then one
    # cast and one division
    two_u1 = F.col("two_r1") - F.col("n1").cast("decimal(19,0)") * (
        F.col("n1") + F.lit(1)
    ).cast("decimal(19,0)")
    u1 = two_u1.cast("double") / F.lit(2.0)
    var = (n1_d * n2_d / F.lit(12.0)) * (
        (n_d + F.lit(1.0))
        - F.col("s3").cast("double") / (n_d * (n_d - F.lit(1.0)))
    )
    both = (F.col("n1") > 0) & (F.col("n2") > 0)
    return s.select(
        "n1",
        "n2",
        F.when(both, u1).alias("u1"),
        F.when(
            both & (var > F.lit(0.0)),
            F.round((u1 - n1_d * n2_d / F.lit(2.0)) / F.sqrt(var), 9),
        ).alias("z"),
    )
