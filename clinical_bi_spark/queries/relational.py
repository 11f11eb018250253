"""Relational parity queries — one per operator ID in SURVEY.md §2, expressed
on the driver's TPC-H-ish tables so the DuckDB oracle can verify them.

Shape mapping from the reference's AACT star schema to the fixture star
schema: ``orders`` plays the hub (``studies``/``nct_id`` → ``o_orderkey``),
``lineitem`` plays the fan-out satellites (``interventions``/``sponsors``),
``customer``/``nation``/``region``/``part``/``supplier`` play the dims.
Every query docstring cites the reference site whose semantics it carries.

Scale notes are inline: which side broadcasts, where the shuffle lands, and
what changes at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clinical_bi_spark.functions.exprs import (
    cleanse_text,
    contains_any,
    encode_last_writer_wins,
    null_to_zero,
)
from clinical_bi_spark.caching import persist_tracked
from clinical_bi_spark.queries import query
from clinical_bi_spark.session import tune
from clinical_bi_spark.sources import load_tables


# ---------------------------------------------------------------------------
# Flagship — J1 9-way join + J2 self-join fan-out + P2–P8 filters + A1–A3
# aggregates + F1/F2/F8 scalars (reference: the feature query assembled at
# ct_data.py:72-91).
# ---------------------------------------------------------------------------

FLAGSHIP_ORACLE = """
SELECT
  o.o_orderkey                                   AS o_orderkey,
  o.o_orderdate                                  AS o_orderdate,
  o.o_orderpriority                              AS o_orderpriority,
  c.c_mktsegment                                 AS c_mktsegment,
  n.n_name                                       AS n_name,
  r.r_name                                       AS r_name,
  p.p_type                                       AS p_type,
  s.s_name                                       AS s_name,
  CASE WHEN p.p_type LIKE '%PROMO%' THEN 1
       WHEN p.p_type LIKE '%ECONOMY%' THEN 2
       ELSE 0 END                                AS stage_code,
  CAST(COALESCE(p.p_size, 0) AS INT)             AS size_clean,
  COUNT(l2.l_linenumber)                         AS li_count,
  COUNT(DISTINCT l2.l_partkey)                   AS part_count,
  COUNT(DISTINCT l2.l_suppkey)                   AS supp_count,
  ROUND(SUM(l2.l_extendedprice * (1 - l2.l_discount)), 4) AS revenue
FROM orders o, customer c, nation n, region r, lineitem l1, part p, supplier s, lineitem l2
WHERE o.o_custkey = c.c_custkey
  AND c.c_nationkey = n.n_nationkey
  AND n.n_regionkey = r.r_regionkey
  AND l1.l_orderkey = o.o_orderkey AND l1.l_linenumber = 1
  AND p.p_partkey = l1.l_partkey
  AND s.s_suppkey = l1.l_suppkey
  AND l2.l_orderkey = o.o_orderkey
  AND o.o_orderdate > TIMESTAMP '1996-01-01'
  AND o.o_orderstatus IN ('F', 'O')
  AND o.o_totalprice IS NOT NULL
  AND o.o_totalprice > 1000
  AND c.c_mktsegment = 'BUILDING'
GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10
"""


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(tune(spark), sf_dir)
    o, c, n, r, p, s = t.orders, t.customer, t.nation, t.region, t.part, t.supplier
    l1 = t.lineitem.alias("l1")
    l2 = t.lineitem.alias("l2")

    # P2–P8: pure conjunction — Catalyst pushes each predicate into the scan.
    filtered_orders = o.filter(
        (F.col("o_orderdate") > F.lit("1996-01-01").cast("timestamp"))
        & F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").isNotNull()
        & (F.col("o_totalprice") > 1000)
    )

    # J1: hub × dims. nation/region/part/supplier/customer are broadcast-able
    # dims at any scale (they grow sub-linearly in TPC-H and AACT alike);
    # the explicit broadcast() keeps the only big shuffle on l2 ⨝ orders.
    joined = (
        filtered_orders.join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        # J2: the same table in two roles — l1 the filtered "lead" row
        # (sponsors sp, ct_data.py:88), l2 the unfiltered fan-out (sp2).
        .join(
            l1.filter(F.col("l1.l_linenumber") == 1),
            F.col("l1.l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l1.l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l1.l_suppkey"))
        .join(l2, F.col("l2.l_orderkey") == F.col("o_orderkey"))
    )

    # F1/F2: stage extraction CASE (ct_data.py:75-76); F8: null→0 default.
    stage_code = (
        F.when(F.col("p_type").like("%PROMO%"), F.lit(1))
        .when(F.col("p_type").like("%ECONOMY%"), F.lit(2))
        .otherwise(F.lit(0))
        .cast("int")
    )

    # A1 wide GROUP BY (fan-out preserved — SURVEY.md §7.4.1), A2 plain
    # count, A3 two exact count-distincts (Catalyst expand).
    return (
        joined.withColumn("stage_code", stage_code)
        .withColumn("size_clean", null_to_zero(F.col("p_size")).cast("int"))
        .groupBy(
            "o_orderkey", "o_orderdate", "o_orderpriority", "c_mktsegment",
            "n_name", "r_name", "p_type", "s_name", "stage_code", "size_clean",
        )
        .agg(
            F.count("l2.l_linenumber").alias("li_count"),
            F.countDistinct("l2.l_partkey").alias("part_count"),
            F.countDistinct("l2.l_suppkey").alias("supp_count"),
            F.round(
                F.sum(F.col("l2.l_extendedprice") * (1 - F.col("l2.l_discount"))), 4
            ).alias("revenue"),
        )
    )


@query("flagship_feature_query", oracle=FLAGSHIP_ORACLE, bench=True)
def flagship_feature_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2+P2-P8+A1-A3+F1/F2/F8: the reference's flagship feature query
    shape (ct_data.py:72-91) on the fixture star schema."""
    return _flagship(spark, sf_dir)


# ---------------------------------------------------------------------------
# Dashboard extract — J4 left-join chain + F3 classifier + F9 char flags +
# F10/S5 in-engine cleanse (reference: db2wh-etl.sh:73-107,158-159).
# ---------------------------------------------------------------------------

DASHBOARD_ORACLE = """
SELECT
  o.o_orderkey                                    AS o_orderkey,
  o.o_orderstatus                                 AS o_orderstatus,
  o.o_orderdate                                   AS o_orderdate,
  o.o_orderpriority                               AS o_orderpriority,
  o.o_totalprice                                  AS o_totalprice,
  l.l_linenumber                                  AS l_linenumber,
  p.p_name                                        AS p_name,
  p.p_type                                        AS p_type,
  s.s_name                                        AS s_name,
  CASE WHEN COALESCE(position('PROMO' in p.p_type) > 0
             OR position('ECONOMY' in p.p_type) > 0, false)
       THEN 't' ELSE 'f' END                      AS p_promo_flag,
  regexp_replace(regexp_replace(
      '"' || COALESCE(p.p_name, '?') || '" | ' || o.o_orderpriority,
      '"', '''', 'g'), ' \\| ', ' - ', 'g')        AS cleansed_label
FROM orders o
LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
LEFT JOIN part p     ON p.p_partkey = l.l_partkey
LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
"""


@query("dashboard_extract", oracle=DASHBOARD_ORACLE, bench=True)
def dashboard_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 multi-way left join + F3 multi-pattern classifier ('t'/'f' char
    flag, db2wh-etl.sh:89-100) + F10 sed-cleanse done in-engine
    (db2wh-etl.sh:158-159). The reference spooled this to a pipe-delimited
    file and sed-cleansed it; here the cleanse is part of the plan and the
    sink (sinks.write_delimited) needs no post-pass."""
    t = load_tables(tune(spark), sf_dir)
    o, l, p, s = t.orders, t.lineitem, t.part, t.supplier

    joined = (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"), "left")
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"), "left")
    )
    promo = contains_any(F.col("p_type"), ["PROMO", "ECONOMY"])
    raw_label = F.concat(
        F.lit('"'), F.coalesce(F.col("p_name"), F.lit("?")), F.lit('" | '),
        F.col("o_orderpriority"),
    )
    return joined.select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_orderpriority",
        "o_totalprice", "l_linenumber", "p_name", "p_type", "s_name",
        F.when(promo, F.lit("t")).otherwise(F.lit("f")).alias("p_promo_flag"),
        cleanse_text(raw_label).alias("cleansed_label"),
    )


# ---------------------------------------------------------------------------
# Cohort derived table — J3 conditional left joins + A4–A8 (reference:
# conditions_calculated_values, init-user-db.sh:38-117). Two forms, both
# registered, proving the rewrite equivalence claimed in SURVEY.md J3.
# ---------------------------------------------------------------------------

_COHORT_CONDITIONAL_ORACLE = """
SELECT
  segment,
  total_orders,
  completed_orders,
  open_orders,
  pending_orders,
  CASE WHEN total_orders > 0
       THEN ROUND(CAST(completed_orders AS DOUBLE) / total_orders, 6)
       ELSE 0.0 END AS completion_ratio,
  avg_completed_price,
  first_seen
FROM (
  SELECT
    c.c_mktsegment AS segment,
    COUNT(DISTINCT CASE WHEN o.o_orderdate > TIMESTAMP '1995-06-01'
                        THEN o.o_orderkey END) AS total_orders,
    COUNT(DISTINCT CASE WHEN o.o_orderdate > TIMESTAMP '1995-06-01'
                         AND o.o_orderstatus = 'F'
                        THEN o.o_orderkey END) AS completed_orders,
    COUNT(DISTINCT CASE WHEN o.o_orderdate > TIMESTAMP '1995-06-01'
                         AND o.o_orderstatus = 'O'
                        THEN o.o_orderkey END) AS open_orders,
    COUNT(DISTINCT CASE WHEN o.o_orderdate > TIMESTAMP '1995-06-01'
                         AND o.o_orderstatus = 'P'
                        THEN o.o_orderkey END) AS pending_orders,
    ROUND(AVG(CASE WHEN o.o_orderdate > TIMESTAMP '1995-06-01'
                    AND o.o_orderstatus = 'F'
                   THEN o.o_totalprice END), 4) AS avg_completed_price,
    MIN(o.o_orderdate) AS first_seen
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment
) t
"""


def _cohort_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(tune(spark), sf_dir)
    c, o = t.customer, t.orders

    in_window = F.col("o_orderdate") > F.lit("1995-06-01").cast("timestamp")
    # Conditional COUNT, not countDistinct: o_orderkey is the primary key
    # of orders and the single c←o join preserves multiplicity 1, so the
    # distinct counts the reference's 5-way-join form needs are plain
    # counts here. Catalyst cannot prove key uniqueness itself — its
    # multi-countDistinct plan pays an Expand (×5 row multiplication of
    # the fact table before the shuffle, measured 2× wall at sf0.1 and
    # strictly worse at scale). The DISTINCT-form oracle re-proves the
    # equivalence on every adjudication run.
    key_if = lambda cond: F.count(F.when(cond, F.col("o_orderkey")))  # noqa: E731

    # Two-level aggregation: reduce orders to custkey grain FIRST, then
    # join customers and re-aggregate to segment. At 100 TB the fact table
    # never rides the join: the custkey-grain partial collapses map-side,
    # so the shuffle carries one short row per distinct customer instead
    # of every order (and no plan ever broadcasts the fact side, which
    # the naive single-join form does whenever orders sneaks under the
    # broadcast threshold). AVG decomposes as sum/count-of-non-null so
    # the segment-level reassembly stays exactly avg()'s null semantics.
    done = in_window & (F.col("o_orderstatus") == "F")
    per_cust = o.groupBy("o_custkey").agg(
        key_if(in_window).alias("n_total"),
        key_if(done).alias("n_done"),
        key_if(in_window & (F.col("o_orderstatus") == "O")).alias("n_open"),
        key_if(in_window & (F.col("o_orderstatus") == "P")).alias("n_pend"),
        F.sum(F.when(done, F.col("o_totalprice"))).alias("sum_done_price"),
        F.count(F.when(done, F.col("o_totalprice"))).alias("n_done_price"),
        F.min("o_orderdate").alias("min_orderdate"),
    )

    agg = (
        c.join(per_cust, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(F.coalesce("n_total", F.lit(0))).alias("total_orders"),
            F.sum(F.coalesce("n_done", F.lit(0))).alias("completed_orders"),
            F.sum(F.coalesce("n_open", F.lit(0))).alias("open_orders"),
            F.sum(F.coalesce("n_pend", F.lit(0))).alias("pending_orders"),
            # Float tolerance: this reassembles AVG as a sum of per-custkey
            # partial sums — double addition is not associative, so at high
            # partition counts the pre-ROUND value can drift within ~1 ulp
            # of the oracle's single-level AVG. ROUND(4) absorbs that
            # (prices are O(1e5), 1 ulp ≈ 1e-11 ≪ 5e-5 rounding granule),
            # and a .49999.../.50000... boundary landing inside 1 ulp of a
            # half-way point is the only failure mode — not observed at any
            # tested SF. The integer micro-unit pattern (text_lm_score) is
            # NOT used here because o_totalprice is a binary double whose
            # cent values are already inexact: converting to integer cents
            # would change the computed average vs the reference's AVG()
            # semantics rather than make it exact.
            F.round(
                F.sum("sum_done_price")
                / F.sum(F.when(F.col("n_done_price") > 0, F.col("n_done_price"))),
                4,
            ).alias("avg_completed_price"),
            F.min("min_orderdate").alias("first_seen"),
        )
    )
    # A8: guarded ratio with explicit cast (init-user-db.sh:85-89).
    ratio = (
        F.when(
            F.col("total_orders") > 0,
            F.round(
                F.col("completed_orders").cast("double") / F.col("total_orders"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("completion_ratio")
    )
    return agg.select(
        "segment", "total_orders", "completed_orders", "open_orders",
        "pending_orders", ratio, "avg_completed_price", "first_seen",
    )


@query("etl_cohort_conditional_agg", oracle=_COHORT_CONDITIONAL_ORACLE, bench=True)
def etl_cohort_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 idiomatic rewrite + A4/A5/A6/A8: custkey-grain pre-aggregation
    + one join replaces the reference's ×5 conditional left self-joins
    (init-user-db.sh:92-115) — equivalent because every count the
    reference takes DISTINCT over the join key collapses to a plain
    conditional count at multiplicity 1 (o_orderkey is the orders PK);
    the literal form below and the DISTINCT-form oracle prove it."""
    return _cohort_conditional(spark, sf_dir)


_COHORT_LITERAL_ORACLE = """
SELECT
  segment,
  total_orders,
  completed_orders,
  open_orders,
  pending_orders,
  CASE WHEN total_orders > 0
       THEN ROUND(CAST(completed_orders AS DOUBLE) / total_orders, 6)
       ELSE 0.0 END AS completion_ratio,
  avg_completed_price,
  first_seen
FROM (
  SELECT
    c.c_mktsegment AS segment,
    COUNT(DISTINCT o_total.o_orderkey) AS total_orders,
    COUNT(DISTINCT o_done.o_orderkey)  AS completed_orders,
    COUNT(DISTINCT o_open.o_orderkey)  AS open_orders,
    COUNT(DISTINCT o_pend.o_orderkey)  AS pending_orders,
    ROUND(AVG(o_done.o_totalprice), 4) AS avg_completed_price,
    MIN(o_all.o_orderdate)             AS first_seen
  FROM customer c
  LEFT JOIN orders o_all   ON o_all.o_custkey = c.c_custkey
  LEFT JOIN orders o_total ON o_total.o_custkey = c.c_custkey
        AND o_total.o_orderdate > TIMESTAMP '1995-06-01'
  LEFT JOIN orders o_done  ON o_done.o_custkey = c.c_custkey
        AND o_done.o_orderdate > TIMESTAMP '1995-06-01'
        AND o_done.o_orderstatus = 'F'
  LEFT JOIN orders o_open  ON o_open.o_custkey = c.c_custkey
        AND o_open.o_orderdate > TIMESTAMP '1995-06-01'
        AND o_open.o_orderstatus = 'O'
  LEFT JOIN orders o_pend  ON o_pend.o_custkey = c.c_custkey
        AND o_pend.o_orderdate > TIMESTAMP '1995-06-01'
        AND o_pend.o_orderstatus = 'P'
  GROUP BY c.c_mktsegment
) t
"""


@query("etl_cohort_literal_joins", oracle=_COHORT_LITERAL_ORACLE)
def etl_cohort_literal_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 literal translation: ×5 conditional left self-joins exactly as
    the reference writes them (init-user-db.sh:92-115). The DISTINCT counts
    are invariant under the join fan-out (so they match the conditional-agg
    form above); AVG is computed over the fan-out product — exactly like
    the reference's avg(s_done.enrollment) at init-user-db.sh:90 — so this
    query's oracle carries the identical fan-out. Fan-out semantics are
    load-bearing; do not 'fix' (SURVEY.md §7.4.1)."""
    t = load_tables(tune(spark), sf_dir)
    c, o = t.customer, t.orders

    in_window = lambda alias: (  # noqa: E731
        F.col(f"{alias}.o_orderdate") > F.lit("1995-06-01").cast("timestamp")
    )
    joined = (
        c.join(o.alias("o_all"), F.col("o_all.o_custkey") == F.col("c_custkey"), "left")
        .join(
            o.alias("o_total"),
            (F.col("o_total.o_custkey") == F.col("c_custkey")) & in_window("o_total"),
            "left",
        )
        .join(
            o.alias("o_done"),
            (F.col("o_done.o_custkey") == F.col("c_custkey"))
            & in_window("o_done")
            & (F.col("o_done.o_orderstatus") == "F"),
            "left",
        )
        .join(
            o.alias("o_open"),
            (F.col("o_open.o_custkey") == F.col("c_custkey"))
            & in_window("o_open")
            & (F.col("o_open.o_orderstatus") == "O"),
            "left",
        )
        .join(
            o.alias("o_pend"),
            (F.col("o_pend.o_custkey") == F.col("c_custkey"))
            & in_window("o_pend")
            & (F.col("o_pend.o_orderstatus") == "P"),
            "left",
        )
    )
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.countDistinct("o_total.o_orderkey").alias("total_orders"),
        F.countDistinct("o_done.o_orderkey").alias("completed_orders"),
        F.countDistinct("o_open.o_orderkey").alias("open_orders"),
        F.countDistinct("o_pend.o_orderkey").alias("pending_orders"),
        F.round(F.avg("o_done.o_totalprice"), 4).alias("avg_completed_price"),
        F.min("o_all.o_orderdate").alias("first_seen"),
    )
    ratio = (
        F.when(
            F.col("total_orders") > 0,
            F.round(
                F.col("completed_orders").cast("double") / F.col("total_orders"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("completion_ratio")
    )
    return agg.select(
        "segment", "total_orders", "completed_orders", "open_orders",
        "pending_orders", ratio, "avg_completed_price", "first_seen",
    )


# ---------------------------------------------------------------------------
# J2 standalone self-join fan-out (reference: sponsors sp/sp2, ct_data.py:79-88)
# ---------------------------------------------------------------------------

_SELFJOIN_ORACLE = """
SELECT
  o.o_orderkey            AS o_orderkey,
  l1.l_shipdate           AS lead_shipdate,
  l1.l_suppkey            AS lead_suppkey,
  COUNT(l2.l_linenumber)  AS li_count,
  COUNT(DISTINCT l2.l_partkey) AS part_count,
  ROUND(SUM(l2.l_quantity), 4) AS total_qty
FROM orders o, lineitem l1, lineitem l2
WHERE l1.l_orderkey = o.o_orderkey AND l1.l_linenumber = 1
  AND l2.l_orderkey = o.o_orderkey
GROUP BY 1, 2, 3
"""


@query("j2_selfjoin_fanout", oracle=_SELFJOIN_ORACLE)
def j2_selfjoin_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+A2: one table in two roles — the filtered 'lead' role supplies
    attributes, the unfiltered role is counted with intentional fan-out
    (sponsors sp/sp2 + count(dgi.id), ct_data.py:78-88; fan-out is
    load-bearing, SURVEY.md §7.4.1)."""
    t = load_tables(tune(spark), sf_dir)
    o = t.orders
    l1 = t.lineitem.alias("l1").filter(F.col("l1.l_linenumber") == 1)
    l2 = t.lineitem.alias("l2")
    return (
        o.join(l1, F.col("l1.l_orderkey") == F.col("o_orderkey"))
        .join(l2, F.col("l2.l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_orderkey"),
            F.col("l1.l_shipdate").alias("lead_shipdate"),
            F.col("l1.l_suppkey").alias("lead_suppkey"),
        )
        .agg(
            F.count("l2.l_linenumber").alias("li_count"),
            F.countDistinct("l2.l_partkey").alias("part_count"),
            F.round(F.sum("l2.l_quantity"), 4).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# J5/A9/A6 — name-keyed rollup (reference: interventions_calculated_values,
# init-user-db.sh:214-232: GROUP BY lower(i.name), count distinct, min/max).
# ---------------------------------------------------------------------------

_NAME_ROLLUP_ORACLE = """
SELECT
  lower(p.p_type)              AS intervention_name,
  COUNT(DISTINCT l.l_orderkey) AS studies,
  MIN(l.l_shipdate)            AS first_seen_date,
  MAX(l.l_shipdate)            AS last_seen_date
FROM part p, lineitem l
WHERE l.l_partkey = p.p_partkey AND p.p_name IS NOT NULL
GROUP BY lower(p.p_type)
"""


@query("etl_name_keyed_rollup", oracle=_NAME_ROLLUP_ORACLE)
def etl_name_keyed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5+A9+A6+P5: GROUP BY an expression key (lower(name)) with distinct
    count and date min/max — interventions_calculated_values
    (init-user-db.sh:214-232)."""
    t = load_tables(tune(spark), sf_dir)
    return (
        t.part.filter(F.col("p_name").isNotNull())
        .join(t.lineitem, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.lower(F.col("p_type")).alias("intervention_name"))
        .agg(
            F.countDistinct("l_orderkey").alias("studies"),
            F.min("l_shipdate").alias("first_seen_date"),
            F.max("l_shipdate").alias("last_seen_date"),
        )
    )


_INTER_COND_ORACLE = """
SELECT
  lower(p.p_type)              AS intervention_name,
  c.c_mktsegment               AS condition_name,
  COUNT(DISTINCT o.o_orderkey) AS studies,
  MIN(o.o_orderdate)           AS first_seen_date,
  MAX(o.o_orderdate)           AS last_seen_date
FROM part p, lineitem l, orders o, customer c
WHERE l.l_partkey = p.p_partkey
  AND o.o_orderkey = l.l_orderkey
  AND c.c_custkey = o.o_custkey
  AND p.p_name IS NOT NULL
GROUP BY 1, 2
"""


@query("etl_interventions_conditions", oracle=_INTER_COND_ORACLE)
def etl_interventions_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 3-way + A9 composite expression key + A6: the
    interventions_conditions derived table (init-user-db.sh:246-269)."""
    t = load_tables(tune(spark), sf_dir)
    return (
        t.part.filter(F.col("p_name").isNotNull())
        .join(t.lineitem, F.col("l_partkey") == F.col("p_partkey"))
        .join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t.customer), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.lower(F.col("p_type")).alias("intervention_name"),
            F.col("c_mktsegment").alias("condition_name"),
        )
        .agg(
            F.countDistinct("o_orderkey").alias("studies"),
            F.min("o_orderdate").alias("first_seen_date"),
            F.max("o_orderdate").alias("last_seen_date"),
        )
    )


# ---------------------------------------------------------------------------
# S10/S11/J6 — widen-and-update as immutable rebuild (reference:
# temp_calculated_values → UPDATE calculated_values FROM, init-user-db.sh:126-196)
# ---------------------------------------------------------------------------

#: Engine-invariant average (the hash_match lesson): AVG(double) sums
#: in engine-specific order and ROUND(double, 4) lands on .xxxx5 midpoints
#: where Spark's BigDecimal HALF_UP and DuckDB's double rounding diverge.
#: Instead: per-row cents (exact integer after a single deterministic IEEE
#: multiply+round), integer SUM (order-independent), one double division by
#: a power of ten at the end — bit-identical across engines.
_REBUILD_ORACLE = """
SELECT
  c.c_custkey                                    AS c_custkey,
  c.c_mktsegment                                 AS c_mktsegment,
  CAST(COALESCE(a.order_count, 0) AS BIGINT)     AS order_count,
  COALESCE(a.is_big_spender, false)              AS is_big_spender,
  COALESCE(a.avg_price, 0.0)                     AS avg_price
FROM customer c
LEFT JOIN (
  SELECT
    o.o_custkey,
    COUNT(*)                      AS order_count,
    BOOL_OR(o.o_totalprice > 150000) AS is_big_spender,
    CAST(ROUND(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) * 100.0
               / COUNT(*)) AS BIGINT) / 10000.0 AS avg_price
  FROM orders o
  GROUP BY o.o_custkey
) a ON a.o_custkey = c.c_custkey
"""


@query("etl_calculated_values_rebuild", oracle=_REBUILD_ORACLE)
def etl_calculated_values_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10+S11+J6+A7: ALTER TABLE ADD COLUMN + UPDATE…FROM
    (init-user-db.sh:181-194) re-expressed as an immutable rebuild — left
    join of the base table with the computed aggregate plus COALESCE
    defaults. bool_or is A7 (init-user-db.sh:142-162).

    avg_price uses exact integer-cents summation (see _REBUILD_ORACLE
    comment): per-row cents as bigint, order-independent integer SUM, one
    final double division — same bits in Spark and DuckDB regardless of
    partial-aggregation order."""
    t = load_tables(tune(spark), sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    agg = t.orders.groupBy("o_custkey").agg(
        F.count("*").alias("order_count"),
        F.bool_or(F.col("o_totalprice") > 150000).alias("is_big_spender"),
        F.sum(cents).alias("sum_cents"),
    )
    avg_price = (
        F.round(F.col("sum_cents") * 100.0 / F.col("order_count")).cast("bigint")
        / F.lit(10000.0)
    )
    return t.customer.join(
        agg, F.col("o_custkey") == F.col("c_custkey"), "left"
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce(F.col("order_count"), F.lit(0)).cast("bigint").alias("order_count"),
        F.coalesce(F.col("is_big_spender"), F.lit(False)).alias("is_big_spender"),
        F.coalesce(avg_price, F.lit(0.0)).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# A1/A5 — TPC-H Q1-shaped wide aggregate (sort/hash agg headline; also the
# reference's A5 null-skipping avg).
# ---------------------------------------------------------------------------

_PRICING_SUMMARY_ORACLE = """
SELECT
  l_returnflag                                        AS l_returnflag,
  l_linestatus                                        AS l_linestatus,
  ROUND(SUM(l_quantity), 4)                           AS sum_qty,
  ROUND(SUM(l_extendedprice), 4)                      AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)   AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
  ROUND(AVG(l_quantity), 6)                           AS avg_qty,
  ROUND(AVG(l_extendedprice), 6)                      AS avg_price,
  ROUND(AVG(l_discount), 6)                           AS avg_disc,
  COUNT(*)                                            AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("agg_pricing_summary", oracle=_PRICING_SUMMARY_ORACLE, bench=True)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A5 headline hash-aggregate (TPC-H Q1 shape): map-side partial agg
    then one narrow shuffle on a 2-column key — the plan that must survive
    100 TB unchanged."""
    t = load_tables(tune(spark), sf_dir)
    l = t.lineitem.filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# A3 — multiple exact count-distincts in one GROUP BY (ct_data.py:78-79).
# ---------------------------------------------------------------------------

_MULTI_DISTINCT_ORACLE = """
SELECT
  o_orderpriority              AS o_orderpriority,
  COUNT(DISTINCT o_custkey)    AS customer_count,
  COUNT(DISTINCT o_orderstatus) AS status_count,
  COUNT(*)                     AS order_count
FROM orders
GROUP BY o_orderpriority
"""


@query("a3_multi_count_distinct", oracle=_MULTI_DISTINCT_ORACLE)
def a3_multi_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: two exact count-distincts in one aggregate — Catalyst plans an
    Expand (row multiplication ×2); at 100 TB flip to approx_count_distinct
    (see a3_approx_count_distinct)."""
    t = load_tables(tune(spark), sf_dir)
    return t.orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("customer_count"),
        F.countDistinct("o_orderstatus").alias("status_count"),
        F.count("*").alias("order_count"),
    )


@query("a3_approx_count_distinct", oracle=None)
def a3_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 scale variant: HyperLogLog++ sketch instead of exact distinct —
    no Expand, single pass, mergeable partial aggregates (the 100 TB flag
    from SURVEY.md §7.4.6). Rows-only check: approx ≠ oracle-exact by
    design; the pytest suite asserts relative error < 5 %."""
    t = load_tables(tune(spark), sf_dir)
    return t.orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("customer_count_approx"),
        F.count("*").alias("order_count"),
    )


# ---------------------------------------------------------------------------
# P2–P8 — pure filter conjunction (pushdown target, ct_data.py:82-88).
# ---------------------------------------------------------------------------

_FILTER_ORACLE = """
SELECT o_orderkey, o_orderdate, o_orderstatus, o_orderpriority, o_totalprice
FROM orders
WHERE o_orderdate > TIMESTAMP '1996-01-01'
  AND o_orderstatus IN ('F', 'O')
  AND o_totalprice IS NOT NULL
  AND o_totalprice > 1000
  AND o_orderpriority = '1-URGENT'
"""


@query("p_filter_conjunction", oracle=_FILTER_ORACLE)
def p_filter_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P4/P5/P6/P7/P8: the flagship WHERE conjunction in isolation —
    every predicate reaches the parquet scan as a PushedFilter (verified in
    tests/test_plans.py)."""
    t = load_tables(tune(spark), sf_dir)
    return t.orders.filter(
        (F.col("o_orderdate") > F.lit("1996-01-01").cast("timestamp"))
        & F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").isNotNull()
        & (F.col("o_totalprice") > 1000)
        & (F.col("o_orderpriority") == "1-URGENT")
    ).select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# F1/F2/F4/F5/F8/F9 — scalar function battery (projection only).
# ---------------------------------------------------------------------------

_SCALAR_ORACLE = """
SELECT
  p_partkey                                       AS p_partkey,
  CASE WHEN p_type LIKE '%PROMO%' THEN 1
       WHEN p_type LIKE '%ECONOMY%' THEN 2
       ELSE 0 END                                 AS stage_code,
  CAST(COALESCE(p_size, 0) AS INT)                AS size_clean,
  0                                               AS drug_recency,
  lower(p_brand)                                  AS brand_lc,
  CAST(p_retailprice AS DOUBLE)                   AS price_real,
  CASE WHEN p_size > 30 THEN 't' ELSE 'f' END     AS large_flag
FROM part
"""


@query("f_scalar_battery", oracle=_SCALAR_ORACLE)
def f_scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 CASE chain, F2 LIKE, F4 lower, F5 cast-to-real, F8 null-default,
    F9 literal projection — the reference's entire non-classifier scalar
    surface in one projection (ct_data.py:75-77, init-user-db.sh:87,203,
    db2wh-etl.sh:98-99)."""
    t = load_tables(tune(spark), sf_dir)
    return t.part.select(
        "p_partkey",
        F.when(F.col("p_type").like("%PROMO%"), 1)
        .when(F.col("p_type").like("%ECONOMY%"), 2)
        .otherwise(0)
        .cast("int")
        .alias("stage_code"),
        null_to_zero(F.col("p_size")).cast("int").alias("size_clean"),
        F.lit(0).alias("drug_recency"),
        F.lower(F.col("p_brand")).alias("brand_lc"),
        F.col("p_retailprice").cast("double").alias("price_real"),
        F.when(F.col("p_size") > 30, F.lit("t")).otherwise(F.lit("f")).alias("large_flag"),
    )


# ---------------------------------------------------------------------------
# F3 — the multi-pattern substring classifier in isolation.
# ---------------------------------------------------------------------------

_CLASSIFIER_ORACLE = """
SELECT
  doc_id,
  COALESCE(position('spark' in text) > 0
        OR position('stream' in text) > 0
        OR position('window' in text) > 0
        OR position('vector' in text) > 0, false) AS is_match,
  CASE WHEN COALESCE(position('spark' in text) > 0
        OR position('stream' in text) > 0
        OR position('window' in text) > 0
        OR position('vector' in text) > 0, false)
       THEN 't' ELSE 'f' END                      AS match_flag
FROM documents
"""


@query("f3_pattern_classifier", oracle=_CLASSIFIER_ORACLE)
def f3_pattern_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: ORed position(pat in col)>0 battery — the oncology classifier
    shape (init-user-db.sh:63-77; 15 patterns there, 4 here), including the
    NULL→false coalesce the reference gets from CASE/WHERE context."""
    t = load_tables(tune(spark), sf_dir)
    is_match = contains_any(F.col("text"), ["spark", "stream", "window", "vector"])
    return t.documents.select(
        "doc_id",
        is_match.alias("is_match"),
        F.when(is_match, F.lit("t")).otherwise(F.lit("f")).alias("match_flag"),
    )


# ---------------------------------------------------------------------------
# F6/F7 — date parse / extract (ct_data.py:96,106).
# ---------------------------------------------------------------------------

_DATES_ORACLE = """
SELECT
  event_id,
  CAST(ts AS DATE)                  AS event_date,
  CAST(year(ts) AS INT)             AS event_year,
  CAST(month(ts) AS INT)            AS event_month,
  CAST(dayofmonth(ts) AS INT)       AS event_day,
  date_trunc('hour', ts)            AS event_hour
FROM events
"""


@query("f6_f7_date_functions", oracle=_DATES_ORACLE)
def f6_f7_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 date parse + F7 year/part extraction (ct_data.py:96,106 —
    start_date parse and dt.year)."""
    t = load_tables(tune(spark), sf_dir)
    return t.events.select(
        "event_id",
        F.to_date("ts").alias("event_date"),
        F.year("ts").alias("event_year"),
        F.month("ts").alias("event_month"),
        F.dayofmonth("ts").alias("event_day"),
        F.date_trunc("hour", F.col("ts")).alias("event_hour"),
    )


# ---------------------------------------------------------------------------
# F10/S5 — sed cleanse as an expression, with input that actually mutates.
# ---------------------------------------------------------------------------

_CLEANSE_ORACLE = """
SELECT
  doc_id,
  '"' || source || '" | ' || lang            AS raw_label,
  regexp_replace(regexp_replace('"' || source || '" | ' || lang,
                 '"', '''', 'g'), ' \\| ', ' - ', 'g') AS clean_label
FROM documents
"""


@query("f10_sed_cleanse", oracle=_CLEANSE_ORACLE)
def f10_sed_cleanse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/S5: the sed post-pass (db2wh-etl.sh:158-159) as an in-plan
    expression — quotes→apostrophes, delimiter-escape ' | '→' - '."""
    t = load_tables(tune(spark), sf_dir)
    raw = F.concat(F.lit('"'), F.col("source"), F.lit('" | '), F.col("lang"))
    return t.documents.select(
        "doc_id", raw.alias("raw_label"), cleanse_text(raw).alias("clean_label")
    )


# ---------------------------------------------------------------------------
# M1 — deterministic keyed split (oracle-checkable variant; the seeded
# exact-size split lives in operators/split.py with its own tests).
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = """
SELECT
  o_orderkey,
  CASE WHEN ((o_orderkey % 999983) * 2654435761) % 4294967296 % 10000 < 7000
         THEN 'train'
       WHEN ((o_orderkey % 999983) * 2654435761) % 4294967296 % 10000 < 7050
         THEN 'validate'
       ELSE 'test' END AS split
FROM orders
"""


@query("m1_keyed_split", oracle=_SPLIT_ORACLE)
def m1_keyed_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: the reference's 0.7/0.005/~0.295 train/validate/test split
    (ct_data.py:43-53,152) as a deterministic keyed Fibonacci hash —
    reproducible across engines and shardable with no shuffle (unlike the
    reference's global permutation). Exact-size seeded variant:
    operators/split.py."""
    from clinical_bi_spark.operators.split import keyed_hash_split

    t = load_tables(tune(spark), sf_dir)
    return keyed_hash_split(t.orders, "o_orderkey").select("o_orderkey", "split")


# ---------------------------------------------------------------------------
# M2/P9 — last-writer-wins encoder chain (ct_data.py:107-146).
# ---------------------------------------------------------------------------

_ENCODER_ORACLE = """
SELECT
  o_orderkey,
  CASE WHEN o_totalprice > 300000 THEN 10
       WHEN o_orderstatus = 'P' THEN 9
       WHEN o_orderpriority = '1-URGENT' THEN 4
       WHEN o_orderpriority = '2-HIGH' THEN 3
       WHEN o_orderpriority = '3-MEDIUM' THEN 2
       WHEN o_orderpriority = '5-LOW' THEN 1
       ELSE 0 END AS priority_code
FROM orders
"""


@query("m2_encoder_chain", oracle=_ENCODER_ORACLE)
def m2_encoder_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2/P9: sequential boolean-mask assignments with overwrite semantics
    (ct_data.py:107-146, esp. the allocation chain :127-131) — compiled to
    one when-chain in *reverse* rule order (last writer wins,
    SURVEY.md §7.4.2). Rule order here: priority lookup, then status
    override, then price override — the oracle CASE is the reversed chain."""
    t = load_tables(tune(spark), sf_dir)
    rules = [
        (F.col("o_orderpriority") == "1-URGENT", 4),
        (F.col("o_orderpriority") == "2-HIGH", 3),
        (F.col("o_orderpriority") == "3-MEDIUM", 2),
        (F.col("o_orderpriority") == "5-LOW", 1),
        (F.col("o_orderstatus") == "P", 9),
        (F.col("o_totalprice") > 300000, 10),
    ]
    return t.orders.select(
        "o_orderkey",
        encode_last_writer_wins(rules, 0).cast("int").alias("priority_code"),
    )


# ---------------------------------------------------------------------------
# Window functions / sort-limit / set ops (§2.5 — absent in the reference,
# reserved extensions; first-class here).
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT c_mktsegment, o_orderkey, o_totalprice, rank_in_segment
FROM (
  SELECT
    c.c_mktsegment AS c_mktsegment,
    o.o_orderkey   AS o_orderkey,
    o.o_totalprice AS o_totalprice,
    CAST(ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                       ORDER BY o.o_totalprice DESC, o.o_orderkey) AS INT)
      AS rank_in_segment
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
) t
WHERE rank_in_segment <= 3
"""


@query("w1_topk_per_group", oracle=_TOPK_ORACLE)
def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 extension: top-K per group via row_number window (deterministic
    tiebreak on the key). At scale this is the one-shuffle pattern that
    replaces the reference's disabled 'top sponsor' enrichment (J7)."""
    from pyspark.sql.window import Window

    t = load_tables(tune(spark), sf_dir)
    joined = t.orders.join(
        F.broadcast(t.customer), F.col("c_custkey") == F.col("o_custkey")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        joined.select(
            "c_mktsegment",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rank_in_segment"),
        )
        .filter(F.col("rank_in_segment") <= 3)
    )


_RUNNING_ORACLE = """
SELECT
  o_custkey,
  o_orderkey,
  o_orderdate,
  ROUND(SUM(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_spend
FROM orders
"""


@query("w2_running_total", oracle=_RUNNING_ORACLE, bench=True)
def w2_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 extension: running aggregate window (cumulative spend per
    customer) — partition-local after one shuffle on the partition key."""
    from pyspark.sql.window import Window

    t = load_tables(tune(spark), sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_spend"),
    )


_SETOPS_ORACLE = """
SELECT 'both' AS op, k AS c_custkey FROM (
  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
) a
UNION ALL
SELECT 'only_customer' AS op, k AS c_custkey FROM (
  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT
  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
) b
"""


@query("set_ops", oracle=_SETOPS_ORACLE)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 extension: INTERSECT / EXCEPT / UNION ALL battery."""
    t = load_tables(tune(spark), sf_dir)
    building = (
        t.customer.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    finished = (
        t.orders.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("k"))
    )
    both = building.intersect(finished).select(
        F.lit("both").alias("op"), F.col("k").alias("c_custkey")
    )
    # subtract == SQL EXCEPT (set semantics), unlike exceptAll (bag).
    only_cust = building.subtract(finished).select(
        F.lit("only_customer").alias("op"), F.col("k").alias("c_custkey")
    )
    return both.unionAll(only_cust)


_TOPN_ORACLE = """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


@query("sort_limit_topn", oracle=_TOPN_ORACLE)
def sort_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 extension: global ORDER BY + LIMIT — Spark plans TakeOrderedAndProject
    (per-partition top-N + driver merge), no global sort even at 100 TB."""
    t = load_tables(tune(spark), sf_dir)
    return (
        t.orders.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# J7/A10 — frequency-count enrichment join (the disabled pandas sketch,
# ct_data.py:99-104).
# ---------------------------------------------------------------------------

_ENRICH_ORACLE = """
SELECT d.doc_id, d.source, sc.source_count
FROM documents d
JOIN (
  SELECT source, COUNT(*) AS source_count FROM documents GROUP BY source
) sc ON sc.source = d.source
"""


@query("j7_frequency_enrichment", oracle=_ENRICH_ORACLE)
def j7_frequency_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7+A10: value_counts() enrichment join (ct_data.py:99-102, disabled
    in the reference, implemented here as an optional op)."""
    t = load_tables(tune(spark), sf_dir)
    counts = t.documents.groupBy(F.col("source").alias("sc_source")).agg(
        F.count("*").alias("source_count")
    )
    return t.documents.join(
        F.broadcast(counts), F.col("sc_source") == F.col("source")
    ).select("doc_id", "source", "source_count")


# ---------------------------------------------------------------------------
# §2.3 extension — semi/anti joins (EXISTS / NOT EXISTS). The reference's
# conditional left-joins (J3) emulate existence checks by joining and
# testing for NULL; the native Spark forms are LeftSemi/LeftAnti, which
# never materialize the probe side's columns and stop probing a key on
# first match — the shape to use at 100 TB.
# ---------------------------------------------------------------------------

_SEMI_ANTI_ORACLE = """
SELECT n.n_name AS nation, has_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM (
  SELECT c_nationkey,
         EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
           AS has_orders
  FROM customer c
) t
JOIN nation n ON n.n_nationkey = t.c_nationkey
GROUP BY n.n_name, has_orders
"""


@query("j_semi_anti_exists", oracle=_SEMI_ANTI_ORACLE)
def j_semi_anti_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer counts split by order existence: a left_semi
    join (EXISTS) unioned with a left_anti join (NOT EXISTS), then a
    broadcast dimension join for the nation name. Semi/anti joins carry
    only the left side's columns and short-circuit per key."""
    t = load_tables(tune(spark), sf_dir)
    cust = t.customer.select("c_custkey", "c_nationkey")
    ords = t.orders.select("o_custkey")
    semi = cust.join(
        ords, cust.c_custkey == ords.o_custkey, "left_semi"
    ).withColumn("has_orders", F.lit(True))
    anti = cust.join(
        ords, cust.c_custkey == ords.o_custkey, "left_anti"
    ).withColumn("has_orders", F.lit(False))
    tagged = semi.unionByName(anti)
    return (
        tagged.join(
            F.broadcast(t.nation), tagged.c_nationkey == t.nation.n_nationkey
        )
        .groupBy(F.col("n_name").alias("nation"), "has_orders")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# M12 (extension) — exact-size stratified sampling, the training-data
# downsampler. sampleBy() gives expected sizes from Spark's RNG; this form
# is deterministic, engine-checkable, and exact per stratum.
# ---------------------------------------------------------------------------

_STRATIFIED_ORACLE = """
WITH b AS (
  SELECT o_orderkey, o_orderpriority,
         ((o_orderkey % 999983) * 2654435761) % 4294967296 % 10000 AS bk
  FROM orders
), r AS (
  SELECT o_orderkey, o_orderpriority,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY bk, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM b
)
SELECT o_orderkey, o_orderpriority FROM r WHERE rn <= FLOOR(0.1 * n)
"""


@query("m12_stratified_sample", oracle=_STRATIFIED_ORACLE)
def m12_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10% per-priority sample of orders, selected by Fibonacci-hash
    order (operators/split.stratified_sample_exact): class proportions stay
    exact and every engine picks the same rows — unlike sampleBy's
    expected-size Spark-RNG draw. One shuffle on the stratum column."""
    from clinical_bi_spark.operators.split import stratified_sample_exact

    t = load_tables(tune(spark), sf_dir)
    return stratified_sample_exact(
        t.orders, stratum_col="o_orderpriority", frac=0.1, key="o_orderkey"
    ).select("o_orderkey", "o_orderpriority")


# ---------------------------------------------------------------------------
# §2.5 extension — rank-function battery (ntile / percent_rank / cume_dist)
# ---------------------------------------------------------------------------

_RANK_BATTERY_ORACLE = """
SELECT
  o_orderkey,
  o_orderpriority,
  CAST(ntile(4) OVER w AS INT)        AS price_quartile,
  ROUND(percent_rank() OVER w, 6)     AS pct_rank,
  ROUND(cume_dist() OVER w, 6)        AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


@query("w4_rank_battery", oracle=_RANK_BATTERY_ORACLE)
def w4_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist over a deterministic total order
    (price, then key) — the remaining SQL rank functions w1-w3 don't
    cover. Single window spec → one shuffle, three functions."""
    t = load_tables(tune(spark), sf_dir)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
    )
    return t.orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("int").alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# M13 (extension) — rank-based AUC, the evaluation metric computed as a
# relational query (Mann-Whitney U): AUC = (Σ ranks of positives −
# P(P+1)/2) / (P·N). Demonstrates that even model-eval metrics stay
# engine-checkable when expressed as exact arithmetic over a
# deterministic total order.
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH scored AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
         o_totalprice AS score, o_orderkey
  FROM orders
), ranked AS (
  SELECT label,
         ROW_NUMBER() OVER (ORDER BY score, o_orderkey) AS rnk
  FROM scored
)
SELECT
  ROUND((SUM(CASE WHEN label = 1 THEN rnk ELSE 0 END)
         - (SUM(label) * (SUM(label) + 1)) / 2.0)
        / (SUM(label) * (COUNT(*) - SUM(label))), 6) AS auc,
  CAST(SUM(label) AS BIGINT)              AS n_pos,
  CAST(COUNT(*) - SUM(label) AS BIGINT)   AS n_neg
FROM ranked
"""


@query("m13_auc_rank", oracle=_AUC_ORACLE)
def m13_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney AUC of o_totalprice as a classifier score for
    status 'F', over a deterministic total order (score, then key — ties
    resolved identically in both engines rather than midrank-averaged).

    The global rank is the SHARDED prefix-sum form
    (:func:`clinical_bi_spark.operators.ranking.global_row_number` —
    range exchange + narrow local row number + broadcast offsets, no
    SinglePartition sort over the fact table)."""
    from clinical_bi_spark.operators.ranking import global_row_number

    t = load_tables(tune(spark), sf_dir)
    scored = t.orders.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
        F.col("o_totalprice").alias("score"),
        "o_orderkey",
    )
    ranked = global_row_number(
        scored, [F.col("score"), F.col("o_orderkey")], out_col="rnk"
    )
    pos = F.sum("label")
    n = F.count("*")
    pos_rank_sum = F.sum(F.when(F.col("label") == 1, F.col("rnk")).otherwise(0))
    return ranked.agg(
        # try_divide: a single-class corpus (no positives or no
        # negatives) has no AUC — NULL on both engines
        F.round(
            F.try_divide(
                pos_rank_sum - (pos * (pos + 1)) / 2.0, pos * (n - pos)
            ),
            6,
        ).alias("auc"),
        pos.cast("bigint").alias("n_pos"),
        (n - pos).cast("bigint").alias("n_neg"),
    )


_SETOPS_ALL_ORACLE = """
SELECT op AS op, k AS custkey, COUNT(*) AS multiplicity FROM (
  SELECT 'inter_all' AS op, k FROM (
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
  ) a
  UNION ALL
  SELECT 'except_all' AS op, k FROM (
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
  ) b
) u GROUP BY op, k
"""


@query("set_ops_all", oracle=_SETOPS_ALL_ORACLE)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — INTERSECT ALL keeps min(m, n)
    copies per key, EXCEPT ALL keeps max(m - n, 0): the multiplicity
    semantics `set_ops`'s distinct forms erase. Output aggregates to
    (op, key, multiplicity) so the oracle pins the exact copy counts."""
    t = load_tables(tune(spark), sf_dir)
    f_orders = t.orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    inter = f_orders.intersectAll(urgent).select(
        F.lit("inter_all").alias("op"), "k"
    )
    exc = f_orders.exceptAll(urgent).select(
        F.lit("except_all").alias("op"), "k"
    )
    return (
        inter.unionAll(exc)
        .groupBy("op", F.col("k").alias("custkey"))
        .agg(F.count("*").alias("multiplicity"))
    )


_BITWISE_ORACLE = """
SELECT l_returnflag AS l_returnflag,
       CAST(bit_and(l_orderkey) AS BIGINT) AS and_keys,
       CAST(bit_or(l_orderkey) AS BIGINT) AS or_keys,
       CAST(bit_xor(l_orderkey) AS BIGINT) AS xor_keys,
       CAST(bit_xor((l_orderkey << 4) | CAST(l_linenumber AS BIGINT))
            AS BIGINT) AS xor_mixed,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_bitwise_battery", oracle=_BITWISE_ORACLE)
def agg_bitwise_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate battery (bit_and / bit_or / bit_xor + shifted
    scalar mixing): all three folds are associative, commutative, and
    integer-exact, so they partial-agg map-side and cannot drift with
    partitioning — XOR over a composite key is also the classic cheap
    set-equality checksum for reconciliation jobs."""
    t = load_tables(tune(spark), sf_dir)
    mixed = F.expr("shiftleft(l_orderkey, 4)").bitwiseOR(
        F.col("l_linenumber").cast("bigint")
    )
    return t.lineitem.groupBy("l_returnflag").agg(
        F.expr("bit_and(l_orderkey)").alias("and_keys"),
        F.expr("bit_or(l_orderkey)").alias("or_keys"),
        F.expr("bit_xor(l_orderkey)").alias("xor_keys"),
        F.expr(
            "bit_xor(shiftleft(l_orderkey, 4) | CAST(l_linenumber AS BIGINT))"
        ).alias("xor_mixed"),
        F.count("*").alias("n"),
    )


_STRING_BATTERY_ORACLE = """
SELECT p_partkey AS p_partkey,
       lpad(p_name, 20, '*') AS padded_l,
       rpad(p_brand, 12, '.') AS padded_r,
       translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
       reverse(p_name) AS name_rev,
       CAST(instr(p_name, ' ') AS BIGINT) AS space_at,
       left(p_name, 4) AS name_head,
       right(p_name, 3) AS name_tail,
       repeat(p_brand, 2) AS brand_twice
FROM part
"""


@query("f_string_battery", oracle=_STRING_BATTERY_ORACLE)
def f_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery over the engines' COMMON surface
    (lpad/rpad/translate/reverse/instr/left/right/repeat — initcap is
    deliberately absent: DuckDB lacks it and title-casing rules are
    locale-trapped anyway). Narrow projection, zero shuffle."""
    t = load_tables(tune(spark), sf_dir)
    return t.part.select(
        "p_partkey",
        F.lpad("p_name", 20, "*").alias("padded_l"),
        F.rpad("p_brand", 12, ".").alias("padded_r"),
        F.translate("p_name", "aeiou", "AEIOU").alias("vowels_up"),
        F.reverse("p_name").alias("name_rev"),
        F.expr("CAST(instr(p_name, ' ') AS BIGINT)").alias("space_at"),
        F.expr("left(p_name, 4)").alias("name_head"),
        F.expr("right(p_name, 3)").alias("name_tail"),
        F.repeat("p_brand", 2).alias("brand_twice"),
    )


_EQUIDEPTH_ORACLE = """
SELECT l_returnflag AS l_returnflag,
       CAST(bucket AS INT) AS bucket,
       COUNT(*) AS n,
       ROUND(MIN(l_extendedprice), 4) AS lo,
       ROUND(MAX(l_extendedprice), 4) AS hi
FROM (
  SELECT l_returnflag, l_extendedprice,
         ntile(8) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
         ) AS bucket
  FROM lineitem
) t
GROUP BY l_returnflag, bucket
"""


@query("agg_equidepth_histogram", oracle=_EQUIDEPTH_ORACLE)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram via ntile over a TOTAL order (the
    (price, orderkey, linenumber) tie-break makes bucket assignment
    engine-independent) — the data-driven complement to the fixed-width
    agg_histogram_quantiles: bucket populations equal by construction,
    boundaries adapt to the distribution.

    A per-row sharded rank costs a fact-sized range exchange, offsets
    join and final agg — all to produce 24 rows. This needs NO per-row
    rank: a bucket's n/lo/hi are TIE-BREAK INDEPENDENT (the tie-break
    only permutes equal values within ranks, so the value multiset at
    ranks [start_b, end_b] is determined by value-level counts alone).
    The query therefore collapses to the VALUE level:

    1. groupBy(flag, price) -> counts (map-side combine; the only
       fact-scale op, and its shuffle is bounded by the PRICE DOMAIN,
       not the row count — the right asymptote for 100 TB);
    2. sharded running counts over distinct values per flag
       (:func:`global_prefix_sums` with partition_by — value-level,
       domain-bounded);
    3. each value spans NTILE buckets b1..b2 = ntile_from_rank(R+1) ..
       ntile_from_rank(R+c) (exact integer arithmetic); explode the
       <= k-long span, min/max prices per bucket, bucket sizes in
       closed form.

    The NTILE SQL oracle adjudicates the value-level path directly."""
    from clinical_bi_spark.operators.ranking import (
        global_prefix_sums,
        ntile_from_rank,
    )

    t = load_tables(tune(spark), sf_dir)
    li = t.lineitem.select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    vals = persist_tracked(
        li.groupBy("l_returnflag", "l_extendedprice").agg(
            F.count("*").alias("c")
        )
    )
    cum = global_prefix_sums(
        vals,
        [F.col("l_extendedprice")],
        ["c"],
        ["k"],
        partition_by=["l_returnflag"],
    )
    ng = vals.groupBy("l_returnflag").agg(
        F.sum("c").cast("bigint").alias("__ng")
    )
    e = cum.join(F.broadcast(ng), "l_returnflag")
    b1 = ntile_from_rank(F.col("k") - F.col("c") + 1, F.col("__ng"), 8)
    b2 = ntile_from_rank(F.col("k"), F.col("__ng"), 8)
    spans = e.select(
        "l_returnflag",
        "l_extendedprice",
        "__ng",
        F.explode(F.sequence(b1, b2)).alias("bucket"),
    )
    # bucket sizes in closed form: first (n mod 8) buckets take one extra
    n_b = (
        F.floor(F.col("__ng") / 8)
        + F.when(F.col("bucket") <= F.col("__ng") % 8, 1).otherwise(0)
    ).cast("bigint")
    return (
        spans.withColumn("__nb", n_b)
        .groupBy("l_returnflag", "bucket")
        .agg(
            F.max("__nb").alias("n"),
            F.round(F.min("l_extendedprice"), 4).alias("lo"),
            F.round(F.max("l_extendedprice"), 4).alias("hi"),
        )
    )


# Chi-square independence, deterministic-float edition: per-cell terms
# (o*n - r*c)^2 / (n*r*c) are built from exact BIGINT counts (one
# correctly-rounded division each), and the cross-cell reduction is a
# SEQUENTIAL fold over cells in sorted key order — float addition order
# pinned, so chi2 is bit-identical however Spark partitions (the same
# sorted-fold trick as data_temperature_mixture's denominator).
_CHISQ_ORACLE = """
WITH cells AS (
  SELECT dayofweek(ts) AS dow, event_type, COUNT(*) AS o
  FROM events GROUP BY dayofweek(ts), event_type
), rows_t AS (
  SELECT dow, SUM(o)::BIGINT AS r FROM cells GROUP BY dow
), cols_t AS (
  SELECT event_type, SUM(o)::BIGINT AS c FROM cells GROUP BY event_type
), tot AS (
  SELECT SUM(o)::BIGINT AS n FROM cells
), full_cells AS (
  -- full row x column cross product: an EMPTY contingency cell still
  -- contributes (0 - E)^2 / E = r*c/n to the statistic
  SELECT rt.dow, ct.event_type, rt.r, ct.c, COALESCE(ce.o, 0)::BIGINT AS o
  FROM rows_t rt
  CROSS JOIN cols_t ct
  LEFT JOIN cells ce ON ce.dow = rt.dow AND ce.event_type = ct.event_type
), terms AS (
  SELECT fc.dow, fc.event_type,
         CAST((fc.o * t.n - fc.r * fc.c) AS DOUBLE)
           * CAST((fc.o * t.n - fc.r * fc.c) AS DOUBLE)
           / (CAST(t.n AS DOUBLE) * CAST(fc.r AS DOUBLE)
              * CAST(fc.c AS DOUBLE)) AS term
  FROM full_cells fc
  CROSS JOIN tot t
)
SELECT CAST((SELECT COUNT(*) FROM rows_t) - 1 AS INT)
         * CAST((SELECT COUNT(*) FROM cols_t) - 1 AS INT) AS dof,
       CAST((SELECT COUNT(*) FROM terms) AS BIGINT) AS n_cells,
       list_reduce(
         list_prepend(0.0::DOUBLE,
           list_transform(
             list_sort(list(struct_pack(dow := dow, et := event_type,
                                        term := term))),
             x -> x.term)),
         (a, b) -> a + b) AS chi2
FROM terms
"""


@query("agg_chi_square", oracle=_CHISQ_ORACLE)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test (weekday x event_type): per-cell
    terms come from exact BIGINT counts via the cross-multiplied form
    (o*n - r*c)^2 / (n*r*c) — no float expected-counts intermediate —
    and the cross-cell sum folds SEQUENTIALLY over sorted cell keys, so
    the statistic is bit-identical across engines and partitionings
    (native SUM over doubles would be order-nondeterministic).

    The contingency table is the FULL row x column cross product
    (marginals cross-joined, observed counts left-joined with a 0
    default): an empty cell still contributes (0 - E)^2 / E = r*c/n,
    which the observed-cells-only form would silently omit whenever a
    (dow, event_type) combination has no events (at
    SF_ORACLE all cells happen to be populated, so the numpy referee
    pins the empty-cell path via a sparse fixture instead).

    Encoding note: Spark's dayofweek is 1-7 (Sun=1), DuckDB's is 0-6
    (Sun=0) — a constant shift, so the cell PARTITION and the sorted
    fold ORDER are identical; the dow value itself never reaches the
    output, which is what makes the discrepancy harmless here (and why
    the output exposes only dof/n_cells/chi2)."""
    t = load_tables(tune(spark), sf_dir)
    cells = (
        t.events.select(
            F.dayofweek("ts").alias("dow"), "event_type"
        )
        .groupBy("dow", "event_type")
        .agg(F.count("*").alias("o"))
    )
    rows_t = cells.groupBy("dow").agg(F.sum("o").cast("bigint").alias("r"))
    cols_t = cells.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("c")
    )
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    # full row x column cross product (both marginal tables are tiny —
    # 7 weekdays x #event_types — so the crossJoin broadcasts); empty
    # cells left-join to o=0 and still contribute (0-E)^2/E = r*c/n
    full_cells = (
        rows_t.crossJoin(F.broadcast(cols_t))
        .join(cells, ["dow", "event_type"], "left")
        .select(
            "dow",
            "event_type",
            "r",
            "c",
            F.coalesce("o", F.lit(0)).cast("bigint").alias("o"),
        )
    )
    terms = (
        full_cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "event_type",
            (
                (F.col("o") * F.col("n") - F.col("r") * F.col("c"))
                .cast("double")
                * (F.col("o") * F.col("n") - F.col("r") * F.col("c"))
                .cast("double")
                / (
                    F.col("n").cast("double")
                    * F.col("r").cast("double")
                    * F.col("c").cast("double")
                )
            ).alias("term"),
        )
    )
    n_rows = rows_t.count()
    n_cols = cols_t.count()
    return terms.agg(
        F.lit((n_rows - 1) * (n_cols - 1)).cast("int").alias("dof"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(dow, event_type AS et, term))), x -> x.term),"
            " 0.0D, (a, b) -> a + b)"
        ).alias("chi2"),
    )
