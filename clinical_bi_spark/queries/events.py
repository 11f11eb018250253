"""Event-table queries — batch forms of the streaming operators (the
streaming forms live in clinical_bi_spark/streaming/ and
queries/streamingops.py).

The reference is batch-only (SURVEY.md §2.8); these extend the surface with
the windowed/sessionized shapes a 100 TB event pipeline needs. Each batch
form is oracle-checked; the streaming forms reuse the same expressions so
correctness transfers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clinical_bi_spark.queries import query
from clinical_bi_spark.session import tune
from clinical_bi_spark.sources import load_tables

_TUMBLING_ORACLE = """
SELECT
  time_bucket(INTERVAL '5 minutes', ts) AS window_start,
  event_type                            AS event_type,
  COUNT(*)                              AS n_events,
  ROUND(SUM(value), 4)                  AS total_value
FROM events
GROUP BY 1, 2
"""


@query("evt_tumbling_window", oracle=_TUMBLING_ORACLE, bench=True)
def evt_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute window aggregate — partial agg map-side, one
    shuffle on (window, type); identical expression drives the
    watermarked streaming variant (streamingops.stream_tumbling_counts)."""
    t = load_tables(tune(spark), sf_dir)
    return (
        t.events.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_SLIDING_ORACLE = """
SELECT ws AS window_start, event_type, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type, value
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS ws,
         event_type, value
  FROM events
) hops
GROUP BY 1, 2
"""


@query("evt_sliding_window", oracle=_SLIDING_ORACLE)
def evt_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10-minute length, 5-minute hop): every event lands in
    exactly two windows. The oracle expands the hop as a UNION ALL of two
    shifted tumbling buckets — same semantics, different plan."""
    t = load_tables(tune(spark), sf_dir)
    return (
        t.events.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_SESSION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) > 1800.0
                 THEN 1 ELSE 0 END AS is_new
  FROM seq
), sess AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(session_id AS BIGINT) AS session_id,
       COUNT(*)                   AS n_events,
       MIN(ts)                    AS session_start,
       MAX(ts)                    AS session_end,
       ROUND(SUM(value), 4)       AS total_value
FROM sess
GROUP BY user_id, session_id
"""


@query("evt_sessionization", oracle=_SESSION_ORACLE, bench=True)
def evt_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-minute inactivity gap): lag + cumulative-sum
    session ids — one shuffle on user_id, then partition-local windows.
    Streaming twin: session_window(ts, gap) in streamingops."""
    t = load_tables(tune(spark), sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_sec = F.col("ts").cast("double") - F.lag(F.col("ts")).over(w).cast("double")
    is_new = (
        F.when(gap_sec.isNull() | (gap_sec > 1800.0), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        t.events.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(cum).cast("bigint"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


_JSON_ORACLE = """
SELECT json_extract_string(props, '$.k') AS k_val,
       event_type                        AS event_type,
       COUNT(*)                          AS n_events
FROM events
GROUP BY 1, 2
"""


@query("evt_json_extract", oracle=_JSON_ORACLE)
def evt_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON path over a string props column
    (extension — the reference has no JSON; a training-data pipeline's
    metadata columns are routinely JSON)."""
    t = load_tables(tune(spark), sf_dir)
    return (
        t.events.select(
            F.get_json_object(F.col("props"), "$.k").alias("k_val"), "event_type"
        )
        .groupBy("k_val", "event_type")
        .agg(F.count("*").alias("n_events"))
    )


_DEDUP_EVENTS_ORACLE = """
SELECT user_id, event_type, ts, event_id
FROM (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type,
                            time_bucket(INTERVAL '1 minute', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events
) t
WHERE rn = 1
"""


@query("evt_dedup_window", oracle=_DEDUP_EVENTS_ORACLE)
def evt_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup within a time bucket (keep-first): the batch twin of
    streaming dropDuplicates-with-watermark."""
    t = load_tables(tune(spark), sf_dir)
    bucket = F.window("ts", "1 minute")
    w = Window.partitionBy("user_id", "event_type", bucket).orderBy("ts", "event_id")
    return (
        t.events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "ts", "event_id")
    )


_ZSCORE_ORACLE = """
SELECT event_id,
       user_id,
       ROUND((value - AVG(value) OVER (PARTITION BY user_id))
             / NULLIF(STDDEV_SAMP(value) OVER (PARTITION BY user_id), 0), 4)
         AS zscore
FROM events
"""


@query("evt_group_zscore_window", oracle=_ZSCORE_ORACLE, bench=True)
def evt_group_zscore_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score as pure window expressions — the production form
    (whole-stage codegen, one shuffle on user_id, no Python boundary, no
    per-group in-memory materialization). This is the bench headline; the
    applyInPandas twin below stays as the grouped-map UDF surface demo and
    must agree with this plan (both share the oracle)."""
    t = load_tables(tune(spark), sf_dir)
    w = Window.partitionBy("user_id")
    std = F.stddev_samp("value").over(w)
    z = (F.col("value") - F.avg("value").over(w)) / F.when(std != 0, std)
    return t.events.select(
        "event_id", "user_id", F.round(z, 4).alias("zscore")
    )


@query("evt_group_zscore", oracle=_ZSCORE_ORACLE)
def evt_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (per-group pandas DataFrame in/out — the
    remaining Pandas-UDF shape after mapInPandas and
    applyInPandasWithState): per-user z-score normalization. The same
    semantics are expressible with window functions, which is exactly what
    makes this oracle-checkable — the UDF must agree with the relational
    form."""
    import pandas as pd

    t = load_tables(tune(spark), sf_dir)

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf["value"].std(ddof=1)
        if std and std > 0:
            z = ((pdf["value"] - pdf["value"].mean()) / std).round(4)
        else:
            z = pd.Series([None] * len(pdf), dtype="float64")
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "zscore": z}
        )

    return (
        t.events.select("event_id", "user_id", "value")
        .groupBy("user_id")
        .applyInPandas(normalize, schema="event_id long, user_id long, zscore double")
    )


# ---------------------------------------------------------------------------
# Funnel conversion — step-ORDERED event analytics (a click only counts
# after that user's first view; a purchase only after that click): the
# sequential-pattern query sessionization and plain window aggs can't
# express. Three chained min-ts reductions, each joining the previous
# step's survivors.
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
)
SELECT 'view' AS step, CAST(1 AS INT) AS step_idx,
       (SELECT COUNT(*) FROM v) AS n_users
UNION ALL
SELECT 'view>click', CAST(2 AS INT), (SELECT COUNT(*) FROM c)
UNION ALL
SELECT 'view>click>purchase', CAST(3 AS INT), (SELECT COUNT(*) FROM p)
"""


@query("evt_funnel_conversion", oracle=_FUNNEL_ORACLE)
def evt_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel with strict temporal ordering per
    user. Each stage is a filtered aggregate joined to the previous
    stage's survivors — survivor sets shrink monotonically, so the later
    joins are broadcastable at scale; the events table is scanned once
    per step with the event_type filter pushed down."""
    t = load_tables(tune(spark), sf_dir)
    ev = t.events
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def step(df, name, idx):
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(name).alias("step"),
            F.lit(idx).cast("int").alias("step_idx"),
            "n_users",
        )

    return (
        step(v, "view", 1)
        .unionByName(step(c, "view>click", 2))
        .unionByName(step(p, "view>click>purchase", 3))
    )


_RETENTION_ORACLE = """
WITH s AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cw FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events
)
SELECT CAST(s.cw AS DATE) AS cohort_week,
       CAST(datediff('day', s.cw, a.aw) // 7 AS INT) AS week_offset,
       COUNT(DISTINCT s.user_id) AS n_users
FROM s JOIN a USING (user_id)
WHERE a.aw >= s.cw
GROUP BY 1, 2
"""


@query("evt_retention_cohorts", oracle=_RETENTION_ORACLE)
def evt_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by signup week, counted in
    every later week they were active. Both week columns are Monday
    truncations, so the offset division is exact. The distinct
    (user, week) activity set keeps the join input linear in users ×
    active weeks, not raw events."""
    t = load_tables(tune(spark), sf_dir)
    ev = t.events
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cw"))
    )
    a = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("aw")).distinct()
    return (
        s.join(a, "user_id")
        .filter(F.col("aw") >= F.col("cw"))
        .groupBy(
            F.col("cw").cast("date").alias("cohort_week"),
            (F.datediff("aw", "cw") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_OHLC_ORACLE = """
WITH base AS (
  SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS window_start,
         ts, event_id, value
  FROM events
), w AS (
  SELECT user_id, window_start, value,
         first_value(value) OVER (
           PARTITION BY user_id, window_start ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open,
         last_value(value) OVER (
           PARTITION BY user_id, window_start ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
  FROM base
)
SELECT user_id, window_start, open,
       MAX(value) AS high, MIN(value) AS low, close,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM w GROUP BY user_id, window_start, open, close
"""


@query("evt_ohlc_downsample", oracle=_OHLC_ORACLE)
def evt_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate downsampling: per user per
    day, OHLC (open/high/low/close) of the event value — the canonical
    time-series rollup (TimescaleDB continuous aggregates, OHLC bars).
    Open/close use MIN/MAX over a (ts, event_id, value) struct —
    lexicographic on the unique (ts, event_id) prefix, so value never
    tie-breaks and the semantics equal min_by/max_by with that composite
    order, deterministic under ts ties. The struct-MIN form was chosen
    by measurement: it plans as ObjectHashAggregate and ran 2.7× faster
    at the ×50 scale cell than the equivalent min_by(value, struct(...))
    (SortAggregate — declarative MaxMinBy with a struct ordering buffer
    sorts every map partition; PERF.md). Still ONE shuffle on
    (user, window) with map-side partial merge and no window function
    over the raw stream. Exactly oracled: open/high/low/close are raw
    data values (no float accumulation), counts are integers.

    100 TB: this is the continuous-aggregate the events table would
    maintain incrementally; the same expressions run under
    Structured Streaming (cf. stream_tumbling_window) because min_by is
    an order-independent merge."""
    t = load_tables(tune(spark), sf_dir)
    s = F.struct("ts", "event_id", "value")
    return (
        t.events.groupBy("user_id", F.window("ts", "1 day").alias("w"))
        .agg(
            F.min(s)["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(s)["value"].alias("close"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


_RANGE_BANDS, _RANGE_STEP, _RANGE_WIDTH = 97, 5.0, 10.0

_RANGE_ORACLE = f"""
WITH bands AS (
  SELECT i AS band_id,
         CAST(i AS DOUBLE) * {_RANGE_STEP} AS lo,
         CAST(i AS DOUBLE) * {_RANGE_STEP} + {_RANGE_WIDTH} AS hi
  FROM (SELECT UNNEST(range(0, {_RANGE_BANDS})) AS i)
)
SELECT b.band_id, b.lo, b.hi,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 100.0) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       ROUND(CAST(SUM(CAST(ROUND(e.value * 100.0) AS BIGINT)) AS DOUBLE)
             / 100.0 / CAST(COUNT(*) AS DOUBLE), 4) AS avg_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band_id, b.lo, b.hi
"""


@query("j_range_interval_join", oracle=_RANGE_ORACLE)
def j_range_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via the GRID-CELL equi-join rewrite: events
    join OVERLAPPING value bands [i*5, i*5+10) — each value matches up to
    two bands, so this is a true interval join, not a bucketize. The
    naive plan is a nested-loop over every (event, band) pair; the
    rewrite maps each band to the grid cells it covers (cell width =
    band step, so exactly 2 cells/band) and each event to its one cell,
    turning the join into an EQUI-join on cell + a residual lo/hi filter
    — the standard range-join optimization (Databricks' range-join hint,
    DuckDB's IEJoin motivation) expressed in plain DataFrame ops.
    Plan-asserted: BroadcastHashJoin, never BroadcastNestedLoopJoin.

    Per-band aggregates stay exact: counts, integer cent sums (values
    have 2-decimal granularity, so ROUND(value*100) is an exact integer
    — the order-independent-sum pattern), and an avg derived from the
    two exact operands with shared-text float ops.

    100 TB: with millions of bands and billions of events the same plan
    becomes a shuffle equi-join on cell — linear work per side — where
    the nested loop is quadratic; cells-per-band stays O(width/step),
    independent of data size."""
    t = load_tables(tune(spark), sf_dir)
    bands = spark.range(_RANGE_BANDS).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id").cast("double") * _RANGE_STEP).alias("lo"),
        (F.col("id").cast("double") * _RANGE_STEP + _RANGE_WIDTH).alias("hi"),
    )
    # band i covers exactly cells {i, i+1} (width = 2 steps)
    band_cells = bands.select(
        "band_id",
        "lo",
        "hi",
        F.explode(
            F.array(F.col("band_id"), F.col("band_id") + 1)
        ).alias("cell"),
    )
    events = t.events.select(
        "value", F.floor(F.col("value") / _RANGE_STEP).cast("int").alias("cell")
    )
    cents = F.round(F.col("value") * 100.0).cast("long")
    return (
        events.join(F.broadcast(band_cells), "cell")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("band_id", "lo", "hi")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(cents).cast("long").alias("sum_cents"),
        )
        .withColumn(
            "avg_value",
            F.expr(
                "ROUND(CAST(sum_cents AS DOUBLE) / 100.0 "
                "/ CAST(n_events AS DOUBLE), 4)"
            ),
        )
        .select(
            "band_id", "lo", "hi", "n_events", "sum_cents", "avg_value"
        )
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences.
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS dst
  FROM events
), pairs AS (
  SELECT src, dst, COUNT(*) AS n_transitions
  FROM seq WHERE dst IS NOT NULL
  GROUP BY src, dst
)
SELECT src AS src,
       dst AS dst,
       n_transitions AS n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY src) AS DOUBLE) AS prob
FROM pairs
"""


@query("evt_markov_transitions", oracle=_MARKOV_ORACLE)
def evt_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences
    (src event_type -> next event_type, with empirical probability) —
    the sequence-mining primitive behind funnel and next-action models.

    Scale shape: ONE shuffle on user_id for the lead() window (total
    order via the (ts, event_id) tie-break), then a groupBy on the
    (src, dst) pair — at most |types|^2 groups, partial-agg'd map-side
    to almost nothing. The per-src normalization runs on the aggregated
    matrix (tiny), never on the event stream. prob is an exact-integer
    ratio evaluated as one correctly-rounded double division, so it is
    bit-identical across engines."""
    t = load_tables(tune(spark), sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        t.events.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_transitions"))
    )
    per_src = Window.partitionBy("src")
    return pairs.select(
        "src",
        "dst",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(per_src).cast("double")
        ).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Robust anomaly thresholds: median absolute deviation per event type.
# ---------------------------------------------------------------------------

# Determinism note: the exact interpolated median equals Spark
# `percentile` ≡ DuckDB `quantile_cont` (already proven hash-equal by
# agg_percentiles); the MAD recomputes a median over |x - med| where
# every input is one correctly-rounded subtraction of the same doubles
# in both engines. The outlier count compares against ROUNDED thresholds
# with the identical expression on both sides, so a boundary flip would
# need the unrounded medians themselves to diverge — which the other
# columns would catch first.
_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type,
         quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m ON m.event_type = e.event_type
  GROUP BY e.event_type
)
SELECT m.event_type AS event_type,
       ROUND(m.med, 6) AS median_value,
       ROUND(d.mad, 6) AS mad,
       CAST(COUNT(*) FILTER (
         WHERE ROUND(abs(e.value - m.med), 6) > ROUND(3.0 * d.mad, 6)
       ) AS BIGINT) AS n_outliers,
       COUNT(*) AS n_events
FROM events e
JOIN med m ON m.event_type = e.event_type
JOIN mad d ON d.event_type = e.event_type
GROUP BY m.event_type, m.med, d.mad
"""


@query("evt_anomaly_mad", oracle=_MAD_ORACLE)
def evt_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type anomaly thresholds: median + median absolute
    deviation (the estimator mean/stddev z-scores cannot give once a few
    outliers poison the moments — compare evt_group_zscore), plus the
    count beyond 3 MADs. Three passes over a 5-type table: median agg,
    MAD agg over the broadcast-joined residuals, outlier count — each
    one shuffle with map-side partials; the medians ride broadcast joins
    so the event stream never re-shuffles."""
    t = load_tables(tune(spark), sf_dir)
    med = t.events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    with_med = t.events.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5D)").alias("mad")
    )
    joined = with_med.join(F.broadcast(mad), "event_type")
    outlier = F.round(F.abs(F.col("value") - F.col("med")), 6) > F.round(
        3.0 * F.col("mad"), 6
    )
    return joined.groupBy("event_type", "med", "mad").agg(
        F.count(F.when(outlier, 1)).cast("bigint").alias("n_outliers"),
        F.count("*").alias("n_events"),
    ).select(
        "event_type",
        F.round("med", 6).alias("median_value"),
        F.round("mad", 6).alias("mad"),
        "n_outliers",
        "n_events",
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: purchases credit their latest click within 7 days.
# ---------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
  SELECT event_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
), matched AS (
  SELECT p.event_id, p.user_id, p.ts, p.value,
         c.click_id AS raw_click, c.ts AS raw_click_ts
  FROM purchases p
  ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT event_id AS purchase_id,
       user_id AS user_id,
       ts AS purchase_ts,
       CASE WHEN raw_click_ts IS NOT NULL
                 AND ts <= raw_click_ts + INTERVAL 7 DAY
            THEN raw_click END AS attributed_click_id,
       CASE WHEN raw_click_ts IS NOT NULL
                 AND ts <= raw_click_ts + INTERVAL 7 DAY
            THEN 'click' ELSE 'organic' END AS channel,
       ROUND(value, 4) AS purchase_value
FROM matched
"""


@query("evt_attribution_last_touch", oracle=_ATTRIBUTION_ORACLE)
def evt_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution with a 7-day lookback: each purchase
    credits the user's most recent click (as-of join — one shuffle,
    linear pass), demoted to 'organic' when the click is stale. Clicks
    pre-reduce per (user, ts) to a deterministic max event_id so the
    inclusive-tie pick matches DuckDB's ASOF exactly. The lookback test
    uses calendar INTERVAL arithmetic on the naive timestamps — identical
    in both engines and immune to session-timezone/DST effects that
    epoch-seconds deltas would pick up."""
    from clinical_bi_spark.operators.asof import asof_join

    t = load_tables(tune(spark), sf_dir)
    clicks = (
        t.events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", "ts", "click_id", F.col("ts").alias("click_ts"))
    )
    purchases = t.events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    m = asof_join(
        purchases, clicks, key="user_id", ts="ts",
        value_cols=["click_id", "click_ts"],
    )
    fresh = F.col("click_ts_asof").isNotNull() & (
        F.col("ts") <= F.col("click_ts_asof") + F.expr("INTERVAL 7 DAYS")
    )
    return m.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(fresh, F.col("click_id_asof")).alias("attributed_click_id"),
        F.when(fresh, F.lit("click")).otherwise("organic").alias("channel"),
        F.round("value", 4).alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Typed JSON parsing (schema-on-read into struct columns).
# ---------------------------------------------------------------------------

_JSON_TYPED_ORACLE = """
SELECT event_type AS event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS max_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
"""


@query("evt_json_typed_parse", oracle=_JSON_TYPED_ORACLE)
def evt_json_typed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read: from_json parses the props column into a TYPED
    struct ONCE (one parse per row, fields then free), the pattern that
    replaces N get_json_object calls each re-parsing the document; the
    integer aggregates over the extracted field are exact. The oracle
    extracts with DuckDB's JSON path + cast — same values, proving the
    typed parse lossless."""
    t = load_tables(tune(spark), sf_dir)
    parsed = t.events.select(
        "event_type",
        F.from_json(F.col("props"), "k BIGINT").alias("p"),
    )
    return parsed.groupBy("event_type").agg(
        F.sum("p.k").cast("bigint").alias("sum_k"),
        F.min("p.k").cast("bigint").alias("min_k"),
        F.max("p.k").cast("bigint").alias("max_k"),
        F.count("*").alias("n"),
    )


# MATCH_RECOGNIZE-style complex-event-processing patterns (SQL:2016 row
# pattern matching — Spark has no MATCH_RECOGNIZE, so the engine
# re-expresses it with the gaps-and-islands technique: collapse maximal
# same-type runs to islands, then pattern-match over the island sequence
# with lead()). Generalized to a parameterized PATTERN SPEC: an
# ordered tuple of (event_type, min_count) steps, where each step matches
# one maximal island of that type with at least min_count events —
# min_count=1 is the `type+` quantifier, min_count=m is `type{m,}`.
# Step types must be pairwise distinct: islands are maximal, so adjacent
# islands always differ in type, which makes matches of a distinct-type
# pattern non-overlapping by construction — exactly the
# AFTER MATCH SKIP PAST LAST ROW semantics.
#
# The streaming twin (streaming/stateful.py make_cep_update) runs the
# same spec with O(1) per-user state; both share the unrolled-CTE oracle
# generated by _cep_oracle below.

CepStep = tuple[str, int]

CEP_DEFAULT_PATTERN: tuple[CepStep, ...] = (
    ("view", 1), ("click", 1), ("purchase", 1),
)
CEP_DEFAULT_NAMES: tuple[str, ...] = ("n_view", "n_click", "n_purchase")
#: Quantified pattern: signup+ error{2,} view+  — same machinery,
#: different step types AND a non-trivial min-count quantifier.
CEP_QUANTIFIED_PATTERN: tuple[CepStep, ...] = (
    ("signup", 1), ("error", 2), ("view", 1),
)
CEP_QUANTIFIED_NAMES: tuple[str, ...] = ("n_signup", "n_error", "n_view")


def _cep_oracle(pattern: tuple[CepStep, ...], out_names: tuple[str, ...]) -> str:
    """Unrolled gaps-and-islands CTE oracle for an arbitrary pattern spec
    (k-1 leads over the island sequence + type/min-count predicates)."""
    k = len(pattern)
    t_cols = ["event_type AS t1"] + [
        f"lead(event_type, {j}) OVER w AS t{j + 1}" for j in range(1, k)
    ]
    c_cols = [f"n_events AS {out_names[0]}"] + [
        f"lead(n_events, {j}) OVER w AS {out_names[j]}" for j in range(1, k)
    ]
    preds = [f"t{j + 1} = '{pattern[j][0]}'" for j in range(k)] + [
        f"{out_names[j]} >= {pattern[j][1]}"
        for j in range(k)
        if pattern[j][1] > 1
    ]
    casts = ",\n       ".join(
        f"CAST({n} AS BIGINT) AS {n}" for n in out_names
    )
    return f"""
WITH e AS (
  SELECT user_id, event_id, ts, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rnt
  FROM events
), isl AS (
  SELECT user_id, event_type,
         MIN(ts) AS start_ts, MAX(ts) AS end_ts,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         MIN(rn) AS first_rn
  FROM (SELECT *, rn - rnt AS grp FROM e) g
  GROUP BY user_id, event_type, grp
), seqd AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY first_rn)
              AS isl_seq
  FROM isl
), pat AS (
  SELECT user_id, {", ".join(t_cols)},
         start_ts AS match_start,
         lead(end_ts, {k - 1}) OVER w AS match_end,
         {", ".join(c_cols)}
  FROM seqd WINDOW w AS (PARTITION BY user_id ORDER BY isl_seq)
)
SELECT user_id, match_start, match_end,
       {casts},
       ROUND(epoch(match_end) - epoch(match_start), 6) AS duration_sec
FROM pat
WHERE {" AND ".join(preds)}
"""


def cep_pattern_match(
    events: DataFrame,
    pattern: tuple[CepStep, ...],
    out_names: tuple[str, ...],
) -> DataFrame:
    """Match a parameterized island pattern over each user's event stream:
    rn minus per-type rn is constant exactly within a maximal same-type
    run, runs collapse to islands, and a k-wide lead() over the island
    sequence finds the pattern; min-count quantifiers filter island sizes.

    One exchange on user_id: every window partitions by user_id and the
    island groupBy includes it, so Catalyst reuses the same hash
    partitioning end to end — at 100 TB the cost is one shuffle of
    (user, ts, type) plus partition-local sorts, independent of k."""
    k = len(pattern)
    if len({t for t, _ in pattern}) != k:
        raise ValueError("pattern step types must be pairwise distinct")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    e = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.row_number().over(w_user).alias("rn"),
        F.row_number().over(w_type).alias("rnt"),
    ).withColumn("grp", F.col("rn") - F.col("rnt"))
    isl = e.groupBy("user_id", "event_type", "grp").agg(
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.count("*").cast("bigint").alias("n_events"),
        F.min("rn").alias("first_rn"),
    )
    w_isl = Window.partitionBy("user_id").orderBy("first_rn")
    seqd = isl.withColumn("isl_seq", F.row_number().over(w_isl))
    w_seq = Window.partitionBy("user_id").orderBy("isl_seq")
    pat = seqd.select(
        "user_id",
        F.col("event_type").alias("t1"),
        *[
            F.lead("event_type", j).over(w_seq).alias(f"t{j + 1}")
            for j in range(1, k)
        ],
        F.col("start_ts").alias("match_start"),
        F.lead("end_ts", k - 1).over(w_seq).alias("match_end"),
        F.col("n_events").alias(out_names[0]),
        *[
            F.lead("n_events", j).over(w_seq).alias(out_names[j])
            for j in range(1, k)
        ],
    )
    cond = F.lit(True)
    for j, (step_type, min_n) in enumerate(pattern):
        cond = cond & (F.col(f"t{j + 1}") == step_type)
        if min_n > 1:
            cond = cond & (F.col(out_names[j]) >= min_n)
    return pat.filter(cond).select(
        "user_id",
        "match_start",
        "match_end",
        *out_names,
        F.round(
            F.col("match_end").cast("double")
            - F.col("match_start").cast("double"),
            6,
        ).alias("duration_sec"),
    )


@query(
    "evt_cep_pattern",
    oracle=_cep_oracle(CEP_DEFAULT_PATTERN, CEP_DEFAULT_NAMES),
    bench=True,
)
def evt_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP row-pattern matching (view+ click+ purchase, strictly
    contiguous per user): SQL:2016 MATCH_RECOGNIZE semantics via the
    parameterized gaps-and-islands machinery (cep_pattern_match).
    Matches are maximal and non-overlapping (AFTER MATCH SKIP PAST
    LAST ROW)."""
    t = load_tables(tune(spark), sf_dir)
    return cep_pattern_match(t.events, CEP_DEFAULT_PATTERN, CEP_DEFAULT_NAMES)


@query(
    "evt_cep_pattern_quantified",
    oracle=_cep_oracle(CEP_QUANTIFIED_PATTERN, CEP_QUANTIFIED_NAMES),
)
def evt_cep_pattern_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP with a QUANTIFIED pattern — signup+ error{2,} view+ — proving
    the machinery is parameterized, not a hard-coded three-type match:
    different step types than the flagship pattern plus a non-trivial
    min-count quantifier on the middle step (the error island must hold
    at least 2 events). Same single user_id exchange; the oracle is the
    unrolled CTE generated for THIS spec."""
    t = load_tables(tune(spark), sf_dir)
    return cep_pattern_match(
        t.events, CEP_QUANTIFIED_PATTERN, CEP_QUANTIFIED_NAMES
    )


# ---------------------------------------------------------------------------
# Forward-fill / last-observation-carried-forward: the gap-repair
# primitive for sparse sensor/metric streams. The fixture's value column
# is dense, so a deterministic 20% mask (md5 of event_id) synthesizes
# the gaps — same coin on both engines, so the oracle is exact.
# ---------------------------------------------------------------------------

_FFILL_ORACLE = """
WITH m AS (
  SELECT event_id, user_id, ts,
         CASE WHEN CAST('0x' || substr(md5(event_id::VARCHAR || ':gap'), 1, 8)
                   AS UBIGINT) % 5 = 0
              THEN NULL ELSE value END AS value_obs
  FROM events
)
SELECT event_id, user_id, ts,
       ROUND(value_obs, 4) AS value_obs,
       ROUND(last_value(value_obs IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             4) AS value_ff
FROM m
"""


@query("evt_forward_fill", oracle=_FFILL_ORACLE)
def evt_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user forward fill: last non-null observation carried forward
    over (ts, event_id) order — ``last(..., ignorenulls=True)`` over a
    running row frame, the expression-level LOCF that replaces the
    self-join backfill antipattern. Rows before a user's first
    observation stay NULL (no look-ahead). One user_id exchange +
    partition-local sort; the mask is a narrow md5 projection."""
    t = load_tables(tune(spark), sf_dir)
    gap = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":gap"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 5
        == 0
    )
    m = t.events.select(
        "event_id",
        "user_id",
        "ts",
        F.when(~gap, F.col("value")).alias("value_obs"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return m.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value_obs", 4).alias("value_obs"),
        F.round(F.last("value_obs", ignorenulls=True).over(w), 4).alias(
            "value_ff"
        ),
    )


# ---------------------------------------------------------------------------
# Time-bounded funnel: the conversion-window variant of
# evt_funnel_conversion — each step must occur within a WINDOW of the
# previous step's (earliest-qualifying) timestamp: first view -> first
# click within 3 days of that view -> first purchase within 7 days of
# that click. "Earliest qualifying" chains deterministically, so the
# per-user step timestamps and all counts are exact.
# ---------------------------------------------------------------------------

_FUNNEL_TB_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS v1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS c1
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND e.ts >= v.v1 AND e.ts <= v.v1 + INTERVAL 3 DAY
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS p1
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts >= c.c1 AND e.ts <= c.c1 + INTERVAL 7 DAY
  GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_3d,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_7d,
       ROUND(CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM v) AS DOUBLE), 6) AS view_to_click,
       ROUND(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
             / NULLIF(CAST((SELECT COUNT(*) FROM c) AS DOUBLE), 0), 6)
         AS click_to_purchase
"""


@query("evt_funnel_time_bounded", oracle=_FUNNEL_TB_ORACLE)
def evt_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: per-user earliest-qualifying step
    chain, each step inside its window. Three keyed aggregates over the
    events table with per-step broadcast joins of the (small) per-user
    step relation — the facts shuffle once per step on user_id and the
    chained step tables are entity-sized. The calendar INTERVAL
    arithmetic is timezone-immune (the last-touch-attribution
    precedent)."""
    t = load_tables(tune(spark), sf_dir)
    e = t.events
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(
            (F.col("ts") >= F.col("v1"))
            & (F.col("ts") <= F.col("v1") + F.expr("INTERVAL 3 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(
            (F.col("ts") >= F.col("c1"))
            & (F.col("ts") <= F.col("c1") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p1"))
    )
    nv = v.agg(F.count("*").cast("bigint").alias("n_view"))
    nc = c.agg(F.count("*").cast("bigint").alias("n_click_3d"))
    np_ = p.agg(F.count("*").cast("bigint").alias("n_purchase_7d"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_click_3d",
            "n_purchase_7d",
            F.round(
                F.col("n_click_3d").cast("double")
                / F.col("n_view").cast("double"),
                6,
            ).alias("view_to_click"),
            F.round(
                F.col("n_purchase_7d").cast("double")
                / F.nullif(F.col("n_click_3d").cast("double"), F.lit(0.0)),
                6,
            ).alias("click_to_purchase"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection: per user, the cumulative sum of
# deviations from the global mean S_t = sum_{k<=t}(x_k - mu) peaks where
# the user's level shifts — argmax |S_t| is the classic single-
# changepoint estimate (Page's CUSUM, public literature). mu folds as
# exact integer micro-units; the running deviation sum is the same
# sequential frame both engines compute (the w2_running_total parity),
# and the argmax orders by ROUND(|S|, 4) with (ts, event_id) tie-break
# so the selected row is engine-deterministic.
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH mu AS (
  SELECT CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS DOUBLE)
           / (1000000.0 * COUNT(*)) AS m
  FROM events
), s AS (
  SELECT e.user_id, e.ts, e.event_id,
         SUM(e.value - mu.m) OVER (
           PARTITION BY e.user_id ORDER BY e.ts, e.event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum,
         COUNT(*) OVER (PARTITION BY e.user_id) AS n_events
  FROM events e, mu
), r AS (
  SELECT user_id, ts, cusum, n_events,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY ROUND(ABS(cusum), 4) DESC, ts, event_id) AS rn
  FROM s
)
SELECT user_id,
       ts AS changepoint_ts,
       ROUND(cusum, 4) AS cusum_peak,
       CAST(n_events AS BIGINT) AS n_events
FROM r WHERE rn = 1
"""


@query("evt_changepoint_cusum", oracle=_CUSUM_ORACLE)
def evt_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM changepoint: one user_id exchange, two
    partition-local windows (running deviation sum + rounded-|S| argmax)
    — the level-shift detector for metric streams. The global mean
    enters as a literal from one exact integer-micro-unit aggregate
    (the LPA literal-inlining pattern; exact while the micro-unit sum
    stays under 2^53 — at larger scale the mean itself would fold as a
    broadcast one-row relation instead)."""
    t = load_tables(tune(spark), sf_dir)
    # NULL-value events are EXCLUDED from the detector (null-skipping):
    # a missing metric reading contributes neither to the global mean
    # nor to the deviation series — without the filter, F.sum skips the
    # NULLs but F.count doesn't, skewing mu, and an all-NULL corpus
    # crashes the driver-side None/float division.
    # The non-null fixtures adjudicate unchanged.
    ev = t.events.filter(F.col("value").isNotNull())
    micro = F.round(F.col("value") * 1000000).cast("bigint")
    sm, n = ev.agg(F.sum(micro), F.count("*")).first()
    mu = sm / (1000000.0 * n) if n else 0.0
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_n = Window.partitionBy("user_id")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.col("value") - F.lit(mu)).over(w_run).alias("cusum"),
        F.count("*").over(w_n).alias("n_events"),
    )
    w_r = Window.partitionBy("user_id").orderBy(
        F.round(F.abs("cusum"), 4).desc(), "ts", "event_id"
    )
    return (
        s.withColumn("rn", F.row_number().over(w_r))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("changepoint_ts"),
            F.round("cusum", 4).alias("cusum_peak"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Time-bucket gapfill + exact linear interpolation.
#
# The one hypertable-family semantic the events surface still lacked:
# TimescaleDB's time_bucket_gapfill(interpolate(...)) DENSIFIES the time
# axis — it emits rows for buckets with no input rows, which no plain
# groupBy/window can produce. Per (user, day): daily cents-sum + count
# (ONE fact-scale groupBy, map-side combined), LEAD over the per-user
# observed-bucket relation (second shuffle is on the ALREADY-AGGREGATED
# relation — users x active days, never raw events), then SINGLE-PASS
# emission: each observed bucket explodes into its own row CONCAT the
# transform(sequence(d+1, nd-1), ...) gap rows, one Generate — the
# union-of-branches form planned two complete fact scans (branches'
# pruned subplans differ, nothing reused; 2x the x1 wall, PERF.md) and
# is pinned away in tests/test_plans.py. Gap-local: no global calendar
# spine, no driver work, output-bound. Exactness playbook: values are exact
# integer MICRO-units end to end — observed avg = (10^4·s) div c,
# interpolated value at t in (d, nd) = the exact rational
#   (10^4·(s·nc·(nd-t) + ns·c·(t-d))) div (c·nc·(nd-d))
# (cross-multiplied so there is ONE integer division; all terms
# non-negative, so Spark `div` == DuckDB `//`). Overflow bound, stated
# as the product it really is: each summand is at most 10^4·S·C·Δ for
# S = max per-bucket cent-sum, C = max per-bucket count, Δ = gap days,
# so exactness needs 10^4·S·C·Δ < 2^62 (one headroom bit for the sum),
# i.e. S·C·Δ < ~4.6e14. The sf0.1 fixture sits at ~2e11 (S≈1.7e5, C≈4,
# Δ≤30), 3+ decades of margin; a NEAR-bound synthetic pin (S=2^31−1,
# C=128, Δ=1025 → largest intermediate ≈2.8e18, checked against Python
# big-int floor division) lives in tests/test_analytics.py. Day
# arithmetic is integer days since
# 1970-01-01 on both engines (date_add(DATE '1970-01-01', d) — tz-free),
# so the date column is portable by construction.
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = """
WITH obs AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s,
         COUNT(*) AS c
  FROM events
  GROUP BY 1, 2
), seq AS (
  SELECT *,
         LEAD(d) OVER w AS nd, LEAD(s) OVER w AS ns, LEAD(c) OVER w AS nc
  FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY d)
)
SELECT user_id,
       DATE '1970-01-01' + CAST(d AS INT) AS bucket_date,
       CAST((10000 * s) // c AS BIGINT) AS value_micro,
       'observed' AS src
FROM seq
UNION ALL
SELECT user_id,
       DATE '1970-01-01' + CAST(t AS INT) AS bucket_date,
       CAST((10000 * (s * nc * (nd - t) + ns * c * (t - d)))
            // (c * nc * (nd - d)) AS BIGINT) AS value_micro,
       'interpolated' AS src
FROM seq, UNNEST(range(d + 1, COALESCE(nd, d + 1))) AS u(t)
WHERE nd IS NOT NULL AND nd - d > 1
"""


@query("evt_gapfill_interpolate", oracle=_GAPFILL_ORACLE, bench=True)
def evt_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user gapfill with exact linear interpolation — see the
    block comment above for the densification semantics, the integer
    micro-unit exactness design and the stated overflow bound."""
    t = load_tables(tune(spark), sf_dir)
    epoch = F.lit("1970-01-01").cast("date")
    obs = t.events.groupBy(
        "user_id",
        F.datediff(F.col("ts").cast("date"), epoch).cast("bigint").alias("d"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("d")
    seq = obs.select(
        "*",
        F.lead("d").over(w).alias("nd"),
        F.lead("s").over(w).alias("ns"),
        F.lead("c").over(w).alias("nc"),
    )
    # Single-pass emission: each observed bucket explodes into its own
    # row CONCAT the gap rows up to the next observation. A UNION of an
    # observed branch and an interpolated branch would plan TWO complete
    # fact scans + aggregations (the branches' pruned subplans differ, so
    # nothing is reused) — one Generate over a struct array keeps the
    # plan at one scan, one aggregate exchange, one window exchange.
    row = (
        "explode(concat("
        "  array(named_struct("
        "    'bd', d, 'vm', (10000 * s) div c, 'src', 'observed')),"
        "  CASE WHEN nd IS NOT NULL AND nd - d > 1 THEN"
        "    transform(sequence(d + 1, nd - 1), t -> named_struct("
        "      'bd', t,"
        "      'vm', (10000 * (s * nc * (nd - t) + ns * c * (t - d)))"
        "            div (c * nc * (nd - d)),"
        "      'src', 'interpolated'))"
        "  ELSE array() END))"
    )
    return seq.select("user_id", F.expr(row).alias("r")).select(
        "user_id",
        F.date_add(epoch, F.col("r.bd").cast("int")).alias("bucket_date"),
        F.col("r.vm").alias("value_micro"),
        F.col("r.src").alias("src"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (LOCF integral); its streaming twin is
# stream_time_weighted_avg (queries/streamingops.py).
#
# The canonical irregular-sampling aggregate (TimescaleDB
# time_weight('LOCF', ts, value)): a plain AVG over-weights bursts —
# the time-weighted mean integrates the last-observation-carried-forward
# step function and divides by the elapsed span, i.e.
#   TWA = Σ value_i · (t_{i+1} − t_i) / (t_N − t_1)
# (the last observation bounds the integral and contributes no segment;
# users with one event or a zero span have no elapsed time and emit
# NULL — the degenerate contract). Exactness playbook: timestamps as
# exact integer MICROSECONDS (Spark unix_micros == DuckDB epoch_us —
# both truncate the fixture's nanos identically), values as cents, ties
# broken by event_id on both engines (a zero-width segment contributes
# 0 either way, but the order is still pinned). The output micro-unit
# division splits at the remainder so no intermediate needs 128 bits:
#   (10^4·num) div span == 10^4·(num div span) + (10^4·(num mod span)) div span
# — exact for non-negative integers, and the pieces are bounded by
# 10^4·max_cents (≈5.6e8) and 10^4·span (≈2.6e16 for a 30-day span);
# num itself is Σ cents·Δus ≤ max_cents·span ≈ 1.5e17 < 2^63. Scale
# shape: ONE shuffle — the per-user window and the per-user groupBy
# share hash(user_id) partitioning, so Catalyst plans the aggregate
# exchange-free on top of the window sort (plan-pinned). Monster-key
# skew (the per-user window's honest hazard) is measured, not assumed:
# at x50 with 20% of 5M events on ONE key the box still absorbs the
# single-task sort (3.14 s vs 1.22 even; PERF.md). At the ~10^8-events-
# per-key regime where that sort owns the wall, the LOCF segment sum
# splits exactly at day boundaries (intra-day sums under hash(user, day)
# plus a LEAD over the per-user day relation for the crossing segments);
# no workload reaches that regime, so only the per-user form ships.
# ---------------------------------------------------------------------------

_TWA_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
), seg AS (
  SELECT user_id, cents, us,
         LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nus
  FROM e
), a AS (
  SELECT user_id,
         SUM(CASE WHEN nus IS NULL THEN 0 ELSE cents * (nus - us) END) AS num,
         MAX(us) - MIN(us) AS span,
         COUNT(*) AS n_events
  FROM seg GROUP BY 1
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CASE WHEN span > 0 THEN
         CAST(10000 * (num // span) + (10000 * (num % span)) // span
              AS BIGINT)
       END AS twa_micro
FROM a
"""


@query("evt_time_weighted_avg", oracle=_TWA_ORACLE, bench=True)
def evt_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value (LOCF integral
    over the observation span, exact integer micro-units) — see the
    block comment above for the semantics and the remainder-split
    division."""
    t = load_tables(tune(spark), sf_dir)
    ev = t.events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seg = ev.select(
        "user_id", "cents", "us", F.lead("us").over(w).alias("nus")
    )
    a = seg.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("nus").isNotNull(),
                F.col("cents") * (F.col("nus") - F.col("us")),
            ).otherwise(F.lit(0))
        ).alias("num"),
        (F.max("us") - F.min("us")).alias("span"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return a.select(
        "user_id",
        "n_events",
        F.when(
            F.col("span") > 0,
            F.expr(
                "10000 * (num div span) + (10000 * (num % span)) div span"
            ),
        ).alias("twa_micro"),
    )
