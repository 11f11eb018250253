"""Streaming window aggregations over the events table.

Local harness: ``readStream`` over the parquet directory with an
``availableNow`` trigger and a memory sink — the documented smoke pattern
for driving a streaming query to completion synchronously. In production
the same plans run over Kafka/files with ``processingTime`` triggers;
nothing in the plan changes.

Watermarks bound state: ``withWatermark("ts", delay)`` lets Spark drop
window state older than the watermark — mandatory at 100 TB where unbounded
state OOMs the cluster.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_bi_spark.sources import normalize_events, read_parquet

_sink_counter = itertools.count()


def _reader(spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None):
    reader = spark.readStream.option("basePath", sf_dir)
    if max_files_per_trigger is not None:
        # one (or N) source file(s) per micro-batch: the multi-batch test
        # harness splits a fixture into chronological files so watermark
        # advancement / state eviction / cross-batch folds actually fire.
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader


def _events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    path = os.path.join(sf_dir, "events.parquet")
    schema = read_parquet(spark, path).schema
    # FileStreamSource wants a directory/glob, not a bare file: glob the
    # file (also matches a directory of chronological part files).
    return normalize_events(
        _reader(spark, sf_dir, max_files_per_trigger)
        .schema(schema)
        .parquet(path + "*")
    )


#: Fail-fast budget for driving a bounded stream to completion. An
#: availableNow trigger over the test fixtures finishes in seconds; if the
#: harness session can't sustain the state store, we must error (so the
#: driver records a failure for THIS query) rather than hang and shadow
#: every query registered after it.
STREAM_TIMEOUT_SECS = int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", "180"))

#: Session gap of the streaming sessionizers, in minutes. These minute
#: values are formatted for Spark here and for DuckDB in the oracles of
#: queries/streamingops.py.
SESSION_GAP_MIN = 30
#: Both interval joins: a view matches a purchase within
#: ``JOIN_WITHIN_MIN`` minutes after it; both sides are watermarked
#: ``JOIN_WATERMARK_MIN`` minutes behind.
JOIN_WITHIN_MIN, JOIN_WATERMARK_MIN = 10, 30


def _run_to_completion(
    stream_df: DataFrame,
    output_mode: str,
    progress_sink: list | None = None,
) -> DataFrame:
    """Drive a streaming aggregation over all available input, return the
    final result as a batch DataFrame (memory sink). Fails fast after
    ``STREAM_TIMEOUT_SECS`` instead of hanging the harness.

    ``progress_sink``: optional list that receives the run's
    StreamingQueryProgress dicts (micro-batch count, per-operator state
    rows) — the observability hook the multi-batch tests and the
    streaming scale-up harness read instead of re-deriving state size."""
    name = f"cbs_stream_{os.getpid()}_{next(_sink_counter)}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(STREAM_TIMEOUT_SECS)
    finally:
        if progress_sink is not None:
            progress_sink.extend(
                p if isinstance(p, dict) else p.json for p in (q.recentProgress or [])
            )
        if q.isActive:
            q.stop()
    if not finished:
        raise TimeoutError(
            f"streaming query {name} did not complete within "
            f"{STREAM_TIMEOUT_SECS}s (availableNow over bounded input "
            "should finish in seconds) — failing fast instead of hanging"
        )
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def tumbling_counts(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts — streaming twin of
    queries/events.evt_tumbling_window (same expressions). Complete output
    mode so the final memory table equals the batch result."""
    events = _events_stream(
        spark, sf_dir, max_files_per_trigger
    ).withWatermark("ts", "10 minutes")
    agg = (
        events.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
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
    return _run_to_completion(agg, "complete", progress_sink)


def session_windows(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """Native session windows (session_window, 30-minute gap) — streaming
    twin of the batch lag/cumsum sessionization
    (queries/events.evt_sessionization).
    """
    events = _events_stream(
        spark, sf_dir, max_files_per_trigger
    ).withWatermark("ts", "12 hours")
    return _run_to_completion(
        events.groupBy(F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        ),
        "complete",
        progress_sink,
    )


def dedup_with_watermark(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """Streaming dedup with watermark-bounded state — the streaming twin
    of keyed dedup on (user_id, event_type) (queries/events.evt_dedup_window).

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+): keeps the first
    occurrence per key and GUARANTEES state eviction once the key's event
    time falls behind the watermark. Plain ``dropDuplicates`` on a key
    subset that excludes the event-time column never cleans its state —
    unbounded growth on an unbounded stream — so it is the wrong operator
    at 100 TB."""
    events = _events_stream(
        spark, sf_dir, max_files_per_trigger
    ).withWatermark("ts", watermark)
    deduped = events.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    return _run_to_completion(
        deduped.select("event_id", "ts", "user_id", "event_type"),
        "append",
        progress_sink,
    )


_JOIN_WITHIN = f"{JOIN_WITHIN_MIN} minutes"
_JOIN_WATERMARK = f"{JOIN_WATERMARK_MIN} minutes"


def stream_stream_interval_join(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """Watermarked stream-stream INNER join: views joined to the same
    user's purchases within ``_JOIN_WITHIN`` after the view. Both sides carry
    watermarks and the join condition bounds event time on both — the two
    requirements that let Spark age out join state (without them a
    stream-stream join buffers forever; that unbounded state is the
    100 TB failure mode). Inner join over bounded input is
    arrival-order-independent, so the batch SQL oracle applies verbatim.
    """
    views = (
        _events_stream(spark, sf_dir, max_files_per_trigger)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", _JOIN_WATERMARK)
    )
    purchases = (
        _events_stream(spark, sf_dir, max_files_per_trigger)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", _JOIN_WATERMARK)
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND purchase_ts >= view_ts "
            f"AND purchase_ts <= view_ts + interval {_JOIN_WITHIN}"
        ),
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        "view_ts",
        "purchase_ts",
    )
    return _run_to_completion(joined, "append", progress_sink)


def stream_stream_left_outer_join(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the
    unattributed-view report (views with their purchase within
    ``_JOIN_WITHIN``, or NULL-padded when none arrives). The missing §2.8
    semantics next to the inner join: outer rows can only be emitted
    once the watermark PROVES no future match exists, so the result is
    the batch LEFT JOIN restricted by the final watermark.

    Determinism contract (calibrated empirically and pinned in
    tests/test_streaming.py):
    * the global watermark is min(max view_ts, max purchase_ts) -
      ``_JOIN_WATERMARK`` — a function of the DATA, not of batch slicing
      (verified identical for 1-batch, 4-file, and per-file replays);
    * a MATCHED row is always emitted (inner semantics);
    * an UNMATCHED view is emitted iff final_watermark >
      view_ts + ``_JOIN_WITHIN`` STRICTLY (a view exactly AT the boundary is
      withheld — pinned by a synthetic fixture with an unmatched view at
      watermark - within exactly);
    * views inside the tail band (view_ts + within >= watermark) whose
      match never arrived are NOT emitted — on an unbounded stream they
      are still awaiting matches; availableNow's no-data final batches
      flush everything below the watermark and nothing above it.
    The DuckDB oracle encodes exactly this cutoff, making the operator
    exactly adjudicable — stronger than the usual outer-join hand-wave
    that the tail is undefined."""
    views = (
        _events_stream(spark, sf_dir, max_files_per_trigger)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", _JOIN_WATERMARK)
    )
    purchases = (
        _events_stream(spark, sf_dir, max_files_per_trigger)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", _JOIN_WATERMARK)
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND purchase_ts >= view_ts "
            f"AND purchase_ts <= view_ts + interval {_JOIN_WITHIN}"
        ),
        "leftOuter",
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        "view_ts",
        "purchase_ts",
    )
    return _run_to_completion(joined, "append")


def stream_static_enrich_join(
    spark: SparkSession,
    sf_dir: str,
    dim_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """Stream-static dimension enrichment: the events stream LEFT-joined
    to a STATIC broadcast dimension (customer x nation) — the most common
    production streaming shape after windowed aggregation, and the one
    stream-join form the suite lacked (stream-stream inner/left-outer
    exist; this is the stream-SIDE broadcast-dim join).

    Execution contract, and why it is exactly adjudicable:
    * the static side is a bounded batch relation re-planned under every
      micro-batch; the ``broadcast()`` hint keeps it a broadcast hash
      join, so the STREAM side never shuffles and no state store exists
      (the multi-batch test pins ``stateOperators == []`` in every
      progress event — a stateless operator cannot depend on slicing);
    * per-row enrichment is arrival-order independent, so the emitted
      set equals the batch LEFT JOIN verbatim at any maxFilesPerTrigger;
    * LEFT join (not inner): an event with no dimension row must pass
      through NULL-padded — dropping unenriched facts silently is the
      classic production bug this operator's semantics forbid.

    At 100 TB the dimension stays executor-resident (one broadcast per
    micro-batch, refreshed by re-planning when the dim table's files
    change) while the fact stream flows map-side only — zero shuffle,
    zero state, the same plan shape Spark gives the batch twin.

    ``dim_dir``: where the dimension parquet lives (defaults to
    ``sf_dir``; the multi-batch harness splits only the event fixture,
    so tests point dims at the unsplit SF directory)."""
    from clinical_bi_spark.sources import load_tables

    t = load_tables(spark, dim_dir or sf_dir)
    dim = (
        t.customer.join(
            t.nation,
            t.customer.c_nationkey == t.nation.n_nationkey,
        )
        .select("c_custkey", "c_name", "c_mktsegment", "n_name")
    )
    ev = _events_stream(spark, sf_dir, max_files_per_trigger)
    joined = ev.join(
        F.broadcast(dim), ev.user_id == dim.c_custkey, "left"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        "value",
        "c_name",
        "c_mktsegment",
        "n_name",
    )
    return _run_to_completion(joined, "append", progress_sink)


def _documents_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    path = os.path.join(sf_dir, "documents.parquet")
    schema = read_parquet(spark, path).schema
    return (
        _reader(spark, sf_dir, max_files_per_trigger)
        .schema(schema)
        .parquet(path + "*")
    )


def stream_corpus_curation(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """Streaming ingest side of the batch curation funnel
    (queries/textops.pipeline_corpus_curation): quality gate + language
    gate (stateless, narrow — identical expressions to batch), exact dedup
    on the content fingerprint (streaming dropDuplicates state), per-source
    running counts in complete mode.

    The dedup keeper is DETERMINISTIC: per-fingerprint state tracks
    (min doc_id, its source) via a complete-mode groupBy — the final
    state is the same regardless of arrival order or batch slicing, so
    the per-source rollup is exactly adjudicable (earlier versions used
    dropDuplicates first-arrival state, which made the per-source split
    of cross-source duplicates order-dependent and the query rows-only).
    The rollup over the one-row-per-fingerprint sink output is a batch
    aggregation — the streaming job's state is the dedup, not the count.

    Unbounded-state note: documents carry no event time, so fingerprint
    state here grows with the corpus; a production ingest attaches an
    arrival timestamp and uses watermarked state, trading exactness
    across the watermark horizon for bounded state.
    """
    from clinical_bi_spark.functions.text import curation_keep, doc_fingerprint

    docs = _documents_stream(spark, sf_dir, max_files_per_trigger)
    # One fused gate expression: a streaming plan cannot persist the
    # scored projection the way the batch funnel does, and filter codegen
    # has no subexpression elimination, so the unfused
    # quality >= 0.85 AND language = 'en' form re-ran every text scan
    # (measured 2.4 s → 6.4 s at sf0.1). curation_keep
    # let-binds all eight scans once per document — same values.
    kept = docs.filter(curation_keep(F.col("text")))
    keepers = (
        kept.withColumn("fingerprint", doc_fingerprint(F.col("text")))
        .groupBy("fingerprint")
        .agg(F.min_by("source", "doc_id").alias("source"))
    )
    per_fp = _run_to_completion(keepers, "complete", progress_sink)
    return per_fp.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


def windowed_hll_registers(
    spark: SparkSession,
    sf_dir: str,
    m: int,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """Per-day HyperLogLog register table maintained as STREAMING state:
    (window_start, bucket, r). The state per window is m rows of two ints —
    the whole reason a distinct-user sketch works where streaming
    COUNT(DISTINCT) can't (Spark rejects distinct aggregates on streams;
    the exact alternative, dropDuplicates + count, keeps every user id in
    the state store — unbounded in users, vs m*windows here).

    groupBy(window, bucket).max(rho) is incremental and order-independent
    (max is a semilattice fold), so the final registers equal the batch
    registers regardless of micro-batch layout — that equality is exactly
    what the oracle adjudicates. Readout to an estimate happens batch-side
    after completion (a second streaming agg level would be a chained
    stateful operator; the register table IS the streaming product)."""
    from clinical_bi_spark.operators.sketches import hll_bucket_rho

    events = _events_stream(spark, sf_dir, max_files_per_trigger).withWatermark(
        "ts", "10 minutes"
    )
    bucket, rho = hll_bucket_rho(F.col("user_id"), m)
    regs = (
        events.select("ts", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(F.window("ts", "1 day").alias("w"), "bucket")
        .agg(F.max("rho").alias("r"))
        .select(F.col("w.start").alias("window_start"), "bucket", "r")
    )
    return _run_to_completion(regs, "complete", progress_sink)


def stream_upsert_current_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """Streaming CDC upsert via foreachBatch: each micro-batch folds into
    a keyed current-state table (one row per user: the latest event plus
    a running update count) with the anti-join+union MERGE emulation —
    the pattern a format-free warehouse uses for streaming upserts, and
    the one that becomes ``MERGE INTO`` with Delta/Iceberg
    (cf. sinks.write_jdbc for the batch-side equivalent).

    The merge is associative and arrival-order independent: "latest" is
    max over the unique (ts, event_id) struct key and counts add, so the
    final table equals the batch last-event-per-key query no matter how
    the input splits into micro-batches (the exact-oracle argument; the
    multi-batch test drives 3 real batches through it).

    Scale shape: per batch, ONE shuffle of the batch's per-key maxima
    (struct-valued MAX, partial-agg'd map-side) plus one keyed merge
    join against state; state is localCheckpoint'ed each epoch so
    lineage stays flat over unbounded streams (the connected-components
    recipe), and old epochs unpersist eagerly."""
    from clinical_bi_spark.caching import (
        local_checkpoint_tracked,
        release_rdd_ids,
    )

    events = _events_stream(spark, sf_dir, max_files_per_trigger)
    state: dict = {"df": None, "cached": None}

    key = F.struct("ts", "event_id", "event_type", "value")

    def batch_latest(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id")
            .agg(F.max(key).alias("k"), F.count("*").alias("n_updates"))
            .select(
                "user_id",
                F.col("k.ts").alias("last_ts"),
                F.col("k.event_id").alias("last_event_id"),
                F.col("k.event_type").alias("last_type"),
                F.col("k.value").alias("last_value"),
                "n_updates",
            )
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        incoming = batch_latest(batch_df)
        if state["df"] is None:
            merged = incoming
        else:
            both = state["df"].unionByName(incoming)
            k2 = F.struct(
                "last_ts", "last_event_id", "last_type", "last_value"
            )
            merged = (
                both.groupBy("user_id")
                .agg(
                    F.max(k2).alias("k"),
                    F.sum("n_updates").alias("n_updates"),
                )
                .select(
                    "user_id",
                    F.col("k.last_ts").alias("last_ts"),
                    F.col("k.last_event_id").alias("last_event_id"),
                    F.col("k.last_type").alias("last_type"),
                    F.col("k.last_value").alias("last_value"),
                    "n_updates",
                )
            )
        # truncate lineage + materialize before batch_df goes stale;
        # the tracked checkpoint registers its RDD blocks for release at
        # the next query boundary, and superseded epochs release eagerly
        checkpointed, rdd_ids = local_checkpoint_tracked(merged, eager=True)
        old_ids = state["cached"]
        state["df"] = checkpointed
        state["cached"] = rdd_ids
        if old_ids:
            release_rdd_ids(spark, old_ids)

    q = (
        events.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(STREAM_TIMEOUT_SECS)
    finally:
        if progress_sink is not None:
            progress_sink.extend(
                p if isinstance(p, dict) else p.json
                for p in (q.recentProgress or [])
            )
        if q.isActive:
            q.stop()
    if not finished:
        # release the last epoch's tracked localCheckpoint blocks before
        # failing: without this, a wedged stream leaks executor storage
        # for the life of the session
        if state["cached"]:
            release_rdd_ids(spark, state["cached"])
            state["cached"] = []
            state["df"] = None
        raise TimeoutError(
            "stream_upsert_current_state did not complete within "
            f"{STREAM_TIMEOUT_SECS}s — failing fast instead of hanging"
        )
    final = state["df"]
    if final is None:  # empty source
        return spark.createDataFrame(
            [],
            "user_id bigint, last_ts timestamp, last_event_id bigint, "
            "last_type string, last_value double, n_updates bigint",
        )
    # checkpoint blocks are already registered (local_checkpoint_tracked)
    # for release at the next query boundary
    return final


def sliding_counts(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
) -> DataFrame:
    """Watermarked SLIDING-window counts (10-minute windows every 5
    minutes, so every event is in two windows) — streaming twin of evt_sliding_window; complete
    output mode so the final memory table equals the batch result. The
    hop expansion happens map-side (each event expands to its covering
    windows before the state store), so state rows = live windows x
    types, not input size."""
    events = _events_stream(
        spark, sf_dir, max_files_per_trigger
    ).withWatermark("ts", "10 minutes")
    agg = (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
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
    return _run_to_completion(agg, "complete", progress_sink)
