"""Custom stateful streaming operators via applyInPandasWithState —
the escape hatch for semantics Structured Streaming's built-in aggregations
can't express (per-key running state with arbitrary transition logic).

Operators:

* ``user_running_stats`` — per-user running counters with a high-value
  alert flag; each micro-batch folds into (n_events, total_value,
  n_alerts) state per user and emits the updated snapshot.
* ``stream_cep_matches`` — streaming MATCH_RECOGNIZE over a
  PARAMETERIZED island-pattern spec (the batch twin is
  queries/events.cep_pattern_match); O(1) state per user: the last k-1
  closed same-type islands plus the open one.

State-boundedness contract (the ``evict`` argument of each operator):

* **Adjudication path (default, ``evict=False``)**:
  ``GroupStateTimeout.NoTimeout`` — state is never dropped, so the final
  snapshot per key equals the batch fold over ALL input regardless of
  batch slicing. This is the path the driver's exact oracle adjudicates;
  per-key state is O(1) but total state grows with distinct keys, which
  is only acceptable on bounded replays.
* **Production path (``evict=True``)**: watermarked
  input + ``GroupStateTimeout.EventTimeTimeout``; every update arms an
  event-time timeout at (last event ts + TTL) and a ``hasTimedOut``
  branch drops the key's state once the watermark passes it. Total state
  is bounded by the ACTIVE key set (keys seen within the TTL horizon) —
  the property that keeps the state store finite on an unbounded 100 TB
  stream. The semantic trade is explicit: a key idle past the TTL that
  later re-appears restarts from empty state (its running counters /
  island context reset at the horizon), so snapshots are exact only
  within the eviction horizon. tests/test_streaming.py asserts state
  rows FALL after the watermark passes idle keys, on both state-store
  providers.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from clinical_bi_spark.streaming.windows import SESSION_GAP_MIN

#: production-path knobs: watermark delay on the event-time column and
#: per-key idle TTL before state is dropped (event-time, not wall-clock)
EVICTION_WATERMARK = "1 hour"
EVICTION_TTL_MS = 24 * 3600 * 1000  # 1 day of event-time idleness


STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("n_alerts", LongType()),
    ]
)
OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("n_alerts", LongType()),
    ]
)

ALERT_THRESHOLD = 95.0


def _arm_timeout(state: GroupState, last_event_ms: int) -> None:
    """Arm the event-time timeout at (max-seen event ts + TTL), clamped
    above the current watermark (Spark rejects a timeout timestamp <=
    watermark — reachable when a key's only events arrive already
    near-expired).

    The max-seen basis is carried by the PREVIOUS armed timeout
    (``oldTimeoutTimestamp``, -1 when unarmed) rather than extra state:
    taking the max with it means an in-watermark LATE batch — whose own
    max event ts is OLDER than what the key already saw — can only
    extend the deadline, never pull it earlier and evict a still-active
    key (pinned by
    tests/test_streaming.py::test_eviction_timeout_never_regresses)."""
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(
        max(
            last_event_ms + EVICTION_TTL_MS,
            state.oldTimeoutTimestamp,
            wm + 1,
        )
    )


def _make_user_update(evict: bool):
    """Build the per-user running-stats transition fn. ``evict=True`` adds
    the EventTimeTimeout arm + hasTimedOut drop branch (production path);
    the fold itself is identical on both paths."""

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if evict and state.hasTimedOut:
            # idle past the TTL: the last emitted snapshot stands; drop
            # the state row (emit nothing — update-mode consumers keep
            # the latest snapshot per key)
            state.remove()
            return
        n_events, total_value, n_alerts = (
            state.get if state.exists else (0, 0.0, 0)
        )
        last_ms = 0
        for pdf in batches:
            n_events += len(pdf)
            total_value += float(pdf["value"].fillna(0.0).sum())
            n_alerts += int((pdf["value"] > ALERT_THRESHOLD).sum())
            if evict and len(pdf):
                last_ms = max(
                    last_ms, int(pdf["ts"].astype("int64").max()) // 1_000_000
                )
        # State keeps the UNROUNDED running sum; rounding is display-only on
        # the emitted snapshot. Rounding inside the state fold would compound
        # across micro-batches (round(round(a)+b) != round(a+b)) and make the
        # final snapshot drift off the batch ROUND(SUM(value), 4) oracle —
        # invisible in a single-batch run, real under maxFilesPerTrigger=1
        # (the multi-batch battery in tests/test_streaming.py covers this).
        state.update((n_events, total_value, n_alerts))
        if evict:
            _arm_timeout(state, last_ms)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n_events],
                "total_value": [round(total_value, 4)],
                "n_alerts": [n_alerts],
            }
        )

    return update


def user_running_stats(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
    evict: bool = False,
) -> DataFrame:
    """Run the stateful operator over the bounded events stream and return
    the final per-user snapshots (one per micro-batch a user appears in;
    the LAST one equals the batch groupBy regardless of batch slicing —
    tests pin that equivalence both single- and multi-batch).

    ``evict`` selects the state-boundedness path (see module docstring);
    default OFF for exact adjudication. Eviction trade: a user idle past the 1-day event-time
    TTL is dropped from the store and, if they re-appear, their running
    counters RESTART FROM ZERO — snapshots are exact only within the
    eviction horizon (pinned by tests/test_streaming.py::
    test_stateful_eviction_drops_idle_user_state and
    test_eviction_argument_selects_path)."""
    from clinical_bi_spark.streaming.windows import _events_stream, _run_to_completion

    events = _events_stream(spark, sf_dir, max_files_per_trigger).select(
        "user_id", "ts", "value"
    )
    if evict:
        events = events.withWatermark("ts", EVICTION_WATERMARK)
    updated = events.groupBy("user_id").applyInPandasWithState(
        _make_user_update(evict),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if evict
            else GroupStateTimeout.NoTimeout
        ),
    )
    return _run_to_completion(updated, "update", progress_sink)


# ---------------------------------------------------------------------------
# Streaming CEP: MATCH_RECOGNIZE over a parameterized pattern spec
# (ordered (event_type, min_count) steps matched against strictly
# contiguous maximal same-type islands per user) as a custom stateful
# operator — the batch twin is queries/events.cep_pattern_match's
# gaps-and-islands rewrite, and both share its unrolled-CTE oracle.
# State per user is O(1) in the stream and O(k) in the pattern length:
# the last k-1 CLOSED islands plus the currently-open island (type,
# start, end, count as int64 nanos) — runs spanning micro-batches stitch
# through it. A match finalizes when a last-step run CLOSES with the
# preceding k-1 islands matching the spec; an OPEN tail last-step run
# additionally emits a provisional snapshot each batch (update
# semantics) so bounded streams don't lose trailing matches — the
# consumer dedupes by (user, match_start) keeping the latest (done in
# stream_cep_matches below), so the final table equals the batch query
# however the input splits.
# ---------------------------------------------------------------------------


def _cep_state_schema(k: int) -> StructType:
    fields: list[StructField] = []
    for j in range(k - 1):
        fields += [
            StructField(f"h{j}_type", StringType()),
            StructField(f"h{j}_start", LongType()),
            StructField(f"h{j}_end", LongType()),
            StructField(f"h{j}_n", LongType()),
        ]
    fields += [
        StructField("cur_type", StringType()),
        StructField("cur_start", LongType()),
        StructField("cur_end", LongType()),
        StructField("cur_n", LongType()),
    ]
    return StructType(fields)


def _cep_output_schema(out_names: tuple[str, ...]) -> StructType:
    return StructType(
        [
            StructField("user_id", LongType()),
            StructField("match_start_ns", LongType()),
            StructField("match_end_ns", LongType()),
            *[StructField(n, LongType()) for n in out_names],
        ]
    )


def make_cep_update(
    pattern: tuple[tuple[str, int], ...],
    out_names: tuple[str, ...],
    evict: bool,
):
    """Build the stateful CEP transition fn for an arbitrary pattern spec.

    Chunk-order hardening: applyInPandasWithState only groups by key — a
    key's rows within one micro-batch can arrive as MULTIPLE pandas
    chunks whose order follows nondeterministic shuffle-fetch order, so
    the fn concatenates ALL chunks first and sorts ONCE by (ts,
    event_id) before the island scan (sorting each chunk independently
    would split/merge same-type runs nondeterministically)."""
    import numpy as np

    k = len(pattern)
    types = [t for t, _ in pattern]
    mins = [m for _, m in pattern]

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if evict and state.hasTimedOut:
            # idle past the TTL: any qualifying open tail was already
            # emitted provisionally on its last update; drop the island
            # context (a later re-appearance starts fresh — the
            # documented eviction-horizon trade)
            state.remove()
            return
        if state.exists:
            vals = list(state.get)
            hist = [tuple(vals[4 * j : 4 * j + 4]) for j in range(k - 1)]
            ct, cs, ce, cn = vals[4 * (k - 1) :]
        else:
            hist = [(None, 0, 0, 0)] * (k - 1)
            ct, cs, ce, cn = None, 0, 0, 0

        out: list[tuple] = []

        def matches(cur_n_now: int) -> bool:
            if ct != types[-1] or cur_n_now < mins[-1]:
                return False
            return all(
                hist[j][0] == types[j] and hist[j][3] >= mins[j]
                for j in range(k - 1)
            )

        def close_cur() -> None:
            nonlocal hist
            if matches(cn):
                out.append(
                    (
                        user_id,
                        hist[0][1],
                        ce,
                        *[hist[j][3] for j in range(k - 1)],
                        cn,
                    )
                )
            hist = hist[1:] + [(ct, cs, ce, cn)]

        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values(["ts", "event_id"])
            et = pdf["event_type"].to_numpy()
            ts = pdf["ts"].astype("int64").to_numpy()  # nanos
            cut = np.flatnonzero(et[1:] != et[:-1]) + 1
            bounds = [0, *cut.tolist(), len(et)]
            for a, b in zip(bounds[:-1], bounds[1:]):
                if ct == et[a]:  # open island continues across the boundary
                    ce, cn = int(ts[b - 1]), cn + (b - a)
                    continue
                if ct is not None:
                    close_cur()
                ct, cs, ce, cn = et[a], int(ts[a]), int(ts[b - 1]), b - a

        # provisional tail: an OPEN last-step run with matching context
        # is already a match under maximal semantics if the stream ends
        # here; later batches refresh it (same match_start) until the
        # run closes.
        if matches(cn):
            out.append(
                (
                    user_id,
                    hist[0][1],
                    ce,
                    *[hist[j][3] for j in range(k - 1)],
                    cn,
                )
            )

        flat: list = []
        for h in hist:
            flat.extend(h)
        state.update((*flat, ct, cs, ce, cn))
        if evict:
            _arm_timeout(state, ce // 1_000_000)
        yield pd.DataFrame(
            out,
            columns=["user_id", "match_start_ns", "match_end_ns", *out_names],
        )

    return update


def stream_cep_matches(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
    pattern: tuple[tuple[str, int], ...] | None = None,
    out_names: tuple[str, ...] | None = None,
    evict: bool = False,
) -> DataFrame:
    """Run the streaming CEP operator over the bounded events stream and
    return the deduplicated final match table: one row per (user,
    match_start), latest snapshot wins — equal to the batch
    cep_pattern_match output for the same spec however the input splits
    into micro-batches. Duration is recomputed HERE with the same
    cast-double expression the batch query uses, so the float path is
    identical. Defaults to the flagship view+ click+ purchase spec.

    Eviction trade (``evict``): a user
    idle past the 1-day event-time TTL loses their island context — a
    pattern straddling the idle gap will NOT match after they re-appear,
    so matches are exact only within the eviction horizon (pinned by
    tests/test_streaming.py::test_cep_eviction_drops_idle_island_state)."""
    from pyspark.sql import functions as F

    from clinical_bi_spark.queries.events import (
        CEP_DEFAULT_NAMES,
        CEP_DEFAULT_PATTERN,
    )
    from clinical_bi_spark.streaming.windows import (
        _events_stream,
        _run_to_completion,
    )

    pattern = pattern if pattern is not None else CEP_DEFAULT_PATTERN
    out_names = out_names if out_names is not None else CEP_DEFAULT_NAMES
    events = _events_stream(spark, sf_dir, max_files_per_trigger).select(
        "user_id", "event_id", "ts", "event_type"
    )
    if evict:
        events = events.withWatermark("ts", EVICTION_WATERMARK)
    emitted = events.groupBy("user_id").applyInPandasWithState(
        make_cep_update(pattern, out_names, evict),
        outputStructType=_cep_output_schema(out_names),
        stateStructType=_cep_state_schema(len(pattern)),
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if evict
            else GroupStateTimeout.NoTimeout
        ),
    )
    # NOTE: the memory sink retains every provisional-tail snapshot until
    # the final dedup below — fine on the bounded harness (this is the
    # drain adapter); production consumes `raw` incrementally (e.g. a
    # foreachBatch sink, as windows.stream_upsert_current_state uses).
    raw = _run_to_completion(emitted, "update", progress_sink)
    final = (
        raw.groupBy("user_id", "match_start_ns")
        .agg(F.max(F.struct("match_end_ns", *out_names)).alias("m"))
        .select(
            "user_id",
            F.timestamp_micros(
                F.expr("match_start_ns div 1000")
            ).alias("match_start"),
            F.timestamp_micros(
                F.expr("m.match_end_ns div 1000")
            ).alias("match_end"),
            *[F.col(f"m.{n}").alias(n) for n in out_names],
        )
    )
    return final.withColumn(
        "duration_sec",
        F.round(
            F.col("match_end").cast("double")
            - F.col("match_start").cast("double"),
            6,
        ),
    )


# ---------------------------------------------------------------------------
# Streaming forward-fill: LOCF as a custom stateful operator — the
# batch twin is queries/events.evt_forward_fill and both share its
# oracle. State per user is ONE double (the last non-null observation);
# each micro-batch concat-sorts its chunks (the CEP chunk-order
# hardening), ffills within the batch, seeds leading gaps from state,
# and emits every event row exactly once — so the union of emissions
# over a chronologically-split bounded replay equals the batch LOCF.
# (True late data would violate LOCF's order premise; the bounded
# chronological replay is the adjudication contract, as with CEP.)
# ---------------------------------------------------------------------------

FFILL_STATE_SCHEMA = StructType([StructField("last_value", DoubleType())])
FFILL_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts_ns", LongType()),
        StructField("value_obs", DoubleType()),
        StructField("value_ff", DoubleType()),
    ]
)


def _make_ffill_update(evict: bool):
    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if evict and state.hasTimedOut:
            state.remove()
            return
        last = state.get[0] if state.exists else None
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        vals = pdf["value_obs"]
        ff = vals.ffill()
        if last is not None:
            ff = ff.fillna(last)  # leading gaps carry the prior batch's tail
        obs = vals.dropna()
        new_last = last if obs.empty else float(obs.iloc[-1])
        state.update((new_last,))
        if evict:
            _arm_timeout(
                state, int(pdf["ts"].astype("int64").max()) // 1_000_000
            )
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].astype("int64"),
                "user_id": user_id,
                "ts_ns": pdf["ts"].astype("int64"),
                "value_obs": vals,
                "value_ff": ff,
            }
        )

    return update


def stream_forward_fill_rows(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
    evict: bool = False,
) -> DataFrame:
    """Streaming LOCF over the bounded events replay: every event emits
    once with its filled value; the final table equals the batch
    evt_forward_fill however the (chronological) input splits. The 20%
    gap mask is the same md5 expression as the batch query, applied
    BEFORE the stateful operator; display rounding is applied AFTER it
    with the same Spark ROUND the batch query uses (the float path is
    identical end to end).

    Eviction trade (``evict``): a user
    idle past the 1-day event-time TTL loses the carried last-value — a
    gap right after they re-appear fills with null instead of the
    pre-idle observation, so fills are exact only within the eviction
    horizon (the eviction battery in tests/test_streaming.py pins the
    state-drop mechanics shared by all three builders)."""
    from pyspark.sql import functions as F

    from clinical_bi_spark.streaming.windows import (
        _events_stream,
        _run_to_completion,
    )

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
    events = _events_stream(spark, sf_dir, max_files_per_trigger).select(
        "event_id",
        "user_id",
        "ts",
        F.when(~gap, F.col("value")).alias("value_obs"),
    )
    if evict:
        events = events.withWatermark("ts", EVICTION_WATERMARK)
    filled = events.groupBy("user_id").applyInPandasWithState(
        _make_ffill_update(evict),
        outputStructType=FFILL_OUTPUT_SCHEMA,
        stateStructType=FFILL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if evict
            else GroupStateTimeout.NoTimeout
        ),
    )
    raw = _run_to_completion(filled, "update", progress_sink)
    return raw.select(
        "event_id",
        "user_id",
        F.timestamp_micros(F.expr("ts_ns div 1000")).alias("ts"),
        F.round("value_obs", 4).alias("value_obs"),
        F.round("value_ff", 4).alias("value_ff"),
    )


# ---------------------------------------------------------------------------
# Custom stateful sessionization (the flatMapGroupsWithState shape, via
# applyInPandasWithState), registered in queries/streamingops.py. The built-in session_window aggregation
# (streaming/windows.session_windows) can only apply SQL aggregates to
# the merged window; this operator carries arbitrary per-session state
# through the fold and emits a per-session aggregate session_window
# cannot express — the maximum INTRA-session inter-event gap
# (max_gap_us), which needs the previous event's timestamp at every
# step. Boundary semantics match session_window exactly (an event at
# last_ts + gap STARTS a new session, i.e. >= gap splits; session_end =
# last_ts + gap), so the batch gaps-and-islands SQL extends to an exact
# oracle with one more windowed term.
#
# Emission protocol (the CEP device): a session that CLOSES (a new event
# arrives >= gap after the last, or the key's event-time timeout fires
# on the eviction path) is emitted FINAL in that batch; the OPEN session
# additionally emits a provisional snapshot each batch it grows, and the
# consumer keeps the latest version per (user_id, session_start) —
# n_events is strictly increasing within a session, so "latest" is the
# max-n_events row and the final table is micro-batch-slicing-invariant
# (multi-batch equality pinned in tests/test_streaming.py).
#
# Eviction is LOSSLESS here, unlike the running-counter operators: a
# session idle past the TTL (>= the 30-min gap) can never extend — any
# later event would start a NEW session anyway — so the hasTimedOut
# branch emits the open session as final and drops the state row with
# NO semantic trade (no restart-from-zero caveat; under in-order replay
# the evicting path's output is IDENTICAL to the NoTimeout path's).
# ---------------------------------------------------------------------------

SESSION_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_gap_us", LongType()),
    ]
)
SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_gap_us", LongType()),
    ]
)


def _make_session_update(evict: bool):
    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if evict and state.hasTimedOut:
            # idle past the TTL >= gap: the open session can never
            # extend — emit it FINAL and drop the state row (lossless,
            # see the block comment)
            start_us, last_us, n, total, mx = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "start_us": [start_us],
                    "end_us": [last_us + SESSION_GAP_US],
                    "n_events": [n],
                    "total_value": [total],
                    "max_gap_us": [mx],
                }
            )
            return
        if state.exists:
            start_us, last_us, n, total, mx = state.get
        else:
            start_us = None
            last_us = n = mx = 0
            total = 0.0
        closed: list[tuple] = []
        # CEP chunk-order hardening (see lines ~257-263): concat ALL of
        # the micro-batch's Arrow chunks, then ONE sort — per-chunk sorts
        # would mis-sessionize a key whose rows span chunks delivered out
        # of time order (last_us rewinds, gaps/boundaries diverge)
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            # ts-only key: rows tied on ts land in one session with gap 0
            # whatever their order, so every emitted fact is order-free
            pdf = pd.concat(chunks, ignore_index=True).sort_values("ts")
            for t, v in zip(
                (pdf["ts"].astype("int64") // 1000).tolist(),
                pdf["value"].fillna(0.0).tolist(),
            ):
                if start_us is None:
                    start_us, last_us, n, total, mx = t, t, 1, float(v), 0
                elif t - last_us >= SESSION_GAP_US:
                    closed.append((start_us, last_us, n, total, mx))
                    start_us, last_us, n, total, mx = t, t, 1, float(v), 0
                else:
                    mx = max(mx, t - last_us)
                    last_us = t
                    n += 1
                    total += float(v)
        if start_us is None:
            # defensive: a key invoked with only empty batches has no
            # session to carry or emit
            return
        state.update((start_us, last_us, n, total, mx))
        if evict:
            _arm_timeout(state, last_us // 1000)
        # closed sessions are final; the open one is a provisional
        # snapshot the consumer's keep-latest dedup resolves
        rows = closed + [(start_us, last_us, n, total, mx)]
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(rows),
                "start_us": [r[0] for r in rows],
                "end_us": [r[1] + SESSION_GAP_US for r in rows],
                "n_events": [r[2] for r in rows],
                "total_value": [r[3] for r in rows],
                "max_gap_us": [r[4] for r in rows],
            }
        )

    return update


def stateful_sessions(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
    evict: bool = False,
) -> DataFrame:
    """Run the custom sessionization over the bounded events stream and
    return the final per-session table (keep-latest dedup by
    (user_id, session_start) applied; timestamps and the display
    rounding materialized Spark-side so both engines round the same
    exact inputs)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from clinical_bi_spark.streaming.windows import (
        _events_stream,
        _run_to_completion,
    )

    events = _events_stream(spark, sf_dir, max_files_per_trigger).select(
        "user_id", "ts", "value"
    )
    if evict:
        events = events.withWatermark("ts", EVICTION_WATERMARK)
    sessions = events.groupBy("user_id").applyInPandasWithState(
        _make_session_update(evict),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if evict
            else GroupStateTimeout.NoTimeout
        ),
    )
    raw = _run_to_completion(sessions, "update", progress_sink)
    w = Window.partitionBy("user_id", "start_us").orderBy(
        F.col("n_events").desc()
    )
    return (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.timestamp_micros(F.col("start_us")).alias("session_start"),
            F.timestamp_micros(F.col("end_us")).alias("session_end"),
            "n_events",
            F.round("total_value", 4).alias("total_value"),
            "max_gap_us",
        )
    )


# ---------------------------------------------------------------------------
# Streaming time-weighted average: the LOCF-integral mean as a
# custom stateful operator — the streaming twin of the parked batch
# candidate queries/events.evt_time_weighted_avg, sharing its oracle.
# State per user is FIVE INTEGERS (first/last event micros, last value
# in cents, the running segment sum Σ cents·Δus, and the event count),
# so — unlike the float-state operators — the fold is EXACT: the final
# emission per user equals the batch aggregate bit-for-bit at any
# chronological input slicing. Each micro-batch concat-sorts its chunks
# (the CEP chunk-order hardening), folds the carried last point into the
# batch's leading segment, and emits the user's running totals; the
# drain adapter keeps each user's LAST emission (n_events is strictly
# monotone). Cents replicate Spark's ROUND HALF_UP via floor(v·100+0.5)
# — exact for the engine contract's non-negative values. (True late
# data would violate the integral's order premise; the bounded
# chronological replay is the adjudication contract, as with
# CEP/forward-fill.)
# ---------------------------------------------------------------------------

TWA_STATE_SCHEMA = StructType(
    [
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
        StructField("last_cents", LongType()),
        StructField("num", LongType()),
        StructField("n_events", LongType()),
    ]
)
TWA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("num", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)


def _make_twa_update(evict: bool):
    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if evict and state.hasTimedOut:
            state.remove()
            return
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        # Spark ROUND is HALF_UP; floor(v*100 + 0.5) replicates it exactly
        # for the non-negative value contract (numpy round is half-even).
        # A NULL value becomes 0 cents: the batch twin's NULL cents makes
        # its segment term NULL, which SUM skips — the same contribution
        # of zero — while NaN through astype(int64) would be garbage.
        import numpy as np

        raw = pdf["value"].to_numpy(dtype="float64")
        cents = np.where(
            np.isnan(raw), 0.0, np.floor(raw * 100.0 + 0.5)
        ).astype("int64")
        if state.exists:
            first_us, last_us, last_cents, num, n = state.get
            num += int(last_cents) * (int(us[0]) - int(last_us))
        else:
            first_us, num, n = int(us[0]), 0, 0
        # intra-batch segments: Σ cents[i] · (us[i+1] − us[i])
        if len(us) > 1:
            num += int((cents[:-1] * (us[1:] - us[:-1])).sum())
        last_us, last_cents = int(us[-1]), int(cents[-1])
        n += len(pdf)
        state.update((int(first_us), last_us, last_cents, int(num), int(n)))
        if evict:
            _arm_timeout(state, int(pdf["ts"].astype("int64").max()) // 1_000_000)
        yield pd.DataFrame(
            {
                "user_id": pd.Series([user_id], dtype="int64"),
                "n_events": pd.Series([n], dtype="int64"),
                "num": pd.Series([num], dtype="int64"),
                "first_us": pd.Series([first_us], dtype="int64"),
                "last_us": pd.Series([last_us], dtype="int64"),
            }
        )

    return update


def stream_time_weighted_avg_rows(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    progress_sink: list | None = None,
    evict: bool = False,
) -> DataFrame:
    """Streaming LOCF-integral time-weighted mean over the bounded events
    replay: per user, the final emission's integer state equals the batch
    evt_time_weighted_avg aggregate exactly, at any chronological input
    slicing; the display division (remainder-split micro-units) is
    applied AFTER the drain with the same expression the batch query
    uses. Eviction trade (``evict``): a
    user idle past the TTL restarts their observation span on
    re-appearance (the drain's last_us ordering keeps the restarted
    span) — exactness holds within the eviction horizon."""
    from pyspark.sql import functions as F

    from clinical_bi_spark.streaming.windows import (
        _events_stream,
        _run_to_completion,
    )

    events = _events_stream(spark, sf_dir, max_files_per_trigger).select(
        "event_id", "user_id", "ts", "value"
    )
    if evict:
        events = events.withWatermark("ts", EVICTION_WATERMARK)
    emitted = events.groupBy("user_id").applyInPandasWithState(
        _make_twa_update(evict),
        outputStructType=TWA_OUTPUT_SCHEMA,
        stateStructType=TWA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if evict
            else GroupStateTimeout.NoTimeout
        ),
    )
    raw = _run_to_completion(emitted, "update", progress_sink)
    # keep each user's LAST emission. The order key is last_us, not
    # n_events: eviction RESTARTS a re-appearing user's span (n_events
    # resets), but event time only moves forward in the chronological
    # replay, so the restarted span's last_us always exceeds the dead
    # span's — max(struct) then returns the live span, matching the
    # documented span-restart trade. (n_events alone would resurrect the
    # stale pre-eviction snapshot; pinned in tests/test_streaming.py.)
    final = raw.groupBy("user_id").agg(
        F.max(F.struct("last_us", "n_events", "num", "first_us")).alias("m")
    )
    return final.select(
        "user_id",
        F.col("m.n_events").alias("n_events"),
        F.when(
            (F.col("m.last_us") - F.col("m.first_us")) > 0,
            F.expr(
                "10000 * (m.num div (m.last_us - m.first_us))"
                " + (10000 * (m.num % (m.last_us - m.first_us)))"
                "   div (m.last_us - m.first_us)"
            ),
        ).alias("twa_micro"),
    )
