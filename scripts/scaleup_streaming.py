"""Scale-up measurement for the STREAMING family (PERF.md methodology:
same plans, replicated data, warmed session) — the one family the r5
audit flagged as having no ×10/×50 table.

Replication follows scaleup.py (user_id/event_id shifted per copy,
ts identical → more users, denser traffic, same 30-day span), but the
input must exist ON DISK: FileStreamSource reads files, so each multiple
is materialized once to /tmp as SIX chronological parquet files (sliced
by equal event-time ranges, mtimes ascending) and every query runs with
``maxFilesPerTrigger=2`` → 3 real micro-batches per run, so watermark
advancement and state eviction happen mid-run exactly as in production.

Beyond wall-clock, each cell records what actually bounds a streaming
job at 100 TB: the state store's peak row count (stateOperators
numRowsTotal) and the max micro-batch duration, read from
StreamingQueryProgress via the progress_sink hook. The claim under test:
state rows scale with ACTIVE KEYS (users / windows / join horizon), not
with total input — watermarks evict the rest.

Usage: python scripts/scaleup_streaming.py [sf_dir] [out_root]
Env:   CBS_STATE_PROVIDER=rocksdb  → run every query under the RocksDB
       state store provider (r7: the 100 TB posture says state stays
       disk-backed and memory-bounded; cells then also record the
       provider's memoryUsedBytes as state_mem).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from clinical_bi_spark.session import get_spark, tune, warm
from clinical_bi_spark.sources import load_tables
from clinical_bi_spark.streaming.stateful import (
    stateful_sessions,
    stream_cep_matches as _cep,
    stream_time_weighted_avg_rows,
    user_running_stats,
)
from clinical_bi_spark.streaming.windows import (
    dedup_with_watermark,
    session_windows,
    sliding_counts,
    stream_static_enrich_join,
    stream_stream_interval_join,
    stream_upsert_current_state,
    tumbling_counts,
    windowed_hll_registers,
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT_ROOT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/cbs_scaleup_stream"
N_FILES = 6
MAX_FILES_PER_TRIGGER = 2  # -> 3 micro-batches per run

QUERIES = {
    # production-sized watermarks: eviction must fire across batches
    "stream_tumbling": lambda sp, d, ps: tumbling_counts(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps
    ),
    "stream_session": lambda sp, d, ps: session_windows(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps
    ),
    "stream_dedup_1d": lambda sp, d, ps: dedup_with_watermark(
        sp, d, watermark="1 day",
        max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps,
    ),
    "stream_join": lambda sp, d, ps: stream_stream_interval_join(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps
    ),
    "stream_stateful": lambda sp, d, ps: user_running_stats(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps
    ),
    # r8: the EVICTING production forms (evict=True).
    # The claim: state_rows_final tracks ACTIVE keys (seen within the
    # 1-day TTL of stream end), not total keys — vs the NoTimeout twins
    # above whose state holds every key ever seen. state_removed > 0 and
    # final < peak are the eviction signatures.
    "stream_stateful_evict": lambda sp, d, ps: user_running_stats(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps,
        evict=True,
    ),
    "stream_cep": lambda sp, d, ps: _cep(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps
    ),
    "stream_cep_evict": lambda sp, d, ps: _cep(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps,
        evict=True,
    ),
    # r6: sketch state — per-window HLL registers; state must stay at
    # m=32 rows per day regardless of the user multiplier (the whole
    # point vs dropDuplicates' user-cardinality state)
    "stream_hll": lambda sp, d, ps: windowed_hll_registers(
        sp, d, m=32,
        max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps,
    ),
    # r6 additions: the sliding hop expansion (state = live windows x
    # types x hop factor, constant in users) and the foreachBatch CDC
    # upsert (no state-store operator — its "state" is the merged
    # current-state table, one row per user, so it scales with the user
    # multiplier by design; state_rows reads 0 because foreachBatch
    # keeps no watermark state)
    "stream_sliding": lambda sp, d, ps: sliding_counts(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps
    ),
    "stream_upsert": lambda sp, d, ps: stream_upsert_current_state(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps
    ),
    # r12: the parked r13 candidates. Custom stateful sessionization —
    # state is ONE open session per active user; the evicting form's
    # removals are LOSSLESS for sessions (TTL >= gap means an idle
    # session can never extend), so state_rows_final < peak with output
    # identical to the NoTimeout twin.
    "stream_session_stateful": lambda sp, d, ps: stateful_sessions(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps
    ),
    "stream_session_stateful_evict": lambda sp, d, ps: stateful_sessions(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps,
        evict=True,
    ),
    # r12: the parked r14 candidate — streaming TWA. Five-INTEGER state
    # per user (exact batch parity); state rows must equal active users;
    # the evicting form's removals trade span restarts (a re-appearing
    # evicted key reports only its restarted span).
    "stream_twa": lambda sp, d, ps: stream_time_weighted_avg_rows(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps
    ),
    "stream_twa_evict": lambda sp, d, ps: stream_time_weighted_avg_rows(
        sp, d, max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps,
        evict=True,
    ),
    # r12: the parked r13 candidate — stream-static broadcast enrich.
    # STATELESS by design (state_rows must read 0 at every mult); wall
    # should track input linearly, the dim broadcast is a constant.
    # The dim tables live in SF_DIR (replication only multiplies events).
    "stream_static_enrich": lambda sp, d, ps: stream_static_enrich_join(
        sp, d, dim_dir=SF_DIR,
        max_files_per_trigger=MAX_FILES_PER_TRIGGER, progress_sink=ps,
    ),
}


def materialize(spark, base, mult: int, id_offset: int) -> str:
    """Write the ×mult replica as N_FILES chronological parquet files."""
    dest = os.path.join(OUT_ROOT, f"x{mult}")
    edir = os.path.join(dest, "events.parquet")
    if os.path.exists(edir):
        return dest  # reuse a previous materialization
    os.makedirs(dest, exist_ok=True)
    ev = base
    if mult > 1:
        ev = base.select(
            F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("k"), "*"
        ).select(
            (F.col("event_id") + F.col("k") * id_offset).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("k") * 1_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
    lo, hi = base.agg(F.min("ts"), F.max("ts")).first()
    os.makedirs(edir)
    for i in range(N_FILES):
        a = lo + (hi - lo) * i / N_FILES
        b = lo + (hi - lo) * (i + 1) / N_FILES
        cond = (F.col("ts") >= F.lit(a)) & (
            (F.col("ts") < F.lit(b)) if i < N_FILES - 1 else (F.col("ts") <= F.lit(b))
        )
        tmp = os.path.join(dest, f"_tmp_{i}")
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        final = os.path.join(edir, f"part-{i}.parquet")
        shutil.move(os.path.join(tmp, part), final)
        shutil.rmtree(tmp)
        os.utime(final, (1_700_000_000 + i * 60,) * 2)
    return dest


def main() -> None:
    spark = get_spark("scaleup-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("CBS_STATE_PROVIDER", "").lower() == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        print("state store provider: RocksDB", flush=True)
    warm(spark)
    base = load_tables(tune(spark), SF_DIR).events
    n_base = base.count()
    id_offset = n_base + 1

    mults = tuple(
        int(m)
        for m in os.environ.get("CBS_STREAM_MULTS", "1,10,50").split(",")
    )
    only = os.environ.get("CBS_STREAM_ONLY")
    queries = (
        {k: v for k, v in QUERIES.items() if k in only.split(",")}
        if only
        else QUERIES
    )
    for mult in mults:
        dest = materialize(spark, base, mult, id_offset)
        row: dict = {"rows": n_base * mult}
        for name, fn in queries.items():
            best, metrics = float("inf"), {}
            for _ in range(2):
                prog: list = []
                start = time.perf_counter()
                out = fn(spark, dest, prog)
                n_out = out.count()
                wall = time.perf_counter() - start
                if wall < best:
                    best = wall
                    state_rows = max(
                        (
                            op.get("numRowsTotal", 0)
                            for p in prog
                            for op in p.get("stateOperators", [])
                        ),
                        default=0,
                    )
                    state_mem = max(
                        (
                            op.get("memoryUsedBytes", 0)
                            for p in prog
                            for op in p.get("stateOperators", [])
                        ),
                        default=0,
                    )
                    op_series = [
                        op.get("numRowsTotal", 0)
                        for p in prog
                        for op in p.get("stateOperators", [])
                    ]
                    metrics = {
                        "sec": round(wall, 2),
                        "out": n_out,
                        "batches": sum(
                            1 for p in prog if p.get("numInputRows", 0) > 0
                        ),
                        "state_rows": state_rows,
                        # final vs peak: with eviction on, final state
                        # holds ACTIVE keys only (falls below peak);
                        # NoTimeout forms end at their peak
                        "state_rows_final": op_series[-1] if op_series else 0,
                        "state_removed": sum(
                            op.get("numRowsRemoved", 0)
                            for p in prog
                            for op in p.get("stateOperators", [])
                        ),
                        "state_mem_kb": state_mem // 1024,
                        "max_batch_ms": max(
                            (
                                p.get("durationMs", {}).get("triggerExecution", 0)
                                for p in prog
                            ),
                            default=0,
                        ),
                    }
            row[name] = metrics
        print(f"x{mult}", row, flush=True)


if __name__ == "__main__":
    main()
