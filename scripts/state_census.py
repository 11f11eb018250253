"""Streaming STATE census: rows and bytes of state per stateful query.

The batch shuffle census (scripts/shuffle_census.py) quantifies what
crosses the network; this quantifies what a streaming job KEEPS — the
term that decides whether a 100 TB ingest stream fits its executors.
Drives each stateful builder over a chronological 3-way file split of
the sf0.01 events (the same multi-batch harness tests/test_streaming.py
uses for its oracle equalities) and records, from
StreamingQueryProgress.stateOperators:

* peak ``numRowsTotal``  — live state rows (bounded by ACTIVE keys
  under eviction, by distinct keys without);
* peak ``memoryUsedBytes`` — provider-reported state memory;
* total ``numRowsRemoved`` — eviction actually engaging.

Runs each query twice: default (HDFSBackedStateStore) and RocksDB —
the disk-backed provider the 100 TB posture assumes. The numbers
complement the suite's assertions (state falls under eviction, peak
< 256 MB): tests pin the BOUNDS, this records the VALUES.

Usage: python scripts/state_census.py [sf_dir] [out_json]
       (defaults: /root/testdata/sf0.01, /tmp/state_census.json)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clinical_bi_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/state_census.json"

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def _split3(spark, src_dir: str, dest: str) -> str:
    """Chronological 3-way split of events into a directory of parquet
    files with ascending mtimes, so FileStreamSource replays them in
    order — the tests/test_streaming.py split_sf recipe."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{src_dir}/events.parquet")
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    n = t.num_rows
    d = os.path.join(dest, "events.parquet")
    os.makedirs(d, exist_ok=True)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        f = os.path.join(d, f"part-{i}.parquet")
        pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), f)
        os.utime(f, (1_700_000_000 + i * 60,) * 2)
    return dest


def _metrics(prog: list) -> dict:
    ops = [op for p in prog for op in p.get("stateOperators", [])]
    if not ops:
        return {"stateful": False}
    return {
        "stateful": True,
        "peak_state_rows": max(op.get("numRowsTotal", 0) for op in ops),
        "peak_state_bytes": max(op.get("memoryUsedBytes", 0) for op in ops),
        "rows_removed": sum(op.get("numRowsRemoved", 0) for op in ops),
        "batches": len({p["batchId"] for p in prog}),
    }


def main() -> None:
    from clinical_bi_spark.streaming.stateful import (
        stateful_sessions,
        stream_cep_matches,
        stream_forward_fill_rows,
        stream_time_weighted_avg_rows,
        user_running_stats,
    )
    from clinical_bi_spark.streaming.windows import dedup_with_watermark

    spark = get_spark("state-census")
    spark.sparkContext.setLogLevel("ERROR")
    split_dir = _split3(spark, SF_DIR, tempfile.mkdtemp(prefix="state_census_"))

    # (name, callable(spark, dir, progress_sink) -> DataFrame); the three
    # applyInPandasWithState builders run BOTH eviction modes — NoTimeout
    # (the adjudication fold) and the event-time-TTL production path
    # (rows_removed > 0 is eviction actually engaging)
    queries = {
        "stream_stateful_user_stats": lambda s, d, p: user_running_stats(
            s, d, max_files_per_trigger=1, progress_sink=p
        ),
        "stream_stateful_user_stats+evict": lambda s, d, p: user_running_stats(
            s, d, max_files_per_trigger=1, progress_sink=p, evict=True
        ),
        "stream_cep_pattern": lambda s, d, p: stream_cep_matches(
            s, d, max_files_per_trigger=1, progress_sink=p
        ),
        "stream_cep_pattern+evict": lambda s, d, p: stream_cep_matches(
            s, d, max_files_per_trigger=1, progress_sink=p, evict=True
        ),
        "stream_forward_fill": lambda s, d, p: stream_forward_fill_rows(
            s, d, max_files_per_trigger=1, progress_sink=p
        ),
        "stream_forward_fill+evict": lambda s, d, p: stream_forward_fill_rows(
            s, d, max_files_per_trigger=1, progress_sink=p, evict=True
        ),
        "stream_dedup_watermark": lambda s, d, p: dedup_with_watermark(
            s, d,
            max_files_per_trigger=1, progress_sink=p,
        ),
        # r12: the parked session candidate — ONE open session per
        # active user; its eviction is LOSSLESS (TTL >= gap), so the
        # +evict row must show rows_removed > 0 with IDENTICAL
        # output_rows to the NoTimeout row
        "stream_session_stateful": lambda s, d, p: stateful_sessions(
            s, d, max_files_per_trigger=1, progress_sink=p
        ),
        "stream_session_stateful+evict": lambda s, d, p: stateful_sessions(
            s, d, max_files_per_trigger=1, progress_sink=p, evict=True
        ),
        # r12: the parked r14 streaming-TWA twin — FIVE INTEGERS per
        # active user (the family's smallest exact state); the +evict
        # row trades span restarts (an evicted-and-reappeared key
        # reports only its restarted span), rows_removed matching the
        # family's idle-key set
        "stream_time_weighted_avg": lambda s, d, p: (
            stream_time_weighted_avg_rows(
                s, d, max_files_per_trigger=1, progress_sink=p
            )
        ),
        "stream_time_weighted_avg+evict": lambda s, d, p: (
            stream_time_weighted_avg_rows(
                s, d, max_files_per_trigger=1, progress_sink=p, evict=True
            )
        ),
    }

    rows: dict[str, dict] = {}
    for provider in ("default", "rocksdb"):
        if provider == "rocksdb":
            spark.conf.set(_PROVIDER_KEY, ROCKSDB)
        for name, fn in queries.items():
            prog: list = []
            try:
                out = fn(spark, split_dir, prog)
                n_out = out.count()
                m = _metrics(prog)
                m["output_rows"] = n_out
            except Exception as exc:
                m = {"error": str(exc)[:200]}
            rows[f"{name}[{provider}]"] = m
        if provider == "rocksdb":
            spark.conf.unset(_PROVIDER_KEY)

    with open(OUT, "w") as f:
        json.dump({"sf_dir": SF_DIR, "queries": rows}, f, indent=1)
    print("\n| query [provider] | peak state rows | peak state KB | rows removed | batches |")
    print("|---|---|---|---|---|")
    errs = 0
    for n, m in rows.items():
        if "error" in m:
            print(f"ERROR {n}: {m['error']}")
            errs += 1
            continue
        print(
            f"| {n} | {m['peak_state_rows']:,} | "
            f"{m['peak_state_bytes'] / 1024:.1f} | {m['rows_removed']} "
            f"| {m['batches']} |"
        )
    print(f"\nwrote {OUT}")
    sys.exit(1 if errs else 0)


if __name__ == "__main__":
    main()
