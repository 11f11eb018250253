"""Shuffle census: per-query exchanged/spilled BYTES at the bench SF.

Wall-clock tells you how fast a plan runs on THIS box; shuffle volume
tells you how it behaves on a cluster — exchanged bytes are the term
that crosses the network at 100 TB, and spill is the term that hits
executor disks. This harness runs every bench-flagged registry query
once at sf0.1 (noop sink, caches released between queries) and records
the DELTA of the completed-stage totals in Spark's in-process stage
store (``sc._jsc.sc().statusStore()``, populated with the UI off):

* ``shuffle_write`` / ``shuffle_read`` — bytes through exchanges
  (write ≈ read; both recorded because AQE-skipped stages can make
  them differ);
* ``spill_mem`` / ``spill_disk`` — aggregate/sort spill, the single-box
  ceiling term the jaccard ×50 analysis attributed;
* ``input_recs`` — records read from the parquet scans (the
  denominator; the vectorized parquet reader under-reports
  ``inputBytes``, so ratios are per-record, not per-byte).

The headline claims this quantifies (PERF.md "Shuffle census"):
per-document text ops and sketches exchange ~zero or constant bytes
regardless of corpus size; the dedup/similarity miners exchange
fingerprints, never text, so their shuffle/input ratio stays ≪ 1; only
deliberate global reorganizations (global shuffle, packing) ship ~1×
input.

Usage: python scripts/shuffle_census.py [sf_dir] [out_json]
       (defaults: /root/testdata/sf0.1, /tmp/shuffle_census.json)
Env:   CBS_CENSUS_ONLY=name1,name2   (subset; default: bench set)

Stage attribution caveat: deltas are cumulative completed-stage sums,
so a stage that completes while a later query runs (async cleanup,
speculative retries — rare in local mode) lands in the wrong bucket;
treat single-digit-KB values as ~zero rather than meaningful.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clinical_bi_spark import caching
from clinical_bi_spark.queries import load_all
from clinical_bi_spark.session import get_spark, warm

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/shuffle_census.json"

_FIELDS = {
    "shuffle_write": "shuffleWriteBytes",
    "shuffle_read": "shuffleReadBytes",
    "spill_mem": "memoryBytesSpilled",
    "spill_disk": "diskBytesSpilled",
    "input_recs": "inputRecords",
}


def _stage_totals(spark):
    """A function returning cumulative sums over all completed stages,
    read from the stage store as JSON (one Py4J call per listing)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def totals() -> dict[str, int]:
        stages = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
        )
        done = [s for s in stages if s["status"] == "COMPLETE"]
        return {k: sum(s.get(field, 0) for s in done) for k, field in _FIELDS.items()}

    return totals


def _fmt(n: int) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if abs(n) < 1024 or unit == "GB":
            return f"{n:.1f}{unit}" if unit != "B" else f"{n}B"
        n /= 1024.0
    return f"{n:.1f}GB"


def main() -> None:
    registry = load_all()
    only = os.environ.get("CBS_CENSUS_ONLY")
    if only:
        names = [n for n in only.split(",") if n in registry]
    else:
        names = [n for n, s in registry.items() if s.bench]

    spark = get_spark("shuffle-census")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark)
    stage_totals = _stage_totals(spark)

    rows: dict[str, dict[str, int]] = {}
    for name in names:
        caching.release_all(spark)
        before = stage_totals()
        try:
            df = registry[name].fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # record, keep going
            rows[name] = {"error": str(exc)[:200]}  # type: ignore[dict-item]
            continue
        after = stage_totals()
        rows[name] = {k: after[k] - before[k] for k in _FIELDS}
    caching.release_all(spark)

    with open(OUT, "w") as f:
        json.dump({"sf_dir": SF_DIR, "queries": rows}, f, indent=1)

    ok = {n: r for n, r in rows.items() if "error" not in r}
    print("\n| query | shuffle write | spill disk | input recs | shuffle B/rec |")
    print("|---|---|---|---|---|")
    for n, r in sorted(ok.items(), key=lambda kv: -kv[1]["shuffle_write"]):
        per_rec = (
            r["shuffle_write"] / r["input_recs"]
            if r["input_recs"] > 0
            else float("nan")
        )
        print(
            f"| {n} | {_fmt(r['shuffle_write'])} | {_fmt(r['spill_disk'])} "
            f"| {r['input_recs']:,} | {per_rec:.2f} |"
        )
    errs = {n: r for n, r in rows.items() if "error" in r}
    for n, r in errs.items():
        print(f"ERROR {n}: {r['error']}")
    print(f"\nwrote {OUT}")
    sys.exit(1 if errs else 0)


if __name__ == "__main__":
    main()
