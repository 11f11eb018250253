"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "errors": {name: "Type: message", ...},
   "sf": <sf>}

``main(names)`` times the named registry queries; by default, and from
the command line, the registrations flagged ``bench=True``.

Each query is executed to completion with a ``noop``-format write: every
output column is computed and serialized, so projection expressions are
measured too (``.count()`` would let Catalyst prune all projected columns
for non-aggregate queries and flatter the numbers).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import traceback
from typing import Callable

from clinical_bi_spark import caching
from clinical_bi_spark.queries import load_all
from clinical_bi_spark.session import default_parallelism, get_spark, warm

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def repeat_blocks(names: list[str], size: int) -> list[list[str]]:
    """Partition the (already sorted) bench list into the interleave
    blocks: each block's queries are timed as `repeats` PASSES over the
    block, so a query's samples sit ~one block-wall apart. size=1 times
    each query's repeats back-to-back. Order is preserved; every name
    appears exactly once (pinned in tests/test_rotation_invariant.py)."""
    if size < 1:
        raise ValueError(f"interleave block size must be >= 1, got {size}")
    return [names[i : i + size] for i in range(0, len(names), size)]


def time_blocks(
    blocks: list[list[str]],
    run: Callable[[str], float],
    repeats: int,
    warmup: bool,
) -> tuple[dict[str, float], dict[str, str]]:
    """Min of ``repeats`` timed runs per query, taken as passes over each
    block (after one untimed pass when ``warmup``); ``run(name)`` executes
    one query and returns its duration. A query that raises is not run
    again: its ``"Type: message"`` goes in the second dict instead of a
    timing, and the remaining queries go on."""
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    def sample(name: str) -> float:
        if name in errors:
            return math.inf
        try:
            return run(name)
        except Exception as exc:
            first_line = (str(exc).strip().splitlines() or [""])[0]
            # bounded, so a run full of failures keeps its line < 16 KiB
            errors[name] = f"{type(exc).__name__}: {first_line}"[:200]
            print(f"{name} failed:", file=sys.stderr)
            traceback.print_exc()
            return math.inf

    for block in blocks:
        if warmup:
            for name in block:
                sample(name)
        best = dict.fromkeys(block, math.inf)
        for _ in range(repeats):
            for name in block:
                best[name] = min(best[name], sample(name))
        timings.update(
            (name, round(t, 3)) for name, t in best.items() if name not in errors
        )
    return timings, errors


def main(names: list[str] | None = None) -> None:
    registry = load_all()
    if names is None:
        names = [n for n, s in registry.items() if s.bench]
    bench_specs = {n: registry[n] for n in names}
    spark = get_spark("clinical-bi-spark-bench")
    spark.sparkContext.setLogLevel("WARN")

    def run_fully(df) -> None:
        # noop sink: full computation + serialization of EVERY output
        # column, no filesystem cost — unlike count(), projections are
        # not pruned away.
        df.write.format("noop").mode("overwrite").save()

    # Warm the JVM/codegen path once so timings measure the plans, not
    # startup: one cheap relational query (JIT of the scan/agg machinery),
    # plus session.warm's one-row probes (winnow codegen compile, Arrow
    # worker fork).
    run_fully(registry["agg_pricing_summary"].fn(spark, SF_DIR))
    warm(spark)

    # Min of N runs per query: this box is a shared-host VM with measured
    # ±40% wall-clock jitter on identical plans, so a single sample mixes
    # host noise into every number. The minimum over repeats is the
    # standard noise-robust estimator of the plan's actual cost (what a
    # dedicated cluster would see); caches are cleared between runs so
    # every repeat recomputes from the parquet scans. Three repeats:
    # same-plan variance on this shared host was measured at up to 5x
    # within one session (containment repeats [14.7, 20.4, 4.3]); min
    # over repeats is monotone in the repeat count, so min-of-3 only
    # tightens toward the true plan cost.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    # One UNTIMED warmup execution per query before its timed repeats: a
    # query's FIRST execution in a session pays 1.3-2.1x for
    # whole-stage-codegen compilation + JVM JIT of its generated classes,
    # which under min-of-3 would waste a sample.
    # The timed repeats run as PASSES over BLOCKS of 8 adjacent queries
    # instead of back-to-back per query, so one host-slow window taints
    # at most one of a query's samples. Blocks of 8 stay inside Spark's
    # generated-class cache, so a query's compiled stages survive between
    # passes; warmup runs per block, right before its passes.
    names = sorted(bench_specs)
    blocks = repeat_blocks(names, 8)

    def _run_released(name: str) -> float:
        """One full execution; returns the timed duration. The
        release/clear runs OUTSIDE the timed window, also after a failed
        run: queries persist() intermediates (signatures, postings,
        curated slices) — drop them so repeats, and the next entry, never
        read a prior run's cache. release_all also reclaims
        localCheckpoint blocks (connected_components) that clearCache
        leaves behind; the extra clearCache is belt and suspenders on a
        session the bench owns outright."""
        start = time.perf_counter()
        try:
            run_fully(bench_specs[name].fn(spark, SF_DIR))
            return time.perf_counter() - start
        finally:
            caching.release_all(spark)
            spark.catalog.clearCache()

    timings, errors = time_blocks(blocks, _run_released, repeats, warmup=True)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": (
            f"headline query wall-clock (min of {repeats} runs, "
            f"post-warmup), local[{default_parallelism()}]"
        ),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # {name: "Type: message"} for every query that raised; a failed
        # query has no timing and is left out of the totals
        "errors": errors,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    line = json.dumps(result)
    # The one-line JSON must stay the FINAL stdout line and small enough
    # for any bounded tail capture: a truncated line cannot be parsed.
    # All values are rounded to 3 decimals above; the assert fails loudly
    # at run time if registry growth ever pushes the line past a
    # conservative 16 KiB (about 2.6 KiB at 57 queries).
    # past the guard the line still goes to stderr, so the run is not lost
    if len(line) >= 16384:
        print(line, file=sys.stderr, flush=True)
        raise AssertionError(f"bench JSON line too large: {len(line)} bytes")
    print(line, flush=True)


if __name__ == "__main__":
    sys.exit(main())
