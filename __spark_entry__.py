"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The real implementation lives in ``clinical_bi_spark/``; this module just
adapts the query registry (clinical_bi_spark.queries) to the contract.
The driver adjudicates only the first 50 queries, so ``queries()`` puts
first the ones ``driver_window`` picks from the ``CORRECTNESS_r*.json``
files next to this module.

CONTRACT INVARIANT (sequential driver): ``queries()`` callables release
the PREVIOUS query's tracked operator caches on entry (``_released``),
so executor storage stays flat only when queries run strictly
sequentially — build, collect, then the next call. A concurrent harness
running N callables at once would accumulate up to N queries' caches and
may release a cache another in-flight query still reads; if you need
concurrency, call ``clinical_bi_spark.caching.release_all`` yourself at
your own barriers instead of relying on these wrappers
(tests/test_caching.py::test_sequential_replay_storage_flat pins the
sequential-replay flatness this module promises).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable, Collection, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from clinical_bi_spark import caching
from clinical_bi_spark.queries import load_all

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "flagship_feature_query"
_HERE = os.path.dirname(os.path.abspath(__file__))


def last_verdicts() -> dict[str, int]:
    """{query: latest round with a driver row}, read from the
    ``CORRECTNESS_r{N}.json`` files the driver leaves next to this module."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            for name in json.load(fh):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def driver_window(
    names: Sequence[str],
    last_verdict: Mapping[str, int],
    slots: int = 50,
    streaming: Collection[str] = (),
) -> list[str]:
    """Order ``names`` (registry order) so the driver's correctness
    window, the first ``slots`` entries, lands on the queries whose
    verdict is most overdue. The rest follow in registry order.

    * Never-adjudicated queries lead, then the oldest latest verdict;
      registry order breaks ties. 194 rotating queries in 49 slots give
      a cycle of 3.96 rounds, so no verdict gets older than 4 rounds.
    * ``FLAGSHIP`` is in every window.
    * ``streaming`` queries sit last inside the window: a wedged stream
      then costs only the streaming rows after it.
    """
    # both sorts are stable, so ties keep registry order
    rotating = sorted(
        (n for n in names if n != FLAGSHIP), key=lambda n: last_verdict.get(n, 0)
    )
    pinned = [FLAGSHIP] if FLAGSHIP in names else []
    window = rotating[: slots - len(pinned)] + pinned
    window.sort(key=lambda n: n in streaming)
    chosen = set(window)
    return window + [n for n in names if n not in chosen]


def _released(fn: Callable[[SparkSession, str], DataFrame]):
    """Release the PREVIOUS query's operator caches before building the
    next plan. Several operators persist small intermediate relations
    (minhash signatures, winnow postings, overflow sets, edge lists) that
    their returned plan consumes lazily — they cannot unpersist inside
    the operator without losing the cache before the driver collects.
    The driver is strictly sequential (build → collect → next query), so
    the first safe release point is the next query's entry; over a
    50-query session this keeps executor storage flat instead of
    accumulating ~50 cached relations.

    The release is TARGETED (clinical_bi_spark.caching): operators
    register every persist/localCheckpoint they create, and exactly those
    are unpersisted here — caches the harness itself may have established
    survive, and connected_components' localCheckpoint blocks (which
    ``spark.catalog.clearCache()`` never reclaimed) are released too."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        caching.release_all(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (J1/J2 + P2-P8 + A1-A3 shape) on sf0.001."""
    registry = load_all()
    return registry[FLAGSHIP].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions),
    in ``driver_window`` order."""
    registry = load_all()
    streaming = {
        n for n, s in registry.items() if s.fn.__module__.endswith(".streamingops")
    }
    order = driver_window(list(registry), last_verdicts(), streaming=streaming)
    return {name: _released(registry[name].fn) for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for every oracle-checkable query; keys
    without an oracle (approximate / iterative / stateful ops) are omitted
    → the driver records a rows-only check for those."""
    return {
        name: spec.oracle for name, spec in load_all().items() if spec.oracle
    }
