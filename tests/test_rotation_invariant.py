"""Pin the adjudication-window staleness invariant (r8 verdict, Next #2).

The registry (174+ queries) rotates through the driver's 50-row
correctness window. The enforced invariant, stated in
``clinical_bi_spark/queries/__init__.py``:

* **max staleness <= 4 rounds** — every registry query outside the
  current window must have a driver verdict within the last 4 rounds;
* **never-adjudicated queries** must be in the window or explicitly
  parked in ``_DEFERRED_NEW`` (due to lead the next round);
* the window itself must be exactly the driver's capacity (50) — a
  shorter priority list silently slides unintended entries in, a longer
  one silently drops the tail.

These tests read the CORRECTNESS_r*.json history at the repo root, so
they also fail loudly at the START of a new round if the previous
builder forgot to rotate: current_round advances when the driver writes
its round file, pushing the oldest non-window block past the ceiling
until the window is rewritten — which is exactly the forcing function
the invariant needs.
"""

from __future__ import annotations

import glob
import json
import os
import re

from clinical_bi_spark.queries import _DEFERRED_NEW, _DRIVER_WINDOW_PRIORITY, load_all

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW_SLOTS = 50
MAX_STALENESS_ROUNDS = 4


def _verdict_history() -> tuple[int, dict[str, int]]:
    """Return (current_round, {query: latest round with a driver row})."""
    last: dict[str, int] = {}
    max_round = 0
    for path in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        with open(path) as fh:
            rows = json.load(fh)
        for name in rows:
            last[name] = max(last.get(name, 0), rnd)
    return max_round + 1, last


def test_window_is_exactly_driver_capacity():
    assert len(_DRIVER_WINDOW_PRIORITY) == WINDOW_SLOTS
    assert len(set(_DRIVER_WINDOW_PRIORITY)) == WINDOW_SLOTS, "duplicate slot"


def test_window_names_resolve_and_lead_registry_order():
    reg = load_all()
    order = list(reg)
    assert order[:WINDOW_SLOTS] == list(_DRIVER_WINDOW_PRIORITY)


def test_no_query_exceeds_staleness_ceiling():
    current_round, last = _verdict_history()
    reg = load_all()
    window = set(list(reg)[:WINDOW_SLOTS])
    over = {
        name: current_round - last[name]
        for name in reg
        if name not in window
        and name in last
        and current_round - last[name] > MAX_STALENESS_ROUNDS
    }
    assert not over, (
        f"queries past the {MAX_STALENESS_ROUNDS}-round staleness ceiling and "
        f"not in the current window (rotate them first): {over}"
    )


def test_never_adjudicated_queries_are_windowed_or_deferred():
    current_round, last = _verdict_history()
    reg = load_all()
    window = set(list(reg)[:WINDOW_SLOTS])
    orphans = [
        name
        for name in reg
        if name not in last and name not in window and name not in _DEFERRED_NEW
    ]
    assert not orphans, (
        "never-adjudicated queries must be in the window or parked in "
        f"_DEFERRED_NEW: {orphans}"
    )


def test_deferred_new_entries_are_real_and_truly_new():
    _, last = _verdict_history()
    reg = load_all()
    for name in _DEFERRED_NEW:
        assert name in reg, f"_DEFERRED_NEW names unknown query {name}"
        assert name not in last, (
            f"{name} already has a driver verdict; it does not belong in "
            "_DEFERRED_NEW"
        )


def test_bench_sets_are_monotone_and_registered():
    """bench.py's round-set constants are the round-over-round
    comparability contract: every set member must be a registered,
    bench-flagged query, and each round's set must contain its
    predecessor (subtotals stay comparable). bench.py asserts this at
    RUN time; pinning it here fails every pytest session instead of the
    next driver bench."""
    import bench

    reg = load_all()
    benched = {n for n, s in reg.items() if s.bench}
    sets = sorted(
        (
            (int(name[2:-4]), getattr(bench, name))
            for name in dir(bench)
            if re.fullmatch(r"_R\d+_SET", name)
        ),
    )
    assert sets, "bench.py round sets not found"
    prev: frozenset = frozenset()
    for _rnd, s in sets:
        assert s >= prev, f"round set shrank at r{_rnd}"
        prev = s
    latest = sets[-1][1]
    assert latest <= benched, (
        f"bench-set members missing bench=True: {sorted(latest - benched)}"
    )
    missing = latest - set(reg)
    assert not missing, f"bench-set members not in registry: {missing}"


def test_bench_repeat_blocks_partition_exactly():
    """The r16 interleave schedule must be a PARTITION of the bench list:
    every query timed exactly once per pass, order preserved, no query
    dropped by the blocking arithmetic (a lost tail block would silently
    shrink the subtotals, which the missing-set asserts would catch only
    at driver-bench time); size=1 must reproduce the pre-r16 sequential
    shape (singleton blocks)."""
    import bench

    names = [f"q{i:02d}" for i in range(55)]
    for size in (1, 7, 8, 54, 55, 56):
        blocks = bench.repeat_blocks(names, size)
        flat = [n for b in blocks for n in b]
        assert flat == names, size
        assert all(len(b) <= size for b in blocks), size
    assert bench.repeat_blocks(names, 1) == [[n] for n in names]
    try:
        bench.repeat_blocks(names, 0)
    except ValueError:
        pass
    else:
        raise AssertionError("size=0 must raise")


def test_bench_failing_query_is_recorded_and_the_run_goes_on():
    """One query that raises gets an error entry instead of a timing, is
    not run again, and the other queries keep their min-of-N timings."""
    import bench

    calls = {"a": 0, "b": 0, "c": 0}
    durations = {"a": iter([3.0, 2.0, 1.0, 4.0]), "c": iter([5.0, 6.0, 7.0, 8.0])}

    def run(name: str) -> float:
        calls[name] += 1
        if name == "b":
            raise RuntimeError("boom\nJVM stack trace")
        return next(durations[name])

    timings, errors = bench.time_blocks([["a", "b"], ["c"]], run, 3, True)
    assert timings == {"a": 1.0, "c": 6.0}
    assert errors == {"b": "RuntimeError: boom"}
    assert calls == {"a": 4, "b": 1, "c": 4}


def test_bench_session_codegen_cache_sized(spark):
    """The r16 interleave methodology is only honest while the
    generated-class cache holds a whole bench session's stages: at
    Spark's 100-entry default, cycling blocks between passes evicts and
    recompiles warmed stages (measured 1.33x median inflation, PERF.md
    round-16). get_spark sets the STATIC conf at session build — pin it
    on the shared test session (built by the same get_spark the bench
    uses) so a refactor can't silently drop it."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 4096
