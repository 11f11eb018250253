"""Pin the driver's adjudication window and the bench set.

The registry (195 queries) rotates through the driver's 50-row
correctness window: ``__spark_entry__.queries()`` puts first the
queries ``driver_window`` picks from the ``CORRECTNESS_r*.json``
history at the repo root. The enforced invariant:

* **max staleness <= 4 rounds**: every registry query outside the
  current window has a driver verdict within the last 4 rounds;
* **never-adjudicated queries** are in the window.

The roll-forward test replays the policy over future rounds, so it
fails as soon as the registry outgrows what 50 slots can rotate.
"""

from __future__ import annotations

import __spark_entry__ as e
from clinical_bi_spark.queries import load_all

WINDOW_SLOTS = 50
MAX_STALENESS_ROUNDS = 4

BENCH_SET = frozenset(
    {
        "agg_gini_coefficient", "agg_ks_two_sample", "agg_mannwhitney_u",
        "agg_percentiles", "agg_pricing_summary", "agg_rollup",
        "agg_winsorized_mean", "asof_join_events", "dashboard_extract",
        "data_compaction_plan", "data_dsir_select", "data_psi_drift",
        "data_quality_select", "data_snapshot_diff", "data_zorder_layout",
        "dedup_containment_prefix", "dedup_exact", "dedup_incremental",
        "dedup_jaccard_prefix", "dedup_minhash_lsh", "dedup_semantic_cluster",
        "dedup_span_ngram", "etl_cohort_conditional_agg", "etl_scd2_history",
        "evt_cep_pattern", "evt_gapfill_interpolate",
        "evt_group_zscore_window", "evt_rfm_segmentation",
        "evt_sessionization", "evt_time_weighted_avg", "evt_tumbling_window",
        "flagship_feature_query", "graph_adamic_adar",
        "graph_label_propagation", "graph_pagerank", "j_fuzzy_editdist_pairs",
        "m18_linreg_exact", "m9_mlp_train_eval", "multimodal_audio_features",
        "multimodal_audio_resample", "multimodal_image_patches",
        "multimodal_resize", "multimodal_video_mp4_samples",
        "pipeline_corpus_curation", "sim_ann_ivf", "sim_ann_lsh",
        "sim_bruteforce_topk", "sketch_bottomk_quantiles",
        "sketch_kmv_distinct", "stream_corpus_curation",
        "text_boilerplate_strip", "text_bpe_train_encode", "text_chunk_dedup",
        "text_gopher_filters", "text_stats", "text_winnow_fingerprint",
        "w2_running_total",
    }
)


def _streaming(reg) -> set[str]:
    return {n for n, s in reg.items() if s.fn.__module__.endswith(".streamingops")}


def _current_round(last: dict[str, int]) -> int:
    return max(last.values(), default=0) + 1


def _window() -> list[str]:
    return list(e.queries())[:WINDOW_SLOTS]


# -- driver_window on a synthetic history --------------------------------


def test_driver_window_never_adjudicated_lead_then_oldest_verdict():
    names = ["a", "b", "c", "d", "e"]
    last = {"a": 3, "b": 1, "c": 2, "e": 3}
    assert e.driver_window(names, last, slots=3) == ["d", "b", "c", "a", "e"]


def test_driver_window_ties_keep_registry_order():
    names = ["z", "y", "x", "w"]
    last = {"z": 5, "y": 2, "x": 5, "w": 2}
    assert e.driver_window(names, last, slots=3) == ["y", "w", "z", "x"]


def test_driver_window_always_holds_the_flagship():
    names = ["a", "b", e.FLAGSHIP, "c"]
    last = {"a": 1, "b": 1, "c": 1, e.FLAGSHIP: 9}
    assert e.driver_window(names, last, slots=2) == ["a", e.FLAGSHIP, "b", "c"]


def test_driver_window_puts_streaming_last_inside_the_window():
    names = ["s1", "a", "s2", "b", "c"]
    last = {"s1": 1, "a": 1, "s2": 1, "b": 2, "c": 3}
    window = e.driver_window(names, last, slots=4, streaming={"s1", "s2"})
    assert window == ["a", "b", "s1", "s2", "c"]


def test_driver_window_without_history_is_registry_order():
    names = [f"q{i:02d}" for i in range(60)]
    assert e.driver_window(names, {}, slots=50) == names


# -- the real window --------------------------------------------------------


def test_window_is_exactly_driver_capacity():
    window = _window()
    assert len(set(window)) == WINDOW_SLOTS
    assert e.FLAGSHIP in window


def test_window_names_resolve_and_lead_registry_order():
    reg = load_all()
    order = list(e.queries())
    assert sorted(order) == sorted(reg)
    window = order[:WINDOW_SLOTS]
    assert order[WINDOW_SLOTS:] == [n for n in reg if n not in set(window)]
    stream = _streaming(reg)
    kinds = [n in stream for n in window]
    assert kinds == sorted(kinds), "a streaming query precedes a batch one"


def test_window_is_not_the_last_rounds_keys():
    """Re-adjudicating the previous round's 50 queries would let every
    other verdict age by a round."""
    last = e.last_verdicts()
    latest = max(last.values())
    assert set(_window()) != {n for n, rnd in last.items() if rnd == latest}


def test_no_query_exceeds_staleness_ceiling():
    last = e.last_verdicts()
    current_round = _current_round(last)
    window = set(_window())
    over = {
        name: current_round - last[name]
        for name in load_all()
        if name not in window
        and name in last
        and current_round - last[name] > MAX_STALENESS_ROUNDS
    }
    assert not over, (
        f"queries past the {MAX_STALENESS_ROUNDS}-round staleness ceiling and "
        f"not in the current window: {over}"
    )


def test_never_adjudicated_queries_are_windowed_or_deferred():
    last = e.last_verdicts()
    window = set(_window())
    orphans = [n for n in load_all() if n not in last and n not in window]
    assert not orphans, f"never-adjudicated queries outside the window: {orphans}"


def test_window_rolls_forward_within_staleness_ceiling():
    """Replay 8 driver rounds from the real history: at each window
    commit, every adjudicated query's latest verdict, windowed or not,
    is at most 4 rounds old. A registry too large for 50 slots to cycle
    within 4 rounds fails here."""
    reg = load_all()
    names, stream = list(reg), _streaming(reg)
    last = e.last_verdicts()
    first = _current_round(last)
    for rnd in range(first, first + 8):
        window = e.driver_window(names, last, streaming=stream)[:WINDOW_SLOTS]
        ages = {n: rnd - last[n] for n in names if n in last}
        stale = {n: a for n, a in ages.items() if a > MAX_STALENESS_ROUNDS}
        assert not stale, f"round {rnd}: {stale}"
        last.update(dict.fromkeys(window, rnd))


# -- bench ------------------------------------------------------------------


def test_bench_set_is_pinned_and_registered():
    """The bench set is the registrations flagged ``bench=True``; pin it
    so a dropped flag (or a new one) fails pytest, not the next bench."""
    benched = {n for n, s in load_all().items() if s.bench}
    assert benched == BENCH_SET


def test_bench_repeat_blocks_partition_exactly():
    """The r16 interleave schedule must be a PARTITION of the bench list:
    every query timed exactly once per pass, order preserved, no query
    dropped by the blocking arithmetic (a lost tail block would silently
    drop its queries from the JSON line and shrink the headline total);
    size=1 must reproduce the pre-r16 sequential shape (singleton
    blocks)."""
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
