"""Physical-plan regression tests: the properties that make these queries
survive a 100× scale-up, asserted so a refactor can't silently lose them
(SURVEY.md §4: pushdown/pruning/broadcast are the whole optimizer story).
"""

from __future__ import annotations

import contextlib
import io
import itertools
import re

import pytest

from clinical_bi_spark.queries import load_all
from tests.conftest import SF_ORACLE

REGISTRY = load_all()


def explain(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_conjunction_pushes_every_predicate(spark):
    plan = explain(spark, "p_filter_conjunction")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for fragment in (
        "GreaterThan(o_orderdate",
        "In(o_orderstatus",
        "IsNotNull(o_totalprice)",
        "GreaterThan(o_totalprice,1000.0)",
        "EqualTo(o_orderpriority,1-URGENT)",
    ):
        assert fragment in pushed, f"{fragment} not pushed: {pushed}"


def _n_scan_fields(schema_line: str) -> int:
    inner = schema_line.split("struct<", 1)[1].rsplit(">", 1)[0]
    return len(inner.split(","))


def test_filter_conjunction_prunes_columns(spark):
    plan = explain(spark, "p_filter_conjunction")
    schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # 5 projected columns only — a scan reading more is a regression
    assert _n_scan_fields(schema) == 5, schema


def test_flagship_broadcasts_all_dims(spark):
    plan = explain(spark, "flagship_feature_query")
    assert "SortMergeJoin" not in plan, "dim join fell back to a shuffle join"
    assert plan.count("BroadcastHashJoin") >= 5


def test_dashboard_broadcasts_dims(spark):
    plan = explain(spark, "dashboard_extract")
    assert "SortMergeJoin" not in plan


def test_dedup_exact_scans_two_columns(spark):
    plan = explain(spark, "dedup_exact")
    schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in schema and "text" in schema
    assert _n_scan_fields(schema) == 2, f"text-only scan regressed: {schema}"


def test_text_stats_is_shuffle_free(spark):
    plan = explain(spark, "text_stats")
    assert "Exchange" not in plan, "per-document metrics must stay narrow"


def test_pricing_summary_does_partial_aggregation(spark):
    plan = explain(spark, "agg_pricing_summary")
    # partial (map-side) + final HashAggregate pair around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "LessThanOrEqual(l_shipdate" in plan, "date filter must reach the scan"


def test_bruteforce_topk_broadcasts_queries(spark):
    plan = explain(spark, "sim_bruteforce_topk")
    assert "Broadcast" in plan, "query vectors must broadcast, corpus must stream"


def test_sort_limit_uses_take_ordered(spark):
    plan = explain(spark, "sort_limit_topn")
    assert "TakeOrderedAndProject" in plan, (
        "global ORDER BY+LIMIT must not plan a full sort"
    )


@pytest.mark.parametrize(
    "name",
    ["flagship_feature_query", "etl_cohort_conditional_agg", "evt_tumbling_window"],
)
def test_adaptive_execution_enabled(spark, name):
    plan = explain(spark, name)
    assert "AdaptiveSparkPlan" in plan


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: joining a status-partitioned fact against a filtered dim must
    prune fact partitions at runtime (dynamicpruning in the scan) — the
    mechanism that makes dim-filtered scans cheap on a partitioned
    100 TB fact table."""
    from pyspark.sql import functions as F

    from clinical_bi_spark.sinks import write_parquet
    from clinical_bi_spark.sources import load_tables

    out = str(tmp_path / "orders_by_status")
    write_parquet(load_tables(spark, SF_ORACLE).orders, out, partition_by=["o_orderstatus"])
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")], "st string, label string"
    ).filter(F.col("label") == "finished")
    joined = fact.join(dim, fact.o_orderstatus == dim.st).select("o_orderkey", "label")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue().lower()
    assert "dynamicpruning" in plan, "partition-keyed join lost DPP"
    assert joined.count() == fact.filter(F.col("o_orderstatus") == "F").count()


def test_observe_metrics(spark):
    """df.observe(): data-quality counters computed inside the same pass as
    the query (no second scan) — the S13/quality-contract hook."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from clinical_bi_spark.sources import load_tables

    obs = Observation("quality")
    t = load_tables(spark, SF_ORACLE)
    df = t.orders.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("null_price"),
    )
    n = df.count()
    assert obs.get["rows"] == n and obs.get["null_price"] == 0


def test_lsh_ann_is_bucket_equijoin(spark):
    """The sign-LSH ANN path must candidate via a hash EQUI-join on the
    bucket key (multi-probe expansion), never a nested-loop predicate over
    all (corpus × query) pairs — the difference between a hash lookup and
    a full-corpus scan per query at 100 TB."""
    import contextlib as _ctx
    import io as _io

    from pyspark.sql import functions as F

    from clinical_bi_spark.operators.similarity import lsh_bucket_topk

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    ann = lsh_bucket_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, nbits=8, max_hamming=3,
    )
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        ann.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan, (
        "LSH candidate join degraded to a nested loop"
    )
    assert "BroadcastHashJoin" in plan


def test_semi_anti_uses_native_join_types(spark):
    plan = explain(spark, "j_semi_anti_exists")
    # EXISTS/NOT EXISTS must plan as native semi/anti joins (left columns
    # only, short-circuit per key), not as outer-join + null-filter
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


@pytest.mark.parametrize(
    "name",
    ["dedup_winnow_pairs", "dedup_embedding_lsh", "dedup_simhash_blocked",
     "dedup_decontaminate"],
)
def test_pair_miners_never_nested_loop(spark, name):
    # every near-dup/overlap miner must candidate-join on an equi key
    # (bucket, segment, fingerprint) — a nested-loop or cartesian join is
    # the all-pairs scan these operators exist to avoid
    plan = explain(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_bitmask_verify_plan(spark):
    # the bitmask verify: the dense-id map must join as a broadcast hash
    # equi-join, the verify must stay equi-join-shaped (no
    # cartesian/nested-loop), and the AND + bit_count overlap must
    # actually be in the plan (proof the fast path engaged rather than
    # silently falling back)
    plan = explain(spark, "dedup_jaccard_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "bit_count" in plan
    assert "array_intersect" not in plan


def test_verify_mode_per_query_defaults(spark, monkeypatch):
    # both prefix joins verify with the bitmask overlap while the corpus
    # vocabulary fits the cap (bit_count in the plan), and both fall back
    # to array_intersect through the real gate once it does not
    from clinical_bi_spark.queries import textops

    jac = explain(spark, "dedup_jaccard_prefix")
    assert "bit_count" in jac and "array_intersect" not in jac
    cont = explain(spark, "dedup_containment_prefix")
    assert "bit_count" in cont and "array_intersect" not in cont
    monkeypatch.setattr(textops, "_JACCARD_BITMASK_VOCAB_CAP", 0)
    jac_arr = explain(spark, "dedup_jaccard_prefix")
    assert "array_intersect" in jac_arr and "bit_count" not in jac_arr
    cont_arr = explain(spark, "dedup_containment_prefix")
    assert "array_intersect" in cont_arr and "bit_count" not in cont_arr


def test_bm25_broadcasts_query_terms_and_never_nested_loop(spark):
    # BM25 scoring joins the (doc,term) tf table against the 5-row
    # query-term table: must be a broadcast hash equi-join; the scoring
    # side must never plan a cartesian/nested-loop, and the dl join stays
    # an equi-join on doc_id
    plan = explain(spark, "text_bm25_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_curation_rollup_and_antijoin_read_text_free_cache(spark):
    # 100 TB posture: the curation funnel's post-dedup consumers that
    # don't need raw text (the near-dup anti-join and the final rollup)
    # must read the slim memory-cached relation — doc_id/source/quality/
    # n_tokens only. Raw text may live only in DISK_ONLY relations (the
    # local analogue of a parquet materialization of the curated slice).
    from pyspark.sql.dataframe import DataFrame as _DF

    df = REGISTRY["pipeline_corpus_curation"].fn(spark, SF_ORACLE)
    # analyzed plan string: InMemoryRelation nodes print their output
    # schema and storage level
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    relations = [
        blk for blk in plan.split("InMemoryRelation")[1:]
    ]
    assert relations, "curation funnel lost its cached relations"
    # the rollup's input cache (the one carrying n_tokens) must not
    # carry text, and every relation that does carry text must be
    # disk-only
    saw_slim = False
    for blk in relations:
        header = blk.split("\n", 1)[0]
        if "n_tokens" in header and "text" not in header:
            saw_slim = True
        if "text" in header:
            assert "disk" in header and "memory" not in header, (
                "raw-text cache is not DISK_ONLY: " + header
            )
    assert saw_slim, "no text-free slim cached relation in the plan:\n" + plan
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "name", ["data_snapshot_diff", "dedup_incremental", "text_chunk_dedup"]
)
def test_fingerprint_joins_never_nested_loop(spark, name):
    # corpus-orchestration joins must stay fingerprint equi-joins — a
    # nested-loop/cartesian here would move text-scale data quadratically
    # (the snapshot cutoff is a driver-side literal, not a joined row)
    plan = explain(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_select_shuffles_no_text(spark):
    # the per-source rank must shuffle only (doc_id, source, quality):
    # the Exchange's child output carries no text column
    df = REGISTRY["data_quality_select"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    import re as _re

    win = _re.search(r"Window \[[^\]]*\]", plan)
    assert win and "text" not in win.group(0), plan


def test_cohort_conditional_agg_no_expand(spark):
    """The countDistinct→conditional-count rewrite must hold: a multi-
    countDistinct plan pays an Expand (×5 row multiplication of the fact
    table before the shuffle). o_orderkey is the orders PK, so plain
    conditional counts are exactly equal — the DISTINCT-form oracle
    re-proves it every adjudication run."""
    plan = explain(spark, "etl_cohort_conditional_agg")
    assert "Expand" not in plan, "multi-countDistinct Expand regressed"


def test_bloom_probe_is_literal_map_filter(spark):
    # the Bloom bitmap must ride as a LITERAL into the probe expression:
    # exactly one join in the whole plan (the verifying broadcast
    # hash-join against members) — a second join would mean the bitmap
    # words are being joined instead of pushed down, and a nested loop
    # would mean the probe degenerated to all-pairs
    plan = explain(spark, "j_bloom_prefilter_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # all joins (the members dim build + the verifying join) broadcast;
    # the 2 KiB bitmap itself must never appear as a join — only the
    # small dim tables and the members set do
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_span_dedup_no_nested_loop_and_text_free_shuffle(spark):
    # span fingerprints are computed map-side; every exchange must carry
    # only (doc_id, f1, f2) integers — the raw text column reaching an
    # Exchange would ship the corpus through the shuffle at 100 TB
    plan = explain(spark, "dedup_span_ngram")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    for m in re.finditer(r"\(\d+\) Exchange\b[^\n]*\n((?:[^\n]*\n)*?)\n", plan):
        body = m.group(1)
        if "RoundRobinPartitioning" in body:
            # the deliberate test-SF spread of the single-split scan (the
            # minhash/winnow policy) — a no-op at real scale
            continue
        assert "text#" not in body


def test_hll_shuffle_is_register_sized(spark):
    # the HLL register groupBy must partial-aggregate map-side: the
    # exchange after the scan carries (bucket, max rho) partials, and the
    # plan must show hash aggregation, never a sort-based fallback
    plan = explain(spark, "a3_hll_portable")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_equi_join_not_nested_loop(spark):
    # the grid-cell rewrite must make the interval join an equi-join on
    # cell: a BroadcastNestedLoopJoin/CartesianProduct means the rewrite
    # regressed to the quadratic plan it exists to avoid
    plan = explain(spark, "j_range_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ohlc_is_single_aggregate_no_window(spark):
    # min_by/max_by keep OHLC a declarative aggregate: a partial+final
    # aggregate pair around ONE exchange, and no Window operator over the
    # raw event stream (the first_value form would materialize a total
    # per-partition order). Struct-ordered min_by plans as SortAggregate
    # (struct buffers aren't hash-aggregable) — still map-side partial.
    plan = explain(spark, "evt_ohlc_downsample")
    assert "Window" not in plan
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2
    # one shuffle: the detail section prints each node once as "(N) Exchange"
    assert plan.count(") Exchange") == 1


def _n_exchanges(plan: str) -> int:
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_scd2_single_exchange(spark):
    # both window passes share (partition key, sort key) — Catalyst must
    # plan exactly one shuffle and ride the same partition-local sort
    plan = explain(spark, "etl_scd2_history")
    assert _n_exchanges(plan) == 1
    assert plan.count(") Window") == 2 and plan.count(") Sort") == 1
    assert "CartesianProduct" not in plan


def test_array_battery_is_shuffle_free(spark):
    plan = explain(spark, "f_array_battery")
    assert "Exchange" not in plan, "per-row lambda pipeline must stay narrow"


def test_chunk_split_is_shuffle_free(spark):
    plan = explain(spark, "text_chunk_split")
    assert "Exchange" not in plan, "chunk materialization must stay narrow"


def test_pagerank_never_nested_loop(spark):
    plan = explain(spark, "graph_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stats_battery_partial_aggregation(spark):
    # the six power sums must partial-agg map-side (HashAggregate below
    # the exchange) — that is the whole 1000-executor story
    plan = explain(spark, "agg_stats_battery")
    assert plan.count("HashAggregate") >= 2
    assert _n_exchanges(plan) == 1


def test_fuzzy_join_is_hash_equijoin(spark):
    # PassJoin's whole point: the similarity predicate never reaches a
    # join condition — candidates come from hash equi-joins on segment
    # keys, verification is a post-join filter
    plan = explain(spark, "j_fuzzy_editdist_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_prefix_is_hash_equijoin(spark):
    # prefix-filter candidates must come from a token hash equi-join;
    # nested-loop would be the all-pairs scan the prefix filter avoids
    plan = explain(spark, "dedup_jaccard_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spearman_one_exchange_two_sorts(spark):
    # ranks and tie counts must share sorts (RANGE CURRENT ROW frame):
    # one exchange on the group key, one sort per rank variable — a
    # (group, value)-partitioned tie count would double the sorts
    import re

    plan = explain(spark, "agg_spearman_corr")
    assert _n_exchanges(plan) == 1
    assert len(re.findall(r"^\(\d+\) Sort", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 2


def test_topk_per_group_uses_window_group_limit(spark):
    # rank()<=k must plan WindowGroupLimit on BOTH sides of the exchange
    # (partial group-limit map-side, final after) — each partition keeps
    # a k-sized heap per group instead of sorting/materializing whole
    # groups; this is what makes top-k-per-group survive 100TB groups
    plan = explain(spark, "w1_topk_per_group")
    assert plan.count("WindowGroupLimit") >= 2, plan[:800]


def test_boilerplate_strip_no_fulltext_shuffle(spark):
    """The boilerplate rewrite may shuffle (doc_id, pos, word) rows — the
    rewrite needs the words back — but the full document text column
    must never reach an Exchange, and grams travel only as md5-u32
    fingerprint pairs (no gram strings in any exchange)."""
    import re

    plan = explain(spark, "text_boilerplate_strip")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for m in re.finditer(r"\(\d+\) Exchange\b[^\n]*\n((?:[^\n]*\n)*?)\n", plan):
        body = m.group(1)
        assert "text#" not in body, body
        assert "gram#" not in body, body


def test_kmv_distinct_partial_aggregates_mapside(spark):
    """The KMV distinct-reduce must partial-aggregate before its
    exchange (HashAggregate below and above), mirroring the HLL
    register test — the shuffle carries distinct (group, hash) partials,
    not raw rows."""
    plan = explain(spark, "sketch_kmv_distinct")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- round-8 operators ---


def test_weighted_sample_uses_takeordered(spark):
    """The K-smallest selection must compile to TakeOrderedAndProject
    (per-partition top-K + K-row merge), never a global Sort+Limit over
    a single-partition exchange — the claim that keeps A-Res sampling
    flat at any corpus size (measured flat at x50 in PERF.md)."""
    plan = explain(spark, "data_weighted_sample")
    assert "TakeOrderedAndProject" in plan, plan


def test_pmi_topk_uses_takeordered_and_no_nested_loop(spark):
    plan = explain(spark, "text_bigram_pmi_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_keep_best_no_fulltext_shuffle(spark):
    """Survivorship shuffles only (doc_id, fp, len) — the text column
    must be consumed by the scan-side projection and never enter an
    Exchange (the dedup-family contract)."""
    plan = explain(spark, "dedup_keep_best")
    for line in plan.splitlines():
        if "Exchange" in line and "arguments" in line.lower():
            assert "text" not in line, line
    # structural: text is pruned at the scan, i.e. ReadSchema has only
    # doc_id + text (the inputs) and every Exchange is hash on fp
    assert "BroadcastNestedLoopJoin" not in plan


def test_forward_fill_single_user_exchange(spark):
    """LOCF is one hashpartitioning(user_id) exchange + partition-local
    sort; a second data exchange would mean the window lost its
    partitioning reuse."""
    plan = explain(spark, "evt_forward_fill")
    n_exchanges = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    )
    assert n_exchanges <= 1, plan


def test_welch_partial_aggregation(spark):
    """The six power sums must partial-aggregate map-side (one
    HashAggregate pair around a SinglePartition exchange of six longs),
    never ship rows to a single task."""
    plan = explain(spark, "agg_ttest_welch")
    assert plan.count("HashAggregate") >= 2, plan


def _assert_windows_are_pid_local(plan: str) -> None:
    """Every Window in the plan must be the rank machinery's local
    cumsum: partitioned by the range-partition id ``__pid`` (population
    = one range shard — can never funnel). A window spec WITHOUT __pid
    in its partition clause (above all an empty/global one) is exactly
    the SinglePartition funnel this family's pin forbids; __pid as a
    sort key does not count. The partition clause is every spec item
    before the first ASC/DESC sort item."""
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    if "Window" in plan:
        assert specs, plan  # a Window operator must expose its spec
    for spec in specs:
        items = [item.strip() for item in spec.split(",")]
        partition = itertools.takewhile(
            lambda item: not re.search(r" (ASC|DESC)\b", item), items
        )
        assert any(item.startswith("__pid#") for item in partition), plan


@pytest.mark.parametrize(
    "spec, pid_local",
    [
        ("__pid#7, k#2, v#3L ASC NULLS FIRST", True),
        ("k#2, __pid#7, v#3L DESC NULLS LAST", True),
        ("k#2, __pid#7 ASC NULLS FIRST, v#3L ASC NULLS FIRST", False),
        ("__pid#7 ASC NULLS FIRST", False),
        ("v#3L ASC NULLS FIRST, specifiedwindowframe(RowFrame", False),
    ],
)
def test_pid_local_check_reads_the_partition_spec(spec, pid_local):
    plan = f"Window [row_number() windowspecdefinition({spec}) AS rn#9]"
    if pid_local:
        _assert_windows_are_pid_local(plan)
    else:
        with pytest.raises(AssertionError):
            _assert_windows_are_pid_local(plan)


@pytest.mark.parametrize(
    "name",
    [
        "evt_rfm_segmentation",
        "m13_auc_rank",
        "agg_equidepth_histogram",
        "agg_gini_coefficient",
        "agg_ks_two_sample",
        "m1_distributed_split_sizes",
    ],
)
def test_sharded_rank_production_plan_has_no_single_partition(spark, name):
    """r9 graduation of the r8 `weak`: the DEFAULT path of every
    global-rank analytics query must rank via the sharded prefix-sum
    operator — range exchange + local per-shard work — with NO
    SinglePartition exchange and no window rank function anywhere in the
    plan. (Replaces the r8 test whose `or "ntile" in plan` fallback made
    the structural assertion vacuous — ADVICE r8.) The r10 additions
    (gini, KS) inherit the family pin at birth; KS ends in scalar
    aggregates (n1/n2/D are single rows by construction), so it shares
    m13's allowance: every SinglePartition must be a scalar
    HashAggregate's exchange, data-independent width.

    r17 amendment: the machinery's local cumsum is now a JVM window
    PARTITIONED BY the range-partition id (``__pid``) — a window that
    can never funnel (its partition population is one range shard), so
    it is exactly the shape this pin exists to allow. Every other
    window spec (anything not partitioned by __pid, in particular a
    global/empty partition spec) stays forbidden.

    The distributed exact split ranks through the same operator and ends
    in one scalar count per split (the m13 allowance). No member's local
    rank crosses into Python: the plans hold no MapInPandas."""
    plan = explain(spark, name)
    assert "ntile" not in plan, plan
    assert "row_number" not in plan, plan
    assert "MapInPandas" not in plan, plan
    _assert_windows_are_pid_local(plan)
    assert "rangepartitioning" in plan.lower(), plan
    if name in ("m13_auc_rank", "agg_ks_two_sample", "m1_distributed_split_sizes"):
        # the allowed SinglePartitions are scalar aggregates' exchanges
        # (a few partial longs) — data-independent width
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "SinglePartition" in l:
                below = "\n".join(lines[i : i + 4])
                assert "HashAggregate" in below, plan
    else:
        assert "SinglePartition" not in plan, plan


def test_cusum_reuses_one_user_exchange(spark):
    """evt_changepoint_cusum's three windows (running deviation sum,
    per-user count, argmax row_number) all partition by user_id: the plan
    must carry ONE hashpartitioning(user_id) exchange reused by every
    window — a second data exchange means a window spec lost the shared
    partitioning (r8 verdict, Next #5)."""
    plan = explain(spark, "evt_changepoint_cusum")
    n_exchanges = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert n_exchanges <= 1, plan
    assert "SinglePartition" not in plan, plan


def _explain_df(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_mannwhitney_plan_shape(spark):
    """The r12 candidate inherits the sharded-rank family pin at birth:
    no window rank anywhere, the running total comes from the range
    exchange + narrow mapInPandas, and every SinglePartition is a scalar
    HashAggregate's exchange (the KS/m13 allowance — n1/n2/u1/z are one
    row by construction)."""
    from clinical_bi_spark.queries.extended import agg_mannwhitney_u

    plan = _explain_df(agg_mannwhitney_u(spark, SF_ORACLE))
    assert "row_number" not in plan and "ntile" not in plan, plan
    _assert_windows_are_pid_local(plan)
    assert "rangepartitioning" in plan.lower(), plan
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "SinglePartition" in l:
            below = "\n".join(lines[i : i + 4])
            assert "HashAggregate" in below, plan


def test_psi_plan_bucket_agg_is_mapside_partial(spark, monkeypatch):
    """PSI's only fact-scale op is the bucket groupBy: the exchange must
    carry partially-aggregated bucket counts (map-side combine), never
    raw order rows, and nothing in the plan is a CartesianProduct (the
    one-row scalar aggregates ride broadcast crossJoins, the KS
    pattern). persist is disabled for the explain — a cached relation's
    formatted plan hides its child exchange's arguments."""
    from clinical_bi_spark.queries import pipelineops

    monkeypatch.setattr(pipelineops, "persist_tracked", lambda df: df)
    plan = _explain_df(pipelineops.data_psi_drift(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    # formatted mode splits operator args into the details section; the
    # bucket alias is rewritten to _groupingexpression, so pin (a) the
    # exchange partitioning on that grouping expression and (b) the
    # map-side combine: the era counts must be PARTIAL sums of the CASE
    # expressions (raw order rows never cross the exchange)
    assert "hashpartitioning(_groupingexpression" in plan, plan
    assert "partial_sum(CASE WHEN (o_orderdate" in plan, plan


def test_dsir_plan_topk_and_broadcast_model(spark):
    """DSIR's scale claims, asserted structurally: the K-largest
    selection compiles to TakeOrderedAndProject (per-partition top-K +
    K-row merge, never a global sort of the corpus), the 1024-row model
    joins back by broadcast hash (not nested-loop), and no
    CartesianProduct exists anywhere."""
    plan = explain(spark, "data_dsir_select")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_semdedup_pair_join_is_equijoin(spark):
    """SemDeDup's candidate generation must reach pairs through the
    cell_id hash equi-join (sum of |cell|^2, the paper's cost model) —
    never a CartesianProduct over the corpus. The only nested-loop
    joins allowed are the bounded centroid-table crossJoins (16 rows,
    broadcast)."""
    plan = explain(spark, "dedup_semantic_cluster")
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    ), plan
    # every nested-loop join must sit on a broadcast of the 16-row
    # centroid relation, not on corpus data: in the TREE section each
    # BNLJ line names its build side (the details section repeats the
    # operator name bare, skip it)
    for l in plan.splitlines():
        if "BroadcastNestedLoopJoin" in l and not l.strip().startswith("("):
            assert "BuildRight" in l or "BuildLeft" in l, l


def test_stream_static_enrich_batch_twin_is_broadcast_join(spark):
    """The parked r13 candidate's scale claim, pinned on the batch twin
    of its join (the streaming plan re-plans the same static side per
    micro-batch): events LEFT-joined to the broadcast(customer x nation)
    dimension must compile to BroadcastHashJoin — the stream side never
    shuffles — with no SortMergeJoin or CartesianProduct anywhere."""
    from pyspark.sql import functions as F

    from clinical_bi_spark.session import tune
    from clinical_bi_spark.sources import load_tables

    t = load_tables(tune(spark), SF_ORACLE)
    dim = (
        t.customer.join(
            t.nation, t.customer.c_nationkey == t.nation.n_nationkey
        )
        .select("c_custkey", "c_name", "c_mktsegment", "n_name")
    )
    ev = t.events
    joined = ev.join(
        F.broadcast(dim), ev.user_id == dim.c_custkey, "left"
    ).select("event_id", "user_id", "c_name", "n_name")
    plan = _explain_df(joined)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def _explain_fn(spark, fn) -> str:
    """explain() for parked (unregistered) candidates — same formatted
    plan text the registry helper produces."""
    df = fn(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_gapfill_single_pass_plan(spark):
    """Registered r14: the densification must be single-pass — one
    fact scan, one aggregate exchange, one window exchange, one Generate.
    The union-of-branches form planned TWO complete scans+aggregations
    (measured 2x the wall at x1; PERF.md) — pin the restructure."""
    from clinical_bi_spark.queries.events import evt_gapfill_interpolate

    plan = _explain_fn(spark, evt_gapfill_interpolate)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert _n_exchanges(plan) == 2
    assert plan.count(") Window") == 1 and plan.count(") Generate") == 1
    assert "CartesianProduct" not in plan and "Union" not in plan


def test_mp4_samples_plan_is_two_arrow_stages(spark):
    """Parked r13 candidate: synth + extract are two chained Arrow
    mapInPandas stages behind ONE explicit round-robin exchange — no
    join, no window, no shuffle of media bytes after synthesis."""
    from clinical_bi_spark.queries.multimodalops import (
        multimodal_video_mp4_samples,
    )

    plan = _explain_fn(spark, multimodal_video_mp4_samples)
    assert _n_exchanges(plan) == 1
    assert plan.count(") MapInPandas") == 2
    assert ") Window" not in plan and "Join" not in plan


_FORMULA_MEDIA_QUERIES = (
    "multimodal_resize",
    "multimodal_resize_bmp",
    "multimodal_image_patches",
    "multimodal_audio_resample",
    "multimodal_audio_features",
)
_FORMULA_MEDIA_JOINS = ("multimodal_resize", "multimodal_resize_bmp")


@pytest.mark.parametrize("name", _FORMULA_MEDIA_QUERIES)
def test_formula_media_is_built_once_below_one_spread(spark, name):
    """The synthetic media comes from one numpy mapInPandas step on the
    doc_ids, below the plan's one round-robin exchange, never from a
    per-byte Catalyst lambda (Spark interprets higher-order functions one
    element at a time). The two resize joins read that exchange on both
    sides: after execution the final adaptive plan reuses it, so the
    media is built once."""
    plan = explain(spark, name)
    assert "lambdafunction" not in plan.lower() and "transform(" not in plan

    df = REGISTRY[name].fn(spark, SF_ORACLE)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    section = final.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    lines = section.splitlines()
    node = r"^[\s:+-]*"
    spreads = [
        k for k, line in enumerate(lines)
        if re.match(node + r"Exchange RoundRobinPartitioning", line)
    ]
    assert len(spreads) == 1, final
    builders = [
        line for line in lines
        if re.match(node + r"MapInPandas \w+\(doc_id#\d+L\)#\d+, "
                    r"\[asset_id#\d+L, media#\d+\]", line)
    ]
    assert builders == [lines[spreads[0] + 1]], final
    reused = [line for line in lines if "ReusedExchange" in line]
    if name in _FORMULA_MEDIA_JOINS:
        assert len(reused) == 1 and "media#" in reused[0], final
    else:
        assert not reused, final


def test_twa_single_shuffle_window_and_agg_colocated(spark):
    """Registered r14: the per-user LEAD window and the per-user
    aggregate must share hash(user_id) partitioning — ONE exchange total,
    the aggregate rides the window's shuffle."""
    from clinical_bi_spark.queries.events import evt_time_weighted_avg

    plan = _explain_fn(spark, evt_time_weighted_avg)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert _n_exchanges(plan) == 1
    assert plan.count(") Window") == 1
    assert "CartesianProduct" not in plan


def test_bpe_encode_is_broadcast_join(spark):
    """Registered r15: the final encode must broadcast the
    vocabulary-sized relation against the exploded corpus — no
    SortMergeJoin, no cartesian; the corpus side never shuffles for the
    join."""
    from clinical_bi_spark.queries.textops import text_bpe_train_encode

    plan = _explain_fn(spark, text_bpe_train_encode)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_compaction_plan_no_single_partition_no_join(spark):
    """Parked r17 candidate: the running byte total must ride the
    sharded prefix-sum machinery (range exchange + broadcast offsets) —
    no SinglePartition window sort, and the only joins anywhere are the
    machinery's own: the broadcast of the tiny per-partition offset
    table, and (r16) the LeftOuter inequality self-join that computes
    those offsets distributively over the n_partitions-row totals
    relation (a BroadcastNestedLoopJoin by necessity — its condition is
    `pid < pid` — but over a relation whose size is the partition count,
    not the data; any OTHER nested-loop shape stays forbidden)."""
    from clinical_bi_spark.queries.pipelineops import data_compaction_plan

    plan = _explain_fn(spark, data_compaction_plan)
    _assert_windows_are_pid_local(plan)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # every nested-loop join must be the offsets machinery's LeftOuter
    # inequality self-join (broadcast side = the totals aggregate)
    for line in plan.splitlines():
        # tree-section lines carry the join type ("... LeftOuter
        # BuildRight (n)"); detail-section headers carry only the name
        if "BroadcastNestedLoopJoin" in line and "Build" in line:
            assert "LeftOuter" in line, line
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "SinglePartition" not in line, line


def test_adamic_adar_all_joins_are_hash_equi_joins(spark):
    """Parked r17 candidate: basket build, degree cap, and pair
    generation are all equi-joins on cust/orderkey — no cartesian, no
    nested loop (the all-pairs trap the basket cap exists to prevent)."""
    from clinical_bi_spark.queries.graph import graph_adamic_adar

    plan = _explain_fn(spark, graph_adamic_adar)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )
