"""The targeted cache registry (clinical_bi_spark.caching): operators
register persists/localCheckpoints, the query boundary releases exactly
those — and ONLY those (the round-5 advisor's objection to the old
global clearCache was precisely that it wiped caches the harness itself
established).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from clinical_bi_spark import caching
from clinical_bi_spark.operators.dedup import (
    connected_components,
    winnow_neardup_pairs,
)

from .conftest import SF_SMALL


def _persistent_rdd_count(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def test_release_all_reclaims_persists_and_checkpoints(spark):
    """After a query that persists AND localCheckpoints (the winnow →
    connected-components chain), release_all leaves zero persistent RDDs
    from the engine behind — including checkpoint blocks, which
    spark.catalog.clearCache() never touched."""
    caching.release_all(spark)
    spark.catalog.clearCache()
    baseline = _persistent_rdd_count(spark)

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    pairs = winnow_neardup_pairs(docs, id_col="doc_id", text_col="text")
    comps = connected_components(pairs)
    n = comps.count()  # drive the whole chain like the adjudication driver
    assert n >= 0
    # the chain registered at least one cache while running
    assert len(caching._PERSISTED) > 0

    n_df, _n_ck = caching.release_all(spark)
    assert n_df > 0
    assert len(caching._PERSISTED) == 0
    assert len(caching._CHECKPOINT_RDD_IDS) == 0
    assert _persistent_rdd_count(spark) == baseline


def test_release_all_spares_foreign_caches(spark):
    """A cache the HOST established (untracked) must survive release_all —
    the exact behavior the old clearCache() violated."""
    foreign = spark.range(100).select(F.col("id") * 2)
    foreign.persist()
    try:
        foreign.count()
        assert foreign.storageLevel.useMemory

        caching.release_all(spark)
        # still cached: release only touches tracked state
        assert foreign.storageLevel.useMemory
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        assert jmap.size() >= 1
    finally:
        foreign.unpersist()


def test_connected_components_bounds_checkpoint_leaves(spark):
    """The iterative CC path frees each superseded round's checkpoint
    immediately: after the run, tracked checkpoint ids hold only the
    FINAL leaf (1 id), not one per round."""
    caching.release_all(spark)
    # a 6-vertex path graph forces several label-propagation rounds on
    # the distributed path (small_graph_edges=0 disables union-find)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a bigint, id_b bigint"
    )
    comps = connected_components(edges, small_graph_edges=0)
    rows = comps.collect()
    assert {r["component"] for r in rows} == {0}
    assert len(caching._CHECKPOINT_RDD_IDS) == 1
    caching.release_all(spark)
    assert len(caching._CHECKPOINT_RDD_IDS) == 0


def test_sequential_replay_storage_flat(spark):
    """The driver-contract invariant (__spark_entry__._released): under a
    STRICTLY SEQUENTIAL driver (build → collect → next query), executor
    storage stays flat because each query's entry releases the previous
    query's tracked caches. Replay 10 cache-heavy registry queries
    through the ACTUAL contract wrappers and assert the persistent-RDD
    count never ratchets above one query's working set."""
    import __spark_entry__ as e

    caching.release_all(spark)
    spark.catalog.clearCache()
    baseline = _persistent_rdd_count(spark)

    qs = e.queries()
    replay = [
        "dedup_minhash_lsh", "dedup_cluster_winnow", "dedup_winnow_pairs",
        "pipeline_corpus_curation", "dedup_decontaminate", "dedup_simhash",
        "text_sequence_packing", "dedup_jaccard_prefix",
        "entity_resolution_parts", "dedup_exact",
    ]
    peaks = []
    for name in replay:
        qs[name](spark, SF_SMALL).collect()
        peaks.append(_persistent_rdd_count(spark))
    # each step may leave ITS OWN caches alive (consumed lazily, released
    # at the next entry) but never accumulates prior queries': the count
    # after step N must stay within one query's working-set DELTA of
    # baseline (peaks[0] - baseline), not grow ~linearly to N working
    # sets. Bounding against the delta (not the absolute first peak,
    # which includes baseline) keeps the bound tight even when the
    # harness session already holds caches of its own.
    ws = peaks[0] - baseline
    assert max(peaks) <= baseline + max(6, 2 * ws), (baseline, peaks)
    # and the LAST query's leftovers release at the next boundary
    caching.release_all(spark)
    assert _persistent_rdd_count(spark) == baseline


def test_connected_components_reads_edge_source_exactly_once(spark):
    """r10 census-driven regression pin: the bidirectional edge list must
    be built with ONE pass over the caller's (lazy, often expensive)
    pair-mining plan. The pre-fix union(edges, reversed(edges)) form read
    the source through two plan branches, executing the whole miner twice
    (the curation funnel paid its 10.2 MiB candidate exchange 2x). An
    accumulator inside the edge source counts actual row productions:
    it must equal the edge count, not 2x."""
    import pandas as pd

    acc = spark.sparkContext.accumulator(0)
    n_edges = 40

    def produce(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pd.DataFrame(
                {"id_a": pdf["id"] * 2, "id_b": pdf["id"] * 2 + 1}
            )

    src = spark.range(n_edges).repartition(4)
    edges = src.mapInPandas(produce, schema="id_a bigint, id_b bigint")
    comps = connected_components(edges)
    rows = comps.collect()
    # every vertex appears, paired with its chain partner
    assert len(rows) == 2 * n_edges
    assert acc.value == n_edges, (
        f"edge source produced {acc.value} rows for {n_edges} edges — "
        "the miner plan executed more than once"
    )
