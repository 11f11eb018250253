"""Targeted cache registry: operators register what they persist, the
query boundary releases exactly that.

Several operators persist small intermediate relations (minhash
signatures, winnow postings, df-cap overflow sets, near-dup edge lists)
that their RETURNED plan consumes lazily — they cannot unpersist before
returning without losing the cache under the caller's collect. The first
safe release point is the next query's entry (the adjudication driver is
strictly build → collect → next). Releasing there used to be a global
``spark.catalog.clearCache()``, which had two flaws:

* it wipes EVERY cached relation, including any the harness itself
  established — correctness of that rested on an assumption about the
  harness the harness never promised;
* it does not reclaim ``localCheckpoint`` block storage at all
  (checkpoint data is RDD block storage, not CacheManager state), so
  ``connected_components`` leaked its checkpoint leaves across a
  multi-query session.

This module fixes both with *tracking*: :func:`persist_tracked` and
:func:`local_checkpoint_tracked` record exactly what the engine
persisted, and :func:`release_all` unpersists exactly that — tracked
DataFrame caches via ``unpersist()``, tracked checkpoint RDDs via the
JVM's persistent-RDD map — leaving foreign caches untouched.

Checkpoint RDDs have no public unpersist handle in PySpark, so tracking
works by diffing ``sc.getPersistentRDDs()`` ids around the checkpoint
call (``localCheckpoint`` persists its data as ordinary RDD blocks, so
the new id(s) appear there). The diff is race-free in this engine: plan
construction happens on one driver thread. On release the ids still
present in the map are unpersisted; ids already gone (e.g. the app
restarted the context) are dropped silently.

100 TB posture: bounded, predictable executor storage. A 50-query
session holds only the CURRENT query's caches plus whatever the host
application cached for itself, instead of accumulating ~50 dead
relations (clearCache's accidental fix) or nuking the host's working set
(clearCache's accidental cost).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: DataFrames persisted by operators, awaiting release at the next query
#: boundary. Module-level because operators and the boundary wrapper
#: (``__spark_entry__._released``) are decoupled.
_PERSISTED: list[DataFrame] = []

#: RDD ids backing localCheckpoint leaves created by tracked calls.
_CHECKPOINT_RDD_IDS: set[int] = set()


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of all currently-persisted RDDs (includes checkpoint blocks)."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in jmap.keySet().toArray()}
    except Exception:
        return set()


def persist_tracked(df: DataFrame, level=None) -> DataFrame:
    """``df.persist(level)`` + register for release at the query boundary."""
    out = df.persist(level) if level is not None else df.persist()
    _PERSISTED.append(out)
    return out


def local_checkpoint_tracked(df: DataFrame, eager: bool = True) -> tuple[DataFrame, set[int]]:
    """``df.localCheckpoint(eager)`` + track the checkpoint's RDD blocks.

    Returns ``(checkpointed_df, new_rdd_ids)`` — the ids are also handed
    back so iterative callers (connected_components) can release a
    superseded round's checkpoint *early* via :func:`release_rdd_ids`
    instead of holding O(rounds) leaves until the query boundary.
    """
    spark = df.sparkSession
    before = _persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=eager)
    new = _persistent_rdd_ids(spark) - before
    _CHECKPOINT_RDD_IDS.update(new)
    return out, new


def release_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Unpersist specific checkpoint RDD ids now (early release for
    iteration-superseded leaves). Safe on ids already gone."""
    if not ids:
        return
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
    except Exception:
        pass
    _CHECKPOINT_RDD_IDS.difference_update(ids)


def release_all(spark: SparkSession) -> tuple[int, int]:
    """Release every tracked cache; returns (n_dataframes, n_checkpoint_rdds).

    Called at each query boundary. Only tracked state is touched — caches
    established by the host application (the adjudication harness, a
    notebook user) survive.
    """
    n_df = len(_PERSISTED)
    for df in _PERSISTED:
        try:
            df.unpersist()
        except Exception:
            pass  # session may have been restarted under us
    _PERSISTED.clear()

    n_ck = len(_CHECKPOINT_RDD_IDS)
    release_rdd_ids(spark, set(_CHECKPOINT_RDD_IDS))
    return n_df, n_ck
