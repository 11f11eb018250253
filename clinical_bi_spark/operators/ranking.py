"""Sharded global ranking: ROW_NUMBER / NTILE over a total order without
a SinglePartition sort.

``Window.orderBy(...)`` with no ``partitionBy`` (or a low-cardinality
``partitionBy`` — 3 return-flags over 100 TB is the same problem) funnels
the whole relation through one task. Rank is a prefix sum of row counts,
and prefix sums decompose because addition is associative — the same
argument :mod:`clinical_bi_spark.operators.packing` makes for sequence
packing:

1. range-partition by the full sort key (group cols + order cols) so
   partitions hold disjoint, ordered key ranges;
2. local row numbers (or running sums) per partition, in the JVM — rows
   arrive pre-sorted by ``sortWithinPartitions``;
3. per-(partition, group) row COUNTS — one long per cell, bounded by
   n_partitions x n_groups (callers with a high-cardinality group key
   should use the ordinary partitioned window instead: Spark already
   distributes that well) — folded into exclusive prefix offsets by a
   broadcast inequality self-join over that tiny totals relation
   (the offsets used to be a driver ``collect`` +
   ``createDataFrame`` round trip, which forced a separate job per
   operator call; distributing them makes the whole operator ONE lazy
   plan — a single job at the consumer's action);
4. broadcast the exclusive prefix offsets back; global rank = offset +
   local row number.

The data crosses the wire once (the range exchange). Range-partition
boundaries come from sampling and may vary run to run, but the emitted
ranks are partition-independent because the sort key is a TOTAL order —
every caller must include a tie-break column.

:func:`ntile_from_rank` then maps ranks to SQL ``NTILE(k)`` buckets with
exact integer arithmetic (first ``N mod k`` buckets take ``N div k + 1``
rows, the rest ``N div k``), so the composition is value-identical to the
single-partition ``F.ntile(k).over(...)`` form — pinned against SQL
``NTILE`` in tests/test_analytics.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _excl_prefix_offsets(
    tot: DataFrame,
    part_cols: list[str],
    sum_cols: list[str],
    out_names: list[str],
) -> DataFrame:
    """Exclusive per-group prefix offsets over ``__pid`` order, computed
    distributively from the per-(partition, group) totals relation
    (n_partitions x n_groups rows — tiny by the operator contract):
    ``offset(pid, g) = SUM(total(pid', g) WHERE pid' < pid)`` via a
    broadcast inequality self-join + re-aggregation. Replaces the old
    driver ``collect`` + ``createDataFrame`` round trip, so the caller's
    whole rank/cumsum plan is ONE lazy job. NULL group keys are real
    groups (null-safe equality), exactly as the driver loop treated them;
    a group's first partition (no predecessors) coalesces to offset 0."""
    ta, tb = tot.alias("rko_a"), tot.alias("rko_b")
    cond = F.col("rko_b.__pid") < F.col("rko_a.__pid")
    for c in part_cols:
        cond = cond & F.col(f"rko_b.{c}").eqNullSafe(F.col(f"rko_a.{c}"))
    keys = [F.col("rko_a.__pid").alias("__pid")] + [
        F.col(f"rko_a.{c}").alias(c) for c in part_cols
    ]
    aggs = [
        F.coalesce(F.sum(F.col(f"rko_b.{sc}")), F.lit(0))
        .cast("long")
        .alias(on)
        for sc, on in zip(sum_cols, out_names)
    ]
    return ta.join(F.broadcast(tb), cond, "left").groupBy(*keys).agg(*aggs)


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    *,
    out_col: str = "rnk",
    n_partitions: int | None = None,
) -> DataFrame:
    """Append 1-based ``out_col`` = ROW_NUMBER() OVER (ORDER BY order_by)
    without a SinglePartition exchange.

    ``order_by`` are Column sort expressions (``F.col(...).desc()``
    allowed) that must form a total order.
    """
    from clinical_bi_spark.caching import persist_tracked

    spark = df.sparkSession
    np_ = n_partitions or spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(np_, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id())
    )
    # The local per-partition row index is exactly what
    # monotonically_increasing_id encodes: partition id in the upper 31
    # bits, the 0-based row index within the partition in the lower 33
    # (deterministic here: rows are sorted within the partition, and
    # <2^33 rows/partition is the function's own documented bound). So
    # the local count needs no Python round trip of the relation.
    # persist: the offsets subtree and the main subtree must see ONE
    # materialized partition layout (range-boundary sampling is
    # nondeterministic across re-executions), and the cache pins it
    local = persist_tracked(
        ranged.withColumn(
            "__local_rn",
            F.monotonically_increasing_id().bitwiseAND(
                F.lit((1 << 33) - 1).cast("long")
            )
            + F.lit(1).cast("long"),
        )
    )
    off_df = _excl_prefix_offsets(
        local.groupBy("__pid").agg(F.count("*").alias("__n")),
        [],
        ["__n"],
        ["__offset"],
    )
    joined = local.join(F.broadcast(off_df), ["__pid"], "left")
    return joined.withColumn(
        out_col,
        (F.coalesce(F.col("__offset"), F.lit(0)) + F.col("__local_rn")).cast(
            "bigint"
        ),
    ).drop("__pid", "__local_rn", "__offset")


def global_prefix_sums(
    df: DataFrame,
    order_by: list[Column],
    value_cols: list[str],
    out_cols: list[str],
    *,
    partition_by: list[str] | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Append inclusive running totals ``out_cols[i] = SUM(value_cols[i])
    OVER (PARTITION BY partition_by ORDER BY order_by)`` without a
    SinglePartition (or low-cardinality-partition) window — the cumsum
    generalization of :func:`global_row_number` (same shard
    decomposition: prefix sums distribute because addition is
    associative).

    1. range-partition + sort by (partition_by, order_by) — order_by
       must be a total order within each group;
    2. local cumulative sums per (partition, group) — a JVM window
       partitioned by the range-partition id (+ group cols), which can
       never funnel: its partition population is exactly one range
       shard (a ``mapInPandas`` cumcount would ship the whole relation
       through Arrow/Python);
    3. per-(partition, group) TOTALS of each value col — one long per
       cell, a tiny relation (``partition_by`` must be
       low-cardinality) — folded into exclusive prefix offsets
       by the shared broadcast self-join (:func:`_excl_prefix_offsets`;
       no driver collect, the whole operator is one lazy plan);
    4. broadcast exclusive prefix offsets back (null-safe join — NULL
       group keys are their own running-total partition, as in SQL);
       global running total = offset + local cumsum.

    ``value_cols`` must be integer-typed (bigint running totals — the
    exact-arithmetic contract of the callers); NULLs count as 0 locally
    and are skipped by the Spark-side totals, which agree.
    """
    from pyspark.sql import Window

    from clinical_bi_spark.caching import persist_tracked

    part_cols = list(partition_by or [])
    spark = df.sparkSession
    np_ = n_partitions or spark.sparkContext.defaultParallelism
    sort_exprs = [F.col(c) for c in part_cols] + list(order_by)
    ranged = df.repartitionByRange(np_, *sort_exprs).withColumn(
        "__pid", F.spark_partition_id()
    )
    cum_cols = [f"__cum_{c}" for c in value_cols]

    # Local cumsum as a JVM window PARTITIONED BY the range-partition id
    # (no Python boundary: a mapInPandas form would ship the whole
    # relation through Arrow/Python).
    # This window never funnels: its partition key is __pid (+ the group
    # cols), so partitions stay exactly the range shards — the hash
    # exchange it plans re-moves only this already-domain-bounded
    # relation, and the per-(pid, group) totals aggregate below then
    # rides the SAME hash(__pid) clustering with no further exchange.
    # Value-identity with the pandas form: integer SUMs, window SUM
    # skips NULLs exactly as fillna(0)+cumsum did, and COALESCE(.., 0)
    # covers an all-NULL prefix (differential-pinned against the
    # single-partition window in tests/test_analytics.py).
    w = (
        Window.partitionBy("__pid", *part_cols)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged
    for c, cc in zip(value_cols, cum_cols):
        local = local.withColumn(
            cc,
            F.coalesce(F.sum(F.col(c)).over(w), F.lit(0)).cast("long"),
        )
    # persist: the offsets subtree and the main subtree must see ONE
    # materialized partition layout (range-boundary sampling is
    # nondeterministic across re-executions), and the cache pins it
    local = persist_tracked(local)
    off_df = _excl_prefix_offsets(
        local.groupBy("__pid", *part_cols).agg(
            *[F.sum(c).alias(c) for c in value_cols]
        ),
        part_cols,
        value_cols,
        [f"__off_{c}" for c in value_cols],
    )
    if part_cols:
        off_df = off_df.select(
            F.col("__pid").alias("__o_pid"),
            *[F.col(c).alias(f"__o_{c}") for c in part_cols],
            *[f"__off_{c}" for c in value_cols],
        )
        cond = F.col("__pid") == F.col("__o_pid")
        for c in part_cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__o_{c}"))
        joined = local.join(F.broadcast(off_df), cond, "left").drop(
            "__o_pid", *[f"__o_{c}" for c in part_cols]
        )
    else:
        joined = local.join(F.broadcast(off_df), ["__pid"], "left")
    for c, cc, oc in zip(value_cols, cum_cols, out_cols):
        joined = joined.withColumn(
            oc,
            (
                F.coalesce(F.col(f"__off_{c}"), F.lit(0)) + F.col(cc)
            ).cast("bigint"),
        )
    return joined.drop(
        "__pid", *cum_cols, *[f"__off_{c}" for c in value_cols]
    )


def ntile_from_rank(rank: Column, n_rows: Column, k: int) -> Column:
    """Exact SQL ``NTILE(k)`` bucket from a 1-based total-order row number
    and the group row count N: the first ``N mod k`` buckets hold
    ``N div k + 1`` rows, the rest ``N div k``.

    Integer-valued throughout (the double divisions are exact below 2^53
    ~= 9e15 rows per group — comfortably past 100 TB of rows); the
    else-branch divisor is clamped with ``greatest(q, 1)`` because when
    ``N < k`` (q = 0) every row takes the first branch but ANSI mode
    evaluates the expression anyway."""
    n = n_rows.cast("bigint")
    rnk = rank.cast("bigint")
    q = F.floor(n / F.lit(k)).cast("bigint")
    r = (n % F.lit(k)).cast("bigint")
    big = r * (q + 1)  # rows covered by the (q+1)-sized leading buckets
    return (
        F.when(rnk <= big, F.floor((rnk - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rnk - 1 - big) / F.greatest(q, F.lit(1))) + 1)
        .cast("int")
    )
