"""As-of (point-in-time) join — Spark has no native one (pyspark guide,
'Common OLAP patterns'); this is the union+window formulation, which scales
as one shuffle on the key and never expands rows (unlike the naive
range-join + filter, which is quadratic per key).

For each left row, attach the most recent right row with
``right.ts <= left.ts`` on the same key. Inclusive ties resolve to the
right row (right rows order before left rows at equal timestamps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Union-tagged merge: interleave both sides ordered by (ts, side),
    carry the right side's values forward with last(ignorenulls) over an
    unbounded-preceding window as ``<col>_asof``, keep left rows.

    Cost: one shuffle on ``key``, then a partition-local linear pass —
    the plan a 100 TB event table wants. Right side should be unique per
    (key, ts); pre-aggregate if it isn't.
    """
    left_cols = left.columns
    tagged_left = left.select(
        *left_cols,
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
    )
    tagged_right = right.select(
        *[
            F.col(c) if c in (key, ts) else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
        ],
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    unioned = tagged_left.unionByName(tagged_right)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts), F.col("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"{c}_asof")
            for c in value_cols
        ],
    )
    return carried.filter(F.col("__side") == 1).select(
        *left_cols, *[f"{c}_asof" for c in value_cols]
    )
