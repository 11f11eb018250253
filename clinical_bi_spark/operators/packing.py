"""Sequence packing: concat-and-chunk token streams into fixed context
windows (the standard pretraining batching step).

Pack assignment is arithmetic over a prefix sum of token counts in a
deterministic document order. :func:`pack_assignments_window` computes it
with one global ordered window: exact and oracle-checkable (the DuckDB
oracle applies verbatim), but the global sort funnels through a single
partition. A corpus too large for that takes the same prefix sum from
:func:`~clinical_bi_spark.operators.ranking.global_prefix_sums`, which
decomposes it by range partition because addition is associative; at the
benched corpus sizes its fixed cost loses to the one window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _pack_columns(df: DataFrame, tokens_col: str, context: int) -> DataFrame:
    ctx = F.lit(context)
    start = F.col("start_offset")
    n = F.col(tokens_col)
    return df.select(
        *[c for c in df.columns if c != "start_offset"],
        "start_offset",
        F.floor(start / ctx).alias("pack_id"),
        ((n > 0) & (F.floor((start + n - 1) / ctx) > F.floor(start / ctx))).alias(
            "crosses_boundary"
        ),
    )


def pack_assignments_window(df: DataFrame, context: int) -> DataFrame:
    """Pack assignment of ``(doc_id, n_tokens)`` rows via a global ordered
    window (single-partition sort; see the module docstring for the scale
    form)."""
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    pos = df.select("doc_id", "n_tokens").withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return _pack_columns(pos, "n_tokens", context)
