"""Scale-up timings for registry queries on replicated data.

At multiplier m every base table becomes m copies of itself, and each
copy is a new entity:

* copy k adds ``k * stride`` to every key column. The stride depends
  only on the key's type, so both sides of every key join shift alike
  and an equi-join on keys returns exactly m times its base rows;
* copy k >= 1 of a document ends its text with a copy-distinct token
  (``n_chars`` follows), so exact dedup does not collapse the copies.

Other columns, timestamps included, are copied unchanged. A table is
replicated, cached and counted the first time a query reads it, once
per multiplier.

Each query reads its tables through its module's ``load_tables``; that
hook is patched to return the replicated tables while the query runs.
A query's time is the min of ``REPEATS`` ``noop`` writes, with its
tracked caches released between repeats.

Usage: python scripts/scaleup.py --queries a,b [--mults 1,10,50] [sf_dir]
Prints one line per multiplier, e.g.
  x10 {"rows": {"orders": 150000, ...}, "a": 1.23, "b": 0.45}
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_bi_spark import caching
from clinical_bi_spark.queries import load_all
from clinical_bi_spark.session import get_spark, warm
from clinical_bi_spark.sources import Tables

REPEATS = 2
# 10**8 is past every bigint key up to sf10; the int keys (nation and
# region, < 25 at every scale) stay in range up to x10**6.
_STRIDE = {"int": 1_000, "bigint": 100_000_000}
_KEYS = frozenset(
    {
        "r_regionkey", "n_regionkey", "n_nationkey", "c_nationkey",
        "s_nationkey", "c_custkey", "o_custkey", "s_suppkey", "l_suppkey",
        "p_partkey", "l_partkey", "o_orderkey", "l_orderkey", "event_id",
        "user_id", "doc_id", "vec_id",
    }
)
# copy k's token: two 3-letter runs keyed base-26 on k ("aaabbb" for
# k=1), so any two copies differ in at least 3 characters
_TOKEN = "concat(' ', repeat(chr(97 + k div 26), 3), repeat(chr(97 + k % 26), 3))"


def replicate(df: DataFrame, mult: int) -> DataFrame:
    """``mult`` copies of ``df``, copy 0 unchanged (see the module doc)."""
    if mult == 1:
        return df
    types = dict(df.dtypes)
    copies = df.select(F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("k"), "*")
    text = F.when(F.col("k") == 0, F.col("text")).otherwise(
        F.concat("text", F.expr(_TOKEN))
    )
    cols = []
    for c in df.columns:
        if c in _KEYS:
            stride = F.lit(_STRIDE[types[c]]).cast(types[c])
            cols.append((F.col(c) + F.col("k").cast(types[c]) * stride).alias(c))
        elif c == "text":
            cols.append(text.alias(c))
        elif c == "n_chars":
            cols.append(F.char_length(text).cast(types[c]).alias(c))
        else:
            cols.append(F.col(c))
    return copies.select(*cols)


@dataclass
class ReplicatedTables(Tables):
    """The driver's tables at ``mult`` copies, each cached and counted
    on first read; ``rows`` holds the counts."""

    mult: int = 1
    rows: dict[str, int] = field(default_factory=dict)

    def _prepare(self, name: str, df: DataFrame) -> DataFrame:
        par = self.spark.sparkContext.defaultParallelism
        out = replicate(super()._prepare(name, df), self.mult)
        out = out.repartition(par).persist()
        self.rows[name] = out.count()
        return out

    def release(self) -> None:
        for df in self._cache.values():
            df.unpersist()


@contextlib.contextmanager
def patched(module: str, tables: Tables) -> Iterator[None]:
    """Point ``module``'s ``load_tables`` at ``tables`` for the block."""
    mod = sys.modules[module]
    orig = mod.load_tables
    mod.load_tables = lambda _spark, _sf_dir: tables
    try:
        yield
    finally:
        mod.load_tables = orig


def scale_up(
    spark: SparkSession, names: list[str], mults: list[int], sf_dir: str
) -> Iterator[tuple[int, dict]]:
    """Yield ``(mult, {"rows": {...}, name: sec, ...})`` per multiplier."""
    registry = load_all()
    specs = [registry[n] for n in names]  # KeyError names an unknown query
    for mult in mults:
        tables = ReplicatedTables(spark=spark, base_path=sf_dir, mult=mult)
        row: dict = {"rows": tables.rows}
        try:
            for spec in specs:
                with patched(spec.fn.__module__, tables):
                    spec.fn(spark, sf_dir)  # untimed: reads and caches its tables
                    caching.release_all(spark)
                    best = float("inf")
                    for _ in range(REPEATS):
                        start = time.perf_counter()
                        spec.fn(spark, sf_dir).write.format("noop").mode(
                            "overwrite"
                        ).save()
                        best = min(best, time.perf_counter() - start)
                        caching.release_all(spark)
                row[spec.name] = round(best, 2)
        finally:
            tables.release()
        yield mult, row


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--queries", required=True, help="comma-separated names")
    parser.add_argument("--mults", default="1,10,50", help="comma-separated")
    parser.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    args = parser.parse_args(argv)
    spark = get_spark("scaleup")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark)
    names = args.queries.split(",")
    mults = [int(m) for m in args.mults.split(",")]
    for mult, row in scale_up(spark, names, mults, args.sf_dir):
        print(f"x{mult}", json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
