"""Query registry — the engine's public query surface.

Every implemented operator from SURVEY.md §2 (plus the training-data
pipeline extensions) registers here as a named query:

* a Spark callable ``(spark, sf_dir) -> DataFrame`` — the engine under test
* an optional ANSI-SQL oracle string for DuckDB — the correctness contract

The driver (``__spark_entry__``) exposes exactly this registry. Names carry
the SURVEY.md §2 inventory IDs they cover so parity can be checked line by
line.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None → driver records a rows-only check
    bench: bool = False  # include in bench.py headline set
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, bench: bool = False):
    """Register a query; the decorated fn is ``(spark, sf_dir) -> DataFrame``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, bench=bench, doc=(fn.__doc__ or "").strip()
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (registration side effect) and return the
    registry, in registration order."""
    from clinical_bi_spark.queries import (  # noqa: F401
        relational,
        textops,
        vectorops,
        pipelineops,
        extended,
        events,
        graph,
        mlops,
        multimodalops,
        quality,
        sketchops,
        streamingops,
    )

    return REGISTRY
