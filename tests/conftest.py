"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
connection per scale factor, and the differential-compare helper that
mirrors the driver's row-count + schema + order-insensitive value check.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from clinical_bi_spark.session import get_spark
from clinical_bi_spark.sources import TABLE_NAMES

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("CBS_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    session = get_spark("clinical-bi-spark-tests")
    session.sparkContext.setLogLevel("WARN")
    yield session


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb_views(SF_ORACLE)
    yield con
    con.close()


def _canon(value):
    """Canonicalize a cell for order-insensitive comparison."""
    if value is None:
        return "∅"
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # collapse -0.0 / representation noise surviving the in-query rounding
        return f"{value:.9g}"
    return str(value)


def rows_multiset(df_rows, columns):
    """Rows → sorted multiset of tuples with columns sorted by name
    (mirrors the driver's order-insensitive value hash)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(row[i]) for i in order) for row in df_rows)


def _spark_type_category(dtype: str) -> str:
    base = dtype.split("(")[0]
    return {
        "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
        "float": "float", "double": "float",
        "boolean": "bool", "string": "str",
        "date": "date", "timestamp": "timestamp", "timestamp_ntz": "timestamp",
        "decimal": "decimal",
    }.get(base, "other")


def _arrow_type_category(t) -> str:
    import pyarrow.types as pt

    if pt.is_integer(t):
        return "int"
    if pt.is_floating(t):
        return "float"
    if pt.is_boolean(t):
        return "bool"
    if pt.is_string(t) or pt.is_large_string(t):
        return "str"
    if pt.is_date(t):
        return "date"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_decimal(t):
        return "decimal"
    return "other"


def assert_matches_oracle(spark_df, oracle_con, oracle_sql, name=""):
    spark_rows = spark_df.collect()
    spark_cols = spark_df.columns
    rel = oracle_con.execute(oracle_sql)
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    # Typed comparison: the driver hashes TYPED values (via Arrow), so an
    # int64-vs-float64 divergence — e.g. an uncast DuckDB HUGEINT window
    # sum — fails the driver even when str() canonicalization matches.
    # (Round-2 lesson: text_sequence_packing was value-identical but
    # hash-red for exactly this.)
    duck_schema = oracle_con.execute(oracle_sql).arrow().schema
    duck_cats = {f.name: _arrow_type_category(f.type) for f in duck_schema}
    spark_cats = {c: _spark_type_category(dt) for c, dt in spark_df.dtypes}
    cat_mismatch = {
        c: (spark_cats[c], duck_cats[c])
        for c in spark_cols
        if spark_cats[c] != duck_cats[c]
    }
    assert not cat_mismatch, (
        f"{name}: dtype-category mismatch (spark, duck): {cat_mismatch}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    spark_ms = rows_multiset(
        [[row[c] for c in spark_cols] for row in spark_rows], spark_cols
    )
    duck_ms = rows_multiset(duck_rows, duck_cols)
    mismatches = [
        (s, d) for s, d in zip(spark_ms, duck_ms) if s != d
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )
