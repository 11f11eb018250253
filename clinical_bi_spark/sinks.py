"""Sinks (SURVEY.md §2.1 S4–S9).

The reference's export path was: psql -o file with '|' separator →
sed cleanse → db2 load (db2wh-etl.sh:73,158-163). Here the cleanse is part
of the plan (functions.cleanse_text) and the writers are ordinary Spark
sinks — idempotent via overwrite mode (S9's DROP-before-CREATE pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType

from clinical_bi_spark.functions.exprs import cleanse_text


def cleanse_string_columns(df: DataFrame) -> DataFrame:
    """Apply the S5 sed-cleanse to every string column before delimited
    export (quotes→apostrophes, ' | '→' - '; db2wh-etl.sh:158-159), as one
    projection: a withColumn per column re-analyzes the whole plan."""
    return df.withColumns(
        {
            f.name: cleanse_text(F.col(f.name))
            for f in df.schema.fields
            if isinstance(f.dataType, StringType)
        }
    )


def format_booleans_tf(df: DataFrame) -> DataFrame:
    """psql prints booleans as 't'/'f' in -A dumps — the format the DB2
    CHAR(1) columns consumed (db2wh-etl.sh:138-141). NULL stays empty.
    One projection, like :func:`cleanse_string_columns`."""
    return df.withColumns(
        {
            f.name: F.when(F.col(f.name), "t")
            .when(~F.col(f.name), "f")
            .otherwise(F.lit(None).cast("string"))
            for f in df.schema.fields
            if isinstance(f.dataType, BooleanType)
        }
    )


def write_delimited(df: DataFrame, path: str) -> None:
    """S4: pipe-delimited, header-less export (psql -t -A --field-separator
    parity, db2wh-etl.sh:73,107) with the in-plan cleanse — no sed
    post-pass needed."""
    (
        cleanse_string_columns(format_booleans_tf(df))
        .write.mode("overwrite")
        .option("sep", "|")
        .option("header", False)
        .option("emptyValue", "")
        .csv(path)
    )


def write_csv(df: DataFrame, path: str) -> None:
    """S7: header CSV export (df.to_csv parity, ct_data.py:148)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S6/S8: the bulk-load sink re-expressed as a columnar write; derived
    tables (init-user-db.sh DDLs) are materialized this way. Partitioning
    on low-cardinality filter keys buys partition pruning at read time."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_jdbc(
    df: DataFrame,
    options: dict[str, str],
    table: str,
    mode: str = "overwrite",
) -> None:
    """S6 live bulk-load sink: write a DataFrame into a JDBC table — the
    reference's warehouse load step (db2wh-etl.sh's external-table bulk
    load; ct_data.py writes its frames back via SQL inserts). Each Spark
    partition opens one connection and batches inserts, so load
    parallelism follows the DataFrame's partitioning. EXECUTED LIVE in
    this container against embedded Derby (bundled with Spark) —
    tests/test_sinks_sources.py::test_jdbc_roundtrip_live_embedded_derby
    round-trips through this sink and the jdbc_reader."""
    (
        df.write.format("jdbc")
        .options(**options)
        .option("dbtable", table)
        .mode(mode)
        .save()
    )


def save_as_table(df: DataFrame, name: str, bucket_by: tuple[int, str] | None = None) -> None:
    """S8 DDL path: CREATE TABLE AS via saveAsTable; optional bucketing on
    the hub join key replaces the reference's b-tree indexes (S12) —
    bucketed tables co-locate joins on the key with no shuffle."""
    writer = df.write.mode("overwrite").format("parquet")
    if bucket_by:
        n, col = bucket_by
        writer = writer.bucketBy(n, col).sortBy(col)
    writer.saveAsTable(name)


def create_readonly_layer(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    schema_prefix: str,
) -> list[str]:
    """S13 analogue (reference: docker/aact/docker-entrypoint-initdb.d/
    init-user-db.sh:281-287 — ``CREATE USER`` + ``GRANT SELECT`` + a
    per-role search_path): open-source Spark has no principal/GRANT
    model — ACLs belong to the catalog service (Hive/Ranger, Unity,
    Polaris), not the engine — so the engine-level equivalent is the
    standard READ-ONLY VIEW LAYER: one ``<prefix>_<table>`` temp view
    per base table (the "search_path" analogue is the name prefix).
    Views are definitionally non-writable in Spark SQL (no INSERT
    target resolution), which is exactly the property the reference's
    grant enforces; a production deployment points the read role's
    catalog at these views and withholds the base locations.

    Returns the created view names. tests/test_sinks_sources.py pins
    (a) read-equivalence through the layer, (b) writes through a view
    FAIL, and (c) re-creation idempotence (the run-twice S9 probe)."""
    names = []
    for name, df in tables.items():
        view = f"{schema_prefix}_{name}"
        df.createOrReplaceTempView(view)
        names.append(view)
    return names
