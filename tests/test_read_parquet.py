"""sources.read_parquet: the job-free parquet reader.

Its schema must be exactly what Spark infers, a repeat read of an
unchanged path must launch no Spark job, and a rewritten path must never
be read with the schema of its previous contents.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clinical_bi_spark.domain.fixtures import generate
from clinical_bi_spark.sources import TABLE_NAMES, _local_path, read_parquet

from tests.conftest import SF_SMALL


def _jobs_launched(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted through a job group."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_parquet test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_reads_like_spark(spark, path: str) -> None:
    read_parquet(spark, path)  # first read: infers and remembers
    cached = read_parquet(spark, path)
    assert cached.schema == spark.read.parquet(path).schema
    assert cached.collect() == spark.read.parquet(path).collect()


@pytest.mark.parametrize("table", TABLE_NAMES)
def test_schema_matches_inference_on_driver_tables(spark, table):
    # events stores TIMESTAMP(NANOS), read under the session's
    # spark.sql.legacy.parquet.nanosAsLong (session.RUNTIME_CONF)
    if table == "events":
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    _assert_reads_like_spark(spark, os.path.join(SF_SMALL, f"{table}.parquet"))


def test_schema_follows_schema_confs(spark, tmp_path):
    # the same file infers as string once binaryAsString is on: a schema
    # remembered under the other value must not be reused
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    assert read_parquet(spark, path).schema["b"].dataType.typeName() == "binary"
    spark.conf.set(key, "true")
    try:
        df = read_parquet(spark, path)
        assert df.schema == spark.read.parquet(path).schema
        assert df.schema["b"].dataType.typeName() == "string"
    finally:
        spark.conf.unset(key)


def test_schema_matches_inference_on_aact_fixture(spark, tmp_path):
    from clinical_bi_spark.domain.etl import BASE_TABLES

    base = generate(str(tmp_path / "aact"), n_studies=60, seed=7)
    for table in BASE_TABLES:
        _assert_reads_like_spark(spark, os.path.join(base, f"{table}.parquet"))


def test_repeat_read_launches_no_job(spark):
    path = os.path.join(SF_SMALL, "documents.parquet")
    read_parquet(spark, path)
    assert _jobs_launched(spark, lambda: spark.read.parquet(path)) >= 1
    assert _jobs_launched(spark, lambda: read_parquet(spark, path)) == 0


def test_rewritten_directory_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).selectExpr("id", "cast(id as string) AS s").write.mode(
        "overwrite"
    ).parquet(path)
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    assert read_parquet(spark, path).columns == ["id", "s"]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": pa.array(["x", "y"]), "b": [1.0, 2.0]}), path)
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(df.collect()) == [("x", 1.0), ("y", 2.0)]


def test_non_local_paths_fall_back_to_inference():
    assert _local_path("/data/t.parquet") == "/data/t.parquet"
    assert _local_path("file:///data/t.parquet") == "/data/t.parquet"
    assert _local_path("s3a://bucket/t.parquet") is None
    assert _local_path("/data/part-*.parquet") is None


def test_session_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
