"""Source/sink surface (SURVEY.md §2.1 S1–S12): delimited/CSV/parquet
round-trips, ini config, DDL via saveAsTable, bucketed-join co-location,
and the spark.sql view path."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from clinical_bi_spark.sinks import (
    save_as_table,
    write_csv,
    write_delimited,
    write_parquet,
)
from clinical_bi_spark.sources import load_tables, read_ini_options
from tests.conftest import SF_ORACLE


def test_delimited_roundtrip_with_cleanse(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 'say "hi"', "a | b"), (2, None, "plain")],
        "id int, quoted string, piped string",
    )
    out = str(tmp_path / "dump")
    write_delimited(df, out)
    lines = sorted(
        line for f in glob.glob(f"{out}/part-*.csv") for line in open(f).read().splitlines()
    )
    assert lines == ["1|say 'hi'|a - b", "2||plain"]


def test_csv_roundtrip(spark, tmp_path):
    src = load_tables(spark, SF_ORACLE).region
    out = str(tmp_path / "region_csv")
    write_csv(src, out)
    back = spark.read.option("header", True).csv(out, inferSchema=True)
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)


def test_parquet_partitioned_write_prunes(spark, tmp_path):
    import contextlib
    import io

    src = load_tables(spark, SF_ORACLE).orders
    out = str(tmp_path / "orders_parted")
    write_parquet(src, out, partition_by=["o_orderstatus"])
    assert os.path.isdir(f"{out}/o_orderstatus=F")
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    assert back.count() == src.filter(F.col("o_orderstatus") == "F").count()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    # the filter must land as a partition filter (directory pruning),
    # not a data filter evaluated per row
    assert "PartitionFilters" in plan
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "o_orderstatus" in pf_line


def test_ini_config_source(tmp_path):
    ini = tmp_path / "aact.properties"
    ini.write_text("[aact.database]\nhost=localhost\nport=30432\ndbname=aact\n")
    opts = read_ini_options(str(ini), "aact.database")
    assert opts == {"host": "localhost", "port": "30432", "dbname": "aact"}


def test_save_as_table_and_sql_path(spark):
    src = load_tables(spark, SF_ORACLE).nation
    save_as_table(src, "nation_tbl")
    try:
        out = spark.sql("SELECT COUNT(*) AS n FROM nation_tbl").head()
        assert out.n == src.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_tbl")


def test_bucketed_join_avoids_shuffle(spark):
    """S12 parity: bucketBy on the hub key replaces the reference's b-tree
    indexes — two tables bucketed on the same key join with NO Exchange."""
    t = load_tables(spark, SF_ORACLE)
    save_as_table(t.orders, "orders_b", bucket_by=(8, "o_orderkey"))
    save_as_table(
        t.lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        bucket_by=(8, "o_orderkey"),
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            assert "Exchange" not in plan, "bucketed join must not shuffle"
            assert joined.count() == t.lineitem.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_jdbc_reader_option_plumbing(tmp_path):
    """S1 live path: the ini section must reach the JDBC reader verbatim
    (no driver jar in this container, so the reader is a mock — this pins
    the option plumbing, which is the only code on that path)."""
    from clinical_bi_spark.sources import jdbc_reader, read_ini_options

    ini = tmp_path / "aact.properties"
    ini.write_text(
        "[aact.database]\n"
        "url=jdbc:postgresql://aact-db.example.org:5432/aact\n"
        "user=aact_user\npassword=secret\nfetchsize=10000\n"
    )
    opts = read_ini_options(str(ini), "aact.database")

    class FakeReader:
        def __init__(self):
            self.fmt, self.opts = None, {}

        def format(self, fmt):
            self.fmt = fmt
            return self

        def options(self, **kw):
            self.opts.update(kw)
            return self

    class FakeSpark:
        read = FakeReader()

    reader = jdbc_reader(FakeSpark(), opts)
    assert reader.fmt == "jdbc"
    assert reader.opts["url"] == "jdbc:postgresql://aact-db.example.org:5432/aact"
    assert reader.opts["user"] == "aact_user"
    assert reader.opts["fetchsize"] == "10000"


def test_jdbc_options_contract(tmp_path, spark):
    """S1 live-path contract: the ini→JDBC translation must produce the
    exact reader options Spark's jdbc source expects (verifiable without a
    driver jar — the reference's psycopg2 conn-string analogue is
    ct_data.py:32-40)."""
    from clinical_bi_spark.sources import jdbc_options_from_ini, jdbc_reader

    ini = tmp_path / "db.properties"
    ini.write_text(
        "[aact.database]\n"
        "dbname=aact\nuser=readonly\npassword=secret\n"
        "host=db.example.internal\nport=30432\n"
    )
    opts = jdbc_options_from_ini(str(ini))
    assert opts["url"] == "jdbc:postgresql://db.example.internal:30432/aact"
    assert opts["driver"] == "org.postgresql.Driver"
    assert opts["user"] == "readonly" and opts["password"] == "secret"
    assert opts["fetchsize"] == "10000"
    # reader builds (format+options accepted); .load() needs the jar, so
    # the contract stops here in this container
    reader = jdbc_reader(spark, opts)
    assert reader is not None

    # defaulted port, missing credentials
    ini2 = tmp_path / "min.properties"
    ini2.write_text("[aact.database]\ndbname=d\nhost=h\n")
    opts2 = jdbc_options_from_ini(str(ini2))
    assert opts2["url"] == "jdbc:postgresql://h:5432/d"
    assert "user" not in opts2

    import pytest as _pytest

    ini3 = tmp_path / "bad.properties"
    ini3.write_text("[aact.database]\nuser=x\n")
    with _pytest.raises(ValueError, match="missing keys"):
        jdbc_options_from_ini(str(ini3))


def test_jdbc_roundtrip_live_embedded_derby(spark, tmp_path):
    """S1's JDBC path EXECUTED live: Spark bundles Derby (hive metastore
    dependency), so the reader/sink code paths run against a real JDBC
    database — write orders out, read them back, push a filter down, and
    do a partitioned parallel read (the 100 TB ingestion shape: one
    round-trip per partition stride). The reference ingests via
    pd.read_sql_query over psycopg2 (ct_data.py:69-97); this is the same
    contract through Spark's JDBC source against an embedded engine.

    Derby quirk, documented: the `query` option fails because Spark
    derives `(...) SPARK_GEN_SUBQ_n` without AS and Derby requires
    `AS` for derived-table aliases — use dbtable + pushed filters, which
    generate direct SELECTs."""
    from clinical_bi_spark.sources import jdbc_reader, load_tables

    from clinical_bi_spark.sinks import write_jdbc

    url = f"jdbc:derby:{tmp_path}/testdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    opts = {"url": url, "driver": driver, "fetchsize": "1000"}
    orders = load_tables(spark, SF_ORACLE).orders.limit(500)
    write_jdbc(orders, opts, "orders_t")
    back = jdbc_reader(spark, opts).option("dbtable", "orders_t").load()
    assert back.count() == 500
    assert set(back.columns) == set(orders.columns)
    # value fidelity through the JDBC type mapping
    a = {tuple(str(v) for v in r) for r in orders.collect()}
    b = {tuple(str(v) for v in r) for r in back.select(*orders.columns).collect()}
    assert a == b

    # filter + column pushdown reach the remote engine (JDBCRelation
    # prints PushedFilters in the explain output)
    import contextlib, io

    q = back.filter(F.col("o_totalprice") > 1000.0).select("o_orderkey")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "o_totalprice" in plan
    expected = orders.filter(F.col("o_totalprice") > 1000.0).count()
    assert q.count() == expected

    # partitioned parallel read: 4 stride queries, same rows
    part = (
        jdbc_reader(spark, opts)
        .option("dbtable", "orders_t")
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", "1")
        .option("upperBound", "100000")
        .option("numPartitions", "4")
        .load()
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 500


def test_readonly_view_layer_s13(spark):
    """S13 grants analogue: the read-only view layer must (a) read-match
    the base tables, (b) reject writes (views are not insertable — the
    property GRANT SELECT enforces), and (c) recreate idempotently."""
    from clinical_bi_spark.sinks import create_readonly_layer

    base = spark.range(5).selectExpr("id", "id * 2 AS v")
    names = create_readonly_layer(spark, {"probe": base}, "ctgov_read")
    assert names == ["ctgov_read_probe"]
    got = spark.sql("SELECT * FROM ctgov_read_probe ORDER BY id").collect()
    assert [tuple(r) for r in got] == [(i, 2 * i) for i in range(5)]
    # writes through the view must FAIL — the read-only guarantee
    # (Spark rejects the view as an insert target: UNSUPPORTED_INSERT)
    with pytest.raises(Exception) as exc:
        spark.sql("INSERT INTO ctgov_read_probe VALUES (99, 198)")
    assert "INSERT" in str(exc.value).upper()
    # ... and the data is untouched
    assert spark.sql("SELECT COUNT(*) FROM ctgov_read_probe").first()[0] == 5
    # idempotent re-creation (the S9 run-twice probe applied to views)
    create_readonly_layer(spark, {"probe": base}, "ctgov_read")
    assert spark.sql("SELECT COUNT(*) FROM ctgov_read_probe").first()[0] == 5
