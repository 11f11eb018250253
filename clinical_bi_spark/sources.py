"""Sources: loaders for the driver's parquet tables and generic readers.

Reference mapping (SURVEY.md §2.1):
  S1  pd.read_sql_query over psycopg2 (ct_data.py:69-97)  → spark.read.parquet
      for fixtures / spark.read.jdbc for a live AACT database.
  S2  ini-file driven connection config (ct_data.py:32-40) → options dict.
  S3  pg_restore bulk source (init-user-db.sh:27-28)        → parquet snapshot.

Parquet is columnar with min/max stats: scans get predicate pushdown and
column pruning for free, which the reference's row stores never had.
"""

from __future__ import annotations

import configparser
import os
import re
import stat
import weakref
from dataclasses import dataclass, field
from typing import ClassVar
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

#: The driver-generated tables at /root/testdata/sf*/ (TESTDATA.md).
TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Parquet schemas Spark inferred, per session:
#: ``{(path, schema confs): (file signature, schema)}``.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

#: Session confs that change the schema Spark infers from parquet footers.
_SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def _local_path(path: str) -> str | None:
    """The filesystem path behind ``path``, or None for a non-local URI or
    a Hadoop glob."""
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        return None
    local = parsed.path if parsed.scheme else path
    return None if re.search(r"[*?\[{]", local) else local


def _file_signature(local: str) -> tuple | None:
    """(relative name, size, mtime) of every file at ``local``; None when
    nothing is there."""
    try:
        st = os.stat(local)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns),)
    entries = []
    for root, _, files in os.walk(local):
        for name in files:
            full = os.path.join(root, name)
            try:
                fst = os.stat(full)
            except OSError:
                return None
            entries.append((os.path.relpath(full, local), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(entries))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job on
    repeat reads.

    Spark infers a parquet schema by reading footers in a one-task job on
    every read, even of a single file. The inferred schema is kept per
    session, path and schema-affecting conf, together with the name, size
    and mtime of every file under ``path``; while those are unchanged,
    later reads pass it to ``spark.read.schema`` and launch no job. A
    rewritten path has a new signature and is inferred again. Non-local
    URIs and globs always infer.
    """
    local = _local_path(path)
    signature = _file_signature(local) if local is not None else None
    if not signature:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(key)
    if hit is not None and hit[0] == signature:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[key] = (signature, df.schema)
    return df


@dataclass
class ParquetTables:
    """Lazy handle bundle over ``<base_path>/<name>.parquet`` tables.

    Each attribute in ``names`` is a lazily-built DataFrame (plan only —
    nothing is read until an action runs, so Catalyst prunes
    columns/filters into the scan), read once per bundle through
    :func:`read_parquet`.
    """

    spark: SparkSession
    base_path: str
    _cache: dict[str, DataFrame] = field(default_factory=dict)
    names: ClassVar[tuple[str, ...]] = ()

    def _prepare(self, name: str, df: DataFrame) -> DataFrame:
        return df

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_") or name not in self.names:
            raise AttributeError(name)
        if name not in self._cache:
            path = os.path.join(self.base_path, f"{name}.parquet")
            self._cache[name] = self._prepare(name, read_parquet(self.spark, path))
        return self._cache[name]


class Tables(ParquetTables):
    """The driver's tables for one scale-factor directory."""

    names = TABLE_NAMES

    def _prepare(self, name: str, df: DataFrame) -> DataFrame:
        return normalize_events(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    """Entry point used by every query: bundle of lazy DataFrames."""
    return Tables(spark=spark, base_path=sf_dir)


def normalize_events(df: DataFrame) -> DataFrame:
    """The events fixture stores ts as parquet TIMESTAMP(NANOS). Depending
    on the session's conf timing Spark surfaces that either as a
    nanosecond long (spark.sql.legacy.parquet.nanosAsLong, set in
    session.RUNTIME_CONF) or as TIMESTAMP_NTZ (micros-truncated, the
    reader's native nanos handling). Normalize BOTH to a proper
    TimestampType column: every consumer — including streaming
    withWatermark, which rejects TIMESTAMP_NTZ event time — sees one
    type, and the values match DuckDB's micros truncation. The NTZ→TZ
    cast is value-preserving because session.RUNTIME_CONF pins the
    session timezone to UTC."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # integer div keeps full precision (ns since epoch exceeds 2^53,
        # so float division would corrupt low-order digits)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_ini_options(path: str, section: str) -> dict[str, str]:
    """Parity for the reference's ini-driven connection config (S2).

    Reference: ct_data.py:32-40 builds a ``k=v`` connection string from the
    ``[aact.database]`` section of aact.properties. Here the same section
    becomes an options dict for ``spark.read.format("jdbc")``.
    """
    parser = configparser.ConfigParser()
    with open(path) as fh:
        parser.read_file(fh)
    return dict(parser.items(section))


def jdbc_options_from_ini(
    path: str, section: str = "aact.database"
) -> dict[str, str]:
    """Translate the reference's psycopg2-style ini section (S2 —
    ct_data.py:32-40 builds ``k=v`` pairs: dbname/user/password/host/port)
    into the options dict ``spark.read.format("jdbc")`` expects:
    a ``jdbc:postgresql://host:port/dbname`` url + user/password/driver.

    Pure translation — contract-tested without a driver jar
    (tests/test_sinks_sources.py), which is all this container can verify;
    a live cluster points the same dict at a real database.
    """
    ini = read_ini_options(path, section)
    missing = {"dbname", "host"} - set(ini)
    if missing:
        raise ValueError(f"ini section [{section}] missing keys: {sorted(missing)}")
    port = ini.get("port", "5432")
    opts = {
        "url": f"jdbc:postgresql://{ini['host']}:{port}/{ini['dbname']}",
        "driver": "org.postgresql.Driver",
        # pushdown-friendly defaults: one round-trip per partition, stats
        # from the remote planner
        "fetchsize": "10000",
    }
    for key in ("user", "password"):
        if key in ini:
            opts[key] = ini[key]
    return opts


def jdbc_reader(spark: SparkSession, options: dict[str, str]):
    """S1 live path: JDBC scan with pushdown.

    Usage: ``jdbc_reader(spark, opts).option("dbtable", t).load()`` (+
    ``partitionColumn``/``lowerBound``/``upperBound``/``numPartitions``
    for the parallel stride read). EXECUTED LIVE in this container
    against embedded Derby (bundled with Spark) —
    tests/test_sinks_sources.py::test_jdbc_roundtrip_live_embedded_derby
    drives write → read-back → filter/column pushdown → 4-way
    partitioned read. No PostgreSQL driver jar exists here, so the
    postgres URL produced by :func:`jdbc_options_from_ini` remains
    contract-tested only; the reader machinery itself is proven.
    """
    return spark.read.format("jdbc").options(**options)
