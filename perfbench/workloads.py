"""The benchmark's workloads: which outputs one pass produces, how each
is built and written, and the oracle each is checked against.

Every output is built by a public function of one layer (a registered
query's ``spec.fn`` or a ``clinical_bi_spark.domain`` job) and executed
by one sink call (the ``noop`` format for registry queries, a
``clinical_bi_spark.sinks`` writer for the AACT pipeline).
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass

import duckdb

#: Registry queries whose benched plans carry Python-eval operators
#: (MapInPandas / ArrowEvalPython).
PYTHON_UDF_QUERIES = (
    "multimodal_resize",
    "multimodal_image_patches",
    "multimodal_audio_resample",
    "multimodal_audio_features",
    "multimodal_video_mp4_samples",
    "text_winnow_fingerprint",
)

#: AACT studies in the seeded snapshot of ``aact_etl``.
AACT_STUDIES = 2_500

#: The fixed input tables of ``python_udf``.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

_AACT_BASE_TABLES = (
    "studies", "calculated_values", "conditions", "interventions", "sponsors",
    "eligibilities", "designs", "brief_summaries", "design_group_interventions",
)


@dataclass(frozen=True)
class Output:
    name: str
    layer: str  # "queries" or "domain": the layer whose function builds it
    build: Callable[[], object]  # -> DataFrame; a lookup after a pass-level build
    sink: str  # "noop", "parquet", "delimited" or "csv"
    oracle: str


def write(spark, df, sink: str, path: str) -> None:
    """Execute ``df`` through ``sink``: the noop format computes and
    serializes every column without touching the filesystem."""
    from clinical_bi_spark import sinks

    if sink == "noop":
        df.write.format("noop").mode("overwrite").save()
    elif sink == "parquet":
        sinks.write_parquet(df, path)
    elif sink == "delimited":
        sinks.write_delimited(df, path)
    elif sink == "csv":
        sinks.write_csv(df, path)
    else:
        raise ValueError(f"unknown sink {sink!r}")


def written_rows(sink: str, path: str) -> int:
    """Rows a sink left at ``path``, read back without Spark."""
    if sink == "parquet":
        return duckdb.sql(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
    files = sorted(glob.glob(f"{path}/part-*.csv"))
    lines = sum(sum(1 for _ in open(f)) for f in files)
    return lines - (len(files) if sink == "csv" else 0)  # csv: one header per file


def digest(paths: list[str]) -> str:
    """SHA-256 over the bytes of ``paths``, in order."""
    h = hashlib.sha256()
    for path in paths:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def part_files(path: str) -> list[str]:
    return [f for f in glob.glob(f"{path}/part-*") if os.path.isfile(f)]


class Workload:
    """A named list of outputs, rebuilt fresh for every pass."""

    name: str

    def prepare(self, work_dir: str, seed: int) -> str:
        """Generate inputs and open the oracle connection (not timed);
        returns a digest of the inputs."""
        raise NotImplementedError

    def outputs(self, spark) -> tuple[Callable[[], None] | None, list[Output]]:
        """(pass-level build, outputs) for one pass. The pass-level build,
        when there is one, runs first and builds every output's plan."""
        raise NotImplementedError

    def oracle(self) -> duckdb.DuckDBPyConnection:
        raise NotImplementedError


class PythonUdf(Workload):
    """Registry queries whose plans cross the Arrow/Python boundary. They
    read only the ``documents`` table; ``data/`` holds a fixed copy of the
    sf0.001 one (500 documents, TESTDATA.md), so the run reads nothing
    outside its checkout."""

    name = "python_udf"

    def __init__(self, sf_dir: str = DATA_DIR):
        self.sf_dir = sf_dir

    def prepare(self, work_dir: str, seed: int) -> str:
        path = f"{self.sf_dir}/documents.parquet"
        self._con = duckdb.connect()
        self._con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return digest([path])

    def outputs(self, spark) -> tuple[None, list[Output]]:
        from clinical_bi_spark.queries import load_all

        registry = load_all()
        return None, [
            Output(
                name,
                "queries",
                functools.partial(registry[name].fn, spark, self.sf_dir),
                "noop",
                registry[name].oracle,
            )
            for name in PYTHON_UDF_QUERIES
        ]

    def oracle(self):
        return self._con


class AactEtl(Workload):
    """The paper's pipeline on a seeded AACT snapshot: the init-time ETL
    (five derived tables to parquet), the dashboard extract (pipe-
    delimited) and the flagship feature table (CSV)."""

    name = "aact_etl"

    def __init__(self, n_studies: int = AACT_STUDIES):
        self.n_studies = n_studies

    def prepare(self, work_dir: str, seed: int) -> str:
        from clinical_bi_spark.domain.fixtures import generate
        from tests.test_domain import CCV_SQL, CV_ENRICHED_SQL

        self.base_path = generate(os.path.join(work_dir, "aact"), self.n_studies, seed)
        self._con = duckdb.connect()
        for table in _AACT_BASE_TABLES:
            self._con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{self.base_path}/{table}.parquet')"
            )
        self._con.execute(f"CREATE TABLE ccv AS {CCV_SQL}")
        self._con.execute(f"CREATE TABLE cv_enriched AS {CV_ENRICHED_SQL}")
        return digest([f"{self.base_path}/{table}.parquet" for table in _AACT_BASE_TABLES])

    def outputs(self, spark) -> tuple[Callable[[], None], list[Output]]:
        from clinical_bi_spark.domain import (
            AACTTables,
            dashboard_extract,
            feature_table,
            flagship_features,
            run_etl,
        )
        from tests.test_domain import DASHBOARD_SQL, FEATURES_SQL, IC_SQL, ICV_SQL

        frames: dict = {}

        def build_all() -> None:
            # run_etl replaces calculated_values and interventions in its
            # AACTTables and the feature query reads the enriched form; the
            # dashboard extract reads the raw snapshot, as in the reference.
            etl_tables = AACTTables(spark=spark, base_path=self.base_path)
            frames.update(run_etl(etl_tables))
            frames["feature_table"] = feature_table(flagship_features(etl_tables))
            frames["dashboard_extract"] = dashboard_extract(
                AACTTables(spark=spark, base_path=self.base_path)
            )

        oracles = {
            "conditions_calculated_values": ("parquet", "SELECT * FROM ccv"),
            "calculated_values": ("parquet", "SELECT * FROM cv_enriched"),
            "interventions": ("parquet", "SELECT *, lower(name) AS downcase_name FROM interventions"),
            "interventions_calculated_values": ("parquet", ICV_SQL),
            "interventions_conditions": ("parquet", IC_SQL),
            "dashboard_extract": ("delimited", DASHBOARD_SQL),
            "feature_table": ("csv", FEATURES_SQL),
        }
        return build_all, [
            Output(name, "domain", functools.partial(frames.__getitem__, name), sink, sql)
            for name, (sink, sql) in oracles.items()
        ]

    def oracle(self):
        return self._con


def make(name: str, aact_studies: int) -> Workload:
    if name == "python_udf":
        return PythonUdf()
    if name == "aact_etl":
        return AactEtl(aact_studies)
    raise ValueError(f"unknown workload {name!r}")
