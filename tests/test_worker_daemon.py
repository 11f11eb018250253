"""worker_daemon: Python workers of a get_spark session skip re-reading
Spark's own zip archives before every task, and still see every file the
task's setup is there to make importable."""

from __future__ import annotations

import re
import sys
import uuid
import zipfile

import pandas as pd

DAEMON_MODULE = "clinical_bi_spark.worker_daemon"
#: Spark's own archives on a worker's path: the zip importers to keep.
SPARK_ARCHIVE = re.compile(r"(pyspark\.zip|py4j-[^/]*\.zip|spark-core_[^/]*\.jar)$")
DAEMON_STATE = "daemon string, shim string, archives array<string>"


def _run_tasks(spark, fn, schema: str, partitions: int = 4) -> list:
    """Rows ``fn`` yields when run as a mapInPandas over ``partitions``
    one-row partitions."""
    df = spark.range(partitions).repartition(partitions)
    return df.mapInPandas(fn, schema).collect()


def _daemon_state(batches):
    from pyspark import worker_util

    for _ in batches:
        pass
    spec = getattr(sys.modules["__main__"], "__spec__", None)
    shim = worker_util.importlib
    yield pd.DataFrame(
        {
            "daemon": [spec.name if spec else ""],
            "shim": [type(shim).__name__],
            "archives": [sorted(getattr(shim, "static_archives", ()))],
        }
    )


def _invalidate_twice(batches):
    import importlib.util
    import zipimport
    from importlib.machinery import FileFinder

    from pyspark import worker_util

    for _ in batches:
        pass
    # a failed lookup gives every path entry a finder, zipimporters included
    assert importlib.util.find_spec(f"cbs_missing_{uuid.uuid4().hex}") is None

    def spark_zips():
        return {
            name: finder
            for name, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
            and SPARK_ARCHIVE.search(finder.archive)
        }

    before = {name: finder._files for name, finder in spark_zips().items()}
    worker_util.importlib.invalidate_caches()
    worker_util.importlib.invalidate_caches()
    after = spark_zips()
    dirs = [
        f for f in sys.path_importer_cache.values() if isinstance(f, FileFinder)
    ]
    yield pd.DataFrame(
        {
            "importers": [len(before)],
            "archives": [len({f.archive for f in after.values()})],
            "same_files": [
                after.keys() == before.keys()
                and all(after[n]._files is files for n, files in before.items())
            ],
            "dirs": [len(dirs)],
            "dirs_invalidated": [all(f._path_mtime == -1 for f in dirs)],
        }
    )


def test_session_reports_the_daemon_module(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON_MODULE
    assert conf.get("spark.executorEnv.PYTHONPATH")


def test_shim_is_active_inside_tasks(spark):
    rows = _run_tasks(spark, _daemon_state, DAEMON_STATE)
    assert len(rows) == 4
    for row in rows:
        assert row.daemon == DAEMON_MODULE
        assert row.shim == "StaticArchivesImportlib"
        assert len(row.archives) == 3, row
        assert all(SPARK_ARCHIVE.search(a) for a in row.archives), row


def test_spark_archives_are_not_reread(spark):
    rows = _run_tasks(
        spark,
        _invalidate_twice,
        "importers int, archives int, same_files boolean, "
        "dirs int, dirs_invalidated boolean",
    )
    assert len(rows) == 4
    for row in rows:
        assert row.importers > 0 and row.archives == 3, row
        assert row.same_files, row
        # directory finders (SparkFiles' .py files, site-packages) are
        # still invalidated
        assert row.dirs > 0 and row.dirs_invalidated, row


def test_py_files_added_after_the_pool_exists_are_importable(spark, tmp_path):
    _run_tasks(spark, _daemon_state, DAEMON_STATE)  # the pool exists
    tag = uuid.uuid4().hex
    py_name, zip_name = f"cbs_addpy_{tag}", f"cbs_addzip_{tag}"
    py_file = tmp_path / f"{py_name}.py"
    py_file.write_text("VALUE = 'from py'\n")
    zip_file = tmp_path / f"{zip_name}.zip"
    with zipfile.ZipFile(zip_file, "w") as zf:
        zf.writestr(f"{zip_name}/__init__.py", "VALUE = 'from zip'\n")
    sc = spark.sparkContext
    sc.addPyFile(str(py_file))
    sc.addPyFile(str(zip_file))

    def imports(batches):
        import importlib

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "py": [importlib.import_module(py_name).VALUE],
                "zip": [importlib.import_module(zip_name).VALUE],
            }
        )

    rows = _run_tasks(spark, imports, "py string, zip string")
    assert [(r.py, r.zip) for r in rows] == [("from py", "from zip")] * 4
