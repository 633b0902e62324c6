"""Python workers import the installed pyspark, not Spark's archives
(printer_etl_hub_spark/worker_daemon.py)."""

from __future__ import annotations

import zipfile

from printer_etl_hub_spark.worker_daemon import spark_archive, worker_path


def _pyspark_zip(tmp_path, version: str) -> str:
    path = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(path)


def test_worker_path_drops_spark_archives_only_at_the_installed_version(tmp_path):
    """No Spark: at the zip's version the archives leave the path and the
    rest keeps its order; another version, no installed pyspark, or no
    readable version leaves the path as it was."""
    path = [
        "/work",
        _pyspark_zip(tmp_path, "4.1.2"),
        "/spark/python/lib/py4j-0.10.9.9-src.zip",
        "/spark/jars/spark-core_2.13-4.1.2.jar",
        "/repo",
        "/py/lib/python311.zip",
        "/py/lib/python3.11/site-packages",
    ]
    assert worker_path(path, "4.1.2") == [
        "/work", "/repo", "/py/lib/python311.zip", "/py/lib/python3.11/site-packages",
    ]
    for installed in ("4.1.1", "4.1.2.dev0", None):
        assert worker_path(path, installed) is path, installed

    no_version = tmp_path / "other"
    no_version.mkdir()
    with zipfile.ZipFile(no_version / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
    bare = [str(no_version / "pyspark.zip"), "/spark/jars/spark-core.jar"]
    assert worker_path(bare, "4.1.2") is bare
    assert worker_path(["/repo"], "4.1.2") == ["/repo"]


def test_python_worker_imports_installed_pyspark(spark):
    """A mapInPandas task imports pyspark and py4j from outside any
    archive, at the driver's pyspark version, and holds no zipimporter
    over Spark's archives for ``invalidate_caches()`` to re-read."""
    import pyspark

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import py4j
        import pyspark

        for _ in batches:
            pass
        archives = sorted({
            v.archive for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        })
        yield pd.DataFrame({
            "pyspark": [pyspark.__file__], "version": [pyspark.__version__],
            "py4j": [py4j.__file__], "archives": ["|".join(archives)],
        })

    schema = "pyspark string, version string, py4j string, archives string"
    (row,) = spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()
    for module in (row.pyspark, row.py4j):
        assert ".zip" not in module and ".jar" not in module, module
    assert row.version == pyspark.__version__
    archives = [a for a in row.archives.split("|") if a]
    assert not [a for a in archives if spark_archive(a)], archives
