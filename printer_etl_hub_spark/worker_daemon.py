"""Spark's Python worker daemon, importing the installed pyspark.

Spark puts ``pyspark.zip``, py4j's zip and the spark-core jar (which holds
no Python module) first on its workers' path, and every task calls
``importlib.invalidate_caches()``: on Python 3.11 each zipimporter then
re-reads its archive's directory, ~27k entries a task. When the installed
pyspark is the zip's version, the daemon drops those archives, so pyspark
and py4j import from site-packages; otherwise the path stays as Spark built
it. ``session.get_spark`` names this module ``spark.python.daemon.module``.
"""

import importlib.metadata
import os
import re
import sys
import zipfile


def spark_archive(entry: str) -> bool:
    """Whether ``entry`` is one of the archives Spark puts on the path."""
    name = os.path.basename(entry)
    return name == "pyspark.zip" or name.endswith((".jar", "-src.zip"))


def zip_version(path: list[str]) -> str | None:
    """The ``__version__`` of the first ``pyspark.zip`` on ``path``."""
    for entry in path:
        if os.path.basename(entry) == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as z:
                    src = z.read("pyspark/version.py").decode()
            except (OSError, KeyError, zipfile.BadZipFile):
                return None
            m = re.search(r"__version__[^'\"]*['\"]([^'\"]+)", src)
            return m and m.group(1)
    return None


def worker_path(path: list[str], installed: str | None) -> list[str]:
    """``path`` without Spark's archives when ``installed`` is the version
    of its ``pyspark.zip``; else ``path`` itself."""
    if installed is None or zip_version(path) != installed:
        return path
    return [entry for entry in path if not spark_archive(entry)]


def installed_pyspark() -> str | None:
    try:
        return importlib.metadata.version("pyspark")
    except importlib.metadata.PackageNotFoundError:
        return None


if __name__ == "__main__":
    path = worker_path(sys.path, installed_pyspark())
    dropped = tuple(set(sys.path) - set(path))
    for key in [k for k in sys.path_importer_cache if k.startswith(dropped)]:
        del sys.path_importer_cache[key]
    sys.path[:] = path
    from pyspark import daemon

    daemon.manager()
