"""PySpark's Python-worker daemon, run from the installed PySpark.

Spark starts the daemon as ``python -m <spark.python.daemon.module>
pyspark.worker`` with ``$SPARK_HOME/python/lib/pyspark.zip`` and
``py4j-<version>-src.zip`` first on ``PYTHONPATH``.  That zip holds no
bytecode, so ``pyspark.daemon`` (which imports ``pyspark.worker`` before it
forks) compiles PySpark from source in every session where bytecode is not
written: a daemon took 0.9-1.3 s to start on 4 CPUs, against 0.35 s from the
installed, byte-compiled package, and the compiler's freed memory stays in
the daemon and in every worker forked from it (64 MB against 52 MB).

Spark also puts its core jar (``$SPARK_HOME/jars/spark-core_*.jar``, the
jar ``PythonUtils.sparkPythonPath`` finds its own class in) on that path:
5,359 entries and no Python file, whose directory each worker read on its
first task (39.6 ms and +3.1 MB per worker).

``sketchlib.spark.session.get_spark`` names this module instead.  It drops
the two zips and the core jar from ``sys.path`` (and their cached
importers) when the pyspark and py4j installed on the rest of it are the
versions the zips hold, then runs ``pyspark.daemon.manager()``;
``sys.argv[1]`` still names the worker module.  Were there pyspark modules
in the jar, they would be of the version just matched against the
installed package.  In any other case ``sys.path`` stays as it is and
PySpark imports as before.

This is a top-level module in a directory of its own: the daemon never
imports ``sketchlib``, and nothing beyond what ``pyspark.daemon`` imports,
since a worker's RSS counts every page it inherits from the daemon.
"""

import os
import sys
import zipimport
from importlib.machinery import PathFinder


def _version(source: bytes) -> str | None:
    """The string assigned to ``__version__`` in a ``version.py``."""
    for line in source.decode("utf-8", "replace").splitlines():
        if line.startswith("__version__"):
            return line.partition("=")[2].strip().strip("'\"")
    return None


def _installed_version(name: str, path: list[str]) -> str | None:
    """The version of package ``name`` as found on ``path``, read from its
    ``version.py`` without importing it."""
    spec = PathFinder.find_spec(name, path)
    if spec is None or not spec.origin:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            return _version(f.read())
    except OSError:
        return None


def _py4j_zip_version(entry: str) -> str | None:
    name = os.path.basename(entry)
    if name.startswith("py4j-") and name.endswith("-src.zip"):
        return name[len("py4j-"):-len("-src.zip")]
    return None


def _spark_core_jar(entry: str) -> bool:
    name = os.path.basename(entry)
    return name.startswith("spark-core_") and name.endswith(".jar")


def without_spark_zips(path: list[str]) -> list[str]:
    """``path`` without its ``pyspark.zip``, ``py4j-*-src.zip`` and
    ``spark-core_*.jar`` entries when the pyspark and py4j found on the rest
    of it have the versions those zips hold; otherwise ``path`` itself."""
    pyspark_zips = {p for p in path if os.path.basename(p) == "pyspark.zip"}
    py4j_versions = {v for v in map(_py4j_zip_version, path) if v is not None}
    if not pyspark_zips or not py4j_versions:
        return path
    rest = [p for p in path if p not in pyspark_zips and _py4j_zip_version(p) is None
            and not _spark_core_jar(p)]
    try:
        zip_versions = {_version(zipimport.zipimporter(p).get_data("pyspark/version.py"))
                        for p in pyspark_zips}
    except (OSError, zipimport.ZipImportError):
        return path
    installed = _installed_version("pyspark", rest)
    if (installed is not None and zip_versions == {installed}
            and py4j_versions == {_installed_version("py4j", rest)}):
        return rest
    return path


if __name__ == "__main__":
    kept = without_spark_zips(sys.path)
    # the dropped entries' importers stay cached otherwise, and every task's
    # importlib.invalidate_caches() would re-read their directories
    for entry in set(sys.path).difference(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept

    import pyspark.daemon

    pyspark.daemon.manager()
