"""Python-worker glibc malloc tunables (sketchlib.spark.session docstring):
the Arrow kernels allocate MB-scale numpy temporaries per batch; without
MALLOC_MMAP_MAX_=0 glibc serves them with mmap and munmaps on free, so
every batch re-faults freshly zeroed pages — measured 2.1x on the decontam
probe stage, and the page-allocator contention behind the 8->32-core
scaling ceiling of allocation-heavy kernels.  These tests pin that the
session factories set the tunables and that they actually REACH the
worker processes (env must be present at worker start for glibc to read
it; fork from the daemon preserves it)."""

import pytest

pytestmark = pytest.mark.spark


def test_malloc_tunables_reach_python_workers(spark):
    import pyarrow as pa

    def probe(batches):
        import os

        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([os.environ.get("MALLOC_MMAP_MAX_", "MISSING")]),
                 pa.array([os.environ.get("MALLOC_TRIM_THRESHOLD_",
                                          "MISSING")])],
                names=["mmap", "trim"])

    rows = spark.range(4).repartition(2).mapInArrow(
        probe, "mmap string, trim string").collect()
    assert rows and all(r["mmap"] == "0" and r["trim"] == "-1" for r in rows)


def test_session_factories_set_malloc_tunables():
    """Both factories (local-mode get_spark and the spark-submit
    job_session) must carry the worker tunables in their builder configs —
    checked without launching a second JVM (getOrCreate would just hand
    back the test session and mask a regression)."""
    import inspect

    from sketchlib.spark import session

    for fn in (session.get_spark, session.job_session):
        src = inspect.getsource(fn)
        assert "spark.executorEnv.MALLOC_MMAP_MAX_" in src, fn.__name__
        assert "spark.executorEnv.MALLOC_TRIM_THRESHOLD_" in src, fn.__name__


def test_workers_reuse_unchanged_zip_directories(spark):
    """sketchlib.spark.zipcache: once sketchlib is imported in a Python
    worker, the per-task ``importlib.invalidate_caches()`` re-reads no
    unchanged archive (pyspark.zip, the Spark jar, py4j, the shipped
    sketchlib zip); the driver keeps the stock method."""
    import sys
    import zipimport

    import pyarrow as pa

    from sketchlib.spark import tdigest_aggregate

    df = spark.range(1000).selectExpr("id % 3 AS k", "CAST(id AS DOUBLE) AS v")
    assert tdigest_aggregate(df, ["k"], "v").count() == 3

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import sketchlib.spark.zipcache as zc  # what unpickling a sketchlib UDF does

        reads = []
        stock_read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return stock_read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()  # reads only archives not seen yet
            first = list(reads)
            del reads[:]
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        n_zip = sum(isinstance(v, zipimport.zipimporter)
                    for v in sys.path_importer_cache.values())
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([zipimport.zipimporter.invalidate_caches
                           is zc._invalidate_if_changed]),
                 pa.array([n_zip]),
                 pa.array([len(first) == len(set(first))]),
                 pa.array([len(reads)])],
                names=["installed", "importers", "first_once", "reads"])

    rows = spark.range(4).repartition(2).mapInArrow(
        probe, "installed boolean, importers long, first_once boolean, "
               "reads long").collect()
    assert rows
    if sys.version_info < (3, 13):
        assert all(r["installed"] for r in rows)
    assert all(r["importers"] > 0 for r in rows)
    assert all(r["first_once"] and r["reads"] == 0 for r in rows)

    assert "pyspark.worker" not in sys.modules
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
