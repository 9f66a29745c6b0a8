"""SparkSession factory with the configs this library assumes.

Scale notes (designed for a 1000-executor cluster over ~100 TB; tested on
local[N]):

- AQE on: runtime coalescing of the post-aggregation shuffles (sketch rows
  are tiny — one ≤40 KB row per partition×key — so AQE collapses them).
- Arrow on, large batches: every sketch ingest path is a vectorized
  pandas/Arrow UDF; bigger batches amortize the JVM↔Python hop.
- shuffle.partitions is a default for local runs; at cluster scale set it
  to ~2-3× total cores or rely on AQE.
- Python-worker glibc malloc tuning (MALLOC_MMAP_MAX_=0,
  MALLOC_TRIM_THRESHOLD_=-1 via spark.executorEnv): the Arrow kernels
  allocate MB-scale numpy temporaries per batch; glibc serves those with
  mmap and munmaps them on free, so EVERY batch re-faults freshly zeroed
  pages (and, with many workers on one kernel, contends on the page
  allocator — the measured 8→32-core scaling ceiling of the
  allocation-heavy kernels).  Keeping freed blocks on the heap free-list
  instead measured 2.1x on the decontam probe stage standalone.  Worker
  heaps then hold their per-batch peak instead of returning it — bounded,
  since batch sizes are (maxRecordsPerBatch-)bounded.
- Python-worker zip-directory reuse (sketchlib.spark.zipcache), the same
  kind of per-process worker fix: PySpark's per-task
  ``importlib.invalidate_caches()`` makes every zipimporter re-read its
  archive's central directory on CPython 3.10-3.12 (3.13 re-reads lazily).
  A warm worker holds 16-20 of them, over pyspark.zip, the Spark core jar,
  py4j and the shipped sketchlib zip, so each task paid 156-238 ms before
  touching data.  Importing sketchlib in a worker wraps the method: an
  archive whose (mtime_ns, size, inode) is unchanged since the wrapper last
  read it keeps its parsed directory; a changed, replaced or missing one is
  re-read as before.  Nothing to configure, and the driver is untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "sketchlib",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SKETCHLIB_DRIVER_MEM", "8g"))
        # file-split sizing: the 128m Spark default is kept.  A 16m default
        # was measured ACROSS the 50-query catalog at sf0.1 and regressed
        # the round-1 subtotal 28.9 -> 37.6 s (4-8x more scan tasks means
        # python-worker churn on every mapInPandas stage) even though it
        # helped one cold single-table scan; the env knob remains for
        # experiments on bigger local inputs.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SKETCHLIB_MAX_PARTITION_BYTES", "128m"))
        # glibc tunables for the python workers (see module docstring);
        # read by glibc at worker-daemon start, inherited through fork
        .config("spark.executorEnv.MALLOC_MMAP_MAX_", "0")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def job_session(app: str) -> SparkSession:
    """SparkSession for spark-submit jobs: master / memory / cluster
    configs come from the submit command; this only applies the library's
    python-worker glibc tunables (see module docstring) so the Arrow
    kernels don't pay mmap/munmap churn per batch on any deployment."""
    return (
        SparkSession.builder.appName(app)
        .config("spark.executorEnv.MALLOC_MMAP_MAX_", "0")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .getOrCreate()
    )
