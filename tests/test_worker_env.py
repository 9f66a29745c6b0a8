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
        # and the Arrow batch byte cap that bounds a worker's wide batches
        assert "spark.sql.execution.arrow.maxBytesPerBatch" in src, fn.__name__


def test_workers_reuse_unchanged_zip_directories(spark):
    """sketchlib.spark.zipcache: once sketchlib is imported in a Python
    worker, the per-task ``importlib.invalidate_caches()`` re-reads no
    unchanged archive (pyspark.zip, the Spark jar, py4j, the shipped
    sketchlib zip); the driver keeps the stock method."""
    import sys
    import zipimport

    import pyarrow as pa

    from sketchlib.spark.tdigest_ops import tdigest_aggregate

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


_WORKER_SCRIPT = r"""
import json
import sys
sys.path.insert(0, sys.argv[1])
import numpy as np
import pyarrow as pa

from sketchlib.data.extract import extract_len_series
from sketchlib.data.gen_pages import gen_chunk
from sketchlib.spark.session import get_spark
from sketchlib.spark.sketch_ops import sketch_aggregate, sketch_merge
from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_merge, tdigest_partials

spark = get_spark("worker-env", cpus=2, shuffle_partitions=4)
df = spark.range(20000, numPartitions=4).selectExpr(
    "CAST(id % 5 AS STRING) AS k", "CAST(id % 97 AS DOUBLE) AS v", "id % 1009 AS u")
td = tdigest_aggregate(df, ["k"], "v")
hll = sketch_aggregate(df, ["k"], "u", "hll", {"p": 10})
assert td.count() == 5 and hll.count() == 5
assert tdigest_merge(td, [], delta=0.01).count() == 1
assert sketch_merge(hll, [], "hll", {"p": 10}).count() == 1
# the fused html -> extracted length -> digest pass, on every partition
pdf = gen_chunk(0, 400)[["lang", "html"]]
fused = tdigest_partials(spark.createDataFrame(pdf).repartition(8), ["lang"], None,
                         value_fn=lambda b: extract_len_series(b["html"]), input_cols=["html"])
assert tdigest_merge(fused, ["lang"]).count() == pdf["lang"].nunique()


def probe(batches):
    import os
    import sys
    import zipimport

    # read before building any output: most ways to build a batch from
    # Python values import pandas themselves
    pandas = "pandas" in sys.modules
    kernel = "sketchlib.spark.sketch_ops" in sys.modules
    import pyspark

    import sketchlib.spark.zipcache as zc

    with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
        daemon = f.read().decode().split("\0")[:-1]
    info = json.dumps({
        "pid": os.getpid(), "pandas": pandas, "kernel": kernel, "pyspark": pyspark.__file__,
        "daemon": daemon,
        "zipcache": zipimport.zipimporter.invalidate_caches is zc._invalidate_if_changed,
    }).encode()
    for _ in batches:
        pass
    offsets = np.array([0, len(info)], dtype=np.int32)
    yield pa.RecordBatch.from_arrays(
        [pa.Array.from_buffers(pa.binary(), 1, [None, pa.py_buffer(offsets), pa.py_buffer(info)])],
        names=["info"])


for r in spark.range(16, numPartitions=8).mapInArrow(probe, "info binary").collect():
    print("probe", bytes(r["info"]).decode())
spark.stop()
"""


@pytest.fixture(scope="module")
def worker_probes(tmp_path_factory):
    """One fresh ``get_spark`` session (in a subprocess) whose workers ran
    t-digest, HLL and fused extract-length kernel tasks, then a probe task
    on each pooled worker; the probes' reports.  An empty ``spark-defaults.conf`` keeps the driver
    CDS archive out of it, and the workers run this interpreter."""
    import json
    import os
    import subprocess
    import sys

    tmp = tmp_path_factory.mktemp("workers")
    (tmp / "conf").mkdir()
    (tmp / "conf" / "spark-defaults.conf").write_text("")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_LOCAL_DIRS": str(tmp), "SPARK_CONF_DIR": str(tmp / "conf"),
           "SKETCHLIB_DRIVER_MEM": "1g", "PYSPARK_PYTHON": sys.executable}
    out = subprocess.run([sys.executable, "-c", _WORKER_SCRIPT, repo],
                         capture_output=True, text=True, timeout=600, env=env,
                         cwd=str(tmp))
    assert out.returncode == 0, out.stderr[-3000:]
    probes = [json.loads(line[len("probe "):]) for line in out.stdout.splitlines()
              if line.startswith("probe ")]
    assert len(probes) == 8, out.stdout
    return probes


def test_kernel_workers_never_import_pandas(worker_probes):
    """The kernel's two stages are Arrow-only (sketch_ops module
    docstring): in a fresh session whose workers ran only t-digest and HLL
    kernel tasks and the fused html -> ``extract_len_series`` -> t-digest
    pass (a ``value_fn`` gets the Arrow batch), no Python worker has
    imported pandas.  Each probe reports ``"pandas" in sys.modules`` and
    whether its worker ever loaded the kernel."""
    assert not [p["pid"] for p in worker_probes if p["pandas"]], worker_probes
    assert any(p["kernel"] for p in worker_probes), worker_probes


def test_workers_fork_from_the_sketchlib_daemon(worker_probes):
    """get_spark's workers are forked from ``python -m sketchlib_daemon
    pyspark.worker``, and importing sketchlib there still wraps the
    zipimporter (sketchlib.spark.zipcache)."""
    import sys

    from sketchlib.spark.session import DAEMON_MODULE

    for p in worker_probes:
        assert p["daemon"][-3:] == ["-m", DAEMON_MODULE, "pyspark.worker"], p
        if sys.version_info < (3, 13):
            assert p["zipcache"], p


def _daemon_module():
    """The daemon module, loaded from its file (not run: it is not
    ``__main__``)."""
    import importlib.util
    import os

    from sketchlib.spark.session import DAEMON_DIR, DAEMON_MODULE

    spec = importlib.util.spec_from_file_location(
        DAEMON_MODULE, os.path.join(DAEMON_DIR, DAEMON_MODULE + ".py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_workers_import_the_installed_pyspark(worker_probes):
    """Where this interpreter's installed pyspark and py4j are the versions
    of Spark's zips, the workers' pyspark is the installed, byte-compiled
    one, not the source-only pyspark.zip."""
    import os
    import sys

    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    zips = [os.path.join(lib, n) for n in sorted(os.listdir(lib))
            if n == "pyspark.zip" or n.endswith("-src.zip")] if os.path.isdir(lib) else []
    path = zips + [p for p in sys.path if p not in zips]
    if not zips or _daemon_module().without_spark_zips(path) == path:
        pytest.skip("the installed pyspark and py4j are not the versions of Spark's zips")
    for p in worker_probes:
        assert "pyspark.zip" not in p["pyspark"], p


@pytest.mark.parametrize("case", ["match", "other_zip_version", "other_py4j", "not_installed"])
def test_daemon_drops_spark_zips_only_for_matching_installs(tmp_path, case):
    """The daemon's path rule: pyspark.zip and py4j-*-src.zip leave
    ``sys.path`` only when the pyspark and py4j found on the rest of it are
    the versions the zips hold; in every other case the path is unchanged."""
    import zipfile

    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip, py4j_zip = str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip")
    zip_version = "9.9.0" if case == "other_zip_version" else "4.1.2"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    site = tmp_path / "site"
    site.mkdir()
    if case != "not_installed":
        py4j_version = "0.10.9.8" if case == "other_py4j" else "0.10.9.9"
        for pkg, version in (("pyspark", "4.1.2"), ("py4j", py4j_version)):
            (site / pkg).mkdir()
            (site / pkg / "__init__.py").write_text("")
            (site / pkg / "version.py").write_text(f"__version__ = '{version}'\n")
    path = [str(tmp_path / "cwd"), pyspark_zip, py4j_zip, str(tmp_path / "core.jar"), str(site)]
    kept = _daemon_module().without_spark_zips(list(path))
    if case == "match":
        assert kept == [path[0], path[3], path[4]]
    else:
        assert kept == path
