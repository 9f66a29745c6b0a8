"""SparkSession factory with the configs this library assumes.

Scale notes (designed for a 1000-executor cluster over ~100 TB; tested on
local[N]):

- AQE on: runtime coalescing of the post-aggregation shuffles (sketch rows
  are tiny — one ≤40 KB row per partition×key — so AQE collapses them).
- Arrow on, batches bounded by rows and by bytes: every sketch ingest path
  is a vectorized Arrow (or pandas) UDF.  A batch holds at most 65536 rows
  (``arrow.maxRecordsPerBatch``) and 1 MiB (``arrow.maxBytesPerBatch``),
  so the byte cap, not the row cap, ends the batch once rows are wider
  than 16 bytes: nearly every ingest with a string key, and every batch of
  html pages.  A worker's heap grows to its largest batch and keeps it
  (``MALLOC_TRIM_THRESHOLD_=-1``, below): on ``ingest_extract_digest``
  (the fused html -> length -> t-digest ingest) it read 30.1 MB at a
  4 MiB cap against 19.1-21.1 MB at 1 MiB.  Pass time was checked on two
  workloads only, two passes each on 4 CPUs: ``ingest_extract_digest``
  671/673 ms at 4 MiB, 719/678 ms at 1 MiB, 689/684 ms at 256 KiB;
  ``host_rollup`` (the ~3k-key t-digest + HLL rollup) 1166/1135,
  1236/1156 and 1221/1157 ms.  Neither moved beyond its noise.
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
  since batch sizes are bounded (above).
- Python-worker zip-directory reuse (sketchlib.spark.zipcache), the same
  kind of per-process worker fix: PySpark's per-task
  ``importlib.invalidate_caches()`` makes every zipimporter re-read its
  archive's central directory on CPython 3.10-3.12 (3.13 re-reads lazily).
  A warm worker held 16-20 of them, over pyspark.zip, the Spark core jar,
  py4j and the shipped sketchlib zip (before the daemon below dropped the
  first three), so each task paid 156-238 ms before touching data.
  Importing sketchlib in a worker wraps the method: an archive whose
  (mtime_ns, size, inode) is unchanged since the wrapper last read it
  keeps its parsed directory; a changed, replaced or missing one is
  re-read as before.  Nothing to configure, and the driver is untouched.
- Python-worker daemon from the installed PySpark: every worker is forked
  from a daemon, and Spark's stock daemon imports ``pyspark.daemon`` and
  ``pyspark.worker`` from ``$SPARK_HOME/python/lib/pyspark.zip``, which
  holds no bytecode.  Where bytecode is not written
  (``PYTHONDONTWRITEBYTECODE``), every session compiled PySpark from source
  before its first task (a daemon start of 0.9-1.3 s against 0.35 s on
  4 CPUs), and the daemon and every worker kept the compiler's freed memory
  (a daemon of 64 against 52 MB).
  ``get_spark`` sets ``spark.python.daemon.module`` to ``sketchlib_daemon``
  (``worker_daemon/sketchlib_daemon.py``, a top-level module that imports
  no sketchlib, nor numpy, pyarrow or pandas) and puts its directory first
  in ``spark.executorEnv.PYTHONPATH``, ahead of a caller's value there.  It
  drops the ``pyspark.zip`` and ``py4j-*-src.zip`` entries and the Spark
  core jar (no Python file in it, but a directory of 5,359 entries that
  each worker read: 39.6 ms and +3.1 MB) from ``sys.path`` only when the
  pyspark and py4j installed on the rest of it are the versions the zips
  hold (read from their ``version.py`` and the py4j zip's name, importing
  neither), then runs
  ``pyspark.daemon.manager()``; otherwise PySpark imports exactly as
  before.  ``extra={"spark.python.daemon.module": "pyspark.daemon"}``
  restores the stock daemon.  ``job_session`` leaves the daemon alone: a
  cluster's executor Python environment is not ours to assume.
- No DataFrame call-site capture in the driver: with PySpark's default
  (``spark.python.sql.dataFrameDebugging.enabled=true``) every wrapped
  ``Column``/``functions`` call walks the Python stack for its error
  context, imports IPython where it is installed (0.35-0.48 s alone),
  retries a failing ``import ipykernel`` on each call, and makes about
  four py4j round trips.  On 4 CPUs a session building 50 columns peaked
  at 137.5 MB of driver RSS with it and 111.7 MB without, and the 50 calls
  took 1.08-1.27 s against 0.88-0.92 s.  ``get_spark`` sets it to
  ``false``, so an analysis error names no Python call site;
  ``extra={"spark.python.sql.dataFrameDebugging.enabled": "true"}`` turns
  it back on (PySpark reads it once per process, at the first wrapped call
  with an active session).
- Driver JVM class-data sharing (AppCDS): ``get_spark`` starts the driver
  JVM from a JDK 17 dynamic CDS archive, which cut the cold set-up (JVM
  launch plus the first pandas-UDF action) from ~5.4 to ~3.1 s on 4 CPUs.
  The archive is ``${XDG_CACHE_HOME:-~/.cache}/sketchlib/cds/<key>.jsa``,
  keyed by the JDK, the (name, size, mtime) of every jar in
  ``$SPARK_HOME/jars`` and the driver memory; only the current key's files
  are kept.  The first session without one records it at JVM exit
  (``-XX:ArchiveClassesAtExit``, one process at a time under a lock file)
  with the classes that session loaded, so a session that ran no query
  records a smaller archive that saves less.  That run costs ~1.5 s more
  set-up, 7-11 s more JVM exit and 100-170 MB of disk.  The next
  ``get_spark`` checks the dump once with ``java -Xshare:on ... -version``
  (checksums on, the dumping JVM's own class path and flags) and renames
  it into place only if that exits 0, since a truncated archive crashes
  the JVM even under ``-Xshare:auto``.  The dump refuses a non-empty
  directory on the class path, so CDS is used only when the conf dir
  (``SPARK_CONF_DIR`` or ``$SPARK_HOME/conf``) holds nothing but
  ``*.template`` files, which Spark never reads; the launch then points
  ``SPARK_CONF_DIR`` at an empty cache directory.  Anything else (a real
  conf file, Hadoop/YARN conf dirs, an extra driver class path, a running
  JVM, an unwritable cache, no ``java`` or ``SPARK_HOME``) launches exactly
  as before.  The flags go in ``spark.driver.defaultJavaOptions``, ahead of
  a caller's own value there.  spark-submit jobs (``job_session``) can
  reuse a built archive with ``--driver-java-options
  "-XX:SharedArchiveFile=<the .jsa> -Xshare:auto"`` and ``SPARK_CONF_DIR``
  set to the same empty ``cds/conf`` directory, so that their class path
  is the recorded one; with any other class path the JVM ignores it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

#: ``spark.sql.execution.arrow.maxBytesPerBatch`` of both factories
ARROW_BATCH_BYTES = 1 << 20

#: the Python-worker daemon ``get_spark`` names (see the module docstring),
#: a top-level module in a directory of its own
DAEMON_MODULE = "sketchlib_daemon"
DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker_daemon")

# JVM flags of our own that the archive check must not inherit from the
# recorded input arguments
_CDS_FLAGS = ("-XX:ArchiveClassesAtExit=", "-XX:SharedArchiveFile=", "-Xshare:",
              "-Xlog:cds", "-XX:+VerifySharedSpaces")
# CDS warnings would land on the driver's stdout
_QUIET = "-Xlog:cds*=off"


def _cds_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "sketchlib", "cds")


def _java() -> str | None:
    """The java the Spark launcher runs: ``$JAVA_HOME/bin/java`` or PATH's."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return java if java and os.path.isfile(java) else None


def _archive_key(java: str, spark_home: str, driver_memory: str) -> str:
    """Key of the CDS archive: the JDK (its real path and the size and
    mtime of its launcher, class image and libjvm), every Spark jar's
    (name, size, mtime) and the driver memory (the heap size decides
    compressed oops, which an archive is tied to)."""
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    parts = [jdk, driver_memory]
    for f in (os.path.realpath(java), os.path.join(jdk, "lib", "modules"),
              os.path.join(jdk, "lib", "server", "libjvm.so")):
        if os.path.exists(f):
            st = os.stat(f)
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _templates_only(conf_dir: str) -> bool:
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(n.endswith(".template") for n in names)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _claim(lock: str) -> bool:
    """Take the dump lock (O_EXCL); a lock whose owner is gone is taken over."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                with open(lock) as f:
                    owner = int(f.read().strip() or 0)
            except (OSError, ValueError):
                owner = 0
            if owner and _alive(owner):
                return False
            _remove(lock)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _remove(*paths: str) -> None:
    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass


def _adopt(java: str, dump: str, meta: str, cwd: str) -> bool:
    """Whether a JVM started like the dumping one maps ``dump`` and checks
    its checksums: a ~0.1 s ``java -version`` with ``-Xshare:on``.  A
    truncated archive crashes that JVM, so its error file goes nowhere."""
    try:
        with open(meta) as f:
            m = json.load(f)
        args = [a for a in m["args"] if not a.startswith(_CDS_FLAGS)]
        cmd = [java, *args, "-Xshare:on", f"-XX:SharedArchiveFile={dump}",
               "-XX:+VerifySharedSpaces", _QUIET, f"-XX:ErrorFile={os.devnull}",
               "-XX:-CreateCoredumpOnCrash", "-cp", m["cp"], "-version"]
        return subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                              cwd=cwd, timeout=60).returncode == 0
    except (OSError, ValueError, KeyError, TypeError, subprocess.SubprocessError):
        return False


@dataclass
class _CdsLaunch:
    """The JVM flags and conf dir of one CDS launch; ``lock`` and ``meta``
    are set when this launch records the archive."""

    opts: str
    conf_dir: str
    lock: str | None = None
    meta: str | None = None

    def launched(self) -> None:
        """After the launch: hand the dump lock to the JVM (which writes
        the archive when it exits) and store its class path and input
        arguments for the check; with no JVM, drop the lock."""
        if self.lock is None:
            return
        gw = SparkContext._gateway
        if gw is None:
            _remove(self.lock)
            return
        with open(self.lock, "w") as f:
            f.write(str(gw.proc.pid))
        try:
            jvm = gw.jvm
            meta = {"cp": jvm.System.getProperty("java.class.path"),
                    "args": list(jvm.java.lang.management.ManagementFactory
                                 .getRuntimeMXBean().getInputArguments())}
            with open(self.meta, "w") as f:
                json.dump(meta, f)
        except (Py4JError, OSError):  # with no record the dump is never adopted
            _remove(self.meta)


def _cds_launch(conf: dict) -> _CdsLaunch | None:
    """The CDS launch for a new driver JVM with ``conf``, or None to launch
    as before (see the module docstring)."""
    if (SparkContext._gateway is not None or SparkContext._active_spark_context is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ
            or "spark.driver.extraClassPath" in conf
            or any(os.environ.get(v) for v in
                   ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"))):
        return None
    java, spark_home = _java(), os.environ.get("SPARK_HOME")
    if java is None or not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        return None
    if not _templates_only(os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")):
        return None
    cache = _cds_dir()
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(cache, os.W_OK | os.X_OK):
            return None
        key = _archive_key(java, spark_home, conf["spark.driver.memory"])
        for name in os.listdir(cache):
            if name != "conf" and not name.startswith(key + "."):
                _remove(os.path.join(cache, name))
        final, dump, meta, lock = (os.path.join(cache, key + ext)
                                   for ext in (".jsa", ".dump", ".json", ".lock"))
        if not os.path.exists(final):
            if not _claim(lock):
                return None
            if os.path.exists(dump) and _adopt(java, dump, meta, cache):
                os.replace(dump, final)
            else:
                _remove(dump, meta)
                return _CdsLaunch(f"-XX:ArchiveClassesAtExit={dump} -XX:+VerifySharedSpaces {_QUIET}",
                                  empty_conf, lock, meta)
            _remove(lock, meta)
    except OSError:
        return None
    return _CdsLaunch(f"-XX:SharedArchiveFile={final} -Xshare:auto {_QUIET}", empty_conf)


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
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
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
        .config("spark.python.daemon.module", DAEMON_MODULE)
        # no per-call call-site capture in the driver (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    b = b.config("spark.executorEnv.PYTHONPATH",
                 os.pathsep.join(filter(None, [DAEMON_DIR, b._options.get("spark.executorEnv.PYTHONPATH")])))
    cds = _cds_launch(b._options)
    if cds is None:
        return b.getOrCreate()
    b = b.config("spark.driver.defaultJavaOptions",
                 " ".join(filter(None, [cds.opts, b._options.get("spark.driver.defaultJavaOptions")])))
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        return b.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
        cds.launched()


def job_session(app: str) -> SparkSession:
    """SparkSession for spark-submit jobs: master / memory / cluster
    configs come from the submit command; this only applies the library's
    Arrow batch byte cap and the python-worker glibc tunables (see module
    docstring) so the Arrow kernels don't pay mmap/munmap churn per batch
    on any deployment."""
    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
        .config("spark.executorEnv.MALLOC_MMAP_MAX_", "0")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .getOrCreate()
    )
