"""get_spark's driver class-data-sharing (CDS) archive: its key, when it is
used, recorded, checked and skipped.  Every test runs against its own
``XDG_CACHE_HOME``; all but the last replace the JVM launch
(``Builder.getOrCreate``) by a recorder of the launch's options and conf dir."""

import json
import os
import shutil
import subprocess
import sys
import time

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from sketchlib.spark import session as S

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAVA = shutil.which("java")
needs_java = pytest.mark.skipif(JAVA is None, reason="no java on PATH")


def _touch(path, data=b"x"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


@pytest.fixture
def env(tmp_path, monkeypatch):
    """A fresh cache, a fake SPARK_HOME (two jars, a templates-only conf
    dir), no JVM, and a launch that records instead of starting one."""
    home = tmp_path / "spark"
    for name in ("a.jar", "b.jar"):
        _touch(str(home / "jars" / name))
    _touch(str(home / "conf" / "spark-defaults.conf.template"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("JAVA_HOME", raising=False)
    for v in ("PYSPARK_GATEWAY_PORT", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    launches = []

    def record(builder):
        launches.append((dict(builder._options), os.environ.get("SPARK_CONF_DIR")))
        return "session"

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", record)
    monkeypatch.chdir(tmp_path)
    return {"home": home, "cds": tmp_path / "xdg" / "sketchlib" / "cds", "launches": launches,
            "tmp": tmp_path}


def _launch(env, **kw):
    assert S.get_spark("t", cpus=2, **kw) == "session"
    return env["launches"][-1]


def _key(env, mem="8g"):
    return S._archive_key(S._java(), str(env["home"]), mem)


def test_archive_key_follows_jars_jdk_and_memory(tmp_path, monkeypatch):
    jdk = tmp_path / "jdk"
    _touch(str(jdk / "bin" / "java"))
    _touch(str(jdk / "lib" / "server" / "libjvm.so"))
    home = tmp_path / "spark"
    jar = home / "jars" / "a.jar"
    _touch(str(jar))
    java, sh = str(jdk / "bin" / "java"), str(home)
    base = S._archive_key(java, sh, "8g")
    assert S._archive_key(java, sh, "8g") == base
    assert S._archive_key(java, sh, "4g") != base
    os.utime(jar, ns=(1, 1))
    k_mtime = S._archive_key(java, sh, "8g")
    assert k_mtime != base
    _touch(str(jar), b"xy")
    os.utime(jar, ns=(1, 1))
    k_size = S._archive_key(java, sh, "8g")
    assert k_size != k_mtime
    os.rename(jar, home / "jars" / "b.jar")
    assert S._archive_key(java, sh, "8g") != k_size
    k = S._archive_key(java, sh, "8g")
    os.utime(jdk / "lib" / "server" / "libjvm.so", ns=(2, 2))
    assert S._archive_key(java, sh, "8g") != k
    shutil.copytree(jdk, tmp_path / "jdk2")
    assert S._archive_key(str(tmp_path / "jdk2" / "bin" / "java"), sh, "8g") != S._archive_key(java, sh, "8g")


@needs_java
def test_driver_memory_env_changes_the_key(env, monkeypatch):
    assert _key(env, "2g") != _key(env, "3g")
    for mem in ("2g", "3g"):
        monkeypatch.setenv("SKETCHLIB_DRIVER_MEM", mem)
        opts, _ = _launch(env)
        assert opts["spark.driver.memory"] == mem
        assert f"/{_key(env, mem)}.dump " in opts["spark.driver.defaultJavaOptions"]


@needs_java
def test_first_launch_records_then_archive_is_used(env):
    opts, conf_dir = _launch(env)
    key = _key(env)
    dump = env["cds"] / f"{key}.dump"
    assert opts["spark.driver.defaultJavaOptions"] == (
        f"-XX:ArchiveClassesAtExit={dump} -XX:+VerifySharedSpaces -Xlog:cds*=off")
    assert conf_dir == str(env["cds"] / "conf") and os.listdir(conf_dir) == []
    assert "SPARK_CONF_DIR" not in os.environ
    # no JVM came up, so the lock is gone and the next launch records again
    assert not (env["cds"] / f"{key}.lock").exists()
    _touch(str(env["cds"] / f"{key}.jsa"))
    opts, _ = _launch(env)
    assert opts["spark.driver.defaultJavaOptions"] == (
        f"-XX:SharedArchiveFile={env['cds'] / (key + '.jsa')} -Xshare:auto -Xlog:cds*=off")


@pytest.mark.parametrize("extra", ["log4j2.properties", "spark-defaults.conf", "sub/x.template"])
def test_non_template_conf_gives_todays_launch(env, monkeypatch, extra):
    conf = env["tmp"] / "myconf"
    _touch(str(conf / "spark-env.sh.template"))
    _touch(str(conf / extra))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    opts, conf_dir = _launch(env)
    assert "spark.driver.defaultJavaOptions" not in opts
    assert conf_dir == str(conf) and os.environ["SPARK_CONF_DIR"] == str(conf)
    monkeypatch.delenv("SPARK_CONF_DIR")
    _touch(str(env["home"] / "conf" / extra))
    opts, conf_dir = _launch(env)
    assert "spark.driver.defaultJavaOptions" not in opts and conf_dir is None


@needs_java
@pytest.mark.parametrize("conf_env", [None, "templates"])
def test_environ_unchanged(env, monkeypatch, conf_env):
    if conf_env:
        conf = env["tmp"] / "tconf"
        _touch(str(conf / "log4j2.properties.template"))
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    before = dict(os.environ)
    _, conf_dir = _launch(env)
    assert conf_dir == str(env["cds"] / "conf")
    assert dict(os.environ) == before


@needs_java
def test_caller_default_java_options_survive(env):
    opts, _ = _launch(env, extra={"spark.driver.defaultJavaOptions": "-Dcaller=1 -Xss4m",
                                  "spark.driver.extraJavaOptions": "-Dextra=1"})
    v = opts["spark.driver.defaultJavaOptions"]
    assert v.startswith("-XX:ArchiveClassesAtExit=") and v.endswith(" -Dcaller=1 -Xss4m")
    assert opts["spark.driver.extraJavaOptions"] == "-Dextra=1"


def test_worker_daemon_module_and_path(env):
    """get_spark names the worker daemon module and puts its directory (no
    ``__init__.py``: the daemon imports no sketchlib) first on the workers'
    PYTHONPATH, ahead of a caller's; ``extra`` still picks the stock daemon.
    It also turns the driver's DataFrame call-site capture off, and
    ``extra`` turns it back on."""
    debugging = "spark.python.sql.dataFrameDebugging.enabled"
    opts, _ = _launch(env)
    assert opts["spark.python.daemon.module"] == S.DAEMON_MODULE
    assert opts["spark.executorEnv.PYTHONPATH"] == S.DAEMON_DIR
    assert opts[debugging] == "false"
    assert os.path.isfile(os.path.join(S.DAEMON_DIR, S.DAEMON_MODULE + ".py"))
    assert not os.path.exists(os.path.join(S.DAEMON_DIR, "__init__.py"))
    opts, _ = _launch(env, extra={"spark.executorEnv.PYTHONPATH": os.pathsep.join(["/a", "/b"]),
                                  "spark.python.daemon.module": "pyspark.daemon",
                                  debugging: "true"})
    assert opts["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([S.DAEMON_DIR, "/a", "/b"])
    assert opts["spark.python.daemon.module"] == "pyspark.daemon"
    assert opts[debugging] == "true"


@pytest.mark.parametrize("case", ["context", "gateway", "gateway_port", "hadoop_conf",
                                  "extra_classpath", "no_java", "no_spark_home", "unwritable"])
def test_noop_cases(env, monkeypatch, case):
    extra = None
    if case == "context":
        monkeypatch.setattr(SparkContext, "_active_spark_context", object())
    elif case == "gateway":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    elif case == "gateway_port":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    elif case == "hadoop_conf":
        monkeypatch.setenv("HADOOP_CONF_DIR", str(env["tmp"]))
    elif case == "extra_classpath":
        extra = {"spark.driver.extraClassPath": "/x.jar"}
    elif case == "no_java":
        monkeypatch.setenv("JAVA_HOME", str(env["tmp"] / "nojdk"))
    elif case == "no_spark_home":
        monkeypatch.delenv("SPARK_HOME")
    elif case == "unwritable":
        _touch(str(env["tmp"] / "file"))
        monkeypatch.setenv("XDG_CACHE_HOME", str(env["tmp"] / "file"))
    opts, conf_dir = _launch(env, extra=extra)
    assert "spark.driver.defaultJavaOptions" not in opts and conf_dir is None
    assert not env["cds"].exists()


@needs_java
def test_live_lock_skips_and_dead_lock_is_taken_over(env):
    os.makedirs(env["cds"])
    lock = env["cds"] / f"{_key(env)}.lock"
    lock.write_text(str(os.getpid()))
    opts, conf_dir = _launch(env)
    assert "spark.driver.defaultJavaOptions" not in opts and conf_dir is None
    assert lock.read_text() == str(os.getpid())
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    lock.write_text(str(p.pid))
    opts, _ = _launch(env)
    assert opts["spark.driver.defaultJavaOptions"].startswith("-XX:ArchiveClassesAtExit=")


@needs_java
def test_stale_keys_are_deleted(env):
    os.makedirs(env["cds"] / "conf")
    for name in ("0123456789abcdef.jsa", "0123456789abcdef.lock", "0123456789abcdef.dump"):
        _touch(str(env["cds"] / name))
    _launch(env)
    assert sorted(os.listdir(env["cds"])) == ["conf"]


def _tiny_archive(tmp_path):
    """A real dynamic archive of a JVM running ``-version`` on a one-jar
    class path, and that class path."""
    cp = str(tmp_path / "spark" / "jars" / "a.jar")
    out = str(tmp_path / "tiny.jsa")
    subprocess.run([JAVA, f"-XX:ArchiveClassesAtExit={out}", "-XX:+VerifySharedSpaces",
                    "-Xlog:cds*=off", "-cp", cp, "-version"], check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out, "rb") as f:
        return f.read(), cp


@needs_java
@pytest.mark.parametrize("kind", ["truncated", "garbage", "flipped", "no_record", "good"])
def test_planted_dump_is_checked_before_use(env, kind):
    data, cp = _tiny_archive(env["tmp"])
    key = _key(env)
    dump, meta = env["cds"] / f"{key}.dump", env["cds"] / f"{key}.json"
    if kind == "truncated":
        data = data[: len(data) // 2]
    elif kind == "garbage":
        data = os.urandom(len(data))
    elif kind == "flipped":
        mid = len(data) // 2
        data = data[:mid] + bytes(b ^ 0xFF for b in data[mid:mid + 64]) + data[mid + 64:]
    _touch(str(dump), data)
    if kind != "no_record":
        meta.write_text(json.dumps({"cp": cp, "args": ["-Xmx64m", "-XX:ArchiveClassesAtExit=x"]}))
    opts, _ = _launch(env)
    v = opts["spark.driver.defaultJavaOptions"]
    final = env["cds"] / f"{key}.jsa"
    if kind == "good":
        assert v.startswith(f"-XX:SharedArchiveFile={final} ")
        assert final.read_bytes() == data and not dump.exists() and not meta.exists()
    else:
        assert "SharedArchiveFile" not in v and not final.exists()
        assert v.startswith(f"-XX:ArchiveClassesAtExit={dump} ")
        assert not dump.exists() and not meta.exists()
    for d in (env["tmp"], env["cds"], REPO_ROOT):
        assert not [n for n in os.listdir(d) if n.startswith("hs_err_pid")]


_PROBE = """
import json, os, sys
sys.path.insert(0, {root!r})
from sketchlib.spark.session import get_spark
from sketchlib.spark.tdigest_ops import tdigest_aggregate
import pandas as pd
spark = get_spark("cds-probe", cpus=2)
args = list(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
df = spark.createDataFrame(pd.DataFrame({{"k": ["a", "b"] * 4, "v": range(8)}}))
rows = sorted((r["k"], bytes(r["digest"]).hex()) for r in tdigest_aggregate(df, ["k"], "v").collect())
print(json.dumps({{"cds": [a for a in args if a.startswith(("-XX:Shared", "-XX:Archive"))],
                   "rows": rows, "conf_dir": os.environ.get("SPARK_CONF_DIR")}}))
"""


@pytest.mark.skipif(not os.environ.get("SPARK_HOME") or JAVA is None, reason="needs SPARK_HOME and java")
def test_real_driver_records_then_uses_archive(tmp_path):
    """Two fresh processes: the first records the archive as its JVM exits,
    the second starts from it; same rows, JSON still the last stdout line."""
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "xdg"), "SKETCHLIB_DRIVER_MEM": "1g"}
    env.pop("SPARK_CONF_DIR", None)
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        pytest.skip("running under an existing gateway")
    if not S._templates_only(os.path.join(os.environ["SPARK_HOME"], "conf")):
        pytest.skip("SPARK_HOME/conf holds real config files")
    cds = tmp_path / "xdg" / "sketchlib" / "cds"
    code = _PROBE.format(root=REPO_ROOT)
    outs = []
    for _ in range(2):
        p = subprocess.run([sys.executable, "-c", code], env=env, cwd=str(tmp_path),
                           capture_output=True, text=True, timeout=300)
        assert p.returncode == 0, p.stderr[-2000:]
        assert "[cds" not in p.stdout
        outs.append(json.loads(p.stdout.strip().splitlines()[-1]))
        # the JVM writes the archive after the Python process is gone
        for lock in cds.glob("*.lock"):
            pid, deadline = int(lock.read_text()), time.monotonic() + 120
            while S._alive(pid) and time.monotonic() < deadline:
                time.sleep(0.2)
    (jsa,) = cds.glob("*.jsa")
    assert outs[0]["cds"] == [f"-XX:ArchiveClassesAtExit={jsa.with_suffix('.dump')}"]
    assert outs[1]["cds"] == [f"-XX:SharedArchiveFile={jsa}"]
    assert outs[0]["rows"] == outs[1]["rows"] and len(outs[0]["rows"]) == 2
    assert outs[0]["conf_dir"] is None and outs[1]["conf_dir"] is None
    assert not list(tmp_path.glob("hs_err_pid*"))
