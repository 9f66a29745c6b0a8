"""Make ``sketchlib`` importable on Spark executor Python workers.

The driver process may import sketchlib from a path the executors don't
have on ``sys.path`` (e.g. the correctness harness runs from another cwd,
or a real cluster run forgot ``--py-files``).  ``ensure_on_workers``
zips the installed package once per Spark application and ships it with
``addPyFile`` — the programmatic equivalent of
``spark-submit --py-files sketchlib.zip`` and a no-op when already shipped.
``build_zip`` is the one zip builder; ``tools/package.py`` calls it too.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

import sketchlib

PKG_DIR = os.path.dirname(os.path.abspath(sketchlib.__file__))

# application ids, not id(sc): a restarted SparkContext can be allocated at
# the address of the stopped one, and its workers still need the zip
_SHIPPED: set[str] = set()


def build_zip(out_path: str) -> str:
    """Write every ``sketchlib/**.py`` into ``out_path`` under its
    ``sketchlib/...`` name, in sorted walk order."""
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(PKG_DIR):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(
                        full,
                        os.path.join("sketchlib", os.path.relpath(full, PKG_DIR)),
                    )
    return out_path


def ensure_on_workers(spark) -> None:
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    zpath = os.path.join(
        tempfile.gettempdir(), f"sketchlib-{os.getpid()}-{abs(hash(PKG_DIR)) % 10**8}.zip"
    )
    if not os.path.exists(zpath):
        build_zip(zpath)
    sc.addPyFile(zpath)
    _SHIPPED.add(app_id)
