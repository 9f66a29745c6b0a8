"""Seeded pages table for the benchmark, cached by (rows, seed).

The table is ``sketchlib.data.gen_pages.gen_chunk`` output written as
``FILE_ROWS``-row parquet files, one chunk per file, by at most ``nproc``
processes of a generator child process (``python3 inputs.py``), so every
helper process has ended when generation returns.  Beside each file sits a small ``.npz`` with what the
exact answers need: per row the lang code, ``length(text)`` and the url
host.  They come from the generated pandas frame, so Spark never sees them.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor

import numpy as np

FILE_ROWS = 25_000
#: generated tables kept in the cache; the least recently used go first
KEEP_TABLES = 12


def _write_part(args: tuple[str, int, int]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.data.gen_pages import LANGS, SCHEMA, gen_chunk

    out_dir, start, seed = args
    pdf = gen_chunk(start, FILE_ROWS, seed)
    name = f"part-{start // FILE_ROWS:04d}"
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False),
        os.path.join(out_dir, name + ".parquet"),
    )
    code = {lang: i for i, lang in enumerate(LANGS)}
    np.savez(
        os.path.join(out_dir, name + ".npz"),
        lang=pdf["lang"].map(code).to_numpy(np.int8),
        tlen=pdf["text"].str.len().to_numpy(np.int64),
        # url is https://<host>/<path>: the same host Spark's parse_url finds
        host=pdf["url"].str.slice(8).str.split("/", n=1).str[0].to_numpy(str),
    )


class Table:
    """``rows`` generated pages for ``seed`` under ``cache_dir``."""

    def __init__(self, cache_dir: str, rows: int, seed: int) -> None:
        if rows % FILE_ROWS:
            raise ValueError(f"rows must be a multiple of {FILE_ROWS}")
        self.cache_dir = cache_dir
        self.dir = os.path.join(cache_dir, f"pages-r{rows}-s{seed}")
        self.rows = rows
        self.seed = seed
        self.n_files = rows // FILE_ROWS

    def ensure(self, procs: int) -> float:
        """Generate the table unless cached; returns the seconds spent."""
        if os.path.isdir(self.dir):
            os.utime(self.dir)
            return 0.0
        t0 = time.perf_counter()
        tmp = self.dir + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), tmp, str(self.rows),
             str(self.seed), str(procs)],
            check=True,
        )
        os.rename(tmp, self.dir)
        self._evict()
        return time.perf_counter() - t0

    def _evict(self) -> None:
        tables = [
            os.path.join(self.cache_dir, d)
            for d in os.listdir(self.cache_dir)
            if d.startswith("pages-")
        ]
        tables.sort(key=os.path.getmtime, reverse=True)
        for old in tables[KEEP_TABLES:]:
            if old != self.dir:
                shutil.rmtree(old, ignore_errors=True)

    def paths(self, n_files: int) -> list[str]:
        return [os.path.join(self.dir, f"part-{i:04d}.parquet") for i in range(n_files)]

    def exact(self, n_files: int) -> dict[str, np.ndarray]:
        """Per-row lang code, text length and host of the first files."""
        parts = [np.load(p[: -len(".parquet")] + ".npz") for p in self.paths(n_files)]
        return {k: np.concatenate([p[k] for p in parts]) for k in ("lang", "tlen", "host")}


def generate(out_dir: str, rows: int, seed: int, procs: int) -> None:
    jobs = [(out_dir, start, seed) for start in range(0, rows, FILE_ROWS)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(min(procs, len(jobs)), mp_context=ctx) as ex:
        for _ in ex.map(_write_part, jobs):
            pass


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
