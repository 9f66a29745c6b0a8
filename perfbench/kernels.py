"""Single-core probes of the public kernel functions.

Each probe is sized by ``batch``: the number of values one (partition, key)
receives in the workload being traced, so a key-heavy workload probes the
per-call overhead its partial stage pays.  Inputs are seeded.
"""

from __future__ import annotations

import time

import numpy as np

from sketchlib.bloom import Bloom
from sketchlib.cms import CMS
from sketchlib.data.extract import extract_len_series
from sketchlib.ddsketch import DDSketch
from sketchlib.hashing import poly_window_fold, xxh64_long
from sketchlib.hll import HLL
from sketchlib.kll import KLL
from sketchlib.kmv import KMV
from sketchlib.mg import MisraGries
from sketchlib.tdigest.core import MergingDigest

#: values pushed through each update probe, in at most PROBE_CALLS calls
PROBE_VALUES = 400_000
PROBE_CALLS = 4_000
PS = np.array([0.01, 0.5, 0.95, 0.99, 0.999])

#: family -> (constructor, input kind); hashed kinds take xxhash64 values,
#: as the Spark path feeds them
FAMILIES = {
    "hll": (lambda: HLL(p=14), "hash"),
    "kll": (lambda: KLL(k=200), "float"),
    "cms": (lambda: CMS(eps=0.001, confidence=0.99), "hash"),
    "bloom": (lambda: Bloom(expected_n=100_000, fpr=0.01), "hash"),
    "dd": (lambda: DDSketch(alpha=0.01), "float"),
    "kmv": (lambda: KMV(k=1024), "hash"),
    "mg": (lambda: MisraGries(m=64), "str"),
}


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _batches(rng: np.random.Generator, batch: int, kind: str) -> list:
    n = max(1, min(PROBE_CALLS, PROBE_VALUES // batch))
    if kind == "float":
        return [rng.lognormal(6.0, 1.0, batch) for _ in range(n)]
    if kind == "hash":
        return [rng.integers(0, 2**63, batch, dtype=np.int64).view(np.uint64)
                for _ in range(n)]
    words = np.array([f"w{i}" for i in range(5000)], dtype=object)
    return [words[rng.zipf(1.3, batch) % 5000] for _ in range(n)]


def tdigest_probe(rng: np.random.Generator, batch: int, keys: int) -> dict[str, float]:
    """update_batch, serialize, merge_bytes, compress and quantile of
    ``MergingDigest`` at δ=0.01 over ``keys`` digests fed ``batch``-sized
    batches."""
    batches = _batches(rng, batch, "float")
    keys = max(1, min(keys, len(batches)))
    digests = [MergingDigest(delta=0.01) for _ in range(keys)]

    def update():
        for i, b in enumerate(batches):
            digests[i % keys].update_batch(b)

    t_update = _timed(update)
    blobs: list[bytes] = []
    t_ser = _timed(lambda: blobs.extend(d.serialize() for d in digests))
    blob = b"".join(blobs)
    merged = MergingDigest(delta=0.01)
    t_merge = _timed(lambda: merged.merge_bytes(blob))
    t_compress = _timed(merged.compress)
    reps = 200
    t_quant = _timed(lambda: [merged.quantile(PS) for _ in range(reps)])
    return {
        "td.update_mvals_per_s": len(batches) * batch / t_update / 1e6,
        "td.serialize_us_per_key": t_ser / keys * 1e6,
        "td.merge_bytes_mb_per_s": len(blob) / t_merge / 1e6,
        "td.compress_ms": t_compress * 1e3,
        "td.quantile_us": t_quant / reps * 1e6,
        "td.centroids_per_key": len(blob) / 16 / keys,
    }


def family_probe(rng: np.random.Generator, batch: int) -> dict[str, float]:
    """update (``update_hashed`` for hashed kinds, else ``update_batch``) and
    ``merge`` throughput of each sibling family."""
    out = {}
    for fam, (make, kind) in FAMILIES.items():
        batches = _batches(rng, batch, kind)
        sk = make()
        update = sk.update_hashed if kind == "hash" else sk.update_batch

        def run_updates():
            for b in batches:
                update(b)

        t_update = _timed(run_updates)
        others = []
        for b in batches[:16]:
            o = make()
            (o.update_hashed if kind == "hash" else o.update_batch)(b)
            others.append(o)
        acc = make()

        def run_merges():
            nonlocal acc
            for o in others:
                acc = acc.merge(o)

        t_merge = _timed(run_merges)
        out[f"{fam}.update_mvals_per_s"] = len(batches) * batch / t_update / 1e6
        out[f"{fam}.merge_per_s"] = len(others) / t_merge
    return out


def extract_probe(html: list[bytes]) -> dict[str, float]:
    """``extract_len_series`` docs/s on one core over real table html."""
    import pandas as pd

    s = pd.Series(html)
    return {"extract.docs_per_s_1core": len(s) / _timed(lambda: extract_len_series(s))}


def calibration_probe(reps: int = 3) -> float:
    """Host-speed context: best-of-``reps`` ms of a fixed single-thread numpy
    workload (polynomial window fold plus xxh64 over 2M values)."""
    rng = np.random.default_rng(42)
    vals = rng.integers(0, 2**63, size=2_000_000, dtype=np.int64).view(np.uint64)
    offs = np.arange(0, 2_000_001, 1000, dtype=np.int64)

    def work():
        poly_window_fold(vals, offs, 8)
        xxh64_long(vals, np.uint64(42))

    return min(_timed(work) for _ in range(reps)) * 1e3
