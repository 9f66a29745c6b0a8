"""Extraction-kernel allocation-scaling probe (BENCH/BASELINE.md evidence).

Measures aggregate docs/sec of seven extraction-kernel variants across a
process pool at 1/8/32 workers, on the same deterministic 20k-page chunk
per worker.  This is the experiment behind round 4's kernel choice:

  A  per-doc full text   (r03 shipped kernel: decode + 3 subs + join)
  B  batch-blob, 3 subs  (join batch with \\x00, regex at MB grain)
  C  batch-blob, 4 subs  (as B + blob-level whitespace collapse)
  D  per-doc len, finditer (bytes, Python-level match iteration)
  E  per-doc len, str    (decode + subs + split, sum of token lens)
  F  per-doc len, bytes  (no decode, no join — the r04 shipped kernel)
  G  per-doc len, counted (no tokens: translate + counts, the current
                          `sketchlib.data.extract.extract_len_one`)

Findings on this single-kernel VM (best-of-2, 2026-08-18):
  A: 72k/448k/1154k docs/s  -> eff(8->32) 0.64
  B: 61k/390k/ 366k         -> 0.23  (MB transients: mmap/munmap churn)
  C: 21k/133k/ 187k         -> 0.35  (blob \\s+ sub also 3x slower/core)
  D: 26k/152k/ 443k         -> 0.73  (scales, but finditer is 3x/core)
  E: 69k/405k/1389k         -> 0.86
  F: 68k/474k/1609k         -> 0.85, 1.39x A at 32 workers  <- shipped
  (G postdates these findings; it replaced F.)

Conclusion: per-doc KB-sized allocation COUNT is the 8->32 scaling lever;
batch-concatenation (fewer, bigger allocations) makes it worse.

Run: python tools/probe_alloc_scaling.py [workers ...]
"""

from __future__ import annotations

import os
import re
import sys
import time
from concurrent.futures import ProcessPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SCRIPT = re.compile(r"<script.*?</script>", re.DOTALL | re.IGNORECASE)
_STYLE = re.compile(r"<style.*?</style>", re.DOTALL | re.IGNORECASE)
_TAG = re.compile(r"<[^>]*>")
_WSX = re.compile(r"[\s\x1c-\x1f]+")
_SCRIPT_B = re.compile(rb"<script.*?</script>", re.DOTALL | re.IGNORECASE)
_STYLE_B = re.compile(rb"<style.*?</style>", re.DOTALL | re.IGNORECASE)
_TAG_B = re.compile(rb"<[^>]*>")
_NONWS_B = re.compile(rb"[^ \t\n\r\f\v]+")

_DOCS: list[bytes] | None = None


def _init() -> None:
    global _DOCS
    from sketchlib.data.gen_pages import gen_chunk

    _DOCS = [bytes(b) for b in gen_chunk(0, 20000)["html"]]


def var_a(_):
    t0 = time.time()
    out = []
    for b in _DOCS:
        s = b.decode("utf-8")
        s = _SCRIPT.sub("", s)
        s = _STYLE.sub("", s)
        s = _TAG.sub(" ", s)
        out.append(" ".join(s.split()))
    return time.time() - t0


def var_b(_):
    t0 = time.time()
    n = len(_DOCS)
    s = b"\x00".join(_DOCS).decode("utf-8")
    s = _SCRIPT.sub("", s)
    s = _STYLE.sub("", s)
    s = _TAG.sub(" ", s)
    docs = s.split("\x00")
    assert len(docs) == n
    out = [" ".join(d.split()) for d in docs]
    return time.time() - t0


def var_c(_):
    t0 = time.time()
    n = len(_DOCS)
    s = b"\x00".join(_DOCS).decode("utf-8")
    s = _SCRIPT.sub("", s)
    s = _STYLE.sub("", s)
    s = _TAG.sub(" ", s)
    s = _WSX.sub(" ", s)
    docs = s.split("\x00")
    assert len(docs) == n
    out = [d.strip(" ") for d in docs]
    return time.time() - t0


def var_d(_):
    t0 = time.time()
    out = []
    for b in _DOCS:
        s = _SCRIPT_B.sub(b"", b)
        s = _STYLE_B.sub(b"", s)
        s = _TAG_B.sub(b" ", s)
        total = nruns = 0
        for m in _NONWS_B.finditer(s):
            total += m.end() - m.start()
            nruns += 1
        out.append(total + (nruns - 1 if nruns else 0))
    return time.time() - t0


def var_e(_):
    t0 = time.time()
    out = []
    for b in _DOCS:
        s = b.decode("utf-8")
        s = _SCRIPT.sub("", s)
        s = _STYLE.sub("", s)
        s = _TAG.sub(" ", s)
        parts = s.split()
        n = len(parts)
        out.append(sum(map(len, parts)) + (n - 1 if n else 0))
    return time.time() - t0


def var_f(_):
    t0 = time.time()
    out = []
    for b in _DOCS:
        s = _SCRIPT_B.sub(b"", b)
        s = _STYLE_B.sub(b"", s)
        s = _TAG_B.sub(b" ", s)
        parts = s.split()
        n = len(parts)
        out.append(sum(map(len, parts)) + (n - 1 if n else 0))
    return time.time() - t0


def var_g(_):
    from sketchlib.data.extract import extract_len_one

    t0 = time.time()
    out = [extract_len_one(b) for b in _DOCS]
    return time.time() - t0


VARIANTS = {
    "A_perdoc_fulltext": var_a,
    "B_blob_3subs": var_b,
    "C_blob_4subs": var_c,
    "D_len_finditer": var_d,
    "E_len_str": var_e,
    "F_len_bytes": var_f,
    "G_len_counted": var_g,
}


def main() -> None:
    workers = [int(w) for w in sys.argv[1:]] or [1, 8, 32]
    for name, fn in VARIANTS.items():
        base = None
        for w in workers:
            best = float("inf")
            for _ in range(2):
                with ProcessPoolExecutor(max_workers=w, initializer=_init) as ex:
                    list(ex.map(fn, range(w)))  # warm the pool
                    t0 = time.time()
                    list(ex.map(fn, range(w)))
                    best = min(best, time.time() - t0)
            agg = w * 20000 / best
            if base is None:
                base = agg / w  # per-worker rate at the first level
            eff = agg / (w * base)
            print(f"{name:20s} w={w:2d}  wall={best:6.2f}s  "
                  f"agg={agg:>12,.0f} docs/s  eff_vs_linear={eff:.2f}",
                  flush=True)


if __name__ == "__main__":
    main()
