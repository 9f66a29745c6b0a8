"""Deterministic vectorized 64-bit hashing shared by HLL/CMS/Bloom.

Two layers:

* On Spark, hashing stays JVM-side: pipelines hash with ``F.xxhash64`` (fast,
  whole-stage-codegen, stable across Spark versions) and the Python sketches
  ingest the resulting int64 column (``update_hashed``).  The Python worker
  never hashes strings in the hot path.
* Off Spark (tests, local drivers), ``hash64`` provides a vectorized
  splitmix64 finalizer over ``pandas.util.hash_pandas_object`` for arbitrary
  values, or directly over integer arrays.

Derived hash families (for CMS rows / Bloom probes) use double hashing
``h1 + i·h2`` over splitmix64 remixes — the standard Kirsch–Mitzenmacher
construction.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd

_C1 = np.uint64(0xBF58476D1CE4E5B9)
_C2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain construction)."""
    z = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        z += _GOLDEN
        z = (z ^ (z >> np.uint64(30))) * _C1
        z = (z ^ (z >> np.uint64(27))) * _C2
        z = z ^ (z >> np.uint64(31))
    return z


def hash64(values, seed: int = 0) -> np.ndarray:
    """uint64 hashes of an arbitrary array-like (vectorized, deterministic)."""
    if isinstance(values, np.ndarray) and values.dtype.kind in "iu":
        base = values.astype(np.uint64)
    else:
        s = values if isinstance(values, pd.Series) else pd.Series(values)
        base = pd.util.hash_pandas_object(s, index=False).to_numpy(dtype=np.uint64)
    if seed:
        with np.errstate(over="ignore"):
            base = base ^ (np.uint64(seed) * _GOLDEN)
    return splitmix64(base)


def double_hash(h: np.ndarray, i: int, mod: int) -> np.ndarray:
    """i-th derived hash in [0, mod): (h1 + i·h2) mod m, h2 forced odd."""
    h1 = h
    h2 = splitmix64(h) | np.uint64(1)
    with np.errstate(over="ignore"):
        combined = h1 + np.uint64(i) * h2
    return (combined % np.uint64(mod)).astype(np.int64)


# ---------------------------------------------------------------------------
# Spark-compatible XXH64 over 8-byte longs (vectorized)
# ---------------------------------------------------------------------------

_XP1 = np.uint64(0x9E3779B185EBCA87)
_XP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XP3 = np.uint64(0x165667B19E3779F9)
_XP4 = np.uint64(0x85EBCA77C2B2AE63)
_XP5 = np.uint64(0x27D4EB2F165667C5)
XXH64_SPARK_SEED = np.uint64(42)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def xxh64_long(v, seed=XXH64_SPARK_SEED) -> np.ndarray:
    """XXH64 of one little-endian 8-byte value per element — bit-identical
    to Spark's ``F.xxhash64`` over a ``LongType`` column (seed 42), and to
    each fold step of Spark's multi-arg form (``xxhash64(a, b)`` is
    ``xxh64_long(b, seed=xxh64_long(a))``).  ``v``/``seed``: uint64 scalars
    or arrays (int64 inputs are reinterpreted, not converted).

    This is the bridge that lets an Arrow-side numpy kernel continue a
    hash chain the JVM started (e.g. per-token ``xxhash64`` JVM-side, the
    n-gram window fold vectorized Python-side) with values any JVM
    expression could reproduce — property-tested bitwise against Spark in
    ``tests/test_hashing.py``."""
    v = np.asarray(v)
    if v.dtype != np.uint64:
        v = v.astype(np.int64, copy=False).view(np.uint64)
    seed = np.asarray(seed)
    if seed.dtype != np.uint64:
        seed = seed.astype(np.int64, copy=False).view(np.uint64)
    with np.errstate(over="ignore"):
        h = seed + _XP5 + np.uint64(8)
        k1 = _rotl64(v * _XP2, 31) * _XP1
        h = h ^ k1
        h = _rotl64(h, 27) * _XP1 + _XP4
        h ^= h >> np.uint64(33)
        h *= _XP2
        h ^= h >> np.uint64(29)
        h *= _XP3
        h ^= h >> np.uint64(32)
    return h


def xxh64_window_fold(values: np.ndarray, offsets: np.ndarray, n: int,
                      lens: np.ndarray | None = None):
    """Per-document n-gram window hashes over a FLAT array of per-token
    hashes (Arrow list-column layout: ``values`` holds every document's
    token hashes back to back, ``offsets[i]:offsets[i+1]`` is document i's
    slice; a null/absent document is a zero-length slice).

    Window hash = Spark's ``xxhash64(h_i, ..., h_{i+n-1})`` left fold over
    the n token hashes (seed 42).  Documents with 1 <= T < n tokens
    contribute ONE fallback window folding their T hashes (what
    ``xxhash64(h_1, .., h_T)`` would give); T == 0 contributes nothing.

    Returns ``(win_values, win_offsets)`` in the same flat layout —
    everything vectorized; the only Python-level loop is ``n`` fold steps
    plus up to ``n-1`` masked steps for short documents.

    ``lens`` overrides ``np.diff(offsets)`` — pass it when the Arrow list
    column has null cells (their offset ranges are unspecified; zero their
    lengths and each document still slices from its own ``offsets[i]``).

    This is the bitwise-JVM-reference fold (each window costs an n-step
    dependent hash chain with per-step gathers); production decontam uses
    ``poly_window_fold``, which shares this function's layout and document
    conventions but computes in O(total tokens)."""
    offsets = np.asarray(offsets, dtype=np.int64)
    if lens is None:
        lens = np.diff(offsets)
    else:
        lens = np.asarray(lens, dtype=np.int64)
    n_win = np.where(lens >= n, lens - (n - 1), (lens > 0).astype(np.int64))
    win_offsets = np.concatenate([[0], np.cumsum(n_win)])
    total = int(win_offsets[-1])
    out = np.empty(total, dtype=np.uint64)
    if total == 0:
        return out, win_offsets

    starts = np.repeat(offsets[:-1], n_win)          # flat start of each window
    base = np.repeat(win_offsets[:-1], n_win)
    intra = np.arange(total, dtype=np.int64) - base  # window index within doc
    starts = starts + intra
    wlen = np.minimum(np.repeat(lens, n_win), n)     # < n only for fallbacks
    vals = np.asarray(values)
    if vals.dtype != np.uint64:
        vals = vals.astype(np.int64, copy=False).view(np.uint64)

    h = np.full(total, XXH64_SPARK_SEED, dtype=np.uint64)
    full = wlen == n
    if full.all():
        for k in range(n):
            h = xxh64_long(vals[starts + k], h)
        return h, win_offsets
    for k in range(n):
        active = wlen > k
        idx = starts[active] + k
        h[active] = xxh64_long(vals[idx], h[active])
    return h, win_offsets


def poly_window_fold(values, offsets, n: int, lens=None, min_one=None):
    """O(total-tokens) n-gram window hashes over the same flat Arrow list
    layout as ``xxh64_window_fold`` — the PRODUCTION decontam kernel.

    Window hash = ``sum_j v[g+j] * P**j mod 2**64`` (P odd): a polynomial
    of the per-token hashes with position-independent weights, so equal
    token windows hash equal wherever they occur — the only property the
    Bloom build/probe pair needs (both sides run THIS kernel; collisions
    are false-positive-direction only).  Unlike the xxhash64 chain it is
    computable with n shifted multiply-adds over the whole flat buffer —
    no per-window gather, no n-step dependent chain — which measures ~20x
    faster than ``xxh64_window_fold`` at n=8 (the chain fold stays as the
    bitwise-JVM-reference oracle for tests).  Outputs are raw polynomial
    sums: pass them through ``xxh64_long``/``hash64`` before any sketch
    that expects avalanche-mixed input.

    Same document conventions as ``xxh64_window_fold``: ``lens`` overrides
    ``np.diff(offsets)`` (zero the lengths of null cells); docs with
    ``1 <= T < n`` tokens contribute ONE fallback window over their T
    hashes; ``T == 0`` contributes nothing unless ``min_one`` (bool mask,
    one entry per doc) marks it — then it contributes the empty-sum window
    (0), the empty-text-matches-empty-text convention."""
    offsets = np.asarray(offsets, dtype=np.int64)
    if lens is None:
        lens = np.diff(offsets)
    else:
        lens = np.asarray(lens, dtype=np.int64)
    nd = len(lens)
    starts_doc = offsets[:nd]
    if min_one is None:
        one_at_zero = np.zeros(nd, dtype=np.int64)
    else:
        one_at_zero = np.asarray(min_one, dtype=bool).astype(np.int64)
    n_win = np.where(lens >= n, lens - (n - 1),
                     np.where(lens > 0, 1, one_at_zero))
    woffs = np.empty(nd + 1, dtype=np.int64)
    woffs[0] = 0
    np.cumsum(n_win, out=woffs[1:])
    total = int(woffs[-1])
    out = np.zeros(total, dtype=np.uint64)
    if total == 0:
        return out, woffs

    vals = np.asarray(values)
    if vals.dtype != np.uint64:
        vals = vals.astype(np.int64, copy=False).view(np.uint64)
    T = len(vals)

    # weights P^0 .. P^(n-1), wrapping mod 2^64
    w = np.empty(n, dtype=np.uint64)
    w[0] = 1
    with np.errstate(over="ignore"):
        for j in range(1, n):
            w[j] = w[j - 1] * _GOLDEN

    # fallback docs: 0 < T < n (one window over their T hashes) or the
    # min_one empties (empty-sum = 0, already zeroed in `out`)
    fb = (lens < n) & (n_win > 0)
    full = lens >= n

    if full.any():
        L = T - n + 1
        # window sum at EVERY global start position by pairwise doubling:
        # O(log n) shifted multiply-adds over the flat buffer instead of n
        acc = _poly_all_window_sums(vals, n)
        # valid starts: within-doc position <= len - n, for full docs only.
        # Mark the complement (each doc's last n-1 positions, every
        # position of short docs, any inter-doc garbage ranges) via a
        # range-diff: +1 at each invalid range's start, -1 past its end.
        delta = np.zeros(L + 1, dtype=np.int32)
        lo = np.minimum(starts_doc + np.maximum(lens - (n - 1), 0), L)
        hi = np.minimum(starts_doc + lens, L)
        np.add.at(delta, lo, 1)
        np.add.at(delta, hi, -1)
        # positions outside every doc (possible with explicit `lens`
        # shorter than the offset ranges of null cells) are also invalid
        gap_lo = np.minimum(starts_doc + lens, L)
        gap_hi = np.minimum(np.append(starts_doc[1:], T), L)
        bad_gap = gap_hi > gap_lo
        if bad_gap.any():
            np.add.at(delta, gap_lo[bad_gap], 1)
            np.add.at(delta, gap_hi[bad_gap], -1)
        head = min(int(starts_doc[0]), L) if nd else 0
        if head > 0:
            delta[0] += 1
            delta[head] -= 1
        covered = np.cumsum(delta[:L])
        h_full = acc[covered == 0]

        out_mask = np.ones(total, dtype=bool)
        out_mask[woffs[:nd][fb]] = False
        out[out_mask] = h_full
    if fb.any():
        fb_starts = starts_doc[fb]
        fb_lens = lens[fb]
        h_fb = np.zeros(fb.sum(), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for j in range(n - 1):
                m = fb_lens > j
                if not m.any():
                    break
                h_fb[m] += vals[fb_starts[m] + j] * w[j]
        out[woffs[:nd][fb]] = h_fb
    return out, woffs


#: per-thread reusable scratch buffers for ``_poly_all_window_sums``,
#: keyed by role (block size / "acc" / "tmp"), grown to the largest batch
#: seen and then reused.  Thread-local so concurrent callers in one
#: process (direct library users; Spark Python workers are
#: single-threaded) never share a buffer.  Rationale (BENCH/BASELINE.md,
#: "Round-5: poly-kernel scratch-buffer reuse"): the doubling kernel's fresh temporaries
#: are ~6 buffers x batch-bytes per call, and at high worker counts the
#: page-fault/zeroing rate is the bottleneck the r04 malloc tuning already
#: flagged — reusing warm buffers measured 1.4x per call at 8 workers and
#: 1.9-2.9x at 32 (mean-of-best / mean-of-median, interleaved A/B, 4M
#: tokens, n=8).  Memory cost: a few largest-batch-sized uint64 arrays per
#: thread, bounded by Arrow batch size.
_POLY_SCRATCH = threading.local()


def _poly_scratch(key, n: int) -> np.ndarray:
    bufs = getattr(_POLY_SCRATCH, "bufs", None)
    if bufs is None:
        bufs = _POLY_SCRATCH.bufs = {}
    a = bufs.get(key)
    if a is None or len(a) < n:
        a = bufs[key] = np.empty(n, dtype=np.uint64)
    return a[:n]


def _poly_all_window_sums(vals: np.ndarray, n: int) -> np.ndarray:
    """``sum_{j<n} vals[g+j] * P**j mod 2**64`` for every start position
    ``g`` in ``[0, len(vals)-n]`` — pairwise doubling (block sums of
    power-of-two sizes, then one shifted combine per set bit of ``n``):
    O(log n) vectorized passes over the buffer, no gathers.  All
    intermediates live in ``_POLY_SCRATCH`` (see note there): the returned
    array ALIASES this thread's scratch and is only valid until the
    thread's next call — callers must copy or consume it immediately
    (``poly_window_fold`` does)."""
    with np.errstate(over="ignore"):
        blocks = {1: vals}
        p_pow = {1: _GOLDEN}  # P**size per block size
        size = 1
        while size * 2 <= n:
            prev = blocks[size]
            m = len(prev) - size
            out = _poly_scratch(size * 2, m)
            np.multiply(prev[size:size + m], p_pow[size], out=out)
            np.add(out, prev[:m], out=out)
            blocks[size * 2] = out
            p_pow[size * 2] = p_pow[size] * p_pow[size]
            size *= 2
        L = len(vals) - n + 1
        acc = None
        offset = 0
        pw = np.uint64(1)
        for b in sorted(blocks, reverse=True):
            if not (n & b):
                continue
            part = blocks[b][offset:offset + L]
            if acc is None:
                acc = _poly_scratch("acc", L)
                np.multiply(part, pw, out=acc)
            else:
                tmp = _poly_scratch("tmp", L)
                np.multiply(part, pw, out=tmp)
                np.add(acc, tmp, out=acc)
            pw = pw * p_pow[b]
            offset += b
    return acc
