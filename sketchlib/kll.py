"""KLL quantile sketch (Karnin, Lang, Liberty 2016), from scratch.

Compactor hierarchy: level h holds items of weight 2^h; when a level
exceeds its capacity k·c^(H−1−h) (c = 2/3, floor 2) it is sorted and every
other item is promoted to level h+1.  Which offset (odd/even) survives
alternates deterministically per level — the random coin of the paper is
replaced by an alternating one, which preserves the expected-rank argument
under merges while keeping runs reproducible (documented divergence; error
guarantees are validated empirically in tests).

Normalized rank error ≈ O(1/k): k=200 targets ~1% — tests assert < 1.5%.

Merge: concatenate per-level buffers, then re-compact — associative within
the error bound (exact associativity is impossible for any bounded-size
quantile sketch; the t-digest's lossless-union mode covers the byte-exact
use case in this library).
"""

from __future__ import annotations

import struct

import numpy as np

from sketchlib.aggregator import Aggregator
from sketchlib.tdigest.core import nearest_rank

_MAGIC = b"KLL1"
_C = 2.0 / 3.0


class KLL(Aggregator):
    __slots__ = ("k", "levels", "flip", "n")

    def __init__(self, k: int = 200) -> None:
        self.k = k
        self.levels: list[np.ndarray] = [np.empty(0)]
        self.flip = 0
        self.n = 0

    @classmethod
    def zero(cls, k: int = 200) -> "KLL":
        return cls(k=k)

    def _capacity(self, h: int, num_levels: int) -> int:
        return max(2, int(np.ceil(self.k * _C ** (num_levels - 1 - h))))

    def _total_capacity(self) -> int:
        nl = len(self.levels)
        return sum(self._capacity(h, nl) for h in range(nl))

    def _compact(self) -> None:
        while sum(len(b) for b in self.levels) > self._total_capacity():
            nl = len(self.levels)
            for h in range(nl):
                if len(self.levels[h]) > self._capacity(h, nl):
                    buf = np.sort(self.levels[h])
                    self.flip ^= 1
                    if len(buf) % 2 == 1:
                        # keep one item at this level so total weight is
                        # conserved exactly (2·⌊n/2⌋ promoted + 1 kept = n)
                        keep = buf[:1] if self.flip else buf[-1:]
                        buf = buf[1:] if self.flip else buf[:-1]
                    else:
                        keep = np.empty(0)
                    promoted = buf[self.flip :: 2]
                    if h + 1 == len(self.levels):
                        self.levels.append(np.empty(0))
                    self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])
                    self.levels[h] = keep
                    break
            else:
                break

    def update_batch(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        self.levels[0] = np.concatenate([self.levels[0], v])
        self.n += len(v)
        self._compact()

    def merge(self, other: "KLL") -> "KLL":
        if other.k != self.k:
            raise ValueError("KLL merge k mismatch")
        for h, buf in enumerate(other.levels):
            while h >= len(self.levels):
                self.levels.append(np.empty(0))
            self.levels[h] = np.concatenate([self.levels[h], buf])
        self.n += other.n
        self._compact()
        return self

    def quantile(self, ps) -> np.ndarray:
        items = []
        weights = []
        for h, buf in enumerate(self.levels):
            if len(buf):
                items.append(buf)
                weights.append(np.full(len(buf), 2.0 ** h))
        if not items:
            return np.full(np.shape(ps), np.nan)
        x = np.concatenate(items)
        w = np.concatenate(weights)
        order = np.argsort(x, kind="stable")
        x, w = x[order], w[order]
        return x[nearest_rank(np.cumsum(w), np.atleast_1d(ps))]

    def rank(self, q: float) -> float:
        num = 0.0
        for h, buf in enumerate(self.levels):
            num += (2.0 ** h) * np.count_nonzero(buf <= q)
        tot = sum((2.0 ** h) * len(b) for h, b in enumerate(self.levels))
        return num / tot if tot else float("nan")

    def serialize(self) -> bytes:
        head = _MAGIC + struct.pack("<IqBI", self.k, self.n, self.flip, len(self.levels))
        parts = [head]
        for buf in self.levels:
            parts.append(struct.pack("<I", len(buf)))
            parts.append(np.sort(buf).astype("<f8").tobytes())
        return b"".join(parts)

    @classmethod
    def deserialize(cls, data: bytes, **_: object) -> "KLL":
        if data[:4] != _MAGIC:
            raise ValueError("KLL: bad magic")
        if len(data) < 4 + struct.calcsize("<IqBI"):
            raise ValueError(f"KLL blob too short: {len(data)} bytes")
        k, n, flip, nl = struct.unpack_from("<IqBI", data, 4)
        out = cls(k=k)
        out.n, out.flip = n, flip
        off = 4 + struct.calcsize("<IqBI")
        out.levels = []
        for _ in range(nl):
            if len(data) < off + 4:
                raise ValueError("KLL blob truncated in level header")
            (cnt,) = struct.unpack_from("<I", data, off)
            off += 4
            if len(data) < off + 8 * cnt:
                raise ValueError("KLL blob truncated in level payload")
            out.levels.append(np.frombuffer(data[off : off + 8 * cnt], dtype="<f8").copy())
            off += 8 * cnt
        if off != len(data):
            raise ValueError(f"KLL trailing bytes: {len(data) - off}")
        if not out.levels:
            out.levels = [np.empty(0)]
        return out

    def finish(self) -> "KLL":
        return self
