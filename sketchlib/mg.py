"""Misra–Gries frequent-items summary, from scratch (Misra & Gries 1982
"Finding repeated elements"; merge rule from Agarwal, Cormode, Huang,
Phillips, Wei & Yi 2012 "Mergeable summaries", §3).

The missing member of the sketch family for a training-data pipeline:
HLL answers "how many distinct", CMS answers "how often is THIS one",
Misra–Gries answers "WHICH items are frequent" without knowing them in
advance — top domains, top templates, top licence strings at 100 TB with
``m`` counters of state.

State: at most ``m`` (item → count) counters plus the total ingested
weight ``n``.  The published mergeable merge (used here for BOTH batch
update and sketch merge — a batch is just an exact sub-sketch):

    sum counters item-wise; if more than m survive, subtract the
    (m+1)-th largest count from every counter and drop the non-positive.

Guarantees (Agarwal et al. 2012, Theorem 1 — preserved under ANY merge
tree, which is what makes the Spark two-phase plan sound):

- underestimate only: ``0 <= true(x) − est(x)`` for every item
  (``est(x)=0`` when absent),
- bounded error: ``true(x) − est(x) <= n/(m+1)``,
- retention: every item with ``true(x) > n/(m+1)`` is in the summary,
- EXACT while unsaturated: if at most ``m`` distinct items ever meet at
  each merge, the subtrahend is always 0 and counts are exact — the
  correctness-gate mode (the same trick as CMS-at-full-width: the gated
  query proves the plan, pytest proves the saturated bounds).

Unlike SpaceSaving's per-item eviction loop, the batch-as-sub-sketch
formulation is fully vectorized: one value_counts + one concat-groupby-sum
+ one partition per batch (numpy/pandas, no per-row Python) — the shape
the input_hint mandates.
"""

from __future__ import annotations

import struct
from typing import TYPE_CHECKING

import numpy as np

from sketchlib.aggregator import Aggregator

if TYPE_CHECKING:
    import pandas as pd

_MAGIC = b"MG01"


class MisraGries(Aggregator):
    __slots__ = ("m", "counts", "n")

    def __init__(self, m: int = 64) -> None:
        if m < 1:
            raise ValueError(f"MisraGries: m must be >= 1, got {m}")
        import pandas as pd  # on use: importing this module stays pandas-free

        self.m = int(m)
        self.counts: pd.Series = pd.Series(dtype="int64")  # item(str) -> count
        self.n = 0  # total ingested weight

    @classmethod
    def zero(cls, m: int = 64) -> "MisraGries":
        return cls(m=m)

    # -- core mergeable reduction ------------------------------------------
    def _absorb(self, other_counts: pd.Series, other_n: int) -> None:
        if len(other_counts):
            if len(self.counts):
                import pandas as pd

                s = pd.concat([self.counts, other_counts])
                s = s.groupby(level=0, sort=False).sum()
            else:
                s = other_counts
            if len(s) > self.m:
                # subtract the (m+1)-th largest count from EVERY counter,
                # keep positive — the Agarwal et al. merge (their Theorem 1
                # proof charges each unit of subtraction to m+1 destroyed
                # count units), vectorized
                kth = np.partition(s.to_numpy(), len(s) - self.m - 1)[
                    len(s) - self.m - 1
                ]
                s = s - kth
                s = s[s > 0]
            self.counts = s
        self.n += int(other_n)

    def update_batch(self, values: np.ndarray) -> None:
        import pandas as pd

        vals = pd.Series(values)
        vals = vals[vals.notna()]
        if len(vals) == 0:
            return
        self._absorb(vals.value_counts(sort=False), len(vals))

    def merge(self, other: "MisraGries") -> "MisraGries":
        if other.m != self.m:
            raise ValueError(f"MisraGries merge m mismatch: {self.m} vs {other.m}")
        self._absorb(other.counts, other.n)
        return self

    # -- queries ------------------------------------------------------------
    def estimate(self, item: str) -> int:
        """Lower-bound count estimate (0 if untracked)."""
        return int(self.counts.get(item, 0))

    def error_bound(self) -> float:
        """Max possible undercount: n/(m+1)."""
        return self.n / (self.m + 1)

    def items(self) -> list[tuple[str, int]]:
        """(item, est) sorted by est desc then item asc — deterministic."""
        s = self.counts.sort_index().sort_values(
            ascending=False, kind="stable"
        )
        return [(str(k), int(v)) for k, v in s.items()]

    def finish(self) -> list[tuple[str, int]]:
        return self.items()

    # -- wire ----------------------------------------------------------------
    def serialize(self) -> bytes:
        items = self.items()
        parts = [_MAGIC, struct.pack("<IQI", self.m, self.n, len(items))]
        for k, v in items:
            kb = k.encode("utf-8")
            parts.append(struct.pack("<Iq", len(kb), v))
            parts.append(kb)
        return b"".join(parts)

    @classmethod
    def deserialize(cls, data: bytes, m: int | None = None) -> "MisraGries":
        if data[:4] != _MAGIC:
            raise ValueError("MisraGries: bad magic")
        if len(data) < 4 + 16:
            raise ValueError(f"MisraGries blob too short: {len(data)} bytes")
        m_wire, n, cnt = struct.unpack_from("<IQI", data, 4)
        if m is not None and m != m_wire:
            raise ValueError(f"MisraGries: m mismatch {m} vs wire {m_wire}")
        import pandas as pd

        out = cls(m=m_wire)
        off = 4 + 16
        keys, vals = [], []
        for _ in range(cnt):
            if len(data) < off + 12:
                raise ValueError("MisraGries blob truncated in entry header")
            klen, v = struct.unpack_from("<Iq", data, off)
            off += 12
            if len(data) < off + klen:
                raise ValueError("MisraGries blob truncated in key bytes")
            keys.append(str(data[off:off + klen], "utf-8"))
            off += klen
            vals.append(v)
        out.counts = pd.Series(vals, index=keys, dtype="int64")
        out.n = int(n)
        return out
