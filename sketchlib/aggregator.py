"""The shared mergeable-Aggregator interface (north rule: "under one Aggregator
interface").

Every sketch in this library — t-digest, HLL++, count-min, KLL, Bloom — is a
commutative mergeable summary exposing the same lifecycle, which is exactly
the contract Spark's two-phase aggregation needs:

    zero() → update_batch(values) ...    (map side, per Arrow batch)
    serialize() → shuffle →              (16B/centroid binary etc.)
    merge_blobs(acc, blobs) ...          (reduce side, per key and batch)
    finish_merge() → serialize()         (once per merged key)
    finish()                             (final compress / estimate)

and, for many keys at once, the segment pair:

    build_segments(values, starts)       (map side: one partial per key)
    merge_segments(blobs, starts)        (reduce side: one merged sketch per key)

Both take every key's input back to back, sorted by key, with ``starts``
marking where each key's run begins.  Their defaults are the per-object
loop above run on each segment, so a family that does not override them
behaves exactly as one sketch object per key.  ``MergingDigest`` and
``HLL`` override both with one numpy pass over all keys, byte-identical to
the loop.  An override may answer None for a segment whose bytes depend on
how its input was split into Arrow batches (a t-digest key that fills its
ingest buffer, fractional t-digest weights); the caller then feeds that key
batch by batch through the per-object loop.

``sketchlib.spark.sketch_ops`` lifts any registered Aggregator into the
DataFrame-level partial/merge kernel (mapInArrow partials, one shuffle,
then a mapInArrow accumulator merge — or ``groupBy().applyInPandas`` for
the MB-scale Bloom/CMS states).  It calls the segment pair once per spec
and partition for the families that override them.
"""

from __future__ import annotations

import abc
from typing import Any, Iterable, Sequence

import numpy as np


def segment_ids(starts: Sequence[int], n: int) -> np.ndarray:
    """The segment of each of ``n`` elements whose runs begin at ``starts``."""
    starts = np.asarray(starts, dtype=np.intp)
    return np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n]))


def narrow_codes(codes: np.ndarray, k: int) -> np.ndarray:
    """``codes`` (all < k) in the narrowest signed integer type: numpy's
    stable argsort is a radix sort for 16-bit integers."""
    return codes.astype(np.int16 if k < 2**15 else np.int32 if k < 2**31
                        else np.int64, copy=False)


class Aggregator(abc.ABC):
    """A mergeable sketch aggregator: a commutative monoid with batch updates."""

    __slots__ = ()

    @classmethod
    @abc.abstractmethod
    def zero(cls, **params: Any) -> "Aggregator":
        """The monoid identity under the given parameters."""

    @abc.abstractmethod
    def update_batch(self, values: np.ndarray) -> None:
        """Absorb a vector of values (Arrow batch column → numpy). Vectorized."""

    @abc.abstractmethod
    def merge(self, other: "Aggregator") -> "Aggregator":
        """In-place merge with another aggregator of identical parameters."""

    @abc.abstractmethod
    def serialize(self) -> bytes:
        """Stable wire format; concat/merge-safe per sketch's documented law."""

    @classmethod
    @abc.abstractmethod
    def deserialize(cls, data: bytes, **params: Any) -> "Aggregator":
        """Inverse of serialize under the same parameters."""

    @abc.abstractmethod
    def finish(self) -> Any:
        """Final answer (estimate, digest bytes, bitset...) for this sketch."""

    @classmethod
    def merge_blobs(cls, acc: "Aggregator | None", blobs: Iterable[bytes],
                    **params: Any) -> "Aggregator":
        """Fold serialized sketches into ``acc`` and return it; ``acc=None``
        starts from the first blob.  The merge phase calls this once per
        key per Arrow batch, so a family whose wire format has a cheaper
        union overrides it."""
        for b in blobs:
            s = cls.deserialize(b, **params)
            acc = s if acc is None else acc.merge(s)
        return acc

    def finish_merge(self) -> "Aggregator":
        """Runs once on each merged sketch before it is serialized."""
        return self

    @classmethod
    def build_segments(cls, values: np.ndarray, starts: np.ndarray,
                       **params: Any) -> list[bytes | None]:
        """One serialized partial per key.  Key i's values are
        ``values[starts[i]:starts[i + 1]]`` (the last run ends at
        ``len(values)``; a run may be empty), in arrival order.  uint64
        values are pre-hashed and go to ``update_hashed``, every other
        dtype to ``update_batch``.  This default is the per-object loop: a
        fresh sketch per run, one update, ``serialize()``.  An override
        returns the same bytes, or None for a run whose bytes would depend
        on its Arrow batch boundaries."""
        out = []
        for v in np.split(values, np.asarray(starts)[1:]) if len(starts) else ():
            agg = cls(**params)
            (agg.update_hashed if v.dtype == np.uint64 else agg.update_batch)(v)
            out.append(agg.serialize())
        return out

    @classmethod
    def merge_segments(cls, blobs: Sequence[bytes], starts: np.ndarray,
                       **params: Any) -> list[bytes | None]:
        """One merged, finished sketch per key.  Key i's serialized
        sketches are ``blobs[starts[i]:starts[i + 1]]`` (never empty).
        This default is the per-object loop: ``merge_blobs`` of the run,
        ``finish_merge()``, ``serialize()``.  An override returns the same
        bytes, or None for a run whose bytes would depend on the Arrow
        batches its blobs arrived in."""
        ends = [*np.asarray(starts)[1:].tolist(), len(blobs)]
        return [cls.merge_blobs(None, blobs[a:b], **params).finish_merge().serialize()
                for a, b in zip(np.asarray(starts).tolist(), ends)]
