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

``sketchlib.spark.sketch_ops`` lifts any registered Aggregator into the
DataFrame-level partial/merge kernel (mapInPandas partials, one shuffle,
then a mapInPandas accumulator merge — or ``groupBy().applyInPandas`` for
the MB-scale Bloom/CMS states).
"""

from __future__ import annotations

import abc
from typing import Any, Iterable

import numpy as np


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
