"""The two-phase sketch kernel: every registered Aggregator (t-digest, HLL++,
CMS, Bloom, KLL, KMV, Misra-Gries, DDSketch) is built by the same plan.

A *spec* names one sketch to build::

    {"name": "digest", "kind": "tdigest", "col": "n_chars",
     "params": {"delta": 0.01}}

plus optional ``value_fn`` + ``input_cols`` (compute the values in the
Python stage from raw columns instead of reading ``col``), ``weight_col``
(t-digest weights), ``params_by_key`` (per-key constructor overrides) and
``metrics`` (an object whose ``add_from(sketch)`` sees every emitted
sketch).  Kernel rows are wide: one row per key with one binary column per
spec, named by the spec.

  ``partials(df, keys, specs)`` — one JVM-side projection per spec (the
      family's ingest rule in ``_INGEST``), then ONE ``mapInArrow`` that
      emits one row per (input partition × key).  No shuffle; no per-row
      Python.
  ``merge(partials, keys, specs)`` — ONE Exchange on the keys, then a
      ``mapInArrow`` accumulator emitting one merged row per key, for
      every family (a worker holds one merged sketch per co-located key
      plus one Arrow batch).  A (key, spec) that received no sketch merges
      to NULL.
  ``tree_merge(partials, keys, specs, fanin)`` — salted intermediate merge
      levels that bound every reducer's fan-in (see ``spark/plan.py``).

Both ``mapInArrow`` stages take and yield ``pa.RecordBatch``es and never
import pandas.  Values are numpy views of the Arrow buffers.  A
``value_fn`` is ``pa.RecordBatch -> np.ndarray``: it gets the batch of its
``input_cols`` as it is and returns one value per row (a numeric family
drops NaN, like a NULL), so a worker imports pandas only if a ``value_fn``
converts the batch itself (``data.extract.extract_len_series`` reads html
straight from the Arrow buffers).

Every row gets a partition-wide key code (one Arrow ``dictionary_encode``
per key column; the NULL key and a key spread over several Arrow batches
stay one group), and the output key columns are ``take``s of the input's
own key values, so a timestamp key never depends on the session time zone.
Each output blob column is one data buffer plus int32 offsets, and the
merge reads its blobs as memoryviews into the input's data buffer.

A spec whose family overrides the segment pair
(``Aggregator.build_segments`` / ``merge_segments``: the t-digest and HLL)
keeps each batch's (code, value) or (code, blob) arrays and makes ONE
segment call per partition that builds or merges every key at once.  The
per-object loop — one sketch per key fed batch by batch, ``update`` /
``merge_blobs`` then ``serialize`` / ``finish_merge`` — runs instead for
the other families, for specs with ``params_by_key``, ``metrics`` or
``weight_col``, for each key the segment call answers None for, and for
the rest of a partition whose kept arrays pass ``_RETAIN_BYTES``.  Either
way the bytes are the per-object loop's.

The shuffle therefore carries one serialized sketch per (partition × key ×
spec), never raw rows.  The one-sketch APIs (``sketch_*`` here,
``tdigest_*`` in ``tdigest_ops``), the long-format ``profile_*``, the
checkpointer, the streaming operators and the SQL aggregates
(``spark/sql.py``) are thin wrappers over these.  Every query UDF over the
stored sketch columns (estimates, quantiles, wire, the SQL query
functions) is one ``_blob_udf``: an Arrow UDF, so importing this module,
``tdigest_ops`` or ``sql`` imports no pandas.

Ingest rules: hash families project ``xxhash64(value)`` JVM-side
(whole-stage codegen, no Python string hashing) and ingest int64 through
``update_hashed`` — the pre-hash is remixed with the sketch seed so query
paths agree (``query_hashed``/``contains_hashed``); Misra-Gries ingests the
raw string because it must report items back; the numeric families ingest
doubles and drop NaN.  NULL values are never ingested.
"""

from __future__ import annotations

import math
from functools import partial
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sketchlib.aggregator import Aggregator, narrow_codes
from sketchlib.bloom import Bloom
from sketchlib.cms import CMS
from sketchlib.ddsketch import DDSketch
from sketchlib.hll import HLL
from sketchlib.kll import KLL
from sketchlib.kmv import KMV
from sketchlib.mg import MisraGries
from sketchlib.tdigest.core import MergingDigest

SKETCHES = {"tdigest": MergingDigest, "hll": HLL, "cms": CMS, "bloom": Bloom,
            "kll": KLL, "kmv": KMV, "mg": MisraGries, "dd": DDSketch}
#: how each family ingests a column; every other family reads doubles
_INGEST = {"hll": "hash", "cms": "hash", "bloom": "hash", "kmv": "hash",
           "mg": "raw"}


def _norm_key(key) -> tuple:
    return key if isinstance(key, tuple) else (key,)


#: retained input per spec and partition on the segment path, in bytes;
#: past it the partition finishes on the per-object loop, whose memory each
#: family's own buffers bound
_RETAIN_BYTES = 1 << 23

# ---------------------------------------------------------------------------
# Arrow <-> numpy without pandas.  ``Array.to_numpy``, ``np.asarray(array)``,
# ``pa.array(<list or ndarray>)`` and ``pa.scalar`` all import pandas into
# the Python worker; reading and building buffers directly does not.
# ---------------------------------------------------------------------------


def _np(arr: pa.Array, dtype) -> np.ndarray:
    """A fixed-width array's values as a read-only numpy view of its data
    buffer (a NULL slot holds whatever the buffer holds there)."""
    if not len(arr):
        return np.empty(0, dtype=dtype)
    return np.frombuffer(arr.buffers()[1], dtype=dtype,
                         count=arr.offset + len(arr))[arr.offset:]


def _bits(buf: pa.Buffer, offset: int, n: int) -> np.ndarray:
    """``n`` booleans of an Arrow bitmap, from bit ``offset``."""
    if not n:
        return np.zeros(0, dtype=bool)
    raw = np.frombuffer(buf, dtype=np.uint8, count=(offset + n + 7) // 8)
    return np.unpackbits(raw, count=offset + n, bitorder="little")[offset:].view(bool)


def _nulls(arr: pa.Array) -> np.ndarray | None:
    """The NULL mask of ``arr``; None when it holds no NULL."""
    if not arr.null_count:
        return None
    return ~_bits(arr.buffers()[0], arr.offset, len(arr))


def _doubles(arr: pa.Array) -> np.ndarray:
    """float64 values with NULL as NaN."""
    if arr.type != pa.float64():
        arr = arr.cast(pa.float64(), safe=False)
    vals, null = _np(arr, np.float64), _nulls(arr)
    return vals if null is None else np.where(null, np.nan, vals)


def _binary(blobs: list) -> pa.Array:
    """One binary column (NULL for None): every blob copied once into one
    data buffer, int32 offsets."""
    n = len(blobs)
    size = np.fromiter((0 if b is None else len(b) for b in blobs), dtype=np.int64, count=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(size, out=offsets[1:])
    if offsets[-1] >= 2**31:
        raise ValueError(f"{offsets[-1]} bytes of sketches in one batch: over the "
                         "2 GiB a binary column holds")
    valid = np.fromiter((b is not None for b in blobs), dtype=bool, count=n)
    nulls = n - int(valid.sum())
    return pa.Array.from_buffers(
        pa.binary(), n,
        [pa.py_buffer(np.packbits(valid, bitorder="little")) if nulls else None,
         pa.py_buffer(offsets.astype(np.int32)),
         pa.py_buffer(b"".join(filter(None, blobs)))],
        null_count=nulls)


def _blobs(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, int]:
    """(rows, blobs, bytes) of a binary column's non-NULL rows: each blob a
    memoryview into the column's one data buffer, nothing copied."""
    if not len(arr):
        return np.zeros(0, dtype=np.intp), np.zeros(0, dtype=object), 0
    wide = pa.types.is_large_binary(arr.type)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64 if wide else np.int32,
                         count=arr.offset + len(arr) + 1)[arr.offset:]
    null = _nulls(arr)
    rows = np.arange(len(arr)) if null is None else np.flatnonzero(~null)
    lo, hi = offs[rows], offs[rows + 1]
    data = memoryview(arr.buffers()[2] or b"")
    blobs = np.fromiter((data[a:b] for a, b in zip(lo.tolist(), hi.tolist())),
                        dtype=object, count=len(rows))
    return rows, blobs, int((hi - lo).sum())


_NAN = float("nan")


class _KeyCodes:
    """Partition-wide key codes: each distinct key tuple gets the next
    integer when it first appears.  The keys new to a batch are numbered
    by each key column's order of first appearance, leftmost column first
    (one Arrow ``dictionary_encode`` per column), so rows come out in the
    order they always had.  A NULL key value is None and every NaN is one
    value, so NULL and NaN keys are one group each in every Arrow batch.
    ``tuples`` holds each code's key values; ``columns()`` takes each key
    column's rows from the batches where the keys first appeared, so key
    values leave the stage as they came in."""

    def __init__(self, keys: list[str]) -> None:
        self.keys = keys
        self.code: dict[tuple, int] = {}
        self.tuples: list[tuple] = []
        self._rows: list[list[pa.Array]] = []

    def __call__(self, batch: pa.RecordBatch) -> np.ndarray:
        """The key code of every row of one batch: one ``dictionary_encode``
        per key column, one dict lookup per distinct key of the batch."""
        if not self.keys:
            self._code(())
            return np.zeros(batch.num_rows, dtype=np.intp)
        gid, cols = None, []
        for k in self.keys:
            enc = pc.dictionary_encode(batch.column(k), null_encoding="encode")
            c = _np(enc.indices, np.int32).astype(np.intp)
            cols.append((c, enc.dictionary))
            if gid is None:
                gid = c
            else:  # lexicographic in the column codes, kept dense
                gid = np.unique(gid * len(enc.dictionary) + c, return_inverse=True)[1]
        if len(cols) == 1 and len(gid):
            # codes number values in order of first appearance, so each
            # one's first row is where the running max of gid steps up
            top = np.maximum.accumulate(gid)
            first = np.flatnonzero(np.r_[True, top[1:] != top[:-1]])
        else:
            first = np.unique(gid, return_index=True)[1]
        values = []
        for c, u in cols:
            py = u.to_pylist()
            if pa.types.is_floating(u.type):
                py = [_NAN if x != x else x for x in py]
            values.append([py[i] for i in c[first].tolist()])
        known = len(self.tuples)
        lut = np.fromiter(map(self._code, zip(*values)), dtype=np.intp, count=len(first))
        new = first[lut >= known]
        if len(new):
            rows = pa.Array.from_buffers(pa.int64(), len(new),
                                         [None, pa.py_buffer(new.astype(np.int64))])
            self._rows.append([batch.column(k).take(rows) for k in self.keys])
        return lut[gid]

    def _code(self, key: tuple) -> int:
        code = self.code.get(key)
        if code is None:
            code = self.code[key] = len(self.tuples)
            self.tuples.append(key)
        return code

    def columns(self) -> list[pa.Array]:
        """Each key column, one row per code."""
        return [pa.concat_arrays([rows[i] for rows in self._rows])
                for i in range(len(self.keys))]


def _runs(codes: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Rows grouped by code, in arrival order within each code: the rows
    of code c are ``order[start[c]:start[c] + count[c]]``."""
    order = np.argsort(narrow_codes(codes, k), kind="stable")
    count = np.bincount(codes, minlength=k)
    return order, np.cumsum(count) - count, count


class _Partition:
    """One spec's input over one partition.  On the segment path it keeps
    each Arrow batch as a chunk of (key codes, value arrays) for ONE
    segment call at the end of the partition (``finish``).  ``feed(agg,
    code, *values)`` is the per-object loop: it folds one key's slice of
    one batch into that key's sketch.  It runs every batch when the family
    has no segment path, replays the keys the segment call answers None
    for, and takes over the whole partition once the chunks outgrow
    ``_RETAIN_BYTES`` — each time batch by batch, as the loop always ran."""

    def __init__(self, feed, segmented: bool) -> None:
        self.feed = feed
        self.chunks: list | None = [] if segmented else None
        self.size = 0
        self.aggs: dict[int, object] = {}

    def add(self, codes: np.ndarray, values: tuple, size: int, k: int) -> None:
        if self.chunks is None:
            self._replay([(codes, values)], k)
            return
        self.chunks.append((codes, values))
        self.size += size
        if self.size > _RETAIN_BYTES:
            self._replay(self.chunks, k)
            self.chunks = None

    def _replay(self, chunks: list, k: int, want: np.ndarray | None = None) -> None:
        for codes, values in chunks:
            if want is not None:
                sel = want[codes]
                codes, values = codes[sel], tuple(v[sel] for v in values)
            order, start, count = _runs(codes, k)
            for c in np.flatnonzero(count).tolist():
                idx = order[start[c]:start[c] + count[c]]
                self.aggs[c] = self.feed(self.aggs.get(c), c, *(v[idx] for v in values))

    def finish(self, segments, k: int, skip_empty: bool) -> list:
        """One entry per key code: the bytes ``segments(*values, starts)``
        gave that key, or None — then the key's sketch, if it has one, is
        in ``aggs``.  ``skip_empty`` leaves keys without input out of the
        call (merge runs are never empty)."""
        out: list = [None] * k
        if not self.chunks:
            return out
        order, start, count = _runs(np.concatenate([c for c, _ in self.chunks]), k)
        values = [np.concatenate(v)[order] for v in zip(*(v for _, v in self.chunks))]
        todo = np.flatnonzero(count) if skip_empty else np.arange(k)
        want = np.zeros(k, dtype=bool)
        for c, blob in zip(todo.tolist(), segments(*values, start[todo])):
            out[c] = blob
            want[c] = blob is None
        if want.any():
            self._replay(self.chunks, k, want)
        return out


class _Spec:
    """One validated spec with its family's ingest rule."""

    def __init__(self, spec: dict, i: int) -> None:
        self.name, self.kind = spec["name"], spec["kind"]
        if self.kind not in SKETCHES:
            raise ValueError(f"unknown sketch kind {self.kind!r} in spec {self.name!r}")
        self.cls = SKETCHES[self.kind]
        self.params = dict(spec.get("params") or {})
        self.col = spec.get("col")
        self.value_fn = spec.get("value_fn")
        self.input_cols = list(spec.get("input_cols") or [])
        self.weight_col = spec.get("weight_col")
        self.params_by_key = spec.get("params_by_key")
        self.metrics = spec.get("metrics")
        self.rule = "fn" if self.value_fn is not None else _INGEST.get(self.kind, "double")
        self._v, self._m, self._w = f"_v{i}", f"_m{i}", f"_w{i}"
        # the families overriding the segment pair take it, except where
        # the per-object loop alone defines the bytes: per-key params, a
        # per-object metrics hook, weighted input
        base = Aggregator.build_segments.__func__, Aggregator.merge_segments.__func__
        self.build_segmented = (self.cls.build_segments.__func__ is not base[0]
                                and self.metrics is None and self.params_by_key is None
                                and self.weight_col is None)
        self.merge_segmented = (self.cls.merge_segments.__func__ is not base[1]
                                and self.metrics is None)

    def columns(self) -> list[tuple[str, object]]:
        """The JVM-side projection: (name, Column) pairs."""
        c = self.col
        if self.rule == "fn":
            cols = [(n, F.col(n)) for n in self.input_cols]
        elif self.rule == "hash":
            # xxhash64(NULL) is the seed (42), not NULL, so the NULL mask
            # rides as a separate boolean column — a nullable int64 would
            # cross Arrow→pandas as float64 and mangle the hash low bits
            cols = [(self._v, F.xxhash64(c)), (self._m, F.col(c).isNull())]
        elif self.rule == "raw":
            cols = [(self._v, F.col(c).cast("string"))]
        else:
            cols = [(self._v, F.col(c).cast("double"))]
        if self.weight_col:
            cols.append((self._w, F.col(self.weight_col).cast("double")))
        return cols

    def values(self, batch):
        """(values, NULL mask or None, weights or None) of one Arrow batch
        of the ``columns`` projection (a ``pa.RecordBatch``, or a mapping of
        those column names to arrays), read from its buffers.  A
        ``value_fn`` gets the ``pa.RecordBatch`` of its ``input_cols`` as it
        is and returns a numpy array of the values."""
        mask = None
        if self.rule == "fn":
            cols = pa.RecordBatch.from_arrays([batch[c] for c in self.input_cols],
                                              names=self.input_cols)
            vals = np.asarray(self.value_fn(cols), dtype="float64")
        elif self.rule == "hash":
            m = batch[self._m]
            mask = _bits(m.buffers()[1], m.offset, len(m))
            vals = _np(batch[self._v], np.uint64)
        elif self.rule == "raw":
            col = batch[self._v]
            vals = np.fromiter(col.to_pylist(), dtype=object, count=len(col))
            mask = _nulls(col)
        else:  # NaN/NULL are dropped by the numeric families' update_batch
            vals = _doubles(batch[self._v])
        wts = _doubles(batch[self._w]) if self.weight_col else None
        return vals, (mask if mask is not None and mask.any() else None), wts

    def update(self, agg, vals, mask, wts, idx) -> None:
        v = vals[idx]
        if mask is not None:
            v = v[~mask[idx]]
        if self.rule == "hash":
            agg.update_hashed(v)
        elif wts is not None:
            agg.update_batch(v, wts[idx])
        else:
            agg.update_batch(v)

    def new(self, key: tuple = ()):
        pbk = self.params_by_key
        if pbk is None:
            return self.cls(**self.params)
        over = pbk.value if hasattr(pbk, "value") else pbk
        return self.cls(**{**self.params, **over.get(key, {})})

    def restore(self, blob: bytes | None):
        """A sketch holding ``blob`` (a fresh one for None) — streaming state."""
        return self.cls.merge_blobs(None, [blob], **self.params) if blob else self.new()

    def blob(self, agg, merged: bool) -> bytes | None:
        if agg is None:
            return None
        if merged:
            agg.finish_merge()
        out = agg.serialize()
        if self.metrics is not None:
            self.metrics.add_from(agg)
        return out


def _specs(specs: list[dict], keys: list[str]) -> list[_Spec]:
    names = [s["name"] for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names: {names}")
    if set(names) & set(keys):
        raise ValueError(f"spec names {sorted(set(names) & set(keys))} are also keys")
    return [_Spec(s, i) for i, s in enumerate(specs)]


def _project(df: DataFrame, keys: list[str], specs: list[_Spec]) -> DataFrame:
    """Narrow projection feeding the partial builder: keys plus each spec's
    ingest columns, so parquet column pruning happens before Python."""
    cols = dict.fromkeys(keys)
    for s in specs:
        for name, c in s.columns():
            cols.setdefault(name, c.alias(name))
    return df.select(*(c if c is not None else F.col(n) for n, c in cols.items()))


def _schema(frame: DataFrame, keys: list[str], specs: list[_Spec]) -> StructType:
    return StructType(
        [StructField(k, frame.schema[k].dataType, True) for k in keys]
        + [StructField(s.name, BinaryType(), True) for s in specs]
    )


def _frame(keys: list[str], specs: list[_Spec], codes_of: _KeyCodes,
           blobs: list[list]) -> pa.RecordBatch:
    """Kernel rows: one per key code, one binary column per spec."""
    return pa.RecordBatch.from_arrays(
        [*codes_of.columns(), *map(_binary, blobs)],
        names=[*keys, *(s.name for s in specs)])


def _partial_builder(keys: list[str], specs: list[_Spec]):
    """The per-partition partial builder over ``_project``ed Arrow batches:
    one ``build_segments`` call per spec at the end of the partition, or
    the per-object loop (``_Partition``)."""

    def build(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        codes_of = _KeyCodes(keys)

        def feeder(s: _Spec):
            def feed(agg, code, v, w=None):
                agg = s.new(codes_of.tuples[code]) if agg is None else agg
                s.update(agg, v, None, w, slice(None))
                return agg
            return feed

        parts = [_Partition(feeder(s), s.build_segmented) for s in specs]
        for batch in batches:
            codes = codes_of(batch)
            k = len(codes_of.tuples)
            for s, part in zip(specs, parts):
                vals, mask, wts = s.values(batch)
                keep = slice(None) if mask is None else ~mask  # NULLs never ingested
                values = (vals[keep],) if wts is None else (vals[keep], wts[keep])
                part.add(codes[keep], values,
                         codes[keep].nbytes + sum(v.nbytes for v in values), k)
        if codes_of.tuples:
            k, tuples = len(codes_of.tuples), codes_of.tuples
            blobs = []
            for s, part in zip(specs, parts):
                out = part.finish(partial(s.cls.build_segments, **s.params), k,
                                  skip_empty=False)
                blobs.append([
                    b if b is not None else
                    s.blob(part.aggs[c] if c in part.aggs else s.new(tuples[c]), merged=False)
                    for c, b in enumerate(out)])
            yield _frame(keys, specs, codes_of, blobs)

    return build


def partials(df: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Phase 1: one row per (input partition × key), one binary column per
    spec."""
    from sketchlib.spark.shipping import ensure_on_workers

    ensure_on_workers(df.sparkSession)
    sp = _specs(specs, keys)
    narrow = _project(df, keys, sp)
    return narrow.mapInArrow(_partial_builder(keys, sp), schema=_schema(narrow, keys, sp))


def merge(partials: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Phase 2: merge the partial rows of each key (module docstring)."""
    from sketchlib.spark.shipping import ensure_on_workers

    ensure_on_workers(partials.sparkSession)
    sp = _specs(specs, keys)
    schema = _schema(partials, keys, sp)

    def merge_stream(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        codes_of = _KeyCodes(keys)

        def feeder(s: _Spec):
            def feed(agg, code, blobs):
                return s.cls.merge_blobs(agg, blobs, **s.params)
            return feed

        parts = [_Partition(feeder(s), s.merge_segmented) for s in sp]
        for batch in batches:
            codes = codes_of(batch)
            for s, part in zip(sp, parts):
                rows, blobs, size = _blobs(batch.column(s.name))
                part.add(codes[rows], (blobs,), size, len(codes_of.tuples))
        if codes_of.tuples:
            k = len(codes_of.tuples)
            blobs = []
            for s, part in zip(sp, parts):
                out = part.finish(partial(s.cls.merge_segments, **s.params), k,
                                  skip_empty=True)
                blobs.append([
                    b if b is not None else
                    s.blob(part.aggs[c], merged=True) if c in part.aggs else None
                    for c, b in enumerate(out)])
            yield _frame(keys, sp, codes_of, blobs)

    shuffled = partials.repartition(*keys) if keys else partials.repartition(1)
    return shuffled.mapInArrow(merge_stream, schema=schema)


def tree_merge(partials: DataFrame, keys: list[str], specs: list[dict],
               fanin: int = 64) -> DataFrame:
    """``merge`` with every reducer's fan-in bounded by ``fanin``: salted
    intermediate merge levels sized from the largest per-key partial count
    (one aggregation over the small partials frame).  The salt is a hash of
    the sketch bytes — uniform, reproducible, no RNG."""
    cnt = partials.groupBy(*keys).count().agg(F.max("count")).collect()[0][0]
    levels = max(0, math.ceil(math.log(max(int(cnt or 1), 1), fanin)) - 1)
    blobs = [F.col(s["name"]) for s in specs]
    n_salts = fanin ** levels
    while n_salts > 1:
        salt = F.pmod(F.xxhash64(*blobs), F.lit(n_salts)).cast("int")
        partials = merge(partials.withColumn("_salt", salt), keys + ["_salt"],
                         specs).drop("_salt")
        n_salts //= fanin
    return merge(partials, keys, specs)


# ---------------------------------------------------------------------------
# One-sketch wrappers: the spec is named "sketch"
# ---------------------------------------------------------------------------


def _sketch(sketch: str, params: dict | None, **kw) -> list[dict]:
    return [{"name": "sketch", "kind": sketch, "params": params, **kw}]


def sketch_partials(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    sketch: str,
    params: dict | None = None,
    params_by_key=None,
) -> DataFrame:
    """Phase 1 for one sketch: keys + a ``sketch`` binary column.

    ``params_by_key``: optional per-group constructor overrides — a dict
    (or ``sparkContext.broadcast`` of one, preferred when the key domain is
    large) mapping the normalized key tuple to a params patch, e.g.
    ``{("cnn.com",): {"expected_n": 48211}}``.  Lets each group's sketch be
    sized to ITS cardinality instead of the global row count — without it,
    S Bloom groups each carry m ≈ n_total·9.6 bits and the collected filter
    set is S× larger than needed (the 100-TB failure mode)."""
    return partials(df, keys, _sketch(sketch, params, col=value_col,
                                      params_by_key=params_by_key))


def sketch_merge(
    partials: DataFrame,
    keys: list[str],
    sketch: str,
    params: dict | None = None,
) -> DataFrame:
    """Phase 2 for one sketch: the kernel ``merge`` over the ``sketch``
    column."""
    return merge(partials, keys, _sketch(sketch, params))


def sketch_aggregate(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    sketch: str,
    params: dict | None = None,
    params_by_key=None,
) -> DataFrame:
    return sketch_merge(
        sketch_partials(df, keys, value_col, sketch, params, params_by_key),
        keys, sketch, params,
    )


# ---------------------------------------------------------------------------
# Query UDFs over sketch columns.  Post-aggregation only: they loop over
# sketch rows in Python, never over row-scale data.
# ---------------------------------------------------------------------------


def _blob_udf(rtype: DataType, fn, null=None, check=None):
    """``(blob, arg...) -> rtype``: ``fn(blob bytes, arg...)`` per row, the
    arguments as Python values; ``null`` where the blob or an argument is
    NULL.  ``check(*args)`` sees each batch's argument arrays first.  An
    Arrow UDF, so building one imports no pandas; a float NaN in the output
    becomes NULL, as it does in a pandas UDF."""
    out_type = to_arrow_type(rtype)

    @arrow_udf(rtype)
    def f(blob: pa.Array, *args: pa.Array) -> pa.Array:
        if check is not None:
            check(*args)
        out = [null if b is None or None in a else fn(b, *a)
               for b, *a in zip(blob.to_pylist(), *(x.to_pylist() for x in args))]
        return pa.array(out, type=out_type, from_pandas=True)

    return f


def mg_items_udf():
    """binary(MG sketch) → array<struct<item,est>> for exploding a
    frequent-items summary into rows."""
    return _blob_udf(
        ArrayType(StructType([StructField("item", StringType(), True),
                              StructField("est", LongType(), True)])),
        lambda b: [{"item": k, "est": v} for k, v in MisraGries.deserialize(b).items()])


hll_estimate_udf = _blob_udf(DoubleType(), lambda b: HLL.deserialize(b).estimate())
kmv_estimate_udf = _blob_udf(DoubleType(), lambda b: KMV.deserialize(b).estimate())
#: exact count of the values a CMS ingested
cms_total_udf = _blob_udf(DoubleType(), lambda b: float(CMS.deserialize(b).total))


# ---------------------------------------------------------------------------
# One-pass multi-sketch profile, long format (keys, sk_name, sketch)
# ---------------------------------------------------------------------------


def _long(wide: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Wide kernel rows → one (keys, sk_name, sketch) row per non-NULL spec
    column, in spec order: a projection, no shuffle."""
    pairs = F.array(*[
        F.struct(F.lit(s["name"]).alias("sk_name"), F.col(s["name"]).alias("sketch"))
        for s in specs
    ])
    return (
        wide.select(*keys, F.explode(pairs).alias("_p"))
        .select(*keys, "_p.sk_name", "_p.sketch")
        .where(F.col("sketch").isNotNull())
    )


def profile_partials(df: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """ONE scan builds partials for EVERY spec: the corpus-profile pattern.

    ``specs``: kernel specs (module docstring), e.g. ``{"name": str, "col":
    str, "kind": str, "params": dict}``.  A profile of S sketch families
    over K keys costs 1 scan + (in ``profile_aggregate``) 1 shuffle of
    KB-scale sketch rows — the single-sketch path costs S scans + S
    shuffles.  At 100 TB the scan IS the job; this is the difference
    between one pass over the corpus and six.

    Output is LONG format: ``keys + (sk_name string, sketch binary)``, one
    row per (partition × key × spec); ``profile_pivot`` widens it.
    """
    return _long(partials(df, keys, specs), keys, specs)


def profile_merge(partials: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Phase 2 over long-format partials: each row's sketch moves into its
    spec's column (a projection, no shuffle), the kernel merges, and the
    result goes back to long format — one row per (key, spec) present in
    the input.  The accumulator holds (keys-per-partition × specs) sketches
    in memory at once, as every kernel merge does: size profile specs
    accordingly (KB-scale params)."""
    wide = partials.select(*keys, *[
        F.when(F.col("sk_name") == s["name"], F.col("sketch")).alias(s["name"])
        for s in specs
    ])
    return _long(merge(wide, keys, specs), keys, specs)


def profile_aggregate(df: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """One scan + one shuffle → merged sketches for every spec (long format)."""
    return _long(merge(partials(df, keys, specs), keys, specs), keys, specs)


def profile_pivot(profile: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Widen the long profile: one binary column per spec name.  Runs on
    sketch rows only (K·S rows) — the pivot shuffle is KB-scale."""
    names = [s["name"] for s in specs]
    return (
        profile.groupBy(*keys)
        .pivot("sk_name", names)
        .agg(F.first("sketch"))
    )


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    delta: float = 0.01,
    discrete: bool = False,
    hll_p: int = 14,
    keys: list[str] | None = None,
) -> DataFrame:
    """Schema-driven ONE-PASS table profiler — the "describe my 100-TB
    table" operator.  Every selected column gets type-appropriate
    sketches built in a single scan + one KB-scale sketch shuffle
    (``profile_aggregate``):

    - numeric columns → a t-digest (``delta``; pass ``discrete=True``
      for exact nearest-rank quantiles on low-cardinality columns)
      + an HLL++ distinct estimate;
    - every other column → HLL++ distinct + a 1-row CMS whose exact
      ``total`` counts ingested values.

    Output: one row per column —
    ``(column, dtype, n_rows, n_vals, n_nulls, est_distinct, q50, q95)``
    with q50/q95 NULL for non-numeric columns.  ``n_rows`` rides the same
    pass (a 1-cell CMS over a constant — its ``total`` is the exact row
    count), so the whole operator is ONE lazy plan with no separate
    count() action even over filtered/joined inputs; ``n_vals`` is exact —
    the digest's total weight / the CMS total; NULLs are never ingested
    (and for floating-point columns NaN counts as missing too, the
    t-digest convention).  ``n_nulls = n_rows - n_vals``.  Metric
    extraction runs on C KB-scale sketch rows, never on the data: the
    scan cost is ONE pass regardless of how many columns are profiled
    (the dedicated single-sketch path would cost 2C scans).

    ``keys``: optional grouping columns — the per-GROUP profile (one row
    per group x column, keys prepended) from the same single pass; the
    sketch shuffle then carries one KB row per (group x spec).
    """
    from pyspark.sql.types import NumericType

    from sketchlib.spark.tdigest_ops import (
        tdigest_count_udf,
        tdigest_quantiles_udf,
    )

    keys = list(keys or [])
    fields = {f.name: f for f in df.schema.fields}
    cols = (list(columns) if columns is not None
            else [c for c in fields if c not in keys])
    overlap = [c for c in cols if c in keys]
    if overlap:
        raise ValueError(f"profile_table: columns {overlap} are also keys")
    unknown = [c for c in cols if c not in fields]
    if unknown:
        raise ValueError(f"profile_table: unknown columns {unknown}")
    numeric = {c for c in cols if isinstance(fields[c].dataType, NumericType)}
    specs = []
    for i, c in enumerate(cols):
        specs.append({"name": f"h{i}", "col": c, "kind": "hll",
                      "params": {"p": hll_p}})
        if c in numeric:
            specs.append({"name": f"t{i}", "col": c, "kind": "tdigest",
                          "params": {"delta": delta, "discrete": discrete}})
        else:
            specs.append({"name": f"c{i}", "col": c, "kind": "cms",
                          "params": {"width": 32, "depth": 1}})
    # row counter rides the SAME pass: a 1-cell-wide CMS over a constant
    # counts every row exactly in its ``total`` — no separate count()
    # action, so profiling a filtered/joined input never recomputes its
    # upstream, and the whole operator stays one lazy plan
    specs.append({"name": "_rows", "col": "_ones", "kind": "cms",
                  "params": {"width": 4, "depth": 1}})
    staged = df.select(*keys, *cols).withColumn("_ones", F.lit(1))
    wide = profile_pivot(profile_aggregate(staged, keys, specs), keys, specs)

    # ONE projection over the single wide sketch row, exploded to one row
    # per column — a union of per-column selects would re-execute the
    # whole scan+build subtree once per column (2C scans, exactly what
    # this operator exists to avoid)
    q = tdigest_quantiles_udf([0.5, 0.95], discrete=discrete)
    n_rows = F.coalesce(cms_total_udf("_rows"), F.lit(0.0))
    structs = []
    for i, c in enumerate(cols):
        if c in numeric:
            n_vals = tdigest_count_udf(f"t{i}")
            q50, q95 = q(f"t{i}")[0], q(f"t{i}")[1]
        else:
            n_vals = F.coalesce(cms_total_udf(f"c{i}"), F.lit(0.0))
            q50 = q95 = F.lit(None).cast("double")
        structs.append(F.struct(
            F.lit(c).alias("column"),
            F.lit(fields[c].dataType.simpleString()).alias("dtype"),
            n_rows.cast("long").alias("n_rows"),
            n_vals.cast("long").alias("n_vals"),
            (n_rows - n_vals).cast("long").alias("n_nulls"),
            F.coalesce(hll_estimate_udf(f"h{i}"), F.lit(0.0)).alias("est_distinct"),
            q50.alias("q50"),
            q95.alias("q95"),
        ))
    return (
        wide.select(*keys, F.explode(F.array(*structs)).alias("_r"))
        .select(*keys, "_r.*")
    )
