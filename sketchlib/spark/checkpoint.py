"""Per-partition sketch checkpointing with lineage + metrics, and resume.

North rule: "checkpoint partial sketches per partition with lineage +
metrics rows to Iceberg so a killed run resumes without recomputing
finished partitions".

Design:
- Work is split into ``n_parts`` *logical* partitions by a deterministic
  content hash (``pmod(xxhash64(id_col), n_parts)``) — stable across runs
  and across physical partitioning, unlike ``spark_partition_id``.
- Each logical partition's partial digests (one per key) are appended to the
  checkpoint table with lineage (run_id, part_id, input fingerprint) and
  metrics (rows ingested, wall ms) — one writer task per logical partition
  via ``repartition(n_parts, part_id)`` + ``foreachPartition``-free
  mapInArrow append (idempotent: re-running a finished partition overwrites
  the same rows).
- Resume = LEFT ANTI JOIN of pending part_ids against completed ones
  (broadcast: the checkpoint side is tiny) → only unfinished partitions are
  recomputed.
- Finalize = lossless union of all checkpointed partials per key + one
  deterministic compress ⇒ the final digest is byte-identical whether the
  run was interrupted 0 or N times (order-independent merge).

Storage: an Iceberg table when a catalog is configured (``iceberg_table``),
else a parquet directory with one file per (run, attempt, partition) —
same schema, append-only, hermetic for tests (SURVEY.md §7.3.7).
"""

from __future__ import annotations

import time
import uuid
from datetime import datetime, timezone
from typing import Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import TimestampType

CHECKPOINT_SCHEMA = (
    "run_id string, part_id int, key string, digest binary, "
    "rows long, wall_ms double, input_snapshot string, lineage string"
)
_CHECKPOINT_ARROW = pa.schema([
    ("run_id", pa.string()), ("part_id", pa.int32()), ("key", pa.string()),
    ("digest", pa.binary()), ("rows", pa.int64()), ("wall_ms", pa.float64()),
    ("input_snapshot", pa.string()), ("lineage", pa.string()),
])

#: appended to the lineage of a checkpoint keyed by a timestamp, whose keys
#: are UTC wall times (``_key_string``).  Its rows written before that held
#: session-local wall times under the untagged lineage: the same strings
#: only under a UTC session.
_UTC_KEYS = " [timestamp keys in UTC]"
#: session time zones whose wall times are UTC's
_UTC_ZONES = {"UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z", "+00:00"}


class TDigestCheckpointer:
    """Checkpointer for any registered sketch kind; named for its default.

    ``sketch='tdigest'`` (default) takes ``delta``/``discrete``; every other
    kind in ``sketch_ops.SKETCHES`` takes ``params``.  Partials are built by
    the sketch kernel's partial builder keyed by (part_id, keys...), so the
    ingest (projection, NULL handling) is exactly the batch path's, and
    finalize is the kernel merge; for the order-insensitive kinds the
    byte-identical-resume guarantee holds exactly as for digests."""

    def __init__(
        self,
        spark: SparkSession,
        ckpt_path: str,
        keys: list[str],
        value_col: str,
        id_col: str,
        n_parts: int = 64,
        delta: float = 0.01,
        discrete: bool = False,
        run_id: str | None = None,
        sketch: str = "tdigest",
        params: dict | None = None,
        table_format: str = "parquet",
    ) -> None:
        from sketchlib.spark.sketch_ops import SKETCHES

        if sketch not in SKETCHES:
            raise ValueError(f"unknown sketch kind {sketch!r}")
        self.spark = spark
        self.ckpt_path = ckpt_path
        self.keys = keys
        self.value_col = value_col
        self.id_col = id_col
        self.n_parts = n_parts
        self.delta = delta
        self.discrete = discrete
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.sketch = sketch
        self.params = ({"delta": delta, "discrete": discrete} if sketch == "tdigest"
                       else dict(params or {}))
        # checkpoint table format: any Spark batch source with append
        # support works (parquet default; orc exercised in tests) — the
        # state is plain (part_id, key, digest, metrics) rows, which is
        # also why the Iceberg mapping is a one-line writeTo().append()
        # when a catalog exists (tools/probe_iceberg.py)
        if table_format not in ("parquet", "orc"):
            raise ValueError(f"unsupported checkpoint format {table_format!r}")
        self.table_format = table_format

    def _spec(self) -> dict:
        return {"name": "digest", "kind": self.sketch, "col": self.value_col,
                "params": self.params}

    # -- helpers ---------------------------------------------------------------

    def _with_part_id(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_part_id", F.pmod(F.xxhash64(self.id_col), F.lit(self.n_parts)).cast("int")
        )

    def _lineage(self) -> str:
        if self.sketch == "tdigest":  # the spelling digest checkpoints carry
            return (f"tdigest(delta={self.delta},discrete={self.discrete})"
                    f"<-{self.value_col} by {','.join(self.keys)}")
        # canonical params rendering: the same logical config must produce
        # the same lineage string regardless of dict insertion order or
        # integral-float spelling (p=14 vs p=14.0), or a legitimate resume
        # would be refused
        import json

        def _canon_v(v):
            if isinstance(v, float) and not isinstance(v, bool) and v.is_integer():
                return int(v)
            return v

        canon = json.dumps(
            {k: _canon_v(v) for k, v in self.params.items()},
            sort_keys=True, separators=(",", ":"),
        )
        return f"{self.sketch}({canon})<-{self.value_col} by {','.join(self.keys)}"

    def _lineage_legacy(self) -> str:
        """The pre-canonicalization spelling (params dict repr) — accepted
        on read so checkpoints written before the format change stay
        resumable; new rows are always written in canonical form."""
        return f"{self.sketch}({self.params})<-{self.value_col} by {','.join(self.keys)}"

    def _timestamp_keyed(self, df: DataFrame) -> bool:
        return any(isinstance(df.schema[k].dataType, TimestampType) for k in self.keys)

    def _accepted_lineages(self, timestamp_keyed: bool | None) -> set[str]:
        """The lineages a resume accepts: this configuration's, canonical or
        legacy, tagged ``_UTC_KEYS`` when a key is a timestamp.  The untagged
        ones of a timestamp-keyed run only under a UTC session, where its old
        session-local keys are the UTC ones.  ``None``: key types unknown,
        any of them."""
        base = {self._lineage(), self._lineage_legacy()}
        tagged = {lineage + _UTC_KEYS for lineage in base}
        if timestamp_keyed is None:
            return base | tagged
        if not timestamp_keyed:
            return base
        zone = self.spark.conf.get("spark.sql.session.timeZone")
        return tagged | (base if zone in _UTC_ZONES else set())

    def completed_parts(self, df: DataFrame | None = None) -> DataFrame:
        """Distinct part_ids already checkpointed (any run attempt counts:
        partials are deterministic per partition).  Refuses to resume a
        checkpoint whose recorded lineage (sketch kind/params/value/keys)
        differs from this configuration — mixing incompatible partials
        would either crash late (merge param mismatch) or finalize silently
        wrong.  ``df``, the input, tells whether a key is a timestamp
        (``_accepted_lineages``); ``run`` always passes it."""
        spark = self.spark
        try:
            done = spark.read.format(self.table_format).load(self.ckpt_path)
        except Exception as e:
            # ONLY a missing path means "fresh run".  Any other read error
            # (e.g. resuming a parquet checkpoint with table_format="orc")
            # must be a hard stop: silently returning the empty set would
            # restart from scratch and append mixed-format files into the
            # same directory.
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return spark.createDataFrame([], "part_id int")
            raise ValueError(
                f"checkpoint at {self.ckpt_path} exists but is unreadable as "
                f"{self.table_format!r} — wrong table_format for an existing "
                f"checkpoint? ({msg.splitlines()[0]})"
            ) from e
        lineages = [r["lineage"] for r in done.select("lineage").distinct().collect()]
        timestamp_keyed = None if df is None else self._timestamp_keyed(df)
        if lineages and not set(lineages) <= self._accepted_lineages(timestamp_keyed):
            this = self._lineage() + (_UTC_KEYS if timestamp_keyed else "")
            raise ValueError(
                f"checkpoint at {self.ckpt_path} was written with lineage "
                f"{lineages} but this run is {this!r}; use a fresh "
                "--checkpoint path (or matching parameters) to resume"
                + (" (keys that are session-local wall times resume only under "
                   "a UTC session)" if timestamp_keyed else "")
            )
        return done.select("part_id").distinct()

    # -- run -------------------------------------------------------------------

    def run(self, df: DataFrame, fail_after_parts: int | None = None) -> int:
        """Process pending partitions, appending one checkpoint row per
        (partition, key).  ``fail_after_parts`` injects a crash after that
        many partitions complete (for resume tests).  Returns #partitions
        processed."""
        from sketchlib.spark.sketch_ops import _partial_builder, _project, _specs
        from sketchlib.spark.shipping import ensure_on_workers

        ensure_on_workers(self.spark)
        keys = ["_part_id"] + self.keys
        specs = _specs([self._spec()], keys)
        tagged = _project(self._with_part_id(df), keys, specs)
        done = self.completed_parts(tagged)
        pending = tagged.join(
            F.broadcast(done.withColumnRenamed("part_id", "_part_id")),
            "_part_id",
            "left_anti",
        )
        pending_ids = [r["_part_id"] for r in pending.select("_part_id").distinct().collect()]
        if fail_after_parts is not None:
            pending_ids = sorted(pending_ids)[:fail_after_parts]
            pending = pending.where(F.col("_part_id").isin(pending_ids))
        if not pending_ids:
            return 0

        user_keys, build = self.keys, _partial_builder(keys, specs)
        run_id, input_snapshot, lineage = (
            self.run_id, self._input_snapshot(df),
            self._lineage() + (_UTC_KEYS if self._timestamp_keyed(tagged) else ""),
        )

        def checkpoint_rows(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            t0 = time.time()
            rows: dict = {}

            def counted():
                for batch in batches:
                    for vc in pc.value_counts(batch.column("_part_id")).to_pylist():
                        rows[vc["values"]] = rows.get(vc["values"], 0) + vc["counts"]
                    yield batch

            for out in build(counted()):
                pids = out.column("_part_id").to_pylist()
                key_vals = [out.column(k).to_pylist() for k in user_keys]
                keys_of = zip(*key_vals) if key_vals else [()] * len(pids)
                wall_ms = (time.time() - t0) * 1000.0
                yield pa.RecordBatch.from_pydict({
                    "run_id": [run_id] * len(pids),
                    "part_id": pids,
                    "key": [_key_string(k) for k in keys_of],
                    "digest": out.column("digest"),
                    "rows": [rows[p] for p in pids],
                    "wall_ms": [wall_ms] * len(pids),
                    "input_snapshot": [input_snapshot] * len(pids),
                    "lineage": [lineage] * len(pids),
                }, schema=_CHECKPOINT_ARROW)

        ckpt_rows = (
            pending.repartition(len(pending_ids), "_part_id")
            .mapInArrow(checkpoint_rows, schema=CHECKPOINT_SCHEMA)
        )
        ckpt_rows.write.mode("append").format(self.table_format).save(self.ckpt_path)
        return len(pending_ids)

    def _input_snapshot(self, df: DataFrame) -> str:
        files = df.inputFiles()
        return f"files={len(files)}"

    # -- finalize ---------------------------------------------------------------

    def finalize(self) -> DataFrame:
        """Merge all checkpointed partials into one sketch per key —
        order-independent, so interrupted and clean runs agree byte-for-byte
        (exactly, for the order-insensitive kinds)."""
        from sketchlib.spark.sketch_ops import merge

        ckpt = self.spark.read.format(self.table_format).load(self.ckpt_path)
        # deduplicate retried partitions (same part_id written twice): partials
        # are deterministic per (part_id, key), keep one
        partials = ckpt.dropDuplicates(["part_id", "key"]).select("key", "digest")
        return merge(partials, ["key"], [self._spec()])


def _key_string(parts: tuple) -> str | None:
    """A checkpoint row's key: the key values joined by ``|``, a NULL or
    NaN value rendered empty, a timestamp as its UTC wall time (so the
    repeated hour of a DST fall-back keeps its two instants apart, and a
    key does not depend on the session time zone); a key whose every value
    is NULL or NaN stays NULL."""
    missing = [x is None or x != x for x in parts]
    if parts and all(missing):
        return None
    return "|".join("" if m else str(_utc_wall(x) if isinstance(x, datetime) else x)
                    for x, m in zip(parts, missing))


def _utc_wall(t: datetime) -> datetime:
    """A tz-aware timestamp as a naive UTC one; a naive one as it is."""
    return t if t.tzinfo is None else t.astimezone(timezone.utc).replace(tzinfo=None)
