"""The benchmark's workloads, sketch builds over the seeded pages table,
and the layers traced runs probe: the checkpoint over the same table, and a
part of the query catalog over the tables in ``tables/``.

Each workload drives sketchlib only through its public functions.  A pass
is one timed call sequence whose outputs are collected to the driver; the
checks against exact answers run after the timed window.  Spans name the
public call they wrap, prefixed by the pass tag (``warmup``, ``pass-<i>``).
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from inputs import Table
from sketchlib.data.extract import extract_len_series
from sketchlib.data.gen_pages import LANGS
from sketchlib.hll import HLL
from sketchlib.spark.checkpoint import TDigestCheckpointer
from sketchlib.spark.queries import ORACLES, QUERIES
from sketchlib.spark.sketch_ops import sketch_aggregate, sketch_merge
from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_merge, tdigest_partials
from sketchlib.tdigest.core import MergingDigest

DELTA = 0.01
PS = np.array([0.01, 0.5, 0.95, 0.99, 0.999])
#: percentiles the accuracy metric averages over
GRID = np.linspace(0.01, 0.99, 99)
ROLLUP_PS = np.array([0.5, 0.95, 0.99])
HLL_P = 14
#: HLL acceptance band: 3 standard errors of 2**HLL_P registers, plus a few
#: items because at small n the estimate is off by the number of register
#: collisions, a Poisson count of mean n²/2m that no relative band covers
HLL_REL_BOUND = 3 * 1.04 / np.sqrt(2**HLL_P)
HLL_ABS_SLACK = 6
#: the catalog's tables: a copy of the sf0.01 scale of the tables the
#: catalog is written for (TPC-H-like, events, documents, embeddings)
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables", "sf0.01")
CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")
#: the catalog queries a probe runs: one per library module the catalog
#: covers, the cheapest where a module has several.  All 50 queries take
#: about 85 s warm on 4 CPUs, longer than a run may take.
CATALOG = (
    "td_info_stats_by_lang",  # tdigest_ops: digest introspection and sizes
    "dedup_exact_keepers",  # dedup: identical-text groups
    "ann_ivf_topk_recall",  # ann: IVF top-k and partial-probe recall
    "text_repetition_by_lang",  # textops: repetition quality filter
    "events_join_ops",  # joins: as-of and range joins
    "sample_corpus_methods",  # sampling: stratified and weighted samples
)


def hll_ok(estimate: float, n: int) -> bool:
    return abs(estimate - n) <= HLL_REL_BOUND * n + HLL_ABS_SLACK


def rank_error(sorted_vals: np.ndarray, est: float, p: float) -> float:
    """Distance from ``p`` to the exact rank interval of ``est``: zero when
    some tie-broken position of ``est`` in the data has rank ``p``."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    return float(max(0.0, lo - p, p - hi))


@dataclass
class Checked:
    """What one pass's checks found."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    rank_errors: list[float] = field(default_factory=list)
    sketch_bytes: int = 0
    keys: int = 0

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def _check_digests(chk: Checked, digests: dict[str, bytes], exact: dict) -> None:
    """Per-lang counts equal exact counts; rank error at PS within δ.
    Records the rank errors over GRID for the accuracy metric."""
    chk.expect(sorted(digests) == sorted(exact["by_lang"]), "digest lang keys")
    for lang, blob in digests.items():
        vals = exact["by_lang"].get(lang)
        if vals is None:
            continue
        d = MergingDigest.deserialize(blob, delta=DELTA)
        chk.expect(d.count == len(vals), f"count {lang}")
        err = max(rank_error(vals, q, p) for q, p in zip(d.quantile(PS), PS))
        chk.expect(err <= DELTA, f"rank error {lang} {err:.4f}")
        chk.rank_errors += [rank_error(vals, q, p) for q, p in zip(d.quantile(GRID), GRID)]
        chk.sketch_bytes += len(blob)
        chk.keys += 1


def exact_answers(cols: dict[str, np.ndarray]) -> dict:
    lang = LANGS[cols["lang"]]
    by_lang = {str(x): np.sort(cols["tlen"][lang == x]) for x in np.unique(lang)}
    return {"by_lang": by_lang, "lang": lang, "host": cols["host"], "rows": len(lang)}


class Workload:
    name = ""
    #: keys a partial sketch is built for in each partition
    keys = 9
    #: untimed passes before the window, for the JIT and the Python workers
    warmup_passes = 2

    def __init__(self, rows: int, work_dir: str) -> None:
        #: input rows a pass reads
        self.rows = rows
        self.work_dir = work_dir

    @classmethod
    def prepare(cls, cache: str, seed: int, cpus: int, work_dir: str) -> tuple[Workload, dict]:
        """Make the inputs for ``seed``: the workload and context to print."""
        raise NotImplementedError

    def bind(self, spark) -> None:
        """Build the workload's DataFrames on ``spark``."""
        raise NotImplementedError

    def warmup(self, spans) -> None:
        for i in range(self.warmup_passes):
            self.run_pass(spans, f"warmup-{i}")

    def probe_batch(self) -> int:
        """Values one (partition, key) partial sketch receives in a pass."""
        partitions = self.df.rdd.getNumPartitions()
        return max(1, round(self.rows / partitions / self.keys))

    def run_pass(self, spans, tag: str) -> object:
        raise NotImplementedError

    def check(self, out) -> Checked:
        raise NotImplementedError


class PagesWorkload(Workload):
    """A workload over the first ``n_files`` files of the seeded pages table."""

    #: table rows generated
    table_rows = 100_000
    n_files = 4

    def __init__(self, paths: list[str], exact: dict, work_dir: str) -> None:
        super().__init__(exact["rows"], work_dir)
        self.paths = paths
        self.exact = exact

    @classmethod
    def prepare(cls, cache, seed, cpus, work_dir):
        table = Table(cache, cls.table_rows, seed)
        gen_s = table.ensure(cpus)
        exact = exact_answers(table.exact(cls.n_files))
        return cls(table.paths(cls.n_files), exact, work_dir), {"gen_s": gen_s}

    def bind(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(*self.paths)


class IngestExtractDigest(PagesWorkload):
    """html → extract_len_series → t-digest per lang, fused into the
    partial stage: the north-star digest build."""

    name = "ingest_extract_digest"

    def run_pass(self, spans, tag):
        with spans.span(f"{tag}/tdigest_partials+tdigest_merge"):
            partials = tdigest_partials(
                self.df, ["lang"], None, delta=DELTA,
                value_fn=lambda pdf: extract_len_series(pdf["html"]),
                input_cols=["html"],
            )
            rows = tdigest_merge(partials, ["lang"], delta=DELTA).collect()
        with spans.span(f"{tag}/query"):
            digests = {r["lang"]: bytes(r["digest"]) for r in rows}
            for blob in digests.values():
                MergingDigest.deserialize(blob, delta=DELTA).quantile(PS)
        return digests

    def check(self, out):
        chk = Checked()
        _check_digests(chk, out, self.exact)
        return chk


class HostRollup(PagesWorkload):
    """t-digest of length(text) and HLL of url per (lang, host), stored,
    then merged up to per-lang from the stored sketches and queried."""

    name = "host_rollup"
    n_files = 2

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        ex = self.exact
        hosts, counts = np.unique(
            np.char.add(np.char.add(ex["lang"].astype(str), "|"), ex["host"]),
            return_counts=True)
        self.key_counts = dict(zip(hosts.tolist(), counts.tolist()))
        self.keys = len(self.key_counts)

    def bind(self, spark) -> None:
        super().bind(spark)
        self.pages = self.df.select(
            "lang",
            F.expr("parse_url(url, 'HOST')").alias("host"),
            F.length("text").alias("tlen"),
            "url",
        )

    def run_pass(self, spans, tag):
        store = os.path.join(self.work_dir, f"host-store-{tag}")
        with spans.span(f"{tag}/tdigest_aggregate+sketch_aggregate"):
            digests = tdigest_aggregate(self.pages, ["lang", "host"], "tlen", delta=DELTA)
            hlls = sketch_aggregate(self.pages, ["lang", "host"], "url", "hll", {"p": HLL_P})
            digests.join(hlls, ["lang", "host"]).write.mode("overwrite").parquet(store)
        with spans.span(f"{tag}/rollup"):
            stored = self.spark.read.parquet(store)
            lang_td = tdigest_merge(stored.select("lang", "digest"), ["lang"], delta=DELTA)
            lang_hll = sketch_merge(stored.select("lang", "sketch"), ["lang"], "hll",
                                    {"p": HLL_P})
            rows = lang_td.join(lang_hll, "lang").collect()
        with spans.span(f"{tag}/query"):
            answers = {
                r["lang"]: (
                    MergingDigest.deserialize(bytes(r["digest"]), delta=DELTA).quantile(ROLLUP_PS),
                    HLL.deserialize(bytes(r["sketch"])).estimate(),
                )
                for r in rows
            }
        return store, {r["lang"]: bytes(r["digest"]) for r in rows}, answers

    def check(self, out):
        store, digests, answers = out
        chk = Checked()
        _check_digests(chk, digests, self.exact)
        chk.sketch_bytes = chk.keys = 0  # counted per (lang, host) below
        for lang, (_q, distinct) in answers.items():
            n = len(self.exact["by_lang"].get(lang, ()))
            chk.expect(hll_ok(distinct, n), f"hll {lang}")
        per_host = self.spark.read.parquet(store).collect()
        chk.expect(len(per_host) == len(self.key_counts), "per-host key count")
        for r in per_host:
            key = f"{r['lang']}|{r['host']}"
            n = self.key_counts.get(key, -1)
            digest, sketch = bytes(r["digest"]), bytes(r["sketch"])
            chk.expect(MergingDigest.deserialize(digest, delta=DELTA).count == n,
                       f"count {key}")
            chk.expect(hll_ok(HLL.deserialize(sketch).estimate(), n), f"hll {key}")
            chk.sketch_bytes += len(digest) + len(sketch)
            chk.keys += 1
        shutil.rmtree(store, ignore_errors=True)
        return chk


class CheckpointResume(PagesWorkload):
    """TDigestCheckpointer: an interrupted run over half the logical parts,
    the resume, and finalize; checked byte-for-byte against an
    uninterrupted run made in the warm-up.  Traced runs probe it once."""

    name = "checkpoint_resume"
    n_files = 2
    n_parts = 64
    fail_after = 32

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.reference: dict[str, bytes] = {}
        self.parts_skipped = 0

    def bind(self, spark) -> None:
        super().bind(spark)
        self.pages = self.df.withColumn("tlen", F.length("text"))

    def _checkpointer(self, path: str) -> TDigestCheckpointer:
        return TDigestCheckpointer(self.spark, path, keys=["lang"], value_col="tlen",
                                   id_col="url", n_parts=self.n_parts, delta=DELTA)

    def _fresh(self, tag: str) -> str:
        path = os.path.join(self.work_dir, f"ckpt-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def warmup(self, spans):
        """The uninterrupted run the resumed ones must match."""
        path = self._fresh("reference")
        with spans.span("warmup/checkpoint.run"):
            c = self._checkpointer(path)
            c.run(self.pages)
            rows = c.finalize().collect()
        self.reference = {r["key"]: bytes(r["digest"]) for r in rows}
        shutil.rmtree(path, ignore_errors=True)

    def run_pass(self, spans, tag):
        path = self._fresh(tag)
        with spans.span(f"{tag}/checkpoint.run(fail_after_parts)"):
            first = self._checkpointer(path).run(self.pages, fail_after_parts=self.fail_after)
        with spans.span(f"{tag}/checkpoint.resume"):
            c = self._checkpointer(path)
            resumed = c.run(self.pages)
            with spans.span(f"{tag}/checkpoint.finalize"):
                rows = c.finalize().collect()
        with spans.span(f"{tag}/query"):
            digests = {r["key"]: bytes(r["digest"]) for r in rows}
            for blob in digests.values():
                MergingDigest.deserialize(blob, delta=DELTA).quantile(PS)
        shutil.rmtree(path, ignore_errors=True)
        self.parts_skipped = self.n_parts - resumed
        return first, resumed, digests

    def check(self, out):
        first, resumed, digests = out
        chk = Checked()
        chk.expect(first == self.fail_after, f"first run parts {first}")
        chk.expect(resumed == self.n_parts - self.fail_after, f"resumed parts {resumed}")
        chk.expect(digests == self.reference, "finalized digests differ from uninterrupted run")
        _check_digests(chk, digests, self.exact)
        return chk


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Rows with their columns in name order, NaN made comparable, sorted:
    the form in which a query's rows are compared with its oracle's."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i]
                 for i in order) for r in rows]
    out.sort(key=repr)
    return out


class QueryCatalog(Workload):
    """The ``CATALOG`` queries of ``sketchlib.spark.queries``, in an order
    drawn from the seed, each collected and compared with its DuckDB oracle.
    Traced runs probe it: as a workload its pass time spread 26% to 49%
    across ten seeds on a shared 4-CPU host."""

    name = "query_catalog"

    def __init__(self, order: list[str], oracles: dict[str, list[tuple]], work_dir: str) -> None:
        super().__init__(0, work_dir)  # each query reads its own tables
        self.order = order
        self.oracles = oracles

    @classmethod
    def prepare(cls, cache, seed, cpus, work_dir):
        import duckdb

        t0 = time.perf_counter()
        con = duckdb.connect()
        for t in CATALOG_TABLES:
            path = os.path.join(TABLES_DIR, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        oracles = {}
        for name in CATALOG:
            res = con.execute(ORACLES[name])
            oracles[name] = normalize(res.fetchall(), [d[0] for d in res.description])
        con.close()
        order = [CATALOG[i] for i in np.random.default_rng(seed).permutation(len(CATALOG))]
        return cls(order, oracles, work_dir), {"oracle_s": time.perf_counter() - t0,
                                               "order": order}

    def bind(self, spark) -> None:
        self.spark = spark

    def run_pass(self, spans, tag):
        out = {}
        for name in self.order:
            with spans.span(f"{tag}/query.{name}"):
                df = QUERIES[name](self.spark, TABLES_DIR)
                out[name] = (df.columns, [tuple(r) for r in df.collect()])
        return out

    def check(self, out):
        chk = Checked()
        for name, (cols, rows) in out.items():
            chk.expect(normalize(rows, cols) == self.oracles[name], f"{name} differs from its oracle")
        return chk


#: the benchmark's workloads; traced runs also probe CheckpointResume and
#: QueryCatalog
WORKLOADS = {w.name: w for w in (IngestExtractDigest, HostRollup)}
