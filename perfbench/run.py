"""sketchlib benchmark: one workload per run, run from the repository root.

    python3 perfbench/run.py --workload host_rollup --seed 3 --seconds 10 --trace 0

Workloads (workloads.py): ingest_extract_digest and host_rollup; traced
runs also probe checkpoint_resume and query_catalog.  Pages are generated
from ``--seed`` into ``.perfbench_cache/`` under the repository root, which
also holds every scratch file Spark writes; the catalog probe reads the
tables in ``perfbench/tables/`` and takes its query order from the seed.  Spark runs
``local[<nproc>]`` with the library's default session config
(``get_spark``); only scratch directories, a JVM flag that keeps its
perf-data file out of the system temp directory, and the event log in a
traced run are added to it.

``--trace 0`` reports the end-to-end metrics:
  setup_s               the session set-up: get_spark() launching a new JVM,
                        plus a first sketchlib pandas-UDF action
  pass_s                median wall time of the warm passes in the window
  sketch_bytes_per_key  serialized final-sketch bytes / keys
  mean_rank_error       mean |rank(estimate) - p| over p = 0.01..0.99 and
                        every lang, against the exact ranks
  py_peak_rss_mb        peak RSS of the Python processes: the driver and the
                        Python workers.  The JVM's peak, printed as context,
                        follows its garbage collector, so it is not gated.
and, as context, docs_per_s: input rows / pass_s.
``--trace 1`` runs untraced passes, restarts the session with Spark's event
log on, runs traced passes with a span around each public call, probes the
checkpoint, the catalog and the kernels, and reports the per-layer metrics
(per_layer_units()), per traced pass.  Spans are written to
``.perfbench_cache/trace-<workload>-s<seed>.json``.

The last stdout line is the JSON result; earlier lines give context: input
generation time, the host-speed probe, pass times and failures by name.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
MIN_PASSES = 5
MAX_PASSES = 40
UNTRACED_PASSES = 2
TRACED_PASSES = 2

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "sketch_bytes_per_key": "bytes",
    "mean_rank_error": "fraction", "py_peak_rss_mb": "MB",
}
_FAMILIES = ("hll", "kll", "cms", "bloom", "dd", "kmv", "mg")
PER_LAYER_UNITS = {
    "session.jvm_start_s": "s", "session.worker_warm_s": "s",
    "scan.time_s": "s", "scan.bytes_read": "bytes", "scan.tasks": "count",
    "py.init_s": "s", "py.run_s": "s",
    "py.to_py_bytes": "bytes", "py.from_py_bytes": "bytes",
    "extract.docs_per_s_1core": "docs/s",
    "td.update_mvals_per_s": "Mvals/s", "td.compress_ms": "ms",
    "td.serialize_us_per_key": "us", "td.merge_bytes_mb_per_s": "MB/s",
    "td.quantile_us": "us", "td.centroids_per_key": "count",
    **{f"{f}.update_mvals_per_s": "Mvals/s" for f in _FAMILIES},
    **{f"{f}.merge_per_s": "1/s" for f in _FAMILIES},
    "plan.sketch_rows": "count", "plan.partial_stage_s": "s",
    "plan.merge_stage_s": "s", "plan.task_skew": "ratio", "plan.query_s": "s",
    "shuffle.bytes_written": "bytes", "shuffle.records_written": "count",
    "shuffle.write_s": "s", "write.rows": "count", "write.bytes": "bytes",
    "ckpt.parts_skipped": "count", "ckpt.run1_s": "s", "ckpt.resume_s": "s",
    "ckpt.finalize_s": "s", "ckpt.rows_written": "count", "ckpt.bytes_written": "bytes",
    "driver.other_s": "s", "exec.run_s": "s", "exec.cpu_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """PER_LAYER_UNITS and the seconds of each catalog query."""
    from workloads import CATALOG

    return {**PER_LAYER_UNITS, **{f"query.{q}.s": "s" for q in CATALOG}}


class Session:
    """The benchmark's SparkSession: started, restarted, and closed with
    its JVM (and through it the Python workers) waited for."""

    def __init__(self, cpus: int, scratch: str) -> None:
        self.cpus = cpus
        # the JVM's temp files go to the scratch directory too; without
        # UsePerfData it writes no hsperfdata file to the system temp directory
        self.base = {
            "spark.local.dir": scratch,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        }
        self.spark = None

    def start(self, extra: dict | None = None) -> tuple[float, float]:
        """get_spark() and a first pandas-UDF action: (start_s, action_s)."""
        import pandas as pd

        from sketchlib.spark.session import get_spark
        from sketchlib.spark.tdigest_ops import tdigest_aggregate

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus,
                               extra={**self.base, **(extra or {})})
        t1 = time.perf_counter()
        tiny = self.spark.createDataFrame(pd.DataFrame({"k": ["a", "b"] * 4, "v": range(8)}))
        tdigest_aggregate(tiny, ["k"], "v").collect()
        return t1 - t0, time.perf_counter() - t1

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, shut its JVM down and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class NoSpans:
    """Tracing off: spans cost nothing and set no job descriptions."""

    def span(self, name: str):
        return nullcontext()


def run_passes(wl, spans, seconds: float, tag: str, min_passes: int, max_passes: int):
    """Run passes until ``seconds`` have gone by (at least ``min_passes``);
    returns (pass times, outputs, errors)."""
    times, outs, errors = [], [], []
    t_start = time.perf_counter()
    i = 0
    while i < max_passes and (i < min_passes or time.perf_counter() - t_start < seconds):
        t0 = time.perf_counter()
        try:
            out = wl.run_pass(spans, f"{tag}-{i}")
        except Exception as e:  # noqa: BLE001 - a failed pass is counted, not fatal
            errors.append(f"{tag}-{i}: {type(e).__name__}: {str(e)[:200]}")
        else:
            times.append(time.perf_counter() - t0)
            outs.append(out)
        i += 1
    return times, outs, errors


class Tally:
    """Attempted and failed operations: passes and checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def passes(self, times: list, errors: list[str]) -> None:
        self.attempted += len(times) + len(errors)
        self.failures += errors

    def checks(self, wl, outs: list, tag: str) -> list:
        done = []
        for i, out in enumerate(outs):
            try:
                chk = wl.check(out)
            except Exception as e:  # noqa: BLE001 - a check that raises has failed
                self.attempted += 1
                self.failures.append(f"{tag}-{i}: check raised {type(e).__name__}: {e}"[:300])
                continue
            self.attempted += chk.attempted
            self.failures += [f"{tag}-{i}: {f}" for f in chk.failures]
            done.append(chk)
        return done

    def result(self, metrics: dict, units: dict) -> dict:
        if self.failures:
            print(json.dumps({"failures": self.failures[:50]}), flush=True)
        return {
            "correct": not self.failures, "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }


def untraced_run(wl, args, session) -> dict:
    from tracing import RssSampler

    setup_s = sum(session.start())
    wl.bind(session.spark)
    wl.warmup(NoSpans())
    tally = Tally()
    with RssSampler() as rss:
        times, outs, errors = run_passes(wl, NoSpans(), args.seconds, "pass",
                                         MIN_PASSES, MAX_PASSES)
    tally.passes(times, errors)
    checks = tally.checks(wl, outs, "pass")
    if not times or not checks:
        raise RuntimeError("every pass failed: " + "; ".join(tally.failures[:3]))
    pass_s = statistics.median(times)
    context = {"pass_s": times, "docs_per_s": wl.rows / pass_s,
               "jvm_peak_rss_mb": rss.peak_jvm / 2**20}
    print(json.dumps(context), flush=True)
    metrics = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "sketch_bytes_per_key": statistics.median(c.sketch_bytes / c.keys for c in checks),
        "mean_rank_error": statistics.mean(e for c in checks for e in c.rank_errors),
        "py_peak_rss_mb": rss.peak_py / 2**20,
    }
    return tally.result(metrics, END_TO_END_UNITS)


def traced_run(wl, args, session, run_id) -> dict:
    import numpy as np

    from kernels import extract_probe, family_probe, tdigest_probe
    from sketchlib.data.gen_pages import gen_chunk
    from tracing import Spans, parse_event_log
    from workloads import CATALOG, CheckpointResume, QueryCatalog

    def restart(extra: dict) -> None:
        """Restart the session and run one untimed pass on it, which starts
        its Python workers.  Its jobs carry no description, so the event-log
        parser skips them."""
        session.stop()
        session.start(extra)
        wl.bind(session.spark)
        wl.run_pass(NoSpans(), "warmup-restart")

    jvm_start_s, worker_warm_s = session.start()
    tally = Tally()
    wl.bind(session.spark)
    wl.warmup(NoSpans())
    # untraced and traced passes alike follow a restart and an untimed pass
    restart({})
    untraced, _outs, errors = run_passes(wl, NoSpans(), 0, "untraced",
                                         UNTRACED_PASSES, UNTRACED_PASSES)
    tally.passes(untraced, errors)
    event_dir = os.path.join(wl.work_dir, "eventlog")
    os.makedirs(event_dir)
    restart({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + event_dir,
    })
    spans = Spans(run_id, session.spark.sparkContext)
    times, outs, errors = run_passes(wl, spans, 0, "pass", TRACED_PASSES, TRACED_PASSES)
    tally.passes(times, errors)
    tally.checks(wl, outs, "pass")
    # the layers no workload times, probed on the same session
    ckpt, _ = CheckpointResume.prepare(CACHE, args.seed, session.cpus, wl.work_dir)
    catalog, _ = QueryCatalog.prepare(CACHE, args.seed, session.cpus, wl.work_dir)
    probed = {}
    for p, tag in ((ckpt, "ckpt"), (catalog, "catalog")):
        p.bind(session.spark)
        p.warmup(NoSpans())
        _t, p_outs, errors = run_passes(p, spans, 0, tag, 1, 1)
        tally.passes(_t, errors)
        tally.checks(p, p_outs, tag)
        probed[tag] = bool(p_outs)
    batch = wl.probe_batch()
    session.stop()
    if not times or not untraced or not all(probed.values()):
        raise RuntimeError("every pass of a workload or probe failed: "
                           + "; ".join(tally.failures[:3]))
    n = len(times)
    ev = parse_event_log(event_dir, keep=lambda desc: desc.startswith("pass-"))
    ev_ckpt = parse_event_log(event_dir, keep=lambda desc: desc.startswith("ckpt-"))
    self_s = spans.self_times()
    spans.write(os.path.join(CACHE, f"trace-{wl.name}-s{args.seed}.json"))

    rng = np.random.default_rng(args.seed)
    html = gen_chunk(0, 2000, args.seed)["html"].tolist()
    layer = {k: v / n for k, v in ev.items()}
    layer.update({
        "session.jvm_start_s": jvm_start_s,
        "session.worker_warm_s": worker_warm_s,
        "plan.task_skew": ev["plan.task_skew"],
        "plan.query_s": sum(v for k, v in self_s.items()
                            if k.startswith("pass-") and k.endswith("/query")) / n,
        "ckpt.parts_skipped": ckpt.parts_skipped,
        "ckpt.run1_s": self_s["ckpt-0/checkpoint.run(fail_after_parts)"],
        "ckpt.resume_s": self_s["ckpt-0/checkpoint.resume"],
        "ckpt.finalize_s": self_s["ckpt-0/checkpoint.finalize"],
        "ckpt.rows_written": ev_ckpt["write.rows"],
        "ckpt.bytes_written": ev_ckpt["write.bytes"],
        "driver.other_s": (sum(times) - ev["jobs_wall_s"]) / n,
        "trace.overhead_s": statistics.median(times) - statistics.median(untraced),
        **{f"query.{q}.s": self_s[f"catalog-0/query.{q}"] for q in CATALOG},
        **extract_probe(html),
        **tdigest_probe(rng, batch, wl.keys),
        **family_probe(rng, batch),
    })
    print(json.dumps({"probe_batch": batch, "traced_pass_s": times,
                      "untraced_pass_s": untraced,
                      "span_self_s": {k: v for k, v in self_s.items() if k.startswith("pass-")}}),
          flush=True)
    return tally.result(layer, per_layer_units())


def _reap(descendants, timeout_s: float = 30.0) -> None:
    """Wait for every process this run started to end; kill what outlives
    ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sketchlib", "__init__.py")):
        sys.exit(f"perfbench: no sketchlib package under {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    from kernels import calibration_probe
    from tracing import descendants
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run_id = uuid.uuid4().hex[:12]
    scratch = os.path.join(CACHE, f"run-{run_id}")
    os.makedirs(scratch)
    # every temp file (sketchlib's shipped zip, Spark's local dirs, Python
    # workers' temp files) stays inside the checkout; workers import
    # sketchlib from it
    os.environ["TMPDIR"] = scratch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    cpus = len(os.sched_getaffinity(0))
    session = Session(cpus, scratch)
    try:
        wl, context = WORKLOADS[args.workload].prepare(CACHE, args.seed, cpus, scratch)
        print(json.dumps({"context": {
            "workload": wl.name, "seed": args.seed, "rows": wl.rows, "cpus": cpus,
            **context, "cpu_probe_ms": calibration_probe()}}), flush=True)
        if args.trace:
            result = traced_run(wl, args, session, run_id)
        else:
            result = untraced_run(wl, args, session)
    finally:
        session.close()
        _reap(descendants)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
