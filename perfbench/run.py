#!/usr/bin/env python3
"""Layered benchmark of the rsmr-spark engine: time and accuracy.

Usage (from the repository root):

    python3 perfbench/run.py --workload scan_sampled --seed 1 --seconds 10 --trace 0

One client runs the workload's queries one at a time (a closed loop) on a
``local[nproc]`` session. A run generates its inputs if they are missing
(a fixed synthetic dataset, built once per checkout under
``.bench_build/perfbench``), sets the session up twice (each a new
JVM), runs two untimed warm-up passes, then times passes over the query
list for ``--seconds`` (at least three, and at least ``ACCURACY_DRAWS`` on a
workload with scored estimates). Each query is build (the package call
that returns the DataFrame, including any eager jobs it runs) plus action
(the noop sink, or ``collect()`` for the small answers the benchmark
checks every pass).
Sample seeds of every sampled query derive from ``--seed`` and the pass.
After the timed passes every output is checked, untimed, against DuckDB.
The accuracy metrics score the warm-up passes and the first
``ACCURACY_DRAWS`` timed passes only, so both sides of a comparison score
the same draws whatever their speed.

``--trace 1`` times the same untraced passes, then as many traced ones:
spans around each package call plus Spark status-store counters, reported
as per-layer metrics; the tracing overhead is the traced minus the
untraced ``pass_s``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it stamps the run
environment and the raw accuracy figures; the full record (spans,
per-query counters) is written under ``.bench_build/perfbench/runs``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

T_PROCESS = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PKG = "random_sampling_based_approximate_mapreduce_spark"

# the fixed synthetic dataset: one seed for the data, so replicas and
# layouts are built once per checkout and every run's set-up is warm
DATA_SEED = 20240101
# each set-up launches a JVM; two keep a run within its time budget
SETUPS = 2
MIN_PASSES = 3
WARMUP_PASSES = 2  # the JIT still compiles hard through the first pass
# timed passes whose scored estimates, with the warm-up passes' ones,
# make the accuracy metrics; the rel-L1 error of one draw is dominated by
# how far the sample size lands from its expectation, so the run's mean
# needs several draws to be steady from seed to seed
ACCURACY_DRAWS = 5
# a workload without estimates has no error to report; its exact answers
# score this floor, so the error metrics are never 0
ERROR_FLOOR = 1e-9


@dataclass(frozen=True)
class Scale:
    scan_sf: float  # documents + events base, replicated scan_copies times
    scan_copies: int
    corpus_sf: float
    scan_ratio: float


FULL = Scale(0.1, 4, 0.02, 0.05)
# the self-test's scale: sf0.001 bases; the scan base is copied enough
# times that every zstd/BGZF part spans several frames (the layout
# functions assert it) and ratio 0.5 still picks several of them
TINY = Scale(0.001, 16, 0.001, 0.5)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_s.max": "s",
    "peak_rss_mb": "MB",
    "rel_l1_error": "ratio",
    "achieved_error": "ratio",
    "ci_coverage": "share",
    "ok_share": "share",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.ensure_s": "s",
    "plans.build_s": "s",
    "plans.build_share": "share",
    "plans.build_jobs": "count",
    "plans.build_stages": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.cpu_s": "s",
    "exec.task_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy_share": "share",
    "exec.input_records": "count",
    "exec.input_bytes": "bytes",
    "sampling.rows_in": "count",
    "sampling.rows_kept": "count",
    "sampling.realised_ratio": "ratio",
    "sampling.kept_per_read": "ratio",
    "sources.pick_s": "s",
    "sources.units_picked": "count",
    "sources.bytes_picked_share": "share",
    "trace.overhead_s": "s",
    "trace.drift_queries": "count",
}


def derive_seed(*parts) -> int:
    raw = ":".join(str(p) for p in parts).encode()
    return int(hashlib.md5(raw).hexdigest()[:8], 16) % (2**31 - 1)


def set_environment(cores: int) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package (codec sources load it there)."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_CPUS"] = os.environ.get("SPARK_GRAFT_CPUS") or str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    # HotSpot keeps its perf-data files under /tmp whatever java.io.tmpdir says
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java_opts} -XX:-UsePerfData".strip()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def redirect_layouts() -> None:
    """The package caches one-time layouts under /tmp; keep them in the
    checkout by rewriting that prefix in ``sources.tables.ensure_layout``
    (and every module-level alias of it)."""
    # importing the catalog loads every plan module, so every alias exists
    from random_sampling_based_approximate_mapreduce_spark.plans import catalog  # noqa: F401
    from random_sampling_based_approximate_mapreduce_spark.sources import tables

    original = tables.ensure_layout
    root = os.path.join(WORK, "layouts")
    os.makedirs(root, exist_ok=True)

    def ensure_layout(src: str, write_fn) -> str:
        if src.startswith("/tmp/"):
            src = os.path.join(root, src[len("/tmp/") :])
        return original(src, write_fn)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PKG):
            for attr in ("ensure_layout", "_ensure_layout"):
                if getattr(mod, attr, None) is original:
                    setattr(mod, attr, ensure_layout)


def start_session():
    from random_sampling_based_approximate_mapreduce_spark.session import get_spark

    spark = get_spark(
        "rsmr-perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def generate_bases(scale: Scale, needs: tuple[str, ...]) -> dict[str, str]:
    """The synthetic base datasets the data in ``needs`` is made from."""
    import datagen

    out = {}
    for name, sf in (("scan", scale.scan_sf), ("corpus", scale.corpus_sf)):
        if name not in needs:
            continue
        d = os.path.join(WORK, "data", f"{name}_base_sf{sf}_seed{DATA_SEED}")
        marker = os.path.join(d, "_GENERATED")
        if not os.path.exists(marker):
            datagen.generate(d, sf, derive_seed(DATA_SEED, name))
            with open(marker, "w") as fh:
                fh.write("ok\n")
        out[name] = d
    return out


def ensure_data(spark, scale: Scale, bases: dict[str, str], needs: tuple[str, ...]) -> dict[str, str]:
    """The package's ensure_* calls for the data ``needs`` names: the scan
    replica and its byte-skip layouts (the corpus base is used as is).
    Cold on the first run of a checkout, a marker check afterwards."""
    from random_sampling_based_approximate_mapreduce_spark.sources.scale_up import ensure_scaled_tables
    from workloads import SCAN_LAYOUTS

    dirs = dict(bases)
    if "scan" in needs:
        cache = os.path.join(WORK, "replicas")
        os.makedirs(cache, exist_ok=True)
        dirs["scan"] = ensure_scaled_tables(
            spark, bases["scan"], ("events", "documents"), copies=scale.scan_copies, cache_root=cache
        )
        for key, layout in SCAN_LAYOUTS.items():
            dirs[key] = layout(spark, dirs["scan"])
    return dirs


def input_sizes(dirs: dict[str, str], needs: tuple[str, ...]) -> dict:
    import pyarrow.parquet as pq

    out = {}
    for data in needs:
        d = dirs[data]
        tables = {}
        for entry in sorted(os.listdir(d)):
            if not entry.endswith(".parquet"):
                continue
            p = os.path.join(d, entry)
            files = [p]
            if os.path.isdir(p):
                files = [os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")]
            tables[entry[: -len(".parquet")]] = {
                "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                "bytes": sum(os.path.getsize(f) for f in files),
            }
        out[data] = tables
    return out


def environment(spark, args, sizes: dict) -> dict:
    import pyspark

    sha = None
    if os.path.exists(os.path.join(ROOT, ".git")):  # a plain source tree has none
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except OSError:
            pass
    digest = hashlib.sha256()
    for base, _, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_sha": sha,
        "package_sha256": digest.hexdigest()[:16],
        "seed": args.seed,
        "data_seed": DATA_SEED,
        "inputs": sizes,
    }


class PickProbe:
    """Wraps the byte-skip sources' driver-side pick functions to time
    them and read what they picked (Spark reports no input bytes for
    Python data sources, so bytes picked come from here). Installed once
    per process."""

    TARGETS = (
        ("zstd_seekable_text", "pick_frames"),
        ("bgzf_text", "pick_blocks"),
    )

    def __init__(self):
        import importlib

        self.calls: list[dict] = []
        for mod_name, fn_name in self.TARGETS:
            mod = importlib.import_module(f"{PKG}.sources.{mod_name}")
            setattr(mod, fn_name, self._wrap(getattr(mod, fn_name), fn_name))

    def _wrap(self, fn, name):
        def probe(*a, **kw):
            start = time.monotonic()
            picked, picked_bytes, total_bytes = out = fn(*a, **kw)
            self.calls.append(
                {
                    "fn": name,
                    "start": start,
                    "end": time.monotonic(),
                    "units": len(picked),
                    "picked_bytes": picked_bytes,
                    "total_bytes": total_bytes,
                }
            )
            return out

        return probe

    def take(self) -> list[dict]:
        out, self.calls = self.calls, []
        return out


class Runner:
    """Runs a workload's passes; with an enabled tracer it also records
    spans, status-store counters and source picks per query."""

    def __init__(self, spark, dirs, workload, seed, picks: PickProbe, tracer=None):
        from tracing import StatusCounters, Tracer

        self.spark, self.dirs, self.w, self.seed = spark, dirs, workload, seed
        self.picks = picks
        self.tracer = tracer or Tracer(False)
        self.counters = StatusCounters(spark) if self.tracer.enabled else None
        self.executions: list[dict] = []
        self.leftover_blocks: list[int] = []

    def run_pass(self, pass_no: int, seed_pass: int) -> float:
        """One pass over the query list; returns its wall time (build plus
        action of every query; the clean-up between passes is not in it)."""
        total = 0.0
        with self.tracer.span("pass", workload=self.w.name, pass_no=pass_no):
            for q in self.w.queries:
                total += self._execute(q, derive_seed(self.seed, seed_pass, q.name), pass_no)
        self._clean()
        return total

    def _execute(self, q, seed: int, pass_no: int) -> float:
        rec = {"query": q.name, "seed": seed, "pass": pass_no, "ok": True}
        tr = self.tracer
        with tr.span("query", query=q.name, seed=seed, pass_no=pass_no):
            t0 = time.monotonic()
            try:
                ans = q.build(self.spark, self.dirs, self.w.ratio, seed)
                t1 = time.monotonic()
                rec["picks"] = self.picks.take()
                if tr.enabled:
                    tr.add("plans.build", t0, t1)
                    for p in rec["picks"]:
                        tr.add("sources.pick", p["start"], p["end"], fn=p["fn"], units=p["units"])
                    rec["build_counters"] = self.counters.delta()
                t2 = time.monotonic()
                if q.collect:
                    rec["rows"] = [r.asDict() for r in ans.df.collect()]
                    rec["columns"] = ans.df.columns
                else:
                    ans.df.write.format("noop").mode("overwrite").save()
                t3 = time.monotonic()
                if tr.enabled:
                    tr.add("exec.action", t2, t3)
                    rec["exec_counters"] = self.counters.delta()
                rec["build_s"], rec["action_s"] = t1 - t0, t3 - t2
                if ans.frame is not None and ans.frame.observation is not None:
                    rep = ans.frame.report()
                    rec["report"] = {
                        "total": rep.total_records,
                        "sampled": rep.sampled_records,
                        "achieved_error": rep.achieved_error if ans.frame.ratio < 1.0 else None,
                    }
                rec["answer"] = ans
            except Exception as exc:  # a failing query is counted, the run goes on
                rec["ok"] = False
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            rec["wall_s"] = time.monotonic() - t0
        self.executions.append(rec)
        return rec["wall_s"]

    def _clean(self) -> None:
        """Passes stay independent: drop cached plans and let the context
        cleaner free dead checkpoint and broadcast blocks. Records the RDD
        blocks (cached or checkpointed) the storage status still holds."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.leftover_blocks.append(sum(int(i.numCachedPartitions()) for i in infos))


def timed_window(runner: Runner, seconds: float, seed_of_pass, min_passes: int, rss=None) -> list[float]:
    """Passes until ``seconds`` have gone by and at least ``min_passes``
    ran; ``--seconds 0`` runs one pass. ``rss`` keeps one memory peak per
    pass."""
    passes = []
    min_passes = min_passes if seconds > 0 else 1
    deadline = time.monotonic() + seconds
    while len(passes) < min_passes or time.monotonic() < deadline:
        passes.append(runner.run_pass(len(passes), seed_of_pass(len(passes))))
        if rss is not None:
            rss.cut()
    return passes


def realised_share(rec: dict) -> float | None:
    """The share of the input this execution's sample actually kept: rows
    from the sampling report, else bytes from the source picks."""
    rep = rec.get("report")
    if rep and rep["total"]:
        return rep["sampled"] / rep["total"]
    total = sum(p["total_bytes"] for p in rec.get("picks", []))
    return sum(p["picked_bytes"] for p in rec["picks"]) / total if total else None


def check_executions(executions: list[dict], oracle) -> list[dict]:
    """Check every collected answer and each noop query's output once;
    an estimate's record gets its ``rel_l1`` error and CI tallies.
    Returns the failures."""
    import pandas as pd

    from checks import compare, score_estimate

    checked_once: set[str] = set()
    failures = []
    for rec in executions:
        if not rec["ok"]:
            failures.append({"query": rec["query"], "pass": rec["pass"], "why": rec["error"]})
            continue
        ans = rec.pop("answer")
        problems = []
        if "rows" in rec:
            got = pd.DataFrame(rec.pop("rows"), columns=rec.pop("columns"))
            if ans.oracle is not None:
                why = compare(got, oracle.query(ans.data, ans.oracle))
                if why:
                    problems.append(f"oracle: {why}")
            if ans.truth is not None and ans.ratio < 1.0:
                truth = oracle.query(ans.data, ans.truth)
                s = score_estimate(
                    got, truth, ans.keys, ans.est, ans.truth_cols, ans.ratio, ans.ci, realised_share(rec)
                )
                problems += s["problems"]
                rec.update(rel_l1=s["rel_l1"], ci_hits=s["ci_hits"], ci_n=s["ci_n"])
        elif ans.oracle is not None and rec["query"] not in checked_once:
            checked_once.add(rec["query"])
            got = ans.df.toPandas()
            why = compare(got, oracle.query(ans.data, ans.oracle))
            if why:
                problems.append(f"oracle: {why}")
        if problems:
            rec["ok"] = False
            failures.append({"query": rec["query"], "pass": rec["pass"], "why": "; ".join(problems)[:300]})
    return failures


def accuracy(draws: list[dict]) -> dict:
    """The accuracy metrics over the scored executions: mean rel-L1 error,
    mean achieved error bound the engine reported, and the share of
    estimates whose CI holds the exact value."""
    errors = [r["rel_l1"] for r in draws if not math.isnan(r.get("rel_l1", math.nan))]
    achieved = [r["report"]["achieved_error"] for r in draws if r.get("report", {}).get("achieved_error")]
    ci_n = sum(r.get("ci_n", 0) for r in draws)
    return {
        "rel_l1_error": max(statistics.fmean(errors), ERROR_FLOOR) if errors else ERROR_FLOOR,
        "achieved_error": max(statistics.fmean(achieved), ERROR_FLOOR) if achieved else ERROR_FLOOR,
        "ci_coverage": sum(r.get("ci_hits", 0) for r in draws) / ci_n if ci_n else 1.0,
    }


def errors_by_query(executions: list[dict]) -> dict[str, float]:
    """Mean rel-L1 error of each estimate query over every scored run of it."""
    by: dict[str, list[float]] = {}
    for r in executions:
        if not math.isnan(r.get("rel_l1", math.nan)):
            by.setdefault(r["query"], []).append(r["rel_l1"])
    return {q: round(statistics.fmean(v), 4) for q, v in by.items()}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(traced: list[dict], cores: int) -> dict:
    """Per-layer metrics: per-pass sums over the traced executions, then
    the median over passes. ``sampling.*`` sum the row samples' reports,
    ``sources.*`` the byte-skip sources' picks."""
    by_pass: dict[int, list[dict]] = {}
    for rec in traced:
        by_pass.setdefault(rec["pass"], []).append(rec)

    def per_pass(fn):
        return _median([fn(recs) for _, recs in sorted(by_pass.items())])

    def total(recs, kind, key):
        return sum(r.get(kind, {}).get(key, 0) for r in recs)

    def picks(recs, key):
        return sum(p[key] for r in recs for p in r.get("picks", []))

    def reports(recs, key):
        return sum(r["report"][key] for r in recs if "report" in r)

    out = {
        "plans.build_s": per_pass(lambda rs: sum(r.get("build_s", 0.0) for r in rs)),
        "plans.build_share": per_pass(
            lambda rs: sum(r.get("build_s", 0.0) for r in rs) / max(sum(r["wall_s"] for r in rs), 1e-9)
        ),
        "plans.build_jobs": per_pass(lambda rs: total(rs, "build_counters", "jobs")),
        "plans.build_stages": per_pass(lambda rs: total(rs, "build_counters", "stages")),
        "exec.action_s": per_pass(lambda rs: sum(r.get("action_s", 0.0) for r in rs)),
    }
    for name, key in (
        ("exec.jobs", "jobs"),
        ("exec.stages", "stages"),
        ("exec.tasks", "tasks"),
        ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
        ("exec.shuffle_read_bytes", "shuffle_read_bytes"),
        ("exec.spill_bytes", "spill_disk_bytes"),
        ("exec.input_records", "input_records"),
        ("exec.input_bytes", "input_bytes"),
    ):
        out[name] = per_pass(lambda rs, key=key: total(rs, "exec_counters", key))
    out["exec.cpu_s"] = per_pass(lambda rs: total(rs, "exec_counters", "cpu_ns") / 1e9)
    out["exec.task_s"] = per_pass(lambda rs: total(rs, "exec_counters", "task_ms") / 1e3)
    out["exec.gc_s"] = per_pass(lambda rs: total(rs, "exec_counters", "gc_ms") / 1e3)
    out["exec.core_busy_share"] = per_pass(
        lambda rs: total(rs, "exec_counters", "task_ms")
        / 1e3
        / max(sum(r.get("action_s", 0.0) for r in rs) * cores, 1e-9)
    )
    out["sampling.rows_in"] = per_pass(lambda rs: reports(rs, "total"))
    out["sampling.rows_kept"] = per_pass(lambda rs: reports(rs, "sampled"))
    out["sampling.realised_ratio"] = per_pass(
        lambda rs: reports(rs, "sampled") / reports(rs, "total") if reports(rs, "total") else 0.0
    )
    out["sampling.kept_per_read"] = per_pass(
        lambda rs: reports(rs, "sampled") / total(rs, "exec_counters", "input_records")
        if total(rs, "exec_counters", "input_records")
        else 0.0
    )
    out["sources.pick_s"] = per_pass(lambda rs: picks(rs, "end") - picks(rs, "start"))
    out["sources.units_picked"] = per_pass(lambda rs: picks(rs, "units"))
    out["sources.bytes_picked_share"] = per_pass(
        lambda rs: picks(rs, "picked_bytes") / picks(rs, "total_bytes") if picks(rs, "total_bytes") else 0.0
    )
    return out


def counter_drift(traced: list[dict]) -> list[str]:
    """Queries whose stage, task, input-record or shuffle-byte counts
    differ between traced passes (which all reuse the same seeds)."""
    keys = ("stages", "tasks", "input_records", "shuffle_write_bytes", "shuffle_read_bytes")
    seen: dict[str, set] = {}
    for rec in traced:
        if rec["ok"]:
            sig = tuple(
                rec.get(kind, {}).get(k, 0) for kind in ("build_counters", "exec_counters") for k in keys
            )
            seen.setdefault(rec["query"], set()).add(sig)
    return sorted(q for q, sigs in seen.items() if len(sigs) > 1)


def shutdown() -> None:
    """Stop the context, then the JVM, and wait for it to exit; the
    Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the next SparkContext launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001 inputs (the self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    set_environment(cores)
    sys.path[:0] = [ROOT, HERE]

    from workloads import workloads

    scale = TINY if args.tiny else FULL
    wl = workloads(scale.scan_ratio)
    if args.workload not in wl:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl)}", file=sys.stderr)
        return 2
    w = wl[args.workload]

    try:
        return run(args, w, scale, cores)
    finally:
        shutdown()


def run(args, w, scale: Scale, cores: int) -> int:
    from checks import Oracle
    from tracing import PeakRss, Tracer

    redirect_layouts()
    # set-up 1 runs from process start; set-ups 2.. stop the JVM and launch
    # a new one. Each ends with the warm ensure_* of the workload's data.
    session_s, ensure_s = [], []
    t = time.monotonic()
    bases = generate_bases(scale, w.data)  # the inputs, not the system's set-up
    build_s = time.monotonic() - t
    for i in range(SETUPS):
        if i:
            shutdown()
        t = time.monotonic()
        spark = start_session()
        session_s.append(time.monotonic() - t if i else time.monotonic() - T_PROCESS - build_s)
        if i == 0:
            t = time.monotonic()
            ensure_data(spark, scale, bases, w.data)  # builds on a checkout's first run
            build_s += time.monotonic() - t
        t = time.monotonic()
        dirs = ensure_data(spark, scale, bases, w.data)
        ensure_s.append(time.monotonic() - t)
    setups = [s + e for s, e in zip(session_s, ensure_s)]

    phases = {"setup_done": time.monotonic() - T_PROCESS}
    picks = PickProbe()
    runner = Runner(spark, dirs, w, args.seed, picks)
    for i in range(WARMUP_PASSES):
        runner.run_pass(-1 - i, derive_seed("warm-up", args.seed, i))
    phases["warm_done"] = time.monotonic() - T_PROCESS
    warm_execs = runner.executions[:]
    warm = [(e["query"], round(e["wall_s"], 3)) for e in warm_execs]
    runner.executions.clear()

    scored = {q.name for q in w.queries if q.scored}
    with PeakRss() as rss:
        passes = timed_window(
            runner, args.seconds, lambda p: p, max(MIN_PASSES, ACCURACY_DRAWS if scored else 0), rss
        )
    phases["window_done"] = time.monotonic() - T_PROCESS
    leftover = runner.leftover_blocks
    executions = runner.executions

    layers, drift, spans, traced = {}, [], [], []
    if args.trace:
        tracer = Tracer(True)
        tr_runner = Runner(spark, dirs, w, args.seed, picks, tracer)
        # every traced pass reuses pass 0's seeds, so counters must repeat
        traced_passes = timed_window(tr_runner, args.seconds, lambda p: 0, MIN_PASSES)
        traced = tr_runner.executions
        layers = layer_metrics(traced, cores)
        layers["session.start_s"] = _median(session_s)
        layers["session.ensure_s"] = _median(ensure_s)
        layers["trace.overhead_s"] = _median(traced_passes) - _median(passes)
        drift = counter_drift(traced)
        layers["trace.drift_queries"] = len(drift)
        spans = [s.as_dict() for s in tracer.spans]

    phases["trace_done"] = time.monotonic() - T_PROCESS
    oracle = Oracle(dirs)
    everything = warm_execs + executions + traced
    failures = check_executions(everything, oracle)
    oracle.close()
    attempted = len(everything)
    values = {
        "setup_s": _median(setups),
        "pass_s": _median(passes),
        "pass_s.max": max(passes),
        "peak_rss_mb": _median(rss.peaks) / 2**20,
        **accuracy([r for r in warm_execs + executions if r["pass"] < ACCURACY_DRAWS and r["query"] in scored]),
        "ok_share": 1.0 - len(failures) / attempted,
    }
    env = environment(spark, args, input_sizes(dirs, w.data))
    phases["checks_done"] = time.monotonic() - T_PROCESS

    raw = {
        "passes": len(passes),
        "pass_times": [round(p, 4) for p in passes],
        "failed_share": len(failures) / attempted,
        "rel_l1_by_query": errors_by_query(everything),
        "setups": [round(s, 4) for s in setups],
        "build_s": round(build_s, 3),
        "leftover_blocks": leftover,
        "phases": {k: round(v, 2) for k, v in phases.items()},
        "warm_up": warm,
    }
    record = {
        "workload": w.name,
        "why": w.why,
        "ratio": w.ratio,
        "env": env,
        "raw": raw,
        "metrics": values,
        "layers": layers,
        "drift": drift,
        "failures": failures,
        "spans": spans,
        "executions": [
            {k: v for k, v in r.items() if k not in ("answer", "rows", "columns")}
            for r in everything
        ],
    }
    out_dir = os.path.join(WORK, "runs")
    os.makedirs(out_dir, exist_ok=True)
    tag = "_tiny" if args.tiny else ""
    path = os.path.join(out_dir, f"{w.name}_seed{args.seed}_trace{args.trace}{tag}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    summary = {
        "workload": w.name,
        "env": {k: v for k, v in env.items() if k != "inputs"},
        "inputs": {d: {t: s["rows"] for t, s in tabs.items()} for d, tabs in env["inputs"].items()},
        "raw": {k: (round(v, 6) if isinstance(v, float) else v) for k, v in raw.items() if k != "warm_up"},
        "drift": drift,
        "failures": [f"{f['query']}#{f['pass']}: {f['why'][:80]}" for f in failures[:3]],
        "record": os.path.relpath(path, ROOT),
    }
    print(json.dumps(summary, separators=(",", ":"))[:1900])
    shown = values if not args.trace else layers
    units = END_TO_END if not args.trace else PER_LAYER
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": shown[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
