"""Layered benchmark of the ETL engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

One run is one fresh process: it makes its inputs from ``--seed`` (the
pipeline's CSV, the order of the headliner queries), sets up a
``local[nproc]`` Spark session (twice, reporting the median), and then
acts as a single closed-loop client calling the package's public
functions: one first pass, ``WARMUP_PASSES`` unreported passes while
the driver's JIT settles, then ``--seconds / NOMINAL_PASS_S`` steady
passes (about ``--seconds`` seconds on 4 CPUs).
Outputs are checked against DuckDB outside the timed region. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Workloads (``schema.WORKLOADS``):

- ``pipeline_csv``: ``plans.pipeline.run_pipeline`` over a seeded dirty
  CSV, one call per pass.
- ``headliners_cold``: each query of ``HEADLINERS`` over the engine's
  sf0.01 test tables (``gen.TABLES``), built with
  ``registry.QUERIES[name].fn`` and executed into the noop sink, in a
  seed-shuffled order each pass.

A set-up is what a one-shot caller pays before its first call:
``session.get_spark`` in a process with no driver yet, so ``get_spark``
launches the driver JVM itself with its own settings. The run pins only
what ``get_spark`` reads from the environment (``SPARK_GRAFT_CPUS``,
``SPARK_DRIVER_MEMORY``) and passes the benchmark's own settings
(temporary and event-log directories) through ``PYSPARK_SUBMIT_ARGS``.
``setup_s`` is the median of ``SETUP_REPEATS`` such set-ups, each after
the previous driver JVM has exited; the passes use the last one. The
traced run also reports the JVM launch inside them and the set-up of a
new session in an already running driver.

``--trace 0`` reports the end-to-end metrics (``schema.END_TO_END``).
``--trace 1`` enables the Spark event log and per-call spans and
reports the per-layer metrics (``schema.PER_LAYER``); it then repeats
the steady passes untraced to measure the tracing overhead.

Every run writes ``perfbench/_out/<tag>.json`` (all metrics and the
run configuration) and, when traced, ``<tag>.spans.json``; the tag
holds the workload, cpus, scale, seed, trace flag and a hash of the
package source, so no run overwrites another.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import math
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")
PACKAGE = "etl_challenge_localiza_spark"

#: Data rows of the pipeline CSV (plus 0.5% whole-row duplicates).
PIPELINE_ROWS = 50_000
#: Set-ups per run, each in a fresh driver JVM; ``setup_s`` is their
#: median. A cold set-up costs about 8 s on 4 CPUs, so two of them
#: are what the run's time allows.
SETUP_REPEATS = 2
#: Set-ups of a new session in the running driver, traced run only.
WARM_SETUPS = 3
#: Passes after the first one that are made but not reported: the
#: driver's JIT is still compiling through the first of them, which is
#: 20-40% slower than the passes after it, by an amount that varies
#: from run to run. The next pass is still 5-10% slower than the later
#: ones; as one of the five steady passes of a 16-second run it sits
#: above their median.
WARMUP_PASSES = 1
#: Steady passes per run at least, however short ``--seconds`` is.
MIN_STEADY = 3
#: Typical steady pass of either workload on 4 CPUs. A run makes
#: ``--seconds / NOMINAL_PASS_S`` steady passes, a count that does not
#: depend on how fast the box happens to be, so every run pools the
#: same number of calls into its percentiles.
NOMINAL_PASS_S = 3.2
#: Driver heap, passed to ``get_spark`` as ``SPARK_DRIVER_MEMORY``. With
#: the package's 8g default the heap grew by a different amount in each
#: run and ``peak_rss_mb`` spread by about 25% from run to run; a 2g
#: heap keeps it within about 10%.
DRIVER_MEMORY = "2g"

#: The headliner queries ``headliners_cold`` runs: a fixed subset of
#: the registry's 37 ``headline=True`` queries, small enough that a run
#: with two fresh drivers (``SETUP_REPEATS``) stays under a minute on
#: 4 CPUs, that still reaches every layer: the reference surface through
#: ``operators.cleaning`` (txn_clean, region_risk_avg), text operators
#: (quality_gate_filter), a TPC-H join with top-k (top10_orders) and a
#: builder that fires eager Spark jobs inside ``fn()``
#: (psi_value_drift). The count is odd so that the median call falls
#: inside one query's band of latencies rather than between two.
HEADLINERS = (
    "txn_clean",
    "region_risk_avg",
    "quality_gate_filter",
    "top10_orders",
    "psi_value_drift",
)


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def source_hash() -> str:
    """Hash of the package source: identifies the code measured, also
    in a checkout that is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest whole percentile (nearest rank) with at least ten
    samples above it, and that percentile, but never below the median:
    with fewer than 20 samples no percentile above the median has ten
    samples beyond it, and the median (percentile 50) is returned."""
    xs = sorted(xs)
    n = len(xs)
    for p in range(99, 50, -1):
        k = max(1, math.ceil(p * n / 100))
        if n - k >= 10:
            return xs[k - 1], p
    return median(xs), 50


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        import gen

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cpus = len(os.sched_getaffinity(0))
        self.source = source_hash()
        self.commit = git_commit()
        self.sf, self.tables = gen.SF, gen.TABLES
        self.tag = f"{workload}-c{self.cpus}-sf{self.sf}-s{seed}-t{int(trace)}-{self.source}"
        self.work = os.path.join(OUT, "work-" + self.tag)
        self.csv = os.path.join(self.work, "transactions.csv")
        self.data_dir = os.path.join(self.work, "data")
        self.curated_dir = os.path.join(self.work, "curated")
        self.events_dir = os.path.join(self.work, "eventlog")

        from spans import Tracer

        self.tr = Tracer(trace)
        self.spark = None
        self.last_frames: dict = {}  # headliner -> its last built frame
        self.expected: dict | None = None
        self.attempted = 0
        self.failed = 0
        self.calls: dict[str, int] = {}  # attempted calls per operation
        self.latencies: dict[str, list[float]] = {}  # per operation, in call order
        self.failures: dict[str, int] = {}  # failed calls per operation
        self.problems: dict[str, list[str]] = {}
        # per-op observations the traced run reads back
        self.phases: dict[str, dict[str, float]] = {}
        self.cache_mb: dict[str, float] = {}
        self.written_mb: dict[str, float] = {}
        self.kept_frac: dict[str, float] = {}

    # --- process and session lifetime ------------------------------------

    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, self.events_dir, os.path.join(self.work, "spark-local")):
            os.makedirs(d)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        # no hsperfdata files under /tmp from spark-submit's launcher JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": "true" if self.trace else "false",
            "spark.eventLog.dir": self.events_dir,
            "spark.eventLog.rolling.enabled": "false",  # one plain file per driver
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
        for k, v in conf.items():
            args += ["--conf", f"{k}={v}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
        import tempfile

        tempfile.tempdir = None

        import gen

        if self.workload == "pipeline_csv":
            t0 = time.perf_counter()
            self.expected = gen.write_pipeline_csv(self.csv, self.seed, PIPELINE_ROWS)
            log(f"inputs generated in {time.perf_counter() - t0:.2f}s")

    def new_session(self) -> float:
        from etl_challenge_localiza_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tr.span("session.get_spark", "setup"):
            self.spark = get_spark(cpus=self.cpus)
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.tr.sc = self.spark.sparkContext
        return dt

    def stop_session(self) -> None:
        if self.spark is not None:
            self.tr.sc = None
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    # --- set-up ----------------------------------------------------------

    def setup(self) -> list[float]:
        """``SETUP_REPEATS`` set-ups, each in a fresh driver JVM, keeping
        the last session; returns every set-up time."""
        times = []
        for _ in range(SETUP_REPEATS):
            self.shutdown()
            times.append(self.new_session())
        return times

    def warm_setups(self) -> list[float]:
        """``WARM_SETUPS`` new sessions in the running driver, keeping the
        last; returns their set-up times."""
        times = []
        for _ in range(WARM_SETUPS):
            self.stop_session()
            times.append(self.new_session())
        return times

    # --- one pass of each workload -> list of call latencies ---------------

    def pass_pipeline(self, k: int) -> list[float]:
        from etl_challenge_localiza_spark.plans.pipeline import run_pipeline

        import checks

        op = f"p{k}/run_pipeline"
        self.attempt("run_pipeline")
        try:
            t0 = time.perf_counter()
            with self.tr.span("plans.run_pipeline", op):
                result = run_pipeline(self.spark, self.csv, self.data_dir, self.curated_dir)
            dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a failed call is a result
            self.fail("run_pipeline", f"{type(e).__name__}: {e}")
            return []
        problems = checks.check_pipeline(self.data_dir, self.curated_dir, self.expected)
        if problems:
            self.fail("run_pipeline", *problems)
        self.kept_frac[op] = result.dq_post["total_rows"] / max(1, result.dq_pre["total_rows"])
        self.written_mb[op] = sum(
            os.path.getsize(os.path.join(d, f))
            for top in (self.data_dir, self.curated_dir)
            for d, _, files in os.walk(top) for f in files
        ) / (1 << 20)
        return [self.done("run_pipeline", dt)]

    def pass_cold(self, k: int) -> list[float]:
        from etl_challenge_localiza_spark.registry import QUERIES

        calls = []
        for name in self.order(k):
            op = f"p{k}/{name}"
            self.attempt(name)
            try:
                t0 = time.perf_counter()
                with self.tr.span("registry.build", op):
                    df = QUERIES[name].fn(self.spark, self.tables)
                t1 = time.perf_counter()
                if self.trace:
                    with self.tr.span("catalyst", op):
                        self.phases[op] = catalyst_phases(df)
                t2 = time.perf_counter()
                with self.tr.span("exec", op):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                if self.trace:
                    with self.tr.span("exec.redispatch", op):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                self.fail(name, f"{type(e).__name__}: {e}")
                continue
            self.last_frames[name] = df
            calls.append(self.done(name, (t1 - t0) + (t3 - t2)))
        return calls

    def order(self, k: int) -> list[str]:
        names = list(HEADLINERS)
        random.Random(f"{self.seed}/{k}").shuffle(names)
        return names

    def attempt(self, what: str) -> None:
        self.attempted += 1
        self.calls[what] = self.calls.get(what, 0) + 1

    def done(self, what: str, seconds: float) -> float:
        self.latencies.setdefault(what, []).append(round(seconds, 6))
        return seconds

    def fail(self, what: str, *problems: str, calls: int = 1) -> None:
        self.failed += calls
        self.failures[what] = self.failures.get(what, 0) + calls
        self.problems.setdefault(what, []).extend(problems)
        log(f"FAILED {what}: {problems[0] if problems else ''}")

    # --- measurement -------------------------------------------------------

    def run_pass(self, k: int) -> list[float]:
        if self.workload == "pipeline_csv":
            return self.pass_pipeline(k)
        return self.pass_cold(k)

    def measure(self, passes: int) -> tuple[list, list, list]:
        """Pass 0, the first in the fresh driver, then
        ``WARMUP_PASSES`` warm-up passes and ``passes`` steady ones
        (numbered on from 1). Returns (first pass calls, [total of each
        warm-up pass], [calls of each steady pass])."""
        first = self.run_pass(0)
        log(f"first pass {sum(first):.3f}s")
        warm = []
        for k in range(1, 1 + WARMUP_PASSES):
            warm.append(sum(self.run_pass(k)))
            log(f"warm-up pass {k} {warm[-1]:.3f}s")
        steady = []
        for k in range(1 + WARMUP_PASSES, 1 + WARMUP_PASSES + passes):
            steady.append(self.run_pass(k))
            log(f"pass {k} {sum(steady[-1]):.3f}s")
        return first, warm, steady

    def check_headliners(self) -> None:
        """Each headliner once against its DuckDB oracle; a mismatching
        query fails every call the run made to it."""
        import checks

        from etl_challenge_localiza_spark.registry import QUERIES

        con = checks.duck_connection(self.tables, self.cpus)
        try:
            for name in HEADLINERS:
                try:
                    df = self.last_frames.get(name)
                    if df is None:  # every call failed: check a fresh build
                        df = QUERIES[name].fn(self.spark, self.tables)
                    problems = checks.check_headliner(name, df, con)
                except Exception as e:  # noqa: BLE001
                    problems = [f"{type(e).__name__}: {e}"]
                if problems:
                    unfailed = self.calls.get(name, 0) - self.failures.get(name, 0)
                    self.fail(name, *problems, calls=unfailed)
        finally:
            con.close()

    # --- the whole run -----------------------------------------------------

    def run(self) -> dict:
        try:
            return self._run()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    def _run(self) -> dict:
        log(f"workload={self.workload} seed={self.seed} cpus={self.cpus} sf={self.sf}"
            f" trace={int(self.trace)} source={self.source} commit={self.commit}")
        self.prepare()
        if self.trace:
            self.install_wrappers()
        try:
            setup_times = self.setup()
            warm_times = self.warm_setups() if self.trace else []
            passes = max(MIN_STEADY, round(self.seconds / NOMINAL_PASS_S))
            first, warm, steady = self.measure(passes)
            calls = [c for p in steady for c in p]
            pass_s = median([sum(p) for p in steady])
            p_tail, pct = tail(calls)
            e2e = {
                "setup_s": median(setup_times),
                "first_pass_s": sum(first),
                "pass_s": pass_s,
                "call_p50_s": median(calls),
                "call_tail_s": p_tail,
                "peak_rss_mb": self.peak_rss_mb(),
            }
            info = {"calls": len(calls), "call_tail_pct": pct, "steady_passes": len(steady),
                    "warmup_times": warm, "pass_times": [sum(p) for p in steady],
                    "setup_times": setup_times,
                    "warm_setup_times": warm_times,
                    "latencies": self.latencies}
            if self.trace:
                per_layer = self.layer_metrics(steady, setup_times, warm_times)
            if self.workload != "pipeline_csv":
                self.check_headliners()
            if self.trace:
                per_layer["ops.failed_frac"] = self.failed / max(1, self.attempted)
        finally:
            self.shutdown()
        result = {
            "workload": self.workload, "seed": self.seed, "cpus": self.cpus, "sf": self.sf,
            "pipeline_rows": PIPELINE_ROWS if self.workload == "pipeline_csv" else None,
            "headliners": list(HEADLINERS) if self.workload != "pipeline_csv" else None,
            "trace": int(self.trace), "seconds": self.seconds,
            "driver_memory": DRIVER_MEMORY,
            "commit": self.commit, "source": self.source,
            "attempted": self.attempted, "failed": self.failed,
            "failed_ops": self.failed / max(1, self.attempted),
            "known_failures": self.problems,
            "end_to_end": e2e, "info": info,
        }
        if self.trace:
            result["per_layer"] = per_layer
            self.tr.write(os.path.join(OUT, self.tag + ".spans.json"))
        with open(os.path.join(OUT, self.tag + ".json"), "w") as f:
            json.dump(result, f, indent=1)
        return result

    def peak_rss_mb(self) -> float:
        from spans import vm_hwm_mb

        pid = self.jvm_pid()
        return vm_hwm_mb() + (vm_hwm_mb(pid) if pid is not None else 0.0)

    # --- traced run --------------------------------------------------------

    def install_wrappers(self) -> None:
        """Spans around the public functions ``run_pipeline`` and the
        registry call, and around the driver JVM's launch, wrapped where
        the callers look them up."""
        from pyspark.core import context

        from etl_challenge_localiza_spark import registry, session
        from etl_challenge_localiza_spark.plans import pipeline

        tr = self.tr
        tr.wrap(context, "launch_gateway", "session.jvm_launch")
        tr.wrap(registry, "tune", "session.tune")
        tr.wrap(session, "tune", "session.tune")
        for attr, name in (
            ("read_transactions_csv", "sources.readers.read_transactions_csv"),
            ("dq_profile", "operators.quality.dq_profile"),
            ("clean_transactions", "operators.cleaning.clean_transactions"),
            ("region_risk_avg", "operators.analytics.region_risk_avg"),
            ("last_sale_per_address", "operators.analytics.last_sale_per_address"),
            ("top3_recent_sales", "operators.analytics.top3_recent_sales"),
            ("write_json_metrics", "sources.sinks.write_json_metrics"),
        ):
            tr.wrap(pipeline, attr, name)

        write_single_csv = pipeline.write_single_csv

        def traced_write_single_csv(*args, **kwargs):
            op = tr.current_op()
            if op is not None and op not in self.cache_mb:
                # both fan-out caches are materialized by the time the
                # first curated table is published
                infos = self.spark._jsc.sc().getRDDStorageInfo()
                self.cache_mb[op] = sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)
            with tr.span("sources.sinks.write_single_csv"):
                return write_single_csv(*args, **kwargs)

        pipeline.write_single_csv = traced_write_single_csv

    def layer_metrics(self, steady: list, setup_times: list[float],
                      warm_times: list[float]) -> dict[str, float]:
        """Per-layer metrics of the traced steady passes, then the
        untraced repeat for ``trace.overhead_frac`` and the DuckDB
        control."""
        from schema import PER_LAYER
        from spans import EventLog, csv_scan_stats, duration, exec_stats, job_wall

        import checks

        traced_pass = median([sum(p) for p in steady])
        steady_ks = range(1 + WARMUP_PASSES, 1 + WARMUP_PASSES + len(steady))
        untraced_pass = self.untraced_passes(steady_ks.stop, len(steady))
        log_ = EventLog(self.events_dir)  # complete once the contexts stopped
        tr = self.tr
        kids = tr.children()

        by_pass: dict[int, dict[str, list[dict]]] = {}
        for s in tr.spans:
            op = s["op"] or ""
            if op.startswith("p") and "/" in op:
                k = int(op[1:op.index("/")])
                by_pass.setdefault(k, {}).setdefault(s["name"], []).append(s)

        def jobs_under(spans):
            return log_.jobs_of(i for s in spans for i in tr.subtree(s["id"], kids))

        rows = []
        for k in steady_ks:
            sp = by_pass.get(k, {})
            get = lambda name: sp.get(name, [])  # noqa: E731
            total = lambda name: sum(duration(s) for s in get(name))  # noqa: E731
            row = dict.fromkeys(PER_LAYER, 0.0)
            row["session.tune_calls"] = len(get("session.tune"))
            row["session.tune_s"] = total("session.tune")
            builds = get("registry.build")
            row["registry.build_s"] = total("registry.build")
            build_jobs = jobs_under(builds)
            row["registry.build_jobs"] = len(build_jobs)
            row["registry.build_job_s"] = sum(job_wall(jobs_under([b])) for b in builds)
            row["registry.build_py_s"] = row["registry.build_s"] - row["registry.build_job_s"]
            ops = {s["op"] for s in builds}
            for phase in ("analysis", "optimization", "planning"):
                row[f"catalyst.{phase}_s"] = sum(self.phases.get(o, {}).get(phase, 0.0) for o in ops)
            redispatch = {s["op"]: duration(s) for s in get("exec.redispatch")}
            row["exec.fresh_plan_s"] = sum(
                duration(s) - redispatch[s["op"]] for s in get("exec") if s["op"] in redispatch
            )
            pipe = get("plans.run_pipeline")
            exec_jobs = jobs_under(pipe or get("exec"))
            row.update(exec_stats(exec_jobs, self.cpus))
            if pipe:
                op = pipe[0]["op"]
                row["plans.run_pipeline_s"] = total("plans.run_pipeline")
                row["plans.run_pipeline.self_s"] = sum(tr.self_time(s["id"], kids) for s in pipe)
                row["operators.quality.dq_profile_s"] = total("operators.quality.dq_profile")
                row["operators.quality.dq_profile_jobs"] = len(
                    jobs_under(get("operators.quality.dq_profile")))
                row["operators.cleaning.clean_transactions_s"] = total(
                    "operators.cleaning.clean_transactions")
                row["operators.cleaning.rows_kept_frac"] = self.kept_frac.get(op, 0.0)
                row["operators.analytics.build_s"] = sum(
                    total(n) for n in sp if n.startswith("operators.analytics."))
                scans, scan_s = csv_scan_stats(exec_jobs)
                row["sources.csv_scans"] = scans
                row["sources.csv_scan_task_s"] = scan_s
                row["sources.sinks.write_single_csv_s"] = total("sources.sinks.write_single_csv")
                row["sources.sinks.write_json_metrics_s"] = total("sources.sinks.write_json_metrics")
                row["sources.sinks.bytes_written_mb"] = self.written_mb.get(op, 0.0)
                row["sources.sinks.write_amp"] = (
                    self.written_mb.get(op, 0.0) * (1 << 20) / os.path.getsize(self.csv))
                row["cache.stored_mb"] = self.cache_mb.get(op, 0.0)
            rows.append(row)

        out = {name: median([r[name] for r in rows]) for name in PER_LAYER}
        out["session.jvm_launch_s"] = median(
            [duration(s) for s in tr.spans if s["name"] == "session.jvm_launch"])
        out["session.get_spark_s"] = median(setup_times)
        out["session.warm_get_spark_s"] = median(warm_times)
        if self.workload == "pipeline_csv":
            duck = checks.duck_pipeline(self.csv, os.path.join(self.work, "duck"), self.cpus)
        else:
            con = checks.duck_connection(self.tables, self.cpus)
            try:
                duck = checks.duck_headliners(con, list(HEADLINERS))
            finally:
                con.close()
        out["control.duckdb_pass_s"] = duck
        out["control.duckdb_ratio"] = untraced_pass / duck if duck > 0 else 0.0
        out["trace.overhead_frac"] = traced_pass / untraced_pass - 1 if untraced_pass else 0.0
        return out

    def untraced_passes(self, first_k: int, passes: int) -> float:
        """``passes`` passes with tracing off, in a fresh session of the
        same driver (event log disabled, no spans, no job groups); returns
        their median pass time. The driver's JIT is warmer by then than
        during the traced passes, so the overhead is an upper bound."""
        from pyspark import SparkContext

        self.stop_session()
        SparkContext._gateway.jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")
        self.tr.enabled = False
        self.new_session()
        times = [sum(self.run_pass(first_k + i)) for i in range(passes)]
        log(f"untraced passes {times}")
        return median(times)


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (s) of a freshly built frame. A noop write
    plans through its own QueryExecution, so the frame's is forced to
    its executed plan first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        out[phase] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
    return out


def result_line(result: dict, trace: bool) -> dict:
    """The last stdout line: correctness, counts and the metrics of the
    requested kind, each with its unit."""
    from schema import END_TO_END, PER_LAYER

    units, values = (PER_LAYER, result["per_layer"]) if trace else (END_TO_END, result["end_to_end"])
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    from schema import WORKLOADS

    ap = argparse.ArgumentParser(description="Layered benchmark of the ETL engine.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    missing = [m for m in (PACKAGE, "pyspark", "tests.oracle_harness")
               if importlib.util.find_spec(m.split(".")[0]) is None]
    if missing:
        log(f"cannot run: {', '.join(missing)} not importable from {ROOT}")
        return 2
    os.makedirs(OUT, exist_ok=True)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    result = bench.run()
    line = result_line(result, bool(args.trace))
    for name, m in line["metrics"].items():
        log(f"{name} = {m['value']:.6g} {m['unit']}")
    if result["known_failures"]:
        log(f"known failures: {sorted(result['known_failures'])}")
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
