#!/usr/bin/env python
"""The repository benchmark (see BENCHMARK.json and README.md here).

Run from the repository root:

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

One run is one fresh process and one SparkSession on local[nproc] with
SPARK_GRAFT_CPUS=nproc.  It is a closed loop with one client: the
workload's registered queries run back to back, each forced with the
noop sink.  After one untimed settle pass, timed passes run until
``--seconds`` is spent; every pass shuffles the job order with a
generator seeded by ``--seed``.  Then, outside every metric, each job
is collected once and its hash compared with its DuckDB oracle.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` installs the
layer wrappers and the event log, alternates untraced and traced timed
passes, and prints the per-layer metrics (per traced pass) with the
tracing overhead as the relative drop in ``rows_per_s``.  The last line
of stdout is one JSON object: correct, attempted, failed, metrics.

All scratch files (Spark local dirs, temp files, the event log) live in
``.perfbench/`` under the repository root; per-run directories are
removed when the run ends, and the span and host records stay in
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import atexit
import json
import math
import os
import platform
import random
import re
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
TAIL_BEYOND = 10
MIN_PASSES = 4
DEADLINE_S = 170

sys.path.insert(0, HERE)

import tracing  # noqa: E402
from workloads import DATA_DIR, WORKLOADS, rows_per_pass  # noqa: E402


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tail_percentile(jobs: int) -> float:
    """The highest percentile with TAIL_BEYOND samples beyond it in a run
    of MIN_PASSES passes.  It is fixed per workload, so runs that fit in
    more passes still report the same percentile."""
    n = MIN_PASSES * jobs
    return 100.0 * (n - TAIL_BEYOND) / n


def nearest_rank(samples: list[float], pct: float) -> float:
    ordered = sorted(samples)
    return ordered[max(0, math.ceil(pct / 100.0 * len(ordered)) - 1)]


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def stated_rows(spec: dict, workload: str) -> int:
    """Input rows per pass as BENCHMARK.json states them in the
    workload's ``why``."""
    why = next(w["why"] for w in spec["workloads"] if w["name"] == workload)
    m = re.search(r"([\d,]+) input rows per pass", why)
    if not m:
        raise ValueError(f"BENCHMARK.json states no input rows for {workload}")
    return int(m.group(1).replace(",", ""))


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    """One workload in one SparkSession."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.jobs = list(WORKLOADS[args.workload])
        self.rng = random.Random(args.seed)
        self.tracer = None
        self.spark = None
        self.gateway = None
        self.failures: list[str] = []
        self.attempted = 0
        self.phases: dict[str, float] = {}
        self.hashes: dict[str, str] = {}
        self.frames: dict = {}  # each job's DataFrame from its latest run
        self.orders: list[list[str]] = []
        self.extra: dict = {}

    # -- session -------------------------------------------------------
    def start(self) -> None:
        if self.args.trace:
            self.tracer = tracing.Tracer()
            tracing.install(self.tracer)
        from hadoop_20_warehouse_spark import inventory, inventory_llm  # noqa: F401
        from hadoop_20_warehouse_spark.registry import ORACLES, QUERIES
        from hadoop_20_warehouse_spark.session import get_session
        from hadoop_20_warehouse_spark.ship import ensure_shipped
        from pyspark import SparkContext

        self.queries, self.oracles = QUERIES, ORACLES
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_session(extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.gateway = SparkContext._gateway
        ensure_shipped(self.spark)

    def stop(self) -> None:
        """Stop the session, the Python workers and the gateway JVM, and
        wait for the JVM to exit."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.gateway is not None:
            proc = self.gateway.proc
            self.gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            self.gateway = None

    # -- jobs ----------------------------------------------------------
    def run_job(self, name: str, group: str, traced: bool) -> float:
        """Constructor call plus noop-sink action; returns the wall time."""
        spark = self.spark
        spark.sparkContext.setJobGroup(group, name)
        spark.catalog.clearCache()
        fn = self.queries[name]
        if not traced:
            t0 = time.perf_counter()
            df = fn(spark, DATA_DIR)
            df.write.format("noop").mode("overwrite").save()
            self.frames[name] = df
            return time.perf_counter() - t0
        tr = self.tracer
        tr.job = name
        t0 = time.perf_counter()
        with tr.span(tracing.JOB):
            with tr.span(tracing.BUILD):
                df = fn(spark, DATA_DIR)
            with tr.span(tracing.PLAN):
                for phase, secs in tracing.catalyst_phases(df).items():
                    self.phases[phase] = self.phases.get(phase, 0.0) + secs
            with tr.span(tracing.ACTION):
                df.write.format("noop").mode("overwrite").save()
        self.frames[name] = df
        return time.perf_counter() - t0

    def one_pass(self, tag: str, traced: bool = False) -> tuple[float, dict[str, float]]:
        self.rng.shuffle(self.jobs)
        self.orders.append(list(self.jobs))
        if self.tracer is not None:
            self.tracer.enabled = traced
        prefix = tracing.TRACED_GROUP if traced else ""
        samples = {}
        t0 = time.perf_counter()
        for name in self.jobs:
            self.attempted += 1
            try:
                samples[name] = self.run_job(name, f"{prefix}{tag}:{name}", traced)
            except Exception as exc:  # noqa: BLE001 - a failed job is counted, not fatal
                self.failures.append(f"{tag} {name}: {type(exc).__name__}: {exc}"[:500])
        wall = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.enabled = False
        return wall, samples

    def check_outputs(self) -> None:
        """Collect each job's DataFrame from the last pass once and
        compare it with the job's DuckDB oracle."""
        import duckdb
        from tests.drive_contract import _hash_frame

        con = duckdb.connect()
        for f in sorted(os.listdir(DATA_DIR)):
            table = f[: -len(".parquet")]
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{os.path.join(DATA_DIR, f)}')"
            )
        self.spark.sparkContext.setJobGroup("check", "output check")
        for name in sorted(self.jobs):
            self.attempted += 1
            try:
                got = self.frames[name].toPandas()
                want = con.execute(self.oracles[name]).df()
            except Exception as exc:  # noqa: BLE001
                self.failures.append(f"check {name}: {type(exc).__name__}: {exc}"[:500])
                continue
            if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
                self.failures.append(
                    f"check {name}: cols {sorted(got.columns)} vs {sorted(want.columns)}, "
                    f"rows {len(got)} vs {len(want)}"
                )
            else:
                self.hashes[name] = _hash_frame(got)
                if self.hashes[name] != _hash_frame(want):
                    self.failures.append(f"check {name}: value hash mismatch")
        con.close()

    def record_peak_rss(self) -> None:
        """Driver Python high-water mark plus the gateway JVM's VmHWM."""
        driver_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm_mb = _vm_hwm_mb(self.gateway.proc.pid)
        self.extra |= {
            "peak_rss_mb": driver_mb + jvm_mb,
            "driver_rss_mb": driver_mb,
            "jvm_hwm_mb": jvm_mb,
        }

    # -- the run -------------------------------------------------------
    def timed(self, t_start: float) -> dict[str, float]:
        """Settle, then timed passes; the end-to-end metrics."""
        self.start()
        self.one_pass("settle")
        setup_s = time.perf_counter() - t_start
        walls, per_job = [], {}
        while len(walls) < MIN_PASSES or sum(walls) + walls[-1] / 2 < self.args.seconds:
            wall, s = self.one_pass(f"p{len(walls)}")
            walls.append(wall)
            for name, secs in s.items():
                per_job.setdefault(name, []).append(secs)
        samples = [secs for times in per_job.values() for secs in times]
        self.record_peak_rss()
        tail_pct = tail_percentile(len(self.jobs))
        self.passes = len(walls)
        self.extra |= {
            "job_tail_percentile": tail_pct,
            "job_samples": len(samples),
            "pass_walls_s": walls,
            "job_samples_s": per_job,
        }
        return {
            "rows_per_s": len(walls) * rows_per_pass(self.args.workload) / sum(walls),
            "job_p50_s": statistics.median(samples),
            "job_tail_s": nearest_rank(samples, tail_pct),
            "setup_s": setup_s,
        }

    def traced(self) -> None:
        """Settle, then pairs of untraced and traced passes."""
        self.start()
        self.one_pass("settle")
        self.walls = {False: [], True: []}
        # Pairs in ABBA order, so warm-up drift does not read as overhead.
        pairs = 0
        while pairs < 2 or sum(self.walls[False] + self.walls[True]) < self.args.seconds:
            for traced in (False, True) if pairs % 2 == 0 else (True, False):
                wall, _ = self.one_pass(f"p{len(self.walls[traced])}", traced=traced)
                self.walls[traced].append(wall)
            pairs += 1
        self.passes = len(self.walls[True])

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics per traced pass; call after stop(), which
        flushes the event log."""
        n = self.passes
        spans = self.tracer.spans
        events = tracing.read_event_log(os.path.join(self.work, "eventlog"))
        out = {k: v / n for k, v in tracing.engine_metrics(events, spans).items()}
        summary = tracing.span_summary(spans)
        for layer in tracing.LAYERS:
            out[f"{layer}.self_s"] = summary["self_s"].get(layer, 0.0) / n
            out[f"{layer}.calls"] = summary["calls"].get(layer, 0) / n
        out["inventory.build_s"] = summary["total_s"].get(tracing.BUILD, 0.0) / n
        out["inventory.action_s"] = summary["total_s"].get(tracing.ACTION, 0.0) / n
        out["inventory.self_s"] = sum(
            summary["self_s"].get(k, 0.0)
            for k in (tracing.JOB, tracing.BUILD, tracing.PLAN, tracing.ACTION)
        ) / n
        out["trace.job_wall_s"] = summary["total_s"].get(tracing.JOB, 0.0) / n
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_s"] = self.phases.get(phase, 0.0) / n
        on_wall = sum(self.walls[True])
        slots = int(os.environ["SPARK_GRAFT_CPUS"])
        out["executor.busy_ratio"] = out["executor.run_s"] * n / (on_wall * slots)
        rows = rows_per_pass(self.args.workload)
        off = len(self.walls[False]) * rows / sum(self.walls[False])
        on = n * rows / on_wall
        out["trace.rows_per_s"] = on
        out["trace.overhead_ratio"] = (off - on) / off
        self.extra |= {"untraced_rows_per_s": off}
        return out


def host_record(args, passes: int) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": int(os.environ["SPARK_GRAFT_CPUS"]),
        "passes": passes,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _deadline(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def _terminate(signum, frame):
    # Unwind through the cleanup that stops Spark and removes scratch.
    raise SystemExit(128 + signum)


def run_workload(args, spec: dict) -> int:
    t_start = time.perf_counter()
    work = os.path.join(STATE, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
    cpus = str(nproc())
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
            # Keep the JVMs' temp and perf-data files inside the checkout.
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    # Registered first, so it runs after the engine's own exit handlers
    # that remove files inside this directory.
    atexit.register(shutil.rmtree, work, True)
    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)
    bench = Bench(args, work)
    try:
        if args.trace:
            bench.traced()
        else:
            metrics = bench.timed(t_start)
        t_check = time.perf_counter()
        bench.check_outputs()
        check_s = time.perf_counter() - t_check
        bench.stop()
        if args.trace:
            metrics = bench.layer_metrics()
            bench.tracer.dump(os.path.join(STATE, "out", f"{args.workload}_seed{args.seed}_spans.jsonl"))
    finally:
        bench.stop()
        signal.alarm(0)

    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(declared)}")
    record = host_record(args, bench.passes) | bench.extra | {"check_s": check_s}
    failed = len(bench.failures)
    with open(os.path.join(STATE, "out", f"{args.workload}_seed{args.seed}_trace{args.trace}.json"), "w") as fh:
        json.dump(
            {
                "host": record,
                "metrics": metrics,
                "failures": bench.failures,
                "output_hashes": bench.hashes,
                "job_order": bench.orders,
            },
            fh,
            indent=1,
        )
    print("host " + json.dumps(record))
    for name in declared:
        line = f"metric {args.workload} {name} {metrics[name]:.6g} {declared[name]}"
        if name == "job_tail_s":
            line += f" (p{record['job_tail_percentile']:.1f} of {record['job_samples']} samples)"
        print(line)
    if "peak_rss_mb" in record:
        print(f"metric {args.workload} peak_rss_mb {record['peak_rss_mb']:.6g} MB")
    print(f"metric {args.workload} failed_ratio {failed / bench.attempted:.6g} ratio")
    for f in bench.failures:
        print("FAIL " + f)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": bench.attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
            }
        ),
        flush=True,
    )
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Every workload, each in its own process; prints each one's metrics."""
    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        print("\n".join(l for l in lines[:-1] if l.startswith(("host ", "metric ", "FAIL "))))
        status = status or proc.returncode
    return status


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    missing = [
        path
        for path in ("hadoop_20_warehouse_spark", os.path.join("tests", "drive_contract.py"))
        if not os.path.exists(os.path.join(ROOT, path))
    ]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2
    if os.path.abspath(os.getcwd()) != ROOT:
        # Python workers import the engine from the driver's cwd.
        print(f"perfbench: run from the repository root {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    spec = load_spec()
    stated = stated_rows(spec, args.workload)
    if stated != rows_per_pass(args.workload):
        print(
            f"perfbench: BENCHMARK.json states {stated} input rows per pass for "
            f"{args.workload}, the fixtures give {rows_per_pass(args.workload)}",
            file=sys.stderr,
        )
        return 2
    return run_workload(args, spec)


if __name__ == "__main__":
    sys.exit(main())
