"""Self-tests of the benchmark.  Run from the repository root:

    python -m pytest perfbench/tests -q

The end-to-end tests run the benchmark itself (two seeds per workload
and one traced run), which takes several minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = run.load_spec()
SEEDS = (1, 2)


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """One benchmark run; returns its result line and its record file."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    path = os.path.join(run.STATE, "out", f"{workload}_seed{seed}_trace{trace}.json")
    with open(path) as fh:
        return result, json.load(fh)


@pytest.fixture(scope="module")
def untraced():
    return {(w, s): _run(w, s, 0) for w in WORKLOADS for s in SEEDS}


@pytest.fixture(scope="module")
def traced():
    return {w: _run(w, 1, 1) for w in WORKLOADS}


def test_spec_workloads_match_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    for w in WORKLOADS:
        assert run.stated_rows(SPEC, w) == run.rows_per_pass(w)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    jobs = 8
    samples = [float(i) for i in range(run.MIN_PASSES * jobs)]
    value = run.nearest_rank(samples, run.tail_percentile(jobs))
    assert sum(s > value for s in samples) == run.TAIL_BEYOND


def test_self_time_subtracts_children():
    spans = [
        tracing.Span("job", 0.0, 10.0),
        tracing.Span("inventory.build", 0.0, 4.0, parent=0),
        tracing.Span("dedup", 1.0, 3.0, parent=1),
        tracing.Span("functions", 1.5, 2.0, parent=2),
        tracing.Span("inventory.action", 4.0, 10.0, parent=0),
    ]
    summary = tracing.span_summary(spans)
    assert summary["self_s"] == {
        "job": 0.0, "inventory.build": 2.0, "dedup": 1.5, "functions": 0.5,
        "inventory.action": 6.0,
    }
    assert tracing.innermost(spans, 1.7) == 3
    assert tracing.innermost(spans, 5.0) == 4


def test_job_tables_are_the_tables_each_job_reads():
    """The input-row count rests on WORKLOADS naming every fixture table
    each job's constructor reads; record the reads and compare."""
    code = f"""
import os, sys
sys.path.insert(0, {ROOT!r}); sys.path.insert(0, {BENCH!r})
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
from pyspark.sql.readwriter import DataFrameReader
from workloads import DATA_DIR, WORKLOADS
seen = set()
orig = DataFrameReader.parquet
def parquet(self, *paths, **kw):
    seen.update(os.path.basename(p)[:-len(".parquet")] for p in paths if str(p).startswith(DATA_DIR))
    return orig(self, *paths, **kw)
DataFrameReader.parquet = parquet
from hadoop_20_warehouse_spark import inventory, inventory_llm
from hadoop_20_warehouse_spark.registry import QUERIES
from hadoop_20_warehouse_spark.session import get_session
spark = get_session(extra_conf={{"spark.ui.showConsoleProgress": "false"}})
bad = []
for jobs in WORKLOADS.values():
    for name, tables in jobs.items():
        seen.clear()
        QUERIES[name](spark, DATA_DIR)
        if seen != set(tables):
            bad.append((name, sorted(seen), sorted(tables)))
spark.stop()
print(bad)
"""
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    assert proc.returncode == 0
    assert proc.stdout.strip().splitlines()[-1] == "[]"


def test_every_end_to_end_metric_with_its_unit(untraced):
    declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    for (workload, seed), (result, record) in untraced.items():
        assert result["correct"] and result["failed"] == 0, (workload, seed)
        assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
        assert all(v["value"] > 0 for v in result["metrics"].values())
        host = record["host"]
        assert host["nproc"] == host["SPARK_GRAFT_CPUS"] == len(os.sched_getaffinity(0))
        assert host["seed"] == seed and host["passes"] >= run.MIN_PASSES


def test_seeds_give_the_same_jobs_and_outputs(untraced):
    for workload in WORKLOADS:
        records = [untraced[(workload, s)][1] for s in SEEDS]
        assert sorted(records[0]["output_hashes"]) == sorted(WORKLOADS[workload])
        assert records[0]["output_hashes"] == records[1]["output_hashes"]
        assert records[0]["job_order"] != records[1]["job_order"]


def test_traced_run_accounts_for_job_wall_time(traced):
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for workload, (result, _record) in traced.items():
        assert result["correct"], workload
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
        self_times = [m[f"{layer}.self_s"] for layer in tracing.LAYERS] + [m["inventory.self_s"]]
        assert min(self_times) >= 0.0, workload
        wall = m["trace.job_wall_s"]
        assert sum(self_times) == pytest.approx(wall, rel=1e-6), workload
        # Time with no task running is part of the job wall time, and the
        # rest of it is covered by tasks.
        assert 0.0 < m["driver.gap_s"] < wall, workload
        assert m["scheduler.jobs"] > 0 and m["scheduler.tasks"] > 0
    # The curation workload goes through Python workers, the warehouse one
    # does not.
    curation = traced["curation_udf"][0]["metrics"]
    warehouse = traced["warehouse_sql"][0]["metrics"]
    assert curation["pyworker.run_s"]["value"] > 0 and curation["arrow.to_python_bytes"]["value"] > 0
    assert warehouse["arrow.to_python_bytes"]["value"] == 0
