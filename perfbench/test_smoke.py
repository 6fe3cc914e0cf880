"""Smoke tests of the benchmark itself (not of the engine's speed).

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs its cold op, one more op and its end-of-run step on
tiny inputs, with every check; the printed metric names are compared
with BENCHMARK.json; and the runner must refuse to run without the
engine next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402

TINY = {
    "etl_playbook": {"N_RECORDS": 600, "N_CUSTOMERS": 50},
    "warehouse_sql": {"N_ORDERS": 1_500},
    "cdc_upsert": {"N_KEYS": 400, "BATCH_ROWS": 80, "MAX_BATCHES": 3,
                   "TRAVEL_EVERY": 1},
    "llm_ingest": {"BATCH_DOCS": 40, "MAX_BATCHES": 3, "REKEYED": 5},
}


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def work():
    d = tempfile.mkdtemp(prefix="run-smoke-", dir=_bench_dir())
    run.pin_environment(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _bench_dir() -> str:
    d = os.path.join(ROOT, ".perfbench")
    os.makedirs(d, exist_ok=True)
    return d


@pytest.fixture(scope="module")
def spark(work):
    import etl_tool_spark

    s = etl_tool_spark.get_spark("perfbench-smoke")
    yield s
    s.stop()


def _tiny(name: str, work: str, spark, trace: bool):
    from spans import Tracer

    wl = workloads.WORKLOADS[name](ROOT, os.path.join(work, name), 7)
    for k, v in TINY[name].items():
        setattr(wl, k, v)
    os.makedirs(wl.work)
    wl.generate()
    tracer = Tracer(spark)
    wl.start(spark, tracer)
    if trace:
        wl.wrap()
    return wl, tracer


def test_metric_names_match_benchmark_json():
    b = _benchmark()
    assert [m["name"] for m in b["end_to_end"]] == [n for n, _ in run.END_TO_END]
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == dict(run.END_TO_END)
    layer = dict(run.LAYER)
    assert all(layer[m["name"]] == m["unit"] for m in b["per_layer"])
    assert {w["name"] for w in b["workloads"]} <= set(workloads.WORKLOADS)
    assert b["command"] == ["python3", "perfbench/run.py"]


@pytest.mark.parametrize("name", ["warehouse_sql", "cdc_upsert", "llm_ingest"])
def test_tiny_ops_pass_their_checks(name, work, spark):
    wl, tracer = _tiny(name, work, spark, trace=True)
    try:
        ops = []
        for i in range(2):
            tracer.enabled, tracer.op = True, i
            ops.append(wl.op(i))
            tracer.enabled = False
            tracer.harvest()
        ops += wl.finish()
        layer = wl.layer_metrics()
    finally:
        tracer.unwrap_all()
    assert all(op.latency_s > 0 for op in ops)
    assert [op.problems for op in ops] == [[] for _ in ops]
    assert "op" in {s.name for s in tracer.spans}
    assert layer and all(isinstance(v, (int, float)) for v in layer.values())


def test_etl_clean_output_matches_the_fold(work, spark):
    wl, _ = _tiny("etl_playbook", work, spark, trace=False)
    op = wl.op(0)
    assert not [p for p in op.problems
                if p.startswith(("rows_out", "digest"))]


@pytest.mark.xfail(strict=True, reason=(
    "engine defect: mapping-errored records pass through flatten before "
    "the error split, so the error file holds one row per item (none for "
    "an empty list) instead of one row per failed record"))
def test_etl_error_file_matches_the_fold(work, spark):
    wl, _ = _tiny("etl_playbook", work, spark, trace=False)
    assert wl.op(0).problems == []


@pytest.mark.parametrize("trace", [0, 1])
def test_runner_prints_every_metric(trace):
    b = _benchmark()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "warehouse_sql",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = b["per_layer"] if trace else b["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    assert result["correct"] and result["failed"] == 0


def test_runner_refuses_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_playbook",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
