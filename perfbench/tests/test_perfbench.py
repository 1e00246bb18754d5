"""Self-tests of the benchmark at tiny sizes (sf0.001, a two-ancestry
tree, a few queries). Each case runs perfbench/run.py as its own process,
as a user would:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = {
    "dataflow_refresh": [],
    "batch_queries": ["--queries", "q1_pricing_summary,weighted_avg,dedup_exact"],
    "streaming_queries": ["--queries", "stream_cdc_upsert,stream_anomaly_zscore"],
}


def run(workload, trace, *extra, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
           *TINY[workload], *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def last_json(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def result_file(p) -> str:
    line = next(x for x in p.stdout.splitlines() if x.startswith("result file: "))
    return line.split(": ", 1)[1]


def check_metrics(out: dict, spec_key: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(TINY))
def test_traced_run_emits_layers_and_sound_spans(workload):
    p = run(workload, 1)
    out = last_json(p)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    check_metrics(out, "per_layer")
    info = json.load(open(result_file(p)))
    assert set(info["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert info["named"]["error_rate"] == 0
    spans = json.load(open(result_file(p).replace(".json", ".spans.json")))["spans"]
    ids = {s["id"] for s in spans}
    assert spans and all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert all(s["self_s"] >= 0 and s["end"] >= s["start"] for s in spans)
    assert {s["level"] for s in spans if "level" in s} >= {"workload", "op", "check"}
    if workload == "dataflow_refresh":
        # the blocking path (list, output map, delta, runstatus, slowest
        # job, commit) plus Method.main's own time covers each round
        for s in spans:
            if s.get("level") == "op":
                assert sum(s["blocking_path"].values()) == pytest.approx(s["dur_s"], rel=0.05)


def test_untraced_run_emits_end_to_end_metrics():
    out = last_json(run("dataflow_refresh", 0))
    assert out["correct"] and out["failed"] == 0
    check_metrics(out, "end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("damage", ["output", "ledger"])
def test_checks_catch_a_corrupted_output_or_ledger_pair(damage):
    out = last_json(run("dataflow_refresh", 0, "--corrupt", damage))
    assert not out["correct"] and out["failed"] >= 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = run("batch_queries", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())
