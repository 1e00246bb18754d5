"""Per-layer metrics of a traced run, derived from its spans, Spark's
status store and the streaming progress records.

Every workload reports every metric; a layer a workload never calls reads 0
there (the plans and ledger layers run only in dataflow_refresh, the
streaming layer only in streaming_queries, op.* only in the query
workloads).
"""

from __future__ import annotations

import os
import re
import statistics

from spans import EXEC_KEYS, STREAM_PHASES

UNITS = {
    "session.start_s": "s",
    "jvm.peak_rss_mb": "MB",
    "plans.list_s": "s",
    "plans.list_calls": "count",
    "plans.keys_listed": "count",
    "plans.output_map_s": "s",
    "plans.delta_s": "s",
    "plans.delta_candidates": "count",
    "plans.delta_fresh": "count",
    "plans.delta_useful_ratio": "ratio",
    "plans.jobs_run": "count",
    "plans.jobs_expected": "count",
    "plans.job_useful_ratio": "ratio",
    "plans.job_s": "s",
    "plans.job_max_s": "s",
    "plans.job_wait_s": "s",
    "plans.runstatus_s": "s",
    "plans.method_other_s": "s",
    "plans.blocking_path_share": "ratio",
    "ledger.commit_s": "s",
    "ledger.rows": "count",
    "ledger.versions_written": "count",
    "ledger.bytes": "bytes",
    "op.build_s": "s",
    "op.exec_s": "s",
    "op.cold_extra_s": "s",
    "stream.batches": "count",
    "stream.input_rows": "count",
    **{f"stream.{v}": "ms" for v in STREAM_PHASES.values()},
    "stream.state_rows": "count",
    "stream.state_memory_bytes": "bytes",
    "stream.outside_trigger_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.busy_share": "ratio",
}


def per_layer(b, workload: str, ops: list[dict], setup: dict, progress: list[dict]) -> dict:
    spans = b.tracer.spans
    kids = b.tracer.children()
    op_spans = [s for s in spans if s.get("level") == "op"]
    m = dict.fromkeys(UNITS, 0.0)
    m["session.start_s"] = setup["session_start_s"]
    if workload == "dataflow_refresh":
        _plans(b, m, spans, kids, op_spans, ops)
    else:
        _ops(m, spans, kids, op_spans, ops)
    if workload == "streaming_queries":
        _stream(m, progress, op_spans)
    _exec(m, spans, op_spans, b.cpus)
    return m


def _named(spans, name):
    return [s for s in spans if s["name"] == name]


def _plans(b, m, spans, kids, op_spans, ops) -> None:
    st = b.dataflow_stats
    m["plans.list_s"] = sum(s["dur_s"] for s in _named(spans, "list"))
    m["plans.list_calls"] = st["list_calls"]
    m["plans.keys_listed"] = st["keys_listed"]
    m["plans.output_map_s"] = sum(s["dur_s"] for s in _named(spans, "output_map"))
    # get_work minus its children (listing, output map): ledger read,
    # anti-join and collect
    m["plans.delta_s"] = sum(s["self_s"] for s in _named(spans, "get_work"))
    m["plans.delta_candidates"] = st["candidates"]
    m["plans.delta_fresh"] = st["fresh"]
    m["plans.delta_useful_ratio"] = st["fresh"] / st["candidates"] if st["candidates"] else 1.0
    jobs_run = sum(len(o["jobs_run"]) for o in ops)
    m["plans.jobs_run"] = jobs_run
    m["plans.jobs_expected"] = st["jobs_expected"]
    m["plans.job_useful_ratio"] = st["jobs_expected"] / jobs_run if jobs_run else 1.0
    m["ledger.commit_s"] = sum(s["dur_s"] for s in _named(spans, "insert_runs"))
    m["plans.method_other_s"] = sum(s["self_s"] for s in op_spans)
    path_total = wall_total = 0.0
    for op in op_spans:
        path = dict.fromkeys(("list", "output_map", "delta", "runstatus", "job_max", "commit"), 0.0)
        for s in _subtree(kids, op):
            if s["name"] == "list":
                path["list"] += s["dur_s"]
            elif s["name"] == "output_map":
                path["output_map"] += s["dur_s"]
            elif s["name"] == "get_work":
                path["delta"] += s["self_s"]
            elif s["name"] == "insert_runs":
                path["commit"] += s["dur_s"]
            elif s["name"] == "process_outputs":
                jobs = [j for j in kids.get(s["id"], []) if j["name"].startswith("job:")]
                if jobs:
                    first = min(j["start"] for j in jobs)
                    path["runstatus"] += first - s["start"]
                    path["job_max"] += max(j["dur_s"] for j in jobs)
                    m["plans.job_s"] += sum(j["dur_s"] for j in jobs)
                    m["plans.job_wait_s"] += sum(j["start"] - first for j in jobs)
        path["method_other"] = op["self_s"]
        op["blocking_path"] = path
        m["plans.runstatus_s"] += path["runstatus"]
        m["plans.job_max_s"] += path["job_max"]
        path_total += sum(v for k, v in path.items() if k != "method_other")
        wall_total += op["dur_s"]
    m["plans.blocking_path_share"] = path_total / wall_total
    ctx = b.dataflow_ctx
    m["ledger.rows"] = len(ctx.runs.all())
    for table in ("runs", "runstatus"):
        d = os.path.join(b.warehouse, table)
        versions = [int(x[2:]) for x in os.listdir(d) if re.fullmatch(r"v=\d+", x)]
        m["ledger.versions_written"] += max(versions) + 1
    for dirpath, _dirs, files in os.walk(b.warehouse):
        m["ledger.bytes"] += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)


def _subtree(kids, root):
    out, todo = [], list(kids.get(root["id"], []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def _ops(m, spans, kids, op_spans, ops) -> None:
    """Build (the query call) and exec (the noop write), per steady pass;
    cold extra = first pass minus the median steady pass."""
    steady = [s for s in op_spans if s["pass_"] > 0] or op_spans
    n_steady = len({s["pass_"] for s in steady})
    for part in ("build", "exec"):
        m[f"op.{part}_s"] = (
            sum(c["dur_s"] for s in steady for c in kids.get(s["id"], []) if c["name"] == part)
            / n_steady
        )
    passes: dict = {}
    for s in op_spans:
        passes[s["pass_"]] = passes.get(s["pass_"], 0.0) + s["dur_s"]
    if len(passes) > 1:
        m["op.cold_extra_s"] = passes[0] - statistics.median(
            v for k, v in passes.items() if k > 0
        )


def _stream(m, progress: list[dict], op_spans) -> None:
    last: dict = {}
    for p in progress:
        m["stream.batches"] += 1
        m["stream.input_rows"] += p.get("numInputRows", 0)
        for phase, name in STREAM_PHASES.items():
            m[f"stream.{name}"] += (p.get("durationMs") or {}).get(phase, 0)
        last[p["runId"]] = p
    for p in last.values():
        for so in p.get("stateOperators") or []:
            m["stream.state_rows"] += so.get("numRowsTotal", 0)
            m["stream.state_memory_bytes"] += so.get("memoryUsedBytes", 0)
    m["stream.outside_trigger_s"] = (
        sum(s["dur_s"] for s in op_spans) - m["stream.trigger_ms"] / 1e3
    )


def _exec(m, spans, op_spans, cpus: int) -> None:
    """Spark counters of every job submitted inside a timed op."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if "exec" not in s:
            continue
        cur = s
        while cur is not None and cur.get("level") != "op":
            cur = by_id.get(cur["parent"])
        if cur is None:
            continue
        for k in EXEC_KEYS:
            m[f"exec.{k}"] += s["exec"][k]
    wall = sum(s["dur_s"] for s in op_spans)
    m["exec.busy_share"] = m["exec.task_run_s"] / (wall * cpus) if wall else 0.0
