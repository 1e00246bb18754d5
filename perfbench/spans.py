"""Spans, Spark execution counters and streaming progress for a traced run.

A span is (id, name, start, end, parent, run id, attributes). Spans live in
memory and are written once at exit; self time is derived, as the span's
duration minus the union of its children's intervals, so concurrent
children (the dataflow's jobs) never drive a parent's self time below 0.

Spark counters come from the in-process status store. A span that sets a
job group owns the jobs that carry it; a job whose group no span set (a
streaming micro-batch runs under its query's run id) belongs to the
innermost op span whose window holds its submission time.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from typing import Optional

EXEC_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)

STREAM_PHASES = {
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
    "triggerExecution": "trigger_ms",
}


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool, run_id: str, sc=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Optional[int]:
        stack = self._stack()
        return stack[-1]["id"] if stack else None

    @contextmanager
    def span(self, name: str, parent: Optional[int] = None, group: bool = False, **attrs):
        """Time a block. `parent` defaults to this thread's open span;
        `group=True` tags the Spark jobs the block submits (job groups are
        per thread, so a worker thread sets its own)."""
        if not self.enabled:
            yield None
            return
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent if parent is not None else self.current(),
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        if group and self.sc is not None:
            s["group"] = f"{self.run_id}:{s['id']}"
            self.sc.setJobGroup(s["group"], name)
        with self._lock:
            self.spans.append(s)
        stack = self._stack()
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            if group and self.sc is not None:
                outer = next((x for x in reversed(stack) if "group" in x), None)
                if outer is not None:
                    self.sc.setJobGroup(outer["group"], outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self) -> dict:
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        return kids

    def finish(self) -> None:
        """Derive self time for every span (duration minus the union of
        its children's intervals)."""
        kids = self.children()
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted((c["start"], c["end"]) for c in kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            s["dur_s"] = dur
            s["self_s"] = max(0.0, dur - covered)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, fh)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


def spark_jobs(spark) -> list[dict]:
    """Every job in the status store with its stages' task counters
    summed. Waits for the listener bus first, so the store is complete."""
    jsc = spark.sparkContext._jsc.sc()
    jvm = spark._jvm
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    empty = jvm.java.util.ArrayList()
    stages: dict = {}
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    for st in _seq(store.stageList(empty, False, False, no_quantiles, empty)):
        m = stages.setdefault(st.stageId(), dict.fromkeys(EXEC_KEYS[2:], 0.0))
        if str(st.status()) == "SKIPPED":
            continue
        m["stages"] = 1
        m["tasks"] += st.numCompleteTasks()
        m["task_run_s"] += st.executorRunTime() / 1e3
        m["task_cpu_s"] += st.executorCpuTime() / 1e9
        m["gc_s"] += st.jvmGcTime() / 1e3
        m["shuffle_read_bytes"] += st.shuffleReadBytes()
        m["shuffle_write_bytes"] += st.shuffleWriteBytes()
        m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        m["input_bytes"] += st.inputBytes()
        m["output_bytes"] += st.outputBytes()
    jobs = []
    for jd in _seq(store.jobsList(empty)):
        sub = _opt(jd.submissionTime())
        job = {
            "group": _opt(jd.jobGroup()),
            "submitted": sub.getTime() / 1e3 if sub is not None else None,
            "jobs": 1,
            "stages": 0,
        }
        for k in EXEC_KEYS[2:]:
            job[k] = 0.0
        for sid in _seq(jd.stageIds()):
            m = stages.get(sid)
            if m is None:
                continue
            job["stages"] += m.get("stages", 0)
            for k in EXEC_KEYS[2:]:
                job[k] += m[k]
        jobs.append(job)
    return jobs


def attach_jobs(tracer: Tracer, jobs: list[dict]) -> list[dict]:
    """Attribute jobs to spans (see module doc) and store per-span exec
    counters under span["exec"]. Returns the jobs no span owns (set-up)."""
    by_group = {s["group"]: s for s in tracer.spans if "group" in s}
    ops = [s for s in tracer.spans if s.get("level") == "op"]
    stray = []
    for job in jobs:
        owner = by_group.get(job["group"])
        if owner is None and job["submitted"] is not None:
            owner = next(
                (s for s in ops if s["start"] <= job["submitted"] <= s["end"]), None
            )
        if owner is None:
            stray.append(job)
            continue
        acc = owner.setdefault("exec", dict.fromkeys(EXEC_KEYS, 0.0))
        for k in EXEC_KEYS:
            acc[k] += job[k]
    return stray


def make_stream_listener(sink: list):
    """A StreamingQueryListener that appends each progress record (as a
    dict) to `sink`."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()
