"""Spans recorded around the benchmark's calls into the package, and the
Spark event log joined to them.

Every op the benchmark runs gets an id. The id goes onto the Spark jobs
the op launches as the local property ``perfbench.op`` (with
``perfbench.phase`` = ``build`` while the query DataFrame is being
constructed, ``exec`` while it runs) and the op is named in the job
description. After the session stops, :func:`read_event_log` sums the
task metrics of the uncompressed event log per op and phase, so stage
time, shuffle bytes and Python-worker time land on the span that caused
them.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

OP_PROPERTY = "perfbench.op"
PHASE_PROPERTY = "perfbench.phase"

# Python-boundary SQL metrics Spark attaches to MapInPandas /
# FlatMapGroupsInPandas / ArrowEvalPython and friends.
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a plain-JSON, single-file event log (4.1
    defaults to a zstd-compressed rolling directory)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans kept in memory and written out when the run ends.

    A disabled tracer still hands out ids (ops are tagged either way)
    but records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0

    def new_id(self) -> int:
        self._next += 1
        return self._next

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Time a block; nested spans record their parent."""
        sid = self.new_id()
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "op": op,
            "start": time.perf_counter(),
            **attrs,
        }
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if self.enabled:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: int | None, op: str | None = None) -> None:
        """Record a span measured elsewhere (e.g. a pipeline step)."""
        if self.enabled:
            self.spans.append(
                {"id": self.new_id(), "parent": parent, "name": name, "op": op, "start": start, "end": end}
            )


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name of time not covered by the span's children."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], ())):
            a, b = max(a, s["start"]), min(b, s["end"])
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)


def tag(sc, op: str | None, phase: str | None, description: str | None = None) -> None:
    """Label the jobs the next calls launch (``None`` clears a label)."""
    sc.setLocalProperty(OP_PROPERTY, op)
    sc.setLocalProperty(PHASE_PROPERTY, phase)
    sc.setJobDescription(description)


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst analysis/optimization/planning time of ``df`` in ms.
    Forces the executed plan first, so every phase has run."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def _zero() -> dict[str, float]:
    return defaultdict(float)


def read_event_log(log_dir: str) -> dict[tuple[str, str], dict[str, float]]:
    """(op, phase) → summed metrics of the jobs tagged with them.

    Keys: jobs, stages, tasks, executor_run_s, executor_cpu_s, gc_s,
    input_mb, shuffle_read_mb, shuffle_write_mb, spill_mb,
    output_mb, python_worker_s, arrow_sent_mb, arrow_returned_mb."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_key: dict[int, tuple[str, str]] = {}
    out: dict[tuple[str, str], dict[str, float]] = defaultdict(_zero)
    mb = 1024.0 * 1024.0
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                op = props.get(OP_PROPERTY)
                if op is None:
                    continue
                key = (op, props.get(PHASE_PROPERTY) or "")
                out[key]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_key.setdefault(sid, key)
            elif kind == "SparkListenerStageCompleted":
                key = stage_key.get(ev["Stage Info"]["Stage ID"])
                if key is not None:
                    out[key]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if key is None or tm is None:
                    continue
                m = out[key]
                m["tasks"] += 1
                m["executor_run_s"] += tm["Executor Run Time"] / 1e3
                m["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                m["gc_s"] += tm["JVM GC Time"] / 1e3
                m["input_mb"] += tm["Input Metrics"]["Bytes Read"] / mb
                sr = tm["Shuffle Read Metrics"]
                m["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / mb
                m["shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / mb
                m["spill_mb"] += tm["Disk Bytes Spilled"] / mb
                m["output_mb"] += tm["Output Metrics"]["Bytes Written"] / mb
                for acc in ev["Task Info"].get("Accumulables", ()):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name == _PY_TIME:
                        m["python_worker_s"] += float(upd) / 1e3
                    elif name == _PY_SENT:
                        m["arrow_sent_mb"] += float(upd) / mb
                    elif name == _PY_RETURNED:
                        m["arrow_returned_mb"] += float(upd) / mb
    return dict(out)
