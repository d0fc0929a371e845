"""Span recording, self-time arithmetic and Spark event-log reading.

Spans are kept in memory and written out when the run ends.  Every span
carries its layer, its parent and the run id; a layer's self time is the
summed duration of its spans minus the part of each interval that child
spans cover.  Library functions are traced from outside: ``instrument``
replaces a public function, in every loaded module that holds it, with a
wrapper that opens a span around the call.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(percentile, value, samples beyond it): the highest nearest-rank
    percentile with at least ``beyond`` samples above it.  With fewer
    than ``beyond + 1`` samples no percentile qualifies and the maximum
    is returned as the 100th percentile with 0 samples beyond."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return 100.0, s[-1], 0
    rank = n - beyond  # 1-based rank of the reported sample
    return round(100.0 * rank / n, 2), s[rank - 1], n - rank


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_s is None or s > cur_e:
            if cur_s is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_s is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder.  Disabled tracers cost one branch per
    span and record nothing."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._epoch0 = time.time() - time.perf_counter()

    def epoch_ms(self, t: float) -> float:
        """A span time (``perf_counter`` seconds) as epoch milliseconds,
        the clock of the Spark event log."""
        return (t + self._epoch0) * 1000.0

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            [(max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], []) if b > lo and a < hi]
        )
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def instrument(tracer: Tracer, targets: list[tuple[str, str, str]], on_result=None):
    """Wrap ``module.name`` for each ``(module, name, layer)`` target in
    every loaded ``pedsnetdcc_spark`` module that references the same
    function object.  ``on_result(span, result)`` runs inside the span
    after the call returns.  Returns an undo callable."""
    import importlib

    undo = []
    for mod_name, fn_name, layer in targets:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, fn_name)
        short = mod_name.rsplit(".", 1)[-1]

        def make(orig=orig, label=f"{layer}.{short}.{fn_name}", layer=layer):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with tracer.span(label, layer, kind="call", fn=orig.__name__) as sp:
                    res = orig(*a, **kw)
                    if on_result is not None and sp is not None:
                        on_result(sp, res)
                    return res

            return wrapper

        w = make()
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("pedsnetdcc_spark") or m is mod:
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, w)
                        undo.append((m, attr, orig))

    def restore():
        for m, attr, orig in undo:
            setattr(m, attr, orig)

    return restore


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def event_log_files(evdir: str, app_id: str | None = None) -> list[str]:
    """Finished plain-text event-log files under ``evdir`` (rolling logs
    are directories of ``events_*`` files), optionally one app's."""
    out = []
    for f in sorted(os.listdir(evdir)):
        if app_id and app_id not in f:
            continue
        p = os.path.join(evdir, f)
        if os.path.isdir(p):
            out.extend(
                os.path.join(p, g) for g in sorted(os.listdir(p)) if g.startswith("events_")
            )
        elif not f.endswith(".inprogress"):
            out.append(p)
    return out


def _plan_python_metrics(plan: dict, acc: dict[int, str]) -> None:
    """Collect accumulator id -> metric name for every Python/Arrow exec
    node of a SparkPlanInfo tree."""
    if any(m in plan.get("nodeName", "") for m in PYTHON_NODE_MARKERS):
        for m in plan.get("metrics", []):
            acc[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", []):
        _plan_python_metrics(c, acc)


def read_event_log(lines, window: tuple[float, float] | None = None) -> dict:
    """Aggregate one application's event log.

    ``window`` = (start_ms, end_ms) epoch milliseconds restricts jobs
    (and their stages and tasks) to those submitted inside it.  Returns
    job intervals plus summed task, shuffle, spill, IO and Python-node
    metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_acc: dict[int, str] = {}
    stage_accs: dict[tuple[int, int], list] = {}
    tasks: list[dict] = []
    stages_done: set[tuple[int, int]] = set()
    for line in lines:
        try:
            ev = json.loads(line)
        except (json.JSONDecodeError, TypeError):
            continue
        e = ev.get("Event", "")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"start": ev["Submission Time"], "end": None, "stages": ev.get("Stage IDs", [])}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif e.endswith("SparkListenerSQLExecutionStart") or e.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_python_metrics(ev.get("sparkPlanInfo") or {}, py_acc)
        elif e == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stages_done.add(key)
            stage_accs[key] = info.get("Accumulables", [])
        elif e == "SparkListenerTaskEnd":
            tasks.append({"stage": ev["Stage ID"], "metrics": ev.get("Task Metrics") or {}})

    def in_window(j):
        return window is None or (window[0] - 5 <= j["start"] <= window[1] + 5)

    kept = {jid: j for jid, j in jobs.items() if j["end"] is not None and in_window(j)}
    kept_stages = {sid for sid, jid in stage_job.items() if jid in kept}
    out = {
        "jobs": len(kept),
        "stages": sum(1 for sid, _ in stages_done if sid in kept_stages),
        "tasks": 0,
        "job_intervals_ms": sorted((j["start"], j["end"]) for j in kept.values()),
        "task_run_ms": 0, "task_cpu_ns": 0, "gc_ms": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "fetch_wait_ms": 0,
        "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0,
        "python": {},
    }
    for t in tasks:
        if t["stage"] not in kept_stages:
            continue
        m = t["metrics"]
        out["tasks"] += 1
        out["task_run_ms"] += m.get("Executor Run Time", 0)
        out["task_cpu_ns"] += m.get("Executor CPU Time", 0)
        out["gc_ms"] += m.get("JVM GC Time", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        out["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        out["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for (sid, _), accs in stage_accs.items():
        if sid not in kept_stages:
            continue
        for a in accs:
            name = py_acc.get(a.get("ID"))
            if name is not None:
                try:
                    v = float(a.get("Value", 0))
                except (TypeError, ValueError):
                    continue
                out["python"][name] = out["python"].get(name, 0.0) + v
    return out


def read_event_logs(paths: list[str], window=None) -> dict:
    def lines():
        for p in paths:
            with open(p) as f:
                yield from f

    return read_event_log(lines(), window)


def catalyst_phases(jdf) -> dict[str, float]:
    """QueryPlanningTracker phase durations (ms) of a materialised
    Dataset's QueryExecution."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out
