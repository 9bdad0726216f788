"""Instrumentation for the traced run, all of it from outside the engine.

- :class:`Tracer` keeps spans in memory (name, start, end, parent, run id),
  counts py4j round trips, and wraps public functions so each call becomes
  a span. Everything it patches is restored by :meth:`Tracer.uninstall`.
- :func:`read_event_log` parses Spark's own JSON event log (uncompressed,
  single file or rolling ``eventlog_v2_*`` directory).
- :func:`attach_jobs` and :func:`layer_metrics` turn the spans of the traced
  rotations plus the event log into the per-layer metrics.
"""

from __future__ import annotations

import bisect
import functools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path

#: py4j's garbage-collection detach commands start with this; they depend on
#: when Python's GC runs, so counting them would make the count unrepeatable
_PY4J_GC_PREFIX = "m\n"
#: Spark 4.1 Python SQL metrics; their unit comes from the metric type the
#: SQL execution-start event declares (see _SCALE)
PY_METRICS = {
    "time to run Python workers": "pyworker_run_s",
    "time to start Python workers": "pyworker_boot_s",
    "data sent to Python workers": "pyworker_sent_mb",
    "data returned from Python workers": "pyworker_recv_mb",
}
MB = float(1 << 20)
#: SQL metric type -> factor to seconds or MiB
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1 / MB}
PHASES = ("build", "plan", "action", "release")


class Tracer:
    """Spans and counters of one traced run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._restore: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        self.spans.append({"id": len(self.spans), "name": name, "run": self.run_id,
                           "parent": parent, "start": start, "end": end, **attrs})

    def install(self, wrap_targets) -> None:
        """Count py4j commands and turn calls to ``(owner, attr, span name)``
        targets into spans, until :meth:`uninstall`."""
        from py4j.clientserver import ClientServerConnection

        send = ClientServerConnection.send_command

        def counted(conn, command):
            if not command.startswith(_PY4J_GC_PREFIX):
                with self._lock:
                    self.py4j_calls += 1
            return send(conn, command)

        self._patch(ClientServerConnection, "send_command", counted)
        for owner, attr, name in wrap_targets:
            orig = getattr(owner, attr)

            def timed(*a, _orig=orig, _name=name, **k):
                with self.span(_name):
                    return _orig(*a, **k)

            self._patch(owner, attr, functools.wraps(orig)(timed))

    def _patch(self, owner, attr, value) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, value)
        self._restore.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Spark event log


def read_event_log(log_dir: Path) -> list[dict]:
    """Every event of the one application logged under ``log_dir``. Reads
    the rolling ``eventlog_v2_*/events_<n>_*`` parts in index order, or a
    plain single-file log."""
    entries = [p for p in Path(log_dir).iterdir() if not p.name.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one application event log in {log_dir}, found {len(entries)}")
    app = entries[0]
    if app.is_dir():
        parts = sorted((p for p in app.iterdir() if p.name.startswith("events_")),
                       key=lambda p: int(p.name.split("_")[1]))
    else:
        parts = [app]
    events = []
    for part in parts:
        with open(part) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class _Phases:
    """Maps a wall-clock instant to the traced phase span it falls in."""

    def __init__(self, phase_spans: list[dict]):
        self.spans = sorted(phase_spans, key=lambda s: s["start"])
        self.starts = [s["start"] for s in self.spans]

    def find(self, t: float, slack: float = 0.002) -> dict | None:
        i = bisect.bisect_right(self.starts, t + slack) - 1
        if i >= 0 and t <= self.spans[i]["end"] + slack:
            return self.spans[i]
        return None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def attach_jobs(tracer: Tracer, events: list[dict]) -> dict[int, dict]:
    """Add every Spark job that started inside a traced phase as a child span
    of that phase; return per-phase-span aggregates of the job, stage and
    task events attributed to it (by job submission, stage submission and
    task launch time)."""
    phase_spans = [s for s in tracer.spans if s["name"] in PHASES]
    phases = _Phases(phase_spans)
    agg: dict[int, dict] = {
        s["id"]: {"jobs": [], "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "wait_ms": 0,
                  "peak_mem": 0, "shuffle_w": 0, "shuffle_r": 0, "spill": 0, "fetch_ms": 0,
                  "in_bytes": 0, "in_rows": 0, "py": dict.fromkeys(PY_METRICS.values(), 0)}
        for s in phase_spans
    }
    job_start, stage_submit = {}, {}
    scale = dict.fromkeys(PY_METRICS, 1.0)

    def metric_types(plan):
        for metric in plan.get("metrics", []):
            if metric["name"] in PY_METRICS:
                scale[metric["name"]] = _SCALE[metric["metricType"]]
        for child in plan.get("children", []):
            metric_types(child)

    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart"):
            metric_types(ev["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
        elif kind == "SparkListenerJobEnd":
            start = job_start.get(ev["Job ID"])
            ph = phases.find(start) if start is not None else None
            if ph is not None:
                end = min(ev["Completion Time"] / 1000, ph["end"])
                agg[ph["id"]]["jobs"].append((start, max(start, end)))
                tracer.add_span("spark.job", start, ev["Completion Time"] / 1000, ph["id"],
                                job_id=ev["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info.get("Submission Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            ph = phases.find((info.get("Submission Time") or 0) / 1000)
            if ph is not None:
                agg[ph["id"]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tinfo = ev["Task Info"]
            ph = phases.find(tinfo["Launch Time"] / 1000)
            m = ev.get("Task Metrics")
            if ph is None or m is None:
                continue
            a = agg[ph["id"]]
            a["tasks"] += 1
            a["run_ms"] += m["Executor Run Time"]
            a["cpu_ns"] += m["Executor CPU Time"]
            submitted = stage_submit.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if submitted:
                a["wait_ms"] += max(0, tinfo["Launch Time"] - submitted)
            a["peak_mem"] = max(a["peak_mem"], m["Peak Execution Memory"])
            sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
            a["shuffle_w"] += sw["Shuffle Bytes Written"]
            a["shuffle_r"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            a["fetch_ms"] += sr["Fetch Wait Time"]
            a["spill"] += m["Disk Bytes Spilled"]
            a["in_bytes"] += m["Input Metrics"]["Bytes Read"]
            a["in_rows"] += m["Input Metrics"]["Records Read"]
            for acc in tinfo.get("Accumulables", []):
                name = acc.get("Name")
                if name in PY_METRICS:
                    a["py"][PY_METRICS[name]] += int(acc.get("Update") or 0) * scale[name]
    return agg


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover."""
    inside = [(max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children]
    return (span["end"] - span["start"]) - _union_s([iv for iv in inside if iv[1] > iv[0]])


def layer_metrics(tracer: Tracer, agg: dict[int, dict], query_spans: list[dict], cores: int) -> dict:
    """Per-layer metrics summed over ``query_spans`` (the query spans of
    one or more traced rotations). Counts and times are sums; peaks are
    maxima."""
    by_parent: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            by_parent.setdefault(s["parent"], []).append(s)
    m = dict.fromkeys((
        "plans.build_s", "plans.driver_self_s", "plans.py4j_calls", "plans.build_jobs",
        "plans.build_job_s", "spark.catalyst.plan_s", "spark.catalyst.exchanges",
        "spark.catalyst.plan_nodes", "spark.exec.action_s", "spark.exec.jobs",
        "spark.exec.stages", "spark.exec.tasks", "spark.exec.task_run_s",
        "spark.exec.task_cpu_s", "spark.exec.task_wait_s", "spark.exec.slot_busy_frac",
        "spark.exec.jvm_gc_s", "spark.exec.peak_exec_mem_mb", "spark.shuffle.write_mb",
        "spark.shuffle.read_mb", "spark.shuffle.spill_mb", "spark.shuffle.fetch_wait_s",
        "operators.pyworker_run_s", "operators.pyworker_boot_s", "operators.pyworker_sent_mb",
        "operators.pyworker_recv_mb", "functions.materialize_blocks", "functions.materialize_mb",
        "functions.blocks_left", "sources.scan_mb", "sources.scan_rows", "sources.write_mb",
        "sources.write_s", "pipeline.preprocess_s", "pipeline.align_s", "pipeline.cluster_s",
    ), 0.0)
    wall = 0.0

    def dur(s):
        return s["end"] - s["start"]

    def descendants(sid):
        for c in by_parent.get(sid, []):
            yield c
            yield from descendants(c["id"])

    for q in query_spans:
        phases = {s["name"]: s for s in by_parent[q["id"]] if s["name"] in PHASES}
        # a query that raised stops after the phase that raised
        timed = [phases[n] for n in ("build", "plan", "action") if n in phases]
        b = phases["build"]
        wall += timed[-1]["end"] - b["start"]
        jobs_b = agg[b["id"]]["jobs"]
        m["plans.build_s"] += dur(b)
        m["plans.build_jobs"] += len(jobs_b)
        m["plans.build_job_s"] += _union_s(jobs_b)
        m["plans.driver_self_s"] += self_time(b, [c for c in by_parent.get(b["id"], []) if c["name"] == "spark.job"])
        m["spark.catalyst.plan_s"] += dur(phases["plan"]) if "plan" in phases else 0.0
        m["spark.exec.action_s"] += dur(phases["action"]) if "action" in phases else 0.0
        m["plans.py4j_calls"] += q["py4j_calls"]
        m["spark.catalyst.exchanges"] += q["exchanges"]
        m["spark.catalyst.plan_nodes"] += q["plan_nodes"]
        m["spark.exec.jvm_gc_s"] += q["jvm_gc_s"]
        m["functions.materialize_blocks"] += q["materialize_blocks"]
        m["functions.materialize_mb"] += q["materialize_mb"]
        m["functions.blocks_left"] += q["blocks_left"]
        m["sources.write_mb"] += q["write_mb"]
        for ph in timed:
            g = agg[ph["id"]]
            m["spark.exec.jobs"] += len(g["jobs"])
            m["spark.exec.stages"] += g["stages"]
            m["spark.exec.tasks"] += g["tasks"]
            m["spark.exec.task_run_s"] += g["run_ms"] / 1e3
            m["spark.exec.task_cpu_s"] += g["cpu_ns"] / 1e9
            m["spark.exec.task_wait_s"] += g["wait_ms"] / 1e3
            m["spark.exec.peak_exec_mem_mb"] = max(m["spark.exec.peak_exec_mem_mb"], g["peak_mem"] / MB)
            m["spark.shuffle.write_mb"] += g["shuffle_w"] / MB
            m["spark.shuffle.read_mb"] += g["shuffle_r"] / MB
            m["spark.shuffle.spill_mb"] += g["spill"] / MB
            m["spark.shuffle.fetch_wait_s"] += g["fetch_ms"] / 1e3
            m["sources.scan_mb"] += g["in_bytes"] / MB
            m["sources.scan_rows"] += g["in_rows"]
            py = g["py"]
            for key, value in g["py"].items():
                m["operators." + key] += value
        for s in descendants(q["id"]):
            if s["name"].startswith("pipeline.") or s["name"] == "sources.write":
                key = "sources.write_s" if s["name"] == "sources.write" else s["name"] + "_s"
                m[key] += dur(s)
    m["spark.exec.slot_busy_frac"] = m["spark.exec.task_run_s"] / (wall * cores) if wall else 0.0
    return m
