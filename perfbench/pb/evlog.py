"""Fold Spark's own event log into per-span execution metrics.

Reads the uncompressed event log a traced session writes (plain or
rolling ``eventlog_v2_*`` layout) and attributes every job to a span:
by the ``span:<id>`` job description the tracer set on the submitting
thread, or, for jobs submitted from threads the benchmark does not own
(streaming micro-batches, for example), to the innermost span whose
interval contains the job's submission time.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from .tracing import Span, union_ms

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = ("org.apache.spark.sql.execution.ui."
                "SparkListenerSQLAdaptiveExecutionUpdate")
DRIVER_ACCUMS = ("org.apache.spark.sql.execution.ui."
                 "SparkListenerDriverAccumUpdates")

# per-task counters summed per span
TASK_FIELDS = (
    "tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "task_wait_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "output_bytes",
)


def event_files(log_dir: str) -> list[str]:
    files = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            files += sorted(glob.glob(os.path.join(p, "events_*")),
                            key=lambda f: int(f.split("_")[-2])
                            if f.split("_")[-2].isdigit() else 0)
        else:
            files.append(p)
    return files


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"],
                                   m.get("metricType", "sum"))
    for c in node.get("children", ()):
        _walk_plan(c, out)


class EventLog:
    def __init__(self, events) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.accs: dict[int, tuple[str, str, str]] = {}
        # driver-side SQL metrics (files and bytes a scan lists) arrive
        # per SQL execution, not per task
        self.driver_updates: list[tuple[int, int, float]] = []
        for e in events:
            self._add(e)

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        def gen():
            for f in event_files(log_dir):
                with open(f, encoding="utf-8") as fh:
                    for line in fh:
                        if line.strip():
                            yield json.loads(line)
        return cls(gen())

    def _add(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {
                "start": float(e["Submission Time"]), "end": None,
                "desc": props.get("spark.job.description") or "",
                "exec": props.get("spark.sql.execution.id"),
            }
            for sid in e.get("Stage IDs", ()):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            j = self.jobs.get(e["Job ID"])
            if j is not None:
                j["end"] = float(e["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(_task(e))
        elif kind in (SQL_START, SQL_ADAPTIVE):
            _walk_plan(e.get("sparkPlanInfo") or {}, self.accs)
        elif kind == DRIVER_ACCUMS:
            for acc_id, value in e.get("accumUpdates", ()):
                self.driver_updates.append(
                    (int(e["executionId"]), int(acc_id), float(value)))

    # ----------------------------------------------------- attribution
    def job_spans(self, spans: list[Span]) -> dict[int, int | None]:
        """job id -> span id (None when no span covers the job)."""
        by_id = {s.id: s for s in spans}
        depth: dict[int, int] = {}

        def d(s: Span) -> int:
            if s.id not in depth:
                depth[s.id] = 0 if s.parent is None or s.parent not in by_id \
                    else d(by_id[s.parent]) + 1
            return depth[s.id]

        out = {}
        for jid, j in self.jobs.items():
            sid = None
            if j["desc"].startswith("span:"):
                try:
                    sid = int(j["desc"][5:])
                except ValueError:
                    sid = None
            if sid not in by_id:
                cover = [s for s in spans
                         if s.start_ms <= j["start"] <= s.end_ms]
                sid = max(cover, key=d).id if cover else None
            out[jid] = sid
        return out

    def fold(self, spans: list[Span]) -> dict[int, dict]:
        """Per-span execution metrics (own jobs only, not children's):
        jobs, stages, job intervals and summed task counters, plus SQL
        metric sums keyed ``(node kind, metric name)``."""
        js = self.job_spans(spans)
        per: dict[int, dict] = defaultdict(_empty)
        stages_seen: dict[int, set] = defaultdict(set)
        for jid, sid in js.items():
            if sid is None:
                continue
            j = self.jobs[jid]
            p = per[sid]
            p["jobs"] += 1
            p["job_intervals"].append((j["start"], j["end"] or j["start"]))
        for t in self.tasks:
            jid = self.stage_job.get(t["stage"])
            sid = js.get(jid) if jid is not None else None
            if sid is None:
                continue
            p = per[sid]
            stages_seen[sid].add(t["stage"])
            for k in TASK_FIELDS:
                p[k] += t[k]
            reads = False
            for acc_id, upd in t["accs"]:
                meta = self.accs.get(acc_id)
                if meta is None:
                    continue
                node, name, mtype = meta
                kind = _node_kind(node)
                reads |= kind == "scan"
                v = upd / 1e6 if mtype == "nsTiming" else upd
                p["sql"][(kind, name)] += v
            if reads:  # run time of tasks that read input files
                p["scan_run_ms"] += t["executor_run_ms"]
        exec_span = {}
        for jid, sid in js.items():
            ex = self.jobs[jid]["exec"]
            if sid is not None and ex is not None:
                exec_span.setdefault(int(ex), sid)
        for ex, acc_id, value in self.driver_updates:
            meta = self.accs.get(acc_id)
            if meta is not None and ex in exec_span:
                per[exec_span[ex]]["sql"][(_node_kind(meta[0]), meta[1])] \
                    += value
        for sid, st in stages_seen.items():
            per[sid]["stages"] = len(st)
        return dict(per)


def _empty() -> dict:
    d = {k: 0.0 for k in TASK_FIELDS}
    d.update(jobs=0, stages=0, scan_run_ms=0.0, job_intervals=[],
             sql=defaultdict(float))
    return d


def _node_kind(node: str) -> str:
    n = node.lower()
    if n.startswith("scan") or "filescan" in n or n.startswith("batchscan"):
        return "scan"
    if "python" in n or "arrow" in n or "pandas" in n:
        return "python"
    if "join" in n:
        return "join"
    if "write" in n or "insertinto" in n:
        return "write"
    return "other"


def _task(e: dict) -> dict:
    info = e.get("Task Info", {})
    m = e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    run = float(m.get("Executor Run Time", 0))
    wall = float(info.get("Finish Time", 0)) - float(info.get("Launch Time", 0))
    overhead = (m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0))
    accs = []
    for a in info.get("Accumulables", ()):
        try:
            accs.append((a["ID"], float(a.get("Update", 0))))
        except (TypeError, ValueError):
            continue
    return {
        "stage": e.get("Stage ID"),
        "tasks": 1.0,
        "failed_tasks": float(bool(info.get("Failed"))),
        "executor_run_ms": run,
        "executor_cpu_ms": float(m.get("Executor CPU Time", 0)) / 1e6,
        "gc_ms": float(m.get("JVM GC Time", 0)),
        # scheduler delay: task wall time not spent running, deserializing
        # or serializing the result
        "task_wait_ms": max(0.0, wall - run - overhead),
        "shuffle_read_bytes": float(sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0)),
        "shuffle_write_bytes": float(sw.get("Shuffle Bytes Written", 0)),
        "spill_bytes": float(m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0)),
        "input_bytes": float((m.get("Input Metrics") or {}).get(
            "Bytes Read", 0)),
        "output_bytes": float((m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)),
        "accs": accs,
    }


def driver_only_ms(span: Span, intervals: list[tuple[float, float]]) -> float:
    """Span wall time minus the union of its jobs' intervals (clipped)."""
    clipped = [(max(s, span.start_ms), min(e, span.end_ms))
               for s, e in intervals]
    return max(0.0, span.dur_ms - union_ms(clipped))
