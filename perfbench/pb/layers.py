"""Per-layer metrics of a traced run.

Every metric is printed for every workload; a layer a workload does
not call reads 0. Unless the name says otherwise a value is per op:
summed over the op's spans, averaged over the traced ops.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .evlog import EventLog, driver_only_ms
from .tracing import Span, self_times

# metric -> unit; the order is the print order
UNITS = {
    "session.start_ms": "ms", "session.warmup_ms": "ms",
    "setup.program_ms": "ms", "ann_index.build_ms": "ms",
    "analytics.build_ms": "ms", "analytics.execute_ms": "ms",
    "analytics.jobs_per_op": "count",
    "analytics.rows_scanned_per_row_returned": "ratio",
    "sources.read_ms": "ms", "sources.rows_read": "count",
    "sources.bytes_read": "bytes",
    "sinks.write_ms": "ms", "sinks.files_written": "count",
    "sinks.bytes_written": "bytes", "manifest.mark_ms": "ms",
    "pipeline.build_ms": "ms", "pipeline.rows_in": "count",
    "pipeline.rows_out": "count", "pipeline.keep_ratio": "ratio",
    "streaming.latest_offset_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.input_rows": "count",
    "streaming.idle_scan_ms": "ms",
    "similarity.execute_ms": "ms", "similarity.python_eval_ms": "ms",
    "similarity.arrow_bytes_to_python": "bytes",
    "similarity.candidates_per_result": "ratio",
    "graph.pass_ms": "ms", "graph.jobs": "count",
    "ann_index.serve_ms": "ms", "ann_index.files_opened": "count",
    "index.add_batch_ms": "ms", "index.compactions": "count",
    "index.retrains": "count", "index.retrain_ms": "ms",
    "index.files_committed": "count",
    "index.bytes_written_per_vector": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_only_ms": "ms", "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.task_wait_ms": "ms",
    "spark.gc_ms": "ms", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "trace.op_p50_ms": "ms", "trace.spans_per_op": "count",
}
# layer of a span = its name up to the first dot; root spans are "op"
LAYERS = ("op", "bench", "analytics", "sources", "pipeline", "sinks",
          "manifest", "streaming", "similarity", "graph", "ann_index",
          "index")
UNITS.update({f"self.{layer}_ms": "ms" for layer in LAYERS})

VECTOR_LAYERS = ("similarity.", "graph.", "ann_index.", "index.")

STREAM_PHASES = {
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def op_spans_only(spans: list[Span], ops: list[int]) -> list[Span]:
    """The spans of the given ops that lie under an op's own root span,
    not under the untimed follow-up ("idle") or post-loop ("aux") root
    that shares its op id."""
    by_id = {s.id: s for s in spans}

    def root(s: Span) -> Span:
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
        return s

    wanted = set(ops)
    return [s for s in spans if s.op in wanted and root(s).name == "op"]


def compute(spans: list[Span], log: EventLog, progress: list[dict],
            ops: list[int], rows_out: dict[int, int], state: dict) -> dict:
    """``ops``: the traced op ids; ``rows_out``: rows each op returned
    or committed; ``state``: workload counters (set-up times, index
    counters) that the spans cannot see."""
    fold = log.fold(spans)
    selfs = self_times(spans)
    in_ops = op_spans_only(spans, ops)
    n = max(len(ops), 1)

    def per_op(pred, field: str) -> float:
        return sum(fold[s.id][field] for s in in_ops
                   if pred(s) and s.id in fold) / n

    def sql(pred, kind: str, name_has: str) -> float:
        return sum(v for s in in_ops if pred(s) and s.id in fold
                   for (k, name), v in fold[s.id]["sql"].items()
                   if k == kind and name_has in name) / n

    def dur(*names: str) -> float:
        return sum(s.dur_ms for s in in_ops if s.name in names) / n

    def named(*prefixes: str):
        return lambda s: s.name.startswith(prefixes)

    every = named("")
    m: dict[str, float] = defaultdict(float)
    m.update({k: state.get(k, 0.0) for k in (
        "session.start_ms", "session.warmup_ms", "setup.program_ms",
        "index.compactions", "index.retrains", "index.retrain_ms",
        "index.files_committed", "trace.op_p50_ms")})
    m["ann_index.build_ms"] = sum(s.dur_ms for s in spans
                                  if s.name == "ann_index.build")

    analytics = named("analytics.")
    m["analytics.build_ms"] = dur("analytics.build")
    m["analytics.execute_ms"] = dur("analytics.execute")
    m["analytics.jobs_per_op"] = per_op(analytics, "jobs")
    returned = sum(rows_out.get(o, 0) for o in ops) / n
    if any(analytics(s) for s in in_ops):
        m["analytics.rows_scanned_per_row_returned"] = _ratio(
            sql(analytics, "scan", "number of output rows"), returned)

    # the vector layer's own reads count under its metrics, not here
    own = (lambda s: not s.name.startswith(VECTOR_LAYERS))
    m["sources.read_ms"] = per_op(own, "scan_run_ms")
    m["sources.rows_read"] = sql(own, "scan", "number of output rows")
    m["sources.bytes_read"] = per_op(own, "input_bytes")
    sink = named("sinks.")
    m["sinks.write_ms"] = dur("sinks.write")
    m["sinks.files_written"] = sql(sink, "write", "number of written files")
    m["sinks.bytes_written"] = per_op(sink, "output_bytes")
    m["manifest.mark_ms"] = dur("manifest.mark")
    m["pipeline.build_ms"] = dur("pipeline.build", "pipeline.build_stream")

    # streaming progress events, attributed by trigger start to the
    # pipeline's spans (the index absorbs are streams too)
    op_spans = [s for s in in_ops if s.parent is None and s.name == "op"]

    def triggers(name: str) -> list[dict]:
        inside = [s for s in in_ops if s.name == name]
        return [e for e in progress if e["rows"] > 0 and any(
            s.start_ms <= e["start_ms"] <= s.end_ms for s in inside)]

    data = triggers("streaming.incremental")
    for metric, phase in STREAM_PHASES.items():
        vals = [e.get(phase, 0) for e in data]
        m[metric] = float(statistics.median(vals)) if vals else 0.0
    m["streaming.input_rows"] = sum(e["rows"] for e in data) / n
    if any(s.name == "streaming.incremental" for s in in_ops):
        m["pipeline.rows_in"] = m["streaming.input_rows"]
        m["pipeline.rows_out"] = returned
        m["pipeline.keep_ratio"] = _ratio(returned, m["pipeline.rows_in"])
    idle = [s.dur_ms for s in spans if s.name == "streaming.idle_scan"]
    m["streaming.idle_scan_ms"] = (float(statistics.median(idle))
                                   if idle else 0.0)

    simil = named("similarity.lsh_topk", "similarity.cosine_topk")
    m["similarity.execute_ms"] = dur("similarity.lsh_topk",
                                     "similarity.cosine_topk")
    m["similarity.python_eval_ms"] = sql(named("similarity."), "python",
                                         "time")
    m["similarity.arrow_bytes_to_python"] = sql(
        named("similarity."), "python", "data sent to Python")
    sim_rows = state.get("similarity.results", 0) / n
    m["similarity.candidates_per_result"] = _ratio(
        sql(simil, "join", "number of output rows"), sim_rows)
    graph_spans = [s for s in spans if s.name.startswith("graph.")
                   or s.name == "similarity.knn_graph"]
    m["graph.pass_ms"] = sum(s.dur_ms for s in spans
                             if s.name == "graph.pass")
    m["graph.jobs"] = sum(fold[s.id]["jobs"] for s in graph_spans
                          if s.id in fold)
    serve = named("ann_index.serve")
    m["ann_index.serve_ms"] = dur("ann_index.serve")
    m["ann_index.files_opened"] = sql(serve, "scan", "number of files read")
    absorb = [s for s in in_ops if s.name == "index.absorb"]
    adds = [e.get("addBatch", 0) for e in triggers("index.absorb")]
    m["index.add_batch_ms"] = float(statistics.median(adds)) if adds else 0.0
    m["index.bytes_written_per_vector"] = _ratio(
        sum(fold[s.id]["output_bytes"] for s in absorb if s.id in fold),
        state.get("index.vectors_absorbed", 0))

    for f in ("jobs", "stages", "tasks", "executor_run_ms",
              "executor_cpu_ms", "task_wait_ms", "gc_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "failed_tasks"):
        m[f"spark.{f}"] = per_op(every, f)
    jobs_by_op: dict[int, list] = defaultdict(list)
    for s in in_ops:
        if s.id in fold:
            jobs_by_op[s.op] += fold[s.id]["job_intervals"]
    m["spark.driver_only_ms"] = _mean(
        driver_only_ms(o, jobs_by_op[o.op]) for o in op_spans)

    m["trace.spans_per_op"] = len(in_ops) / n
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = sum(
            selfs[s.id] for s in in_ops
            if (s.name.split(".")[0] if s.parent is not None else "op")
            == layer) / n
    return {k: {"value": round(float(m.get(k, 0.0)), 6), "unit": u}
            for k, u in UNITS.items()}
