"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from pb import checks, gen, layers  # noqa: E402
from pb.tracing import Span, self_times, union_ms  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


# ------------------------------------------------------------ generators
def _files(d):
    return sorted(os.listdir(d))


@pytest.mark.parametrize("make", [
    lambda s, d: gen.dashboard_warehouse(s, d, n_rows=2_000),
    lambda s, d: gen.write_etl_day(s, 0, d),
    lambda s, d: gen.write_etl_day(s, 2, d),
    lambda s, d: gen.index_inputs(s, d, 2, base=300, batch=50),
])
def test_generators_are_seed_deterministic(tmp_path, make):
    a, b, c = (tmp_path / x for x in "abc")
    make(7, str(a))
    make(7, str(b))
    make(8, str(c))
    assert _files(a) == _files(b) and _files(a)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a),
                                               shallow=False)
    assert not mismatch and not errors
    differs = [not filecmp.cmp(a / f, c / f, shallow=False)
               for f in _files(a) if (c / f).exists()]
    assert any(differs) or _files(a) != _files(c)


def test_seeded_request_parameters():
    assert gen.slicer(1, 5) == gen.slicer(1, 5)
    assert [gen.slicer(1, i) for i in range(20)] != \
        [gen.slicer(2, i) for i in range(20)]
    assert gen.query_ids(3, 0, 500) == gen.query_ids(3, 0, 500)
    assert gen.query_ids(3, 0, 500) != gen.query_ids(4, 0, 500)
    assert gen.day_plan(1, gen.LARGE_EVERY - 1)[1] >= gen.LARGE_DAY[0]
    assert gen.day_plan(1, 0)[1] <= gen.SMALL_DAY[1]


# ---------------------------------------------------------- metric names
def test_metric_names_and_units_are_well_formed():
    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, os.path.dirname(HERE))
    import run

    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for n in names + list(run.END_TO_END) + list(layers.UNITS):
        assert NAME.match(n) and len(n) <= 64, n
    assert {m["name"] for m in bench["end_to_end"]} == set(run.END_TO_END)
    assert {m["name"] for m in bench["per_layer"]} == set(layers.UNITS)
    for m in bench["end_to_end"] + bench["per_layer"]:
        unit = run.END_TO_END.get(m["name"]) or layers.UNITS[m["name"]]
        assert m["unit"] == unit


# ------------------------------------------------------ wrong answers
def test_perturbed_visual_is_caught():
    cols = ["job_type", "cnt"]
    want = [("Contract", 10), ("Full-Time", 52), ("Part-Time", 7)]
    got = list(reversed(want))  # order does not matter
    assert checks.same_table(cols, got, cols, want)
    bad = [("Contract", 10), ("Full-Time", 53), ("Part-Time", 7)]
    assert not checks.same_table(cols, bad, cols, want)
    assert not checks.same_table(["job_type", "n"], got, cols, want)
    assert not checks.same_table(cols, got[:2], cols, want)


def test_dropped_etl_row_is_caught():
    cols = ["company_name", "job_title", "job_location", "job_posted_site",
            "salary"]
    replay = [("a", "data engineer", "austin, tx", "indeed", 90_000),
              ("b", "analyst", "boston, ma", "indeed", None),
              ("c", "analyst", "boston, ma", "monster", 400_000)]
    assert checks.etl_day_ok(cols, list(replay), replay, True, 0)
    assert not checks.etl_day_ok(cols, replay[:-1], replay, True, 0)
    assert not checks.etl_day_ok(cols, replay, replay, False, 0)
    assert not checks.etl_day_ok(cols, replay, replay, True, 3)
    out_of_band = replay[:2] + [("c", "analyst", "boston, ma", "monster",
                                 400_001)]
    assert not checks.etl_day_ok(cols, out_of_band, out_of_band, True, 0)
    dup = replay + [replay[0][:4] + (95_000,)]
    assert not checks.etl_day_ok(cols, dup, dup, True, 0)


def test_failed_checks_raise_failed_ratio():
    sys.path.insert(0, os.path.dirname(HERE))
    import run

    ph = {"lat": [1.0, 1.0, 1.0], "errors": [None, None, None],
          "ok": [True, True, True], "aux_ok": True}
    assert run.verdict(ph) == (4, 0)
    assert run.verdict({**ph, "ok": [True, False, True]}) == (4, 1)
    assert run.verdict({**ph, "errors": [None, "boom", None]}) == (4, 1)
    assert run.verdict({**ph, "aux_ok": False}) == (4, 1)


def test_op_cycles_interleave_the_vector_ops():
    from pb.w_dashboard import Dashboard
    from pb.w_etl import Etl

    # four page renders, then one top-k request
    assert [Dashboard()._render_no(i) for i in range(10)] == \
        [0, 1, 2, 3, None, 4, 5, 6, 7, None]
    # four small days, a large one, then one absorb; days keep their
    # numbers
    assert [Etl()._day(i) for i in range(12)] == \
        [0, 1, 2, 3, 4, None, 5, 6, 7, 8, 9, None]
    assert [gen.day_plan(1, d)[1] >= gen.LARGE_DAY[0]
            for d in range(6)] == [False] * 4 + [True, False]
    assert checks.at([True], 0) and not checks.at([True], 1)


def test_topk_comparator_allows_only_ties():
    want = [(1, 0.9), (2, 0.8), (3, 0.8)]
    assert checks.topk_matches([(1, 0.9), (3, 0.8), (2, 0.8)], want)
    assert not checks.topk_matches([(1, 0.9), (4, 0.7), (2, 0.8)], want)
    assert not checks.topk_matches([(1, 0.9), (2, 0.8)], want)


def test_mutual_components():
    edges = {1: [2, 3], 2: [1], 3: [4], 4: [3, 1], 5: [6], 6: [7]}
    assert checks.mutual_components(edges) == {(1, 1), (2, 1), (3, 3),
                                               (4, 3)}


# ----------------------------------------------------------- self time
def test_self_time_on_a_hand_built_tree():
    # op [0, 100]: a [10, 40] with child a1 [20, 30]; b [35, 60] overlaps
    # a; c [90, 120] runs past the op's end
    spans = [
        Span(1, "op", None, 0, 0.0, 100.0),
        Span(2, "analytics.a", 1, 0, 10.0, 40.0),
        Span(3, "analytics.build", 2, 0, 20.0, 30.0),
        Span(4, "sources.b", 1, 0, 35.0, 60.0),
        Span(5, "sinks.c", 1, 0, 90.0, 120.0),
    ]
    st = self_times(spans)
    assert st[3] == 10.0
    assert st[2] == 30.0 - 10.0
    assert st[4] == 25.0
    assert st[5] == 30.0
    # children cover [10, 60] and [90, 100] of the op: 60 ms
    assert st[1] == 100.0 - 60.0


def test_op_metrics_leave_out_the_follow_up_root():
    from pb.evlog import EventLog

    # op 0 and its untimed follow-up ("idle") share the op id; only the
    # op's own root and its descendants count toward per-op metrics
    spans = [
        Span(1, "op", None, 0, 0.0, 100.0),
        Span(2, "sinks.write", 1, 0, 10.0, 50.0),
        Span(3, "idle", None, 0, 100.0, 400.0),
        Span(4, "streaming.idle_scan", 3, 0, 110.0, 390.0),
        Span(5, "sinks.write", 4, 0, 120.0, 300.0),
    ]
    assert [s.id for s in layers.op_spans_only(spans, [0])] == [1, 2]
    m = layers.compute(spans, EventLog([]), [], [0], {0: 1}, {})
    assert m["sinks.write_ms"]["value"] == 40.0
    assert m["trace.spans_per_op"]["value"] == 2.0
    assert m["self.op_ms"]["value"] == 60.0
    assert m["self.streaming_ms"]["value"] == 0.0
    # the idle scan itself is still reported, from every span
    assert m["streaming.idle_scan_ms"]["value"] == 280.0


def test_union_of_intervals():
    assert union_ms([(0, 10), (5, 15), (20, 25), (30, 30)]) == 20.0
    assert union_ms([]) == 0.0


# ------------------------------------------------------- event-log fold
def test_event_log_fold_attributes_jobs_to_spans():
    from pb.evlog import SQL_START, DRIVER_ACCUMS, EventLog

    spans = [Span(1, "op", None, 0, 1000.0, 2000.0),
             Span(2, "analytics.execute", 1, 0, 1100.0, 1500.0),
             Span(3, "sinks.write", 1, 0, 1600.0, 1900.0)]
    plan = {"nodeName": "Scan parquet", "metrics": [
        {"name": "number of output rows", "accumulatorId": 7,
         "metricType": "sum"},
        {"name": "number of files read", "accumulatorId": 8,
         "metricType": "sum"}], "children": []}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Info": {"Launch Time": 1200, "Finish Time": 1300,
                          "Failed": False,
                          "Accumulables": [{"ID": 7, "Update": "40"}]},
            "Task Metrics": {"Executor Run Time": 80,
                             "Executor CPU Time": 5e7, "JVM GC Time": 3,
                             "Executor Deserialize Time": 5,
                             "Result Serialization Time": 1}}
    log = EventLog([
        {"Event": SQL_START, "executionId": 4, "sparkPlanInfo": plan},
        # tagged job -> span 2
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1150, "Stage IDs": [0],
         "Properties": {"spark.job.description": "span:2",
                        "spark.sql.execution.id": "4"}},
        task,
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1400, "Job Result": {"Result": "JobSucceeded"}},
        # untagged job (a streaming thread) -> innermost covering span 3
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 1700, "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 1800, "Job Result": {"Result": "JobSucceeded"}},
        {"Event": DRIVER_ACCUMS, "executionId": 4, "accumUpdates": [[8, 3]]},
    ])
    assert log.job_spans(spans) == {0: 2, 1: 3}
    fold = log.fold(spans)
    assert fold[2]["jobs"] == 1 and fold[3]["jobs"] == 1
    assert fold[2]["executor_run_ms"] == 80 and fold[2]["tasks"] == 1
    assert fold[2]["executor_cpu_ms"] == 50 and fold[2]["gc_ms"] == 3
    assert fold[2]["task_wait_ms"] == 100 - 80 - 6
    assert fold[2]["scan_run_ms"] == 80
    assert fold[2]["sql"][("scan", "number of output rows")] == 40
    assert fold[2]["sql"][("scan", "number of files read")] == 3


def test_stop_processes_reaps_children_and_grandchildren():
    import subprocess
    import time

    from pyspark import SparkContext

    from pb import common

    if SparkContext._gateway is not None:
        pytest.skip("a Spark JVM of this process would be stopped too")
    common.adopt_orphans()

    # a child that starts a grandchild, both outliving a plain exit
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys, time; "
         "subprocess.Popen([sys.executable, '-c', "
         "'import time; time.sleep(600)']); time.sleep(600)"])
    for _ in range(200):
        if len(common.descendants()) >= 2:
            break
        time.sleep(0.05)
    started = common.descendants()
    assert child.pid in started and len(started) >= 2
    common.stop_processes(grace_s=0.5)
    # gone from the process table: no zombie is left for init to reap
    assert not [p for p in started if os.path.exists(f"/proc/{p}")]
    assert child.poll() is not None
