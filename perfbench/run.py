"""The repo's benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Runs one workload in one driver process on ``local[4]`` and prints, as
its last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics when ``--trace 0``,
the per-layer metrics when ``--trace 1``. Two ``#``-prefixed lines
before it carry the run stamp (cpus, seed, input sizes, versions) and
a human-readable report. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from pb import common  # noqa: E402

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s",
              "rows_per_s": "rows/s", "peak_rss_mb": "MB"}


def _workloads() -> dict:
    from pb.w_dashboard import Dashboard
    from pb.w_etl import Etl

    return {w.name: w for w in (Dashboard, Etl)}


class Timer:
    def __enter__(self):
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.ms = (time.perf_counter() - self._t) * 1000.0
        return False


def start(run, traced: bool, W):
    """Session start, neutral warm-up, the workload's own set-up."""
    from avk_job_skill_analytics_spark.plans.session import get_spark
    from pb.tracing import Tracer, progress_listener

    with Timer() as t_start:
        spark = get_spark(extra_conf=common.session_conf(run, traced))
    with Timer() as t_warm:
        common.neutral_warmup(spark)
    tr = Tracer(traced, spark.sparkContext if traced else None)
    listener = None
    if traced:
        listener = progress_listener()
        spark.streams.addListener(listener)
    with Timer() as t_prog:
        st = W.setup(spark, run, tr)
    times = {"session.start_ms": t_start.ms, "session.warmup_ms": t_warm.ms,
             "setup.program_ms": t_prog.ms}
    return spark, tr, st, listener, times


def loop(spark, W, st, tr, seconds: float) -> tuple[list, list, list]:
    """Closed loop of one client: the next op starts when the previous
    one (and its untimed follow-up) is done, until ``seconds`` of
    program work are spent and the op mix is a whole number of the
    workload's cycles."""
    from avk_job_skill_analytics_spark.registry import _fixtures

    before = _fixtures.counters()
    lat, rows, errors = [], [], []
    busy, i = 0.0, 0
    while busy < seconds * 1000.0 or i < W.min_ops or i % W.op_cycle:
        if hasattr(W, "prepare"):
            W.prepare(st, i)
        with tr.op(i), Timer() as t:
            try:
                r = W.op(spark, st, i, tr)
                err = None
            except Exception:  # the op failed: counted, loop goes on
                r, err = 0, traceback.format_exc()
        lat.append(t.ms)
        rows.append(r)
        errors.append(err)
        busy += t.ms
        if hasattr(W, "after_op") and err is None:
            with tr.op(i, "idle"), Timer() as t2:
                W.after_op(spark, st, i, tr, Timer)
            busy += t2.ms
        i += 1
    if _fixtures.counters() != before:
        raise RuntimeError("a memoized registry fixture was used inside "
                           "the timed region")
    return lat, rows, errors


def run_phase(W, run, seconds: float, traced: bool) -> dict:
    """Set up once (a cold start, as a user has it), run the loop, then
    the post-loop job and the correctness checks."""
    phase = {}
    with Timer() as t:
        spark, tr, st, listener, times = start(run, traced, W)
    setup_s = t.ms / 1000.0
    pid = common.jvm_pid(spark)
    try:
        with Timer() as t:
            lat, rows, errors = loop(spark, W, st, tr, seconds)
        phase["loop"] = t.ms / 1000.0
        with Timer() as t, tr.op(-1, "aux"):
            aux = W.aux(spark, st, tr)
        phase["aux"] = t.ms / 1000.0
        peak = common.peak_rss_mb(pid)  # before the benchmark's own checks
        with Timer() as t:
            check = W.check(spark, st)
        phase["check"] = t.ms / 1000.0
        ok, aux_ok = check
    finally:
        spark.stop()
    return {"setup_s": setup_s, "lat": lat, "rows": rows, "errors": errors,
            "aux": aux, "ok": ok, "aux_ok": aux_ok, "peak": peak, "tr": tr,
            "st": st, "times": times, "phase_s": phase,
            "progress": listener.events if listener else []}


def verdict(ph: dict) -> tuple[int, int]:
    """(attempted, failed): every op plus the post-loop job; an op
    fails on an exception or a failed correctness check."""
    ok, n = ph["ok"], len(ph["lat"])
    failed = sum(1 for i, e in enumerate(ph["errors"])
                 if e is not None or i >= len(ok) or not ok[i])
    return n + 1, failed + (0 if ph["aux_ok"] else 1)


def end_to_end(ph: dict) -> dict:
    busy_s = sum(ph["lat"]) / 1000.0
    vals = {
        "setup_s": ph["setup_s"],
        "op_p50_ms": common.median(ph["lat"]),
        "ops_per_s": len(ph["lat"]) / busy_s,
        "rows_per_s": sum(ph["rows"]) / busy_s,
        "peak_rss_mb": sum(ph["peak"].values()),
    }
    return {k: {"value": round(float(v), 6), "unit": END_TO_END[k]}
            for k, v in vals.items()}


def per_layer(W, run, ph: dict) -> dict:
    from pb import layers
    from pb.evlog import EventLog

    n = len(ph["lat"])
    state = {**ph["times"], **W.counters(ph["st"]),
             "trace.op_p50_ms": common.median(ph["lat"])}
    rows_out = {i: W.rows_returned(ph["st"], i) for i in range(n)}
    return layers.compute(ph["tr"].spans, EventLog.from_dir(
        run.sub("eventlog")), ph["progress"], list(range(n)), rows_out,
        state)


def _terminate(*_) -> None:
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
    sys.exit(143)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        workloads = _workloads()
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the "
              "root of a checkout of the repository", file=sys.stderr)
        return 2
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads)}", file=sys.stderr)
        return 2
    W = workloads[args.workload]()
    # a terminated run still stops its processes and removes its directory
    signal.signal(signal.SIGTERM, _terminate)
    run = common.RunDir()
    try:
        common.isolate_process(run)
        common.adopt_orphans()
        t0 = time.perf_counter()
        sizes = W.generate(args.seed, run)
        gen_s = time.perf_counter() - t0
        common.reset_peak_rss()
        traced = bool(args.trace)
        # the traced run repeats the untraced one with spans, job tags,
        # the event log and the progress listener on; compare.py turns
        # the two op_p50 values into the tracing overhead
        ph = run_phase(W, run, args.seconds, traced)
        metrics = per_layer(W, run, ph) if traced else end_to_end(ph)
        attempted, failed = verdict(ph)
        lat = ph["lat"]
        report = {
            "ops": len(lat), "failed_ratio": failed / attempted,
            "op_p90_ms": common.p90(lat) or "omitted: fewer than 100 ops",
            "op_ms": [round(x, 1) for x in lat],
            # the idle scan / dataset refresh: printed, not gated (its
            # run-to-run spread on a shared 4-vCPU host exceeds 0.25)
            "aux_ms": common.median(ph["aux"]), "aux_samples_ms": ph["aux"],
            "peak_rss_mb": ph["peak"],
            "phase_s": {"generate": gen_s, **ph["phase_s"]},
            "op_errors": [e.splitlines()[-1] for e in ph["errors"] if e],
        }
        common.emit(common.stamp(args.workload, args.seed, sizes, traced),
                    report, {"correct": failed == 0, "attempted": attempted,
                             "failed": failed, "metrics": metrics})
        return 0
    finally:
        # the JVM and its Python workers end before the run does
        common.stop_processes()
        run.close()


if __name__ == "__main__":
    sys.exit(main())
