"""Run plumbing shared by every workload: the run directory, the
session, timing statistics, memory sampling and the result line."""

from __future__ import annotations

import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
MAX_CPUS = 4


def cpus() -> int:
    return min(MAX_CPUS, os.cpu_count() or 1)


class RunDir:
    """A fresh scratch directory for one run, inside the checkout
    (``.perfbench_tmp/``), removed when the run ends. Spark's local,
    warehouse, temp and event-log directories all live under it."""

    def __init__(self) -> None:
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)
        for sub in ("inputs", "spark-local", "java-tmp", "py-tmp", "work"):
            os.makedirs(self.sub(sub), exist_ok=True)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def fresh(self, name: str) -> str:
        """A new, empty directory under ``work/``."""
        return tempfile.mkdtemp(prefix=f"{name}-", dir=self.sub("work"))

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))  # only if now empty
        except OSError:
            pass


def isolate_process(run: RunDir) -> None:
    """Point every temp-file consumer of this process (Python, the JVM
    it launches, Python workers) at the run directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = run.sub("py-tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = run.sub("py-tmp")


def session_conf(run: RunDir, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": run.sub("spark-local"),
        "spark.sql.warehouse.dir": run.sub("work", "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run.sub('java-tmp')} "
            f"-Dderby.system.home={run.sub('java-tmp')}"),
        "spark.sql.streaming.checkpointLocation": run.sub("work", "ckpt"),
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(run.sub("eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.dir": "file://" + run.sub("eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


# ------------------------------------------------------------- processes
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of everything it starts, directly
    or not. Spark's launcher leaves a finished ``java`` child that the
    JVM never reaps; when the JVM exits, that zombie, like any orphaned
    Python worker, is re-parented here rather than to init, so
    ``stop_processes`` can reap it before the run ends."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                            0, 0, 0)


def _children() -> dict[int, list[int]]:
    """parent pid -> child pids, for every live process in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # "pid (comm) state ppid ..."; comm may hold spaces
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    """Every process this one started, directly or not."""
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """Not yet reaped. A child of this process is reaped here once all
    its threads have ended (a JVM's main thread shows as a zombie while
    its other threads still shut down, so /proc's state cannot tell).
    Any other process counts until it leaves /proc: its parent reaps it,
    or, once that parent is gone, this process (see adopt_orphans)."""
    try:
        return os.waitpid(pid, os.WNOHANG)[0] == 0
    except ChildProcessError:
        return os.path.exists(f"/proc/{pid}")


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    end = time.monotonic() + timeout
    while True:
        pids = [p for p in pids if _alive(p)]
        if not pids or time.monotonic() >= end:
            return pids
        time.sleep(0.05)


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop the JVM and the Python workers this run started, and wait
    until every one has ended: closing the gateway's stdin lets the JVM
    exit on its own; whatever is still up after ``grace_s`` gets
    SIGTERM, then SIGKILL."""
    from pyspark import SparkContext

    pids = descendants()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None and proc.stdin and not proc.stdin.closed:
            try:
                proc.stdin.close()  # the JVM exits on EOF
            except OSError:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = _wait_gone(pids, grace_s)
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not left:
            break
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        left = _wait_gone(left, wait)
    # a process that started meanwhile (a worker fork) goes the same way
    late = [p for p in descendants() if _alive(p)]
    for p in late:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    _wait_gone(late, 10.0)
    # reap what is left: zombies re-parented here (see adopt_orphans)
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break


def neutral_warmup(spark) -> None:
    """Workload-independent warm-up: one trivial job, so the first
    job's class loading and JIT are not charged to the workload's own
    set-up. Warming the workload's own plans is that set-up's work."""
    spark.range(1).count()


# ------------------------------------------------------------ statistics
def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def p90(xs: list[float]) -> float | None:
    """p90 only where at least ten samples lie beyond it (>= 100)."""
    if len(xs) < 100:
        return None
    return float(statistics.quantiles(xs, n=10)[8])


# ---------------------------------------------------------------- memory
def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM so generated inputs do not count."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def peak_rss_mb(pid_jvm: int | None) -> dict[str, float]:
    """Peak resident MB of this process and of its JVM."""
    return {"python": _hwm_kb("self") / 1024.0,
            "jvm": (_hwm_kb(pid_jvm) if pid_jvm else 0) / 1024.0}


# ---------------------------------------------------------------- result
def stamp(workload: str, seed: int, sizes: dict, trace: bool) -> dict:
    import pyarrow
    import pyspark

    return {
        "workload": workload, "seed": seed, "trace": trace,
        "cpus": cpus(), "master": f"local[{cpus()}]",
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(), "sizes": sizes,
    }


def emit(meta: dict, report: dict, result: dict) -> None:
    """The run stamp and the human-readable report as ``#`` lines, then
    the result object as the last stdout line."""
    print("# meta " + json.dumps(meta, sort_keys=True))
    print("# report " + json.dumps(report, sort_keys=True))
    print(json.dumps(result), flush=True)
