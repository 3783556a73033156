"""Outside-in instruments: Spark session lifecycle, worker RSS
sampling, Spark job/stage/task counts and the span tracer. CPU pinning
and the worker warm-up are bench.py's own ``_pin_tree`` and
``_warm_workers``.

Nothing here reaches into zpdfspark internals: sessions come from the
public ``get_spark``, counts from ``sparkContext.statusTracker()`` and
the status store, memory from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def cpus() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def _children(pid: int) -> list[int]:
    """Child processes of every thread of ``pid``."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except (OSError, ValueError):
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        for c in _children(stack.pop()):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class RssSampler:
    """Samples the summed RSS of the Python worker processes (the
    JVM's Python descendants) every ``interval`` seconds on one thread;
    ``peak_mb`` is the largest sum seen between start() and stop()."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = jvm_pid()
        roots: list[int] = []
        next_scan = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now >= next_scan:
                # Python children of the JVM (the worker daemon); their
                # own children are the workers
                roots = [p for p in _children(root) if _is_python(p)]
                next_scan = now + 1.0
            total = 0
            for r in roots:
                total += _rss_kb(r)
                for w in descendants(r):
                    total += _rss_kb(w)
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


# -- session lifecycle -------------------------------------------------


# Attempts per task before the job fails, as spark.task.maxFailures
# defaults to on a cluster. Plain local[N] allows one attempt, so a
# failed task would abort the run instead of showing in task_ok_share.
TASK_ATTEMPTS = 4


def open_session(cores: int, app: str, work_dir: str):
    """``get_spark`` at ``cores``, with every scratch directory Spark
    uses placed under ``work_dir`` and TASK_ATTEMPTS attempts per task."""
    from zpdfspark.spark.session import get_spark

    return get_spark(cores, app, shuffle_partitions=cores, extra_conf={
        "spark.master": f"local[{cores},{TASK_ATTEMPTS}]",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def stop_session(spark) -> None:
    """Stop the SparkContext and the gateway JVM it runs in, and wait
    until the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    kids = descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# -- Spark counts ------------------------------------------------------


def _drain_listener(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status tracker reflects jobs that already returned."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.2)


def job_counts(spark, group: str) -> dict:
    """Jobs, stages and tasks of a job group, from the status tracker.
    ``tasks`` counts launched task attempts (completed + failed) over
    every stage that ran; skipped stages launch none."""
    _drain_listener(spark)
    st = spark.sparkContext.statusTracker()
    jobs = sorted(st.getJobIdsForGroup(group))
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
           "stage_ids": []}
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is None:
                continue
            launched = si.numCompletedTasks + si.numFailedTasks
            if launched == 0:
                continue
            out["stages"] += 1
            out["tasks"] += launched
            out["failed_tasks"] += si.numFailedTasks
            out["stage_ids"].append((s, si.currentAttemptId, launched))
    return out


def task_run_times(spark, stage_id: int, attempt: int,
                   quantiles=(0.5, 1.0)) -> list[float]:
    """Executor run-time quantiles (seconds) of one stage attempt, from
    the status store's task summary."""
    sc = spark.sparkContext
    gw = sc._gateway
    arr = gw.new_array(gw.jvm.double, len(quantiles))
    for i, q in enumerate(quantiles):
        arr[i] = q
    opt = sc._jsc.sc().statusStore().taskSummary(stage_id, attempt, arr)
    if not opt.isDefined():
        return [float("nan")] * len(quantiles)
    rt = opt.get().executorRunTime()
    return [rt.apply(i) / 1000.0 for i in range(rt.length())]


# -- tracing -----------------------------------------------------------


class Tracer:
    """Spans around calls into each layer: name, start, end, parent and
    run id, plus the Spark jobs, stages and tasks launched inside the
    span (children included). Kept in memory; ``dump`` writes JSON.

    When tracing is off, only spans opened with ``always=True`` (the
    measured operations themselves) exist: they tag their jobs with a
    group so task counts can be read, and nothing is recorded."""

    def __init__(self, run_id: str, enabled: bool):
        self.spark = None
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, always: bool = False):
        if not (self.enabled or always):
            yield None
            return
        self._n += 1
        sid = f"{self.run_id}.{self._n}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None,
               "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
               "stage_ids": []}
        spark = self.spark
        if spark is not None:
            spark.sparkContext.setJobGroup(sid, name)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["seconds"]
            self._stack.pop()
            if spark is not None and self.spark is spark:
                own = job_counts(spark, sid)
                for k in ("jobs", "stages", "tasks", "failed_tasks",
                          "stage_ids"):
                    rec[k] += own[k]
                if parent is not None:
                    spark.sparkContext.setJobGroup(parent["id"],
                                                   parent["name"])
            if parent is not None:
                for k in ("jobs", "stages", "tasks", "failed_tasks"):
                    parent[k] += rec[k]
            if self.enabled:
                self.spans.append(rec)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra,
                       "spans": self.spans}, f, indent=1)


def median(xs) -> float:
    return float(statistics.median(xs))
