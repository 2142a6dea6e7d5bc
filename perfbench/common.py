"""Shared pieces of the benchmark: session set-up, spans, Spark job
counts, percentiles and process-tree memory.

Everything here observes the engine from outside: spans wrap calls
into the engine's public functions, job/stage/task counts come from
``SparkContext.statusTracker()`` keyed by a per-call job group, and
memory is read from ``/proc``.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

PY_WORKER_WARM_ROWS = 4096


def now() -> float:
    return time.perf_counter()


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    values = sorted(values)
    if not values:
        return 0.0
    k = max(0, min(len(values) - 1, int(round(p / 100.0 * len(values) + 0.5)) - 1))
    return float(values[k])


# --- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, layer, start, end, parent, run id) plus
    per-call Spark job/stage/task counts. With ``enabled`` off every
    method is a no-op, so the untraced run pays nothing but the
    context-manager call."""

    def __init__(self, spark_context_fn, run_id: str, enabled: bool):
        self._sc = spark_context_fn
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, layer: str, active: bool = True):
        """Yields a dict the caller may read after the block: ``jobs``,
        ``tasks``, ``failed_tasks`` (traced only) and ``dur``."""
        rec = {"name": name, "layer": layer, "run_id": self.run_id}
        if not (self.enabled and active):
            t0 = now()
            yield rec
            rec["dur"] = now() - t0
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec["id"] = next(self._ids)
        rec["parent"] = stack[-1] if stack else None
        group = f"pb-{self.run_id}-{rec['id']}"
        sc = self._sc()
        sc.setJobGroup(group, name)
        stack.append(rec["id"])
        rec["start"] = now()
        try:
            yield rec
        finally:
            rec["end"] = now()
            rec["dur"] = rec["end"] - rec["start"]
            stack.pop()
            if stack:
                sc.setJobGroup(f"pb-{self.run_id}-{stack[-1]}", "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._counts(sc, group))
            self.spans.append(rec)

    @staticmethod
    def _counts(sc, group: str) -> dict:
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = failed = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                if stage:
                    tasks += stage.numTasks
                    failed += stage.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}

    def by_layer(self) -> dict[str, tuple[int, float, float]]:
        """Per layer: span count, total duration, and self time (each
        span's duration minus what its direct children cover)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["dur"]
        out: dict[str, tuple[int, float, float]] = {}
        for s in self.spans:
            n, total, own = out.get(s["layer"], (0, 0.0, 0.0))
            out[s["layer"]] = (n + 1, total + s["dur"], own + s["dur"] - child_time.get(s["id"], 0.0))
        return out


# --- memory ----------------------------------------------------------------


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    """RSS of this process and every descendant (the JVM and the
    Python workers it forks)."""
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a
    monitoring thread and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# --- session set-up --------------------------------------------------------


def _jvm_job(spark) -> None:
    spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()


def py_worker_job(spark) -> None:
    def passthrough(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, PY_WORKER_WARM_ROWS, 1, n).mapInPandas(passthrough, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def start_session(cycles: int):
    """Launch the JVM, then start the engine's session ``cycles``
    times (stopping it in between), each start followed by one JVM
    job. Returns ``(spark, timings)``; ``timings`` holds the one-time
    gateway launch, the first (cold) start and the median of the
    repeated starts."""
    from pyspark import SparkContext

    from acuvate_spark.session import get_spark

    t0 = now()
    SparkContext._ensure_initialized()
    gateway_s = now() - t0
    starts = []
    spark = None
    for k in range(cycles):
        if spark is not None:
            spark.stop()
        t0 = now()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        _jvm_job(spark)
        starts.append(now() - t0)
    return spark, {
        "gateway_s": gateway_s,
        "first_start_s": starts[0],
        "restart_s": median(starts[1:] or starts),
    }


def scan_tables(spark, sf_dir: str) -> None:
    """Noop-materialise every input table through ``tables.load_table``."""
    from acuvate_spark.tables import TABLES, load_table

    for name in TABLES:
        load_table(spark, sf_dir, name).write.format("noop").mode("overwrite").save()


def parallel(tasks: dict) -> dict[str, float]:
    """Run the callables at once, one thread each; returns each one's
    duration under its key, and the wall time under ``wall_s``."""
    def timed(fn):
        t0 = now()
        fn()
        return now() - t0

    t0 = now()
    with ThreadPoolExecutor(len(tasks)) as pool:
        futures = {k: pool.submit(timed, fn) for k, fn in tasks.items()}
        out = {k: f.result() for k, f in futures.items()}
    out["wall_s"] = now() - t0
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total
