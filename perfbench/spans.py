"""Spans around layer calls, with Spark counters read at their edges.

A :class:`Tracer` keeps spans in memory (name, start, end, parent,
run id) and writes them out once, when the run ends. Each span marks
the highest Spark stage, job and SQL-execution ids when it opens;
when it closes, everything above those marks is the work the span
caused. Counters come from the driver's status stores, which Spark
fills even with the UI off:

* ``AppStatusStore``: per-stage task time, CPU, GC, bytes, spill,
  task counts, and per-job submit/complete times;
* the SQL status store: the Python-node metrics (worker boot, init
  and run time, bytes sent, rows returned);
* :class:`ProgressLog`: a ``StreamingQueryListener`` that keeps every
  micro-batch's progress report.

The untraced runs use :class:`ProgressLog` only (it is the source of
the micro-batch latency) and open no spans.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = {
    # counter name: (StageData getter, scale to the reported unit)
    "tasks": ("numTasks", 1),
    "failed_task_attempts": ("numFailedTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_bytes": ("diskBytesSpilled", 1),
}
PYTHON_METRICS = {
    "time to run Python workers": "total_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "bytes_sent",
}
# Plan nodes whose output rows came back from Python workers.
_PY_NODE = re.compile(r"Python|Pandas|Arrow|MapInBatch")
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1,
          "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """A SQL metric's display string as a number in seconds, bytes or
    plain count: ``'1,024'``, ``'3.9 s'``, or the multi-line
    ``'total (min, med, max ...)\\n519.8 KiB (...)'`` form."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class SparkCounters:
    """Reads the status stores behind the Spark UI through py4j."""

    def __init__(self, spark: SparkSession):
        self.sc = spark._jsc.sc()
        self.jvm = spark.sparkContext._jvm
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = spark.sparkContext.defaultParallelism

    def drain(self) -> None:
        """The stores are fed by an asynchronous listener bus."""
        self.sc.listenerBus().waitUntilEmpty()

    @staticmethod
    def _newer(lst, key: str, mark: int) -> list:
        """Entries of a store listing whose id is above ``mark``. Each
        listing is sorted by id (stages and jobs newest first, SQL
        executions oldest first), so only the new end is read."""
        n = lst.size()
        if n == 0:
            return []
        newest_first = getattr(lst.apply(0), key)() >= \
            getattr(lst.apply(n - 1), key)()
        out = []
        for i in (range(n) if newest_first else range(n - 1, -1, -1)):
            item = lst.apply(i)
            if getattr(item, key)() <= mark:
                break
            out.append(item)
        return out

    @staticmethod
    def _max_id(lst, key: str) -> int:
        n = lst.size()
        if n == 0:
            return -1
        return max(getattr(lst.apply(0), key)(),
                   getattr(lst.apply(n - 1), key)())

    def _stage_list(self):
        args = [self.jvm.java.util.ArrayList()]
        args += [getattr(self.store, f"stageList$default${i}")()
                 for i in range(2, 6)]
        return self.store.stageList(*args)

    def _job_list(self):
        return self.store.jobsList(self.jvm.java.util.ArrayList())

    def _stages(self, mark: int) -> list:
        return self._newer(self._stage_list(), "stageId", mark)

    def _jobs(self, mark: int) -> list:
        return self._newer(self._job_list(), "jobId", mark)

    def _executions(self, mark: int) -> list:
        return self._newer(self.sql.executionsList(), "executionId", mark)

    def marks(self) -> tuple[int, int, int]:
        """The highest stage, job and SQL-execution ids so far."""
        self.drain()
        return (self._max_id(self._stage_list(), "stageId"),
                self._max_id(self._job_list(), "jobId"),
                self._max_id(self.sql.executionsList(), "executionId"))

    def since(self, marks: tuple[int, int, int]) -> dict:
        """Counters of the stages, jobs and SQL executions created
        after ``marks``. Stage retries keep their latest attempt."""
        self.drain()
        stage_mark, job_mark, exec_mark = marks
        latest: dict[int, object] = {}
        for s in self._stages(stage_mark):
            if (s.stageId() not in latest
                    or s.attemptId() > latest[s.stageId()].attemptId()):
                latest[s.stageId()] = s
        out = {k: 0.0 for k in STAGE_FIELDS}
        for s in latest.values():
            for k, (getter, scale) in STAGE_FIELDS.items():
                out[k] += getattr(s, getter)() * scale
        out["stages"] = len(latest)
        intervals = []
        for j in self._jobs(job_mark):
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
        out["jobs"] = len(intervals)
        out["job_intervals"] = intervals
        # (stage id, shuffle bytes read) for picking a stage by role
        out["stage_reads"] = sorted((sid, s.shuffleReadBytes())
                                    for sid, s in latest.items())
        out.update(self._python(exec_mark))
        return out

    def _python(self, exec_mark: int) -> dict:
        out = {f"python.{v}": 0.0 for v in PYTHON_METRICS.values()}
        out["python.rows_received"] = 0.0
        for e in self._executions(exec_mark):
            if not _PY_NODE.search(e.physicalPlanDescription()):
                continue  # no Python node: nothing to read
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            ms = e.metrics()
            for i in range(ms.size()):
                m = ms.apply(i)
                key = PYTHON_METRICS.get(m.name())
                if key:
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[f"python.{key}"] += parse_sql_metric(v.get())
            out["python.rows_received"] += self._python_rows(eid, values)
        return out

    def _python_rows(self, eid: int, values) -> float:
        nodes = self.sql.planGraph(eid).allNodes()
        rows = 0.0
        for i in range(nodes.size()):
            n = nodes.apply(i)
            if not _PY_NODE.search(n.name()):
                continue
            ms = n.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        rows += parse_sql_metric(v.get())
        return rows

    def task_skew(self, stage_id: int) -> float:
        """Max over median task run time in one stage (1.0 = even)."""
        attempt = max(s.attemptId() for s in self._stages(stage_id - 1)
                      if s.stageId() == stage_id)
        tasks = self.store.taskList(stage_id, attempt, 1 << 30)
        times = sorted(tasks.apply(i).taskMetrics().get().executorRunTime()
                       for i in range(tasks.size())
                       if tasks.apply(i).taskMetrics().isDefined())
        if not times:
            return 1.0
        return times[-1] / max(times[len(times) // 2], 1)


class ProgressLog(StreamingQueryListener):
    """Every streaming progress report, kept by query id."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.id))

    def mark(self) -> int:
        with self._lock:
            return len(self.progress)

    def since(self, mark: int, counters: SparkCounters) -> list[dict]:
        """Reports after ``mark``, once every query that reported has
        delivered its termination event."""
        counters.drain()
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            with self._lock:
                new = self.progress[mark:]
                if all(p["id"] in self.terminated for p in new):
                    return list(new)
            time.sleep(0.02)
        with self._lock:
            return list(self.progress[mark:])


class Tracer:
    """Spans kept in memory; counters attached at span close.

    A span's wall time includes reading its counters, which happens
    just after it opens and just before it closes. That reading is the
    span's ``read_s`` and is left out of its self time, so a parent's
    self time never holds its children's reads. Summed over spans,
    ``read_s`` is what a traced pass spends that an untraced one does
    not; the self times of a pass and its spans plus that sum add up
    to the pass's wall time."""

    def __init__(self, counters: SparkCounters, run_id: str):
        self.counters = counters
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark_counters: bool = False):
        rec = {"name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "read_s": 0.0,
               "attrs": {}}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        t0 = time.perf_counter()
        marks = self.counters.marks() if spark_counters else None
        rec["read_s"] += time.perf_counter() - t0
        try:
            yield rec["attrs"]
        finally:
            if marks is not None:
                t0 = time.perf_counter()
                rec["spark"] = self.counters.since(marks)
                rec["read_s"] += time.perf_counter() - t0
            self._stack.pop()
            rec["end"] = time.time()

    def self_time(self, index: int) -> float:
        """Wall time less the children's wall time and the span's own
        counter reading."""
        rec = self.spans[index]
        children = sum(s["end"] - s["start"] for s in self.spans
                       if s["parent"] == index)
        return rec["end"] - rec["start"] - children - rec["read_s"]

    def write(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(i))
               for i, s in enumerate(self.spans)]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(out, fh, indent=1, default=str)
