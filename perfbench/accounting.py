"""What Spark itself reports for the jobs of one job group.

The benchmark tags every call it makes with its own job group
(``SparkContext.setJobGroup``) and afterwards reads, for that group only:

- jobs and stages from ``statusTracker``;
- per-stage task metrics (run time, CPU, GC, input/output, shuffle,
  spill, failed tasks) from the JVM status store;
- the Python-worker SQL metrics (run/boot/init time, bytes sent and
  returned) from the SQL status store, for the SQL executions whose jobs
  belong to the group.

Nothing here reaches into the engine under test: it only talks to the
Spark session the engine runs on.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

MB = 1024 * 1024

# Spark 4.1 SQL metric names of ArrowEvalPython / MapInPandas and friends.
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.worker_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}

SPARK_KEYS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "input_mb", "output_mb", "failed_tasks",
    "scan_task_s", "scan_input_mb",
)

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / MB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0 ** 2,
}
# Leading figure of a formatted SQL metric's value line; several tasks
# format as "total (min, med, max ...)\n7.7 s (...)", one task as "7.7 s".
_TOTAL = re.compile(r"\s*([0-9.]+)\s*([A-Za-z]+)")


def _items(scala_collection):
    """Python list of the elements of a Scala collection."""
    it = scala_collection.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def parse_sql_metric(text: str) -> float:
    """Total of a formatted timing (→ s) or size (→ MB) SQL metric."""
    m = _TOTAL.match(text.split("\n", 1)[-1])
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    return float(m.group(1)) * _UNITS[m.group(2)]


class SparkAccount:
    """Per-job-group accounting over one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_execution = self._max_execution_id()
        # SQL executions with Python-worker metrics that no read has
        # claimed yet: (execution id, its job ids, accumulator id -> key)
        self._unclaimed: list[tuple[int, set[int], dict[int, str]]] = []

    @contextmanager
    def group(self, group_id: str):
        """Tag every job started inside the block (and in threads started
        with ``inheritable_thread_target``) with ``group_id``."""
        self.sc.setJobGroup(group_id, group_id, interruptOnCancel=False)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the final metrics of jobs that already returned."""
        self._bus.waitUntilEmpty(60_000)

    def read(self, group_id: str) -> dict[str, float]:
        """Spark and Python-worker totals for one job group."""
        jobs = list(self._tracker.getJobIdsForGroup(group_id))
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        out["jobs"] = float(len(jobs))
        stage_ids = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            d = self._store.lastStageAttempt(sid)
            if d.status().toString() == "SKIPPED":
                continue
            task_s = d.executorRunTime() / 1e3
            input_mb = d.inputBytes() / MB
            out["stages"] += 1
            out["tasks"] += d.numTasks()
            out["task_s"] += task_s
            out["cpu_s"] += d.executorCpuTime() / 1e9
            out["gc_s"] += d.jvmGcTime() / 1e3
            out["input_mb"] += input_mb
            out["output_mb"] += d.outputBytes() / MB
            out["shuffle_read_mb"] += d.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += d.shuffleWriteBytes() / MB
            out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / MB
            out["failed_tasks"] += d.numFailedTasks()
            if input_mb > 0 and self._scans_files(sid):
                out["scan_task_s"] += task_s
                out["scan_input_mb"] += input_mb
        out.update(self._python_metrics(set(jobs)))
        return out

    def _scans_files(self, stage_id: int) -> bool:
        """True when the stage's RDD graph reads files (a FileScanRDD)."""
        clusters = [self._store.operationGraphForStage(stage_id).rootCluster()]
        while clusters:
            c = clusters.pop()
            if any(n.name() == "FileScanRDD" for n in _items(c.childNodes())):
                return True
            clusters.extend(_items(c.childClusters()))
        return False

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).head().executionId()

    def _new_executions(self):
        """SQL executions started since the previous call, oldest first."""
        found, end = [], self._sql.executionsCount()
        while end > 0:
            start = max(0, end - 64)
            batch = _items(self._sql.executionsList(start, end - start))
            end = start
            found[:0] = [e for e in batch if e.executionId() > self._last_execution]
            if any(e.executionId() <= self._last_execution for e in batch):
                break
        if found:
            self._last_execution = max(e.executionId() for e in found)
        return found

    def _python_metrics(self, jobs: set[int]) -> dict[str, float]:
        """Python-worker totals of the SQL executions whose jobs are in
        ``jobs``. An execution is claimed by the first read whose group
        ran one of its jobs; the others wait for a later read, so groups
        read one after another each get their own executions."""
        for e in self._new_executions():
            wanted = {
                m.accumulatorId(): PYTHON_SQL_METRICS[m.name()]
                for m in _items(e.metrics())
                if m.name() in PYTHON_SQL_METRICS
            }
            if wanted:
                exec_jobs = {int(k) for k in _items(e.jobs().keys())}
                self._unclaimed.append((e.executionId(), exec_jobs, wanted))
        out = dict.fromkeys(PYTHON_SQL_METRICS.values(), 0.0)
        left = []
        for exec_id, exec_jobs, wanted in self._unclaimed:
            if not exec_jobs & jobs:
                left.append((exec_id, exec_jobs, wanted))
                continue
            for kv in _items(self._sql.executionMetrics(exec_id)):
                key = wanted.get(kv._1())
                if key is not None:
                    out[key] += parse_sql_metric(kv._2())
        self._unclaimed = left
        return out
