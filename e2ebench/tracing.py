"""Spans, Spark job groups and stage metrics for the traced run.

A span is recorded around a public call of the package.  While tracing
is on, every span tags the Spark jobs it starts with its own job group
(``SparkContext.setJobGroup``), so the stage metrics of exactly those
jobs can be read back from Spark's status store after the span closes.
With tracing off, ``span`` records nothing and sets no job group.

``BatchListener`` is a ``StreamingQueryListener`` that keeps the
progress of every micro-batch; the untraced run needs it too, for the
``monitor_batch_s`` metric.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: stage-metric fields summed per job group (AppStatusStore v1.StageData)
STAGE_FIELDS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "inputBytes",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numTasks",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        """Time one public call and tag its Spark jobs with a job group of
        its own; yields the span record, or ``None`` when tracing is off."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        rec = {"name": name, "group": f"e2ebench-{next(self._ids)}-{name}"}
        prior = sc.getLocalProperty("spark.jobGroup.id")
        prior_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", prior)
            sc.setLocalProperty("spark.job.description", prior_desc)

    def stage_totals(self, rec: dict, timeout_ms: int = 30_000) -> dict:
        """Sum the stage metrics of every job the span started.  Spark
        fills its status store from an asynchronous listener bus, so
        drain the bus first."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(timeout_ms)
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(rec["group"])
        stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        for sid in stage_ids:
            try:
                st = jsc.statusStore().lastStageAttempt(sid)
            except Exception as exc:  # py4j wraps NoSuchElementException
                if "NoSuchElement" not in str(exc):
                    raise
                continue  # a skipped stage never ran and has no record
            for f in STAGE_FIELDS:
                totals[f] += int(getattr(st, f)())
        return totals


class BatchListener(StreamingQueryListener):
    """Keeps every micro-batch's progress and counts terminated queries."""

    def __init__(self):
        self.batches: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        state_rows = sum(op.numRowsTotal for op in p.stateOperators)
        state_bytes = sum(op.memoryUsedBytes for op in p.stateOperators)
        with self._cv:
            self.batches.append(
                {
                    "query": p.name,
                    "batch_s": p.batchDuration / 1000.0,
                    "input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": state_rows,
                    "state_bytes": state_bytes,
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, count: int, timeout_s: float = 30.0) -> None:
        """Block until ``count`` queries have reported termination, so
        every progress event of those queries has been delivered."""
        with self._cv:
            if not self._cv.wait_for(lambda: self.terminated >= count, timeout_s):
                raise TimeoutError("streaming listener missed a query termination")
