"""Collectors for the benchmark: spans, Spark's own bookkeeping over one
op, and streaming progress.

Everything here reads state the engine already keeps. Spark counters
come from the application status store over the op's job- and
stage-id range (``dagScheduler().nextJobId()/nextStageId()`` before and
after), so counts are exact and independent of host speed. Streaming
numbers come from a ``StreamingQueryListener``.
"""

from __future__ import annotations

from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

#: Stage-level totals summed over an op, in the units they are reported in.
STAGE_FIELDS = ("stages", "tasks", "failed_tasks", "exec_run_s",
                "exec_cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


class Spans:
    """In-memory span log: name, start, end and the index of the span
    that caused it. Times are ``time.perf_counter()`` seconds."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.records.append({"name": name, "start": start, "end": end,
                             "parent": parent, **attrs})
        return len(self.records) - 1


class SparkWindow:
    """Job/stage ids and stage metrics from the driver's status store.

    The store is fed asynchronously by the listener bus, so ``settle``
    must run before the totals of a finished action are read."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()

    def mark(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def settle(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def stage_totals(self, s0: int, s1: int) -> dict:
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        for sid in range(s0, s1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # id allocated but never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["failed_tasks"] += st.numFailedTasks()
            tot["exec_run_s"] += st.executorRunTime() / 1e3
            tot["exec_cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["input_bytes"] += st.inputBytes()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.diskBytesSpilled()
        return tot


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressLog(StreamingQueryListener):
    """Start times and per-trigger progress of every streaming query.

    Callbacks run on the listener-bus thread; read the lists only after
    ``SparkWindow.settle()``."""

    def __init__(self) -> None:
        self.started: list[tuple[str, float]] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started.append((str(event.id), _epoch(event.timestamp)))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ms = p.durationMs
        self.progress.append({
            "id": str(p.id),
            "trigger_s": ms.get("triggerExecution", 0) / 1e3,
            "add_batch_s": ms.get("addBatch", 0) / 1e3,
            "wal_commit_s": ms.get("walCommit", 0) / 1e3,
            "rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mem_bytes": sum(s.memoryUsedBytes
                                   for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

