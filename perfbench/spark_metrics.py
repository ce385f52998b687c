"""Read Spark's own counters from outside the engine.

Jobs are attributed to submissions by job tag (``pb-<submission id>``),
read from the application status store, which Spark keeps even with the
UI disabled. Codegen counts come from Spark's ``CodegenMetrics``; stream
batch numbers from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import threading
from datetime import datetime
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

TAG_PREFIX = "pb-"


def job_tag(sid: int) -> str:
    return f"{TAG_PREFIX}{sid}"


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    """VmHWM (peak resident set) of the Spark JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class CodegenCounter:
    """Spark's whole-process codegen compile counter and its time histogram."""

    def __init__(self, spark: SparkSession) -> None:
        jvm = spark.sparkContext._jvm
        self._hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def count(self) -> int:
        return int(self._hist.getCount())

    def mean_s(self) -> float:
        """Mean compile time over the histogram's sampling reservoir."""
        return float(self._hist.getSnapshot().getMean()) / 1000.0


@dataclass
class StageStats:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "StageStats") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class JobRecord:
    job_id: int
    tags: tuple[str, ...]
    submitted_ms: int | None
    first_task_ms: int | None
    stages: list[int] = field(default_factory=list)


class StatusReader:
    """Jobs and stages from Spark's application status store."""

    def __init__(self, spark: SparkSession) -> None:
        self._ssc = spark.sparkContext._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every pending event."""
        self._ssc.listenerBus().waitUntilEmpty()

    def read(self) -> tuple[list[JobRecord], dict[int, StageStats]]:
        """Every job the store retains, and stage id -> stats summed over attempts."""
        store = self._ssc.statusStore()
        stages: dict[int, StageStats] = {}
        first_task: dict[int, int | None] = {}
        default_quantiles = getattr(store, "stageList$default$4")()
        for s in _seq(store.stageList(None, False, False, default_quantiles, None)):
            st = StageStats(
                tasks=int(s.numCompleteTasks()),
                run_s=s.executorRunTime() / 1000.0,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1000.0,
                input_bytes=int(s.inputBytes()),
                input_rows=int(s.inputRecords()),
                shuffle_write_bytes=int(s.shuffleWriteBytes()),
                spill_bytes=int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            )
            sid = int(s.stageId())
            stages.setdefault(sid, StageStats()).add(st)  # all attempts
            launched = _opt_ms(s.firstTaskLaunchedTime())
            if launched is not None:
                prev = first_task.get(sid)
                first_task[sid] = launched if prev is None else min(prev, launched)
        jobs: list[JobRecord] = []
        for j in _seq(store.jobsList(None)):
            stage_ids = [int(x) for x in _seq(j.stageIds())]
            launched = [first_task[s] for s in stage_ids if first_task.get(s) is not None]
            jobs.append(
                JobRecord(
                    job_id=int(j.jobId()),
                    tags=tuple(str(t) for t in _seq(j.jobTags())),
                    submitted_ms=_opt_ms(j.submissionTime()),
                    first_task_ms=min(launched) if launched else None,
                    stages=stage_ids,
                )
            )
        return jobs, stages


class StreamBatches(StreamingQueryListener):
    """Collects one record per streaming micro-batch, stamped with the
    batch's start time in epoch milliseconds."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        started = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        rec = {
            "name": p.name,
            "start_ms": started.timestamp() * 1000.0,
            "trigger_s": (p.durationMs.get("triggerExecution") or 0) / 1000.0,
            "state_rows": sum(int(op.numRowsTotal) for op in p.stateOperators),
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.batches = self.batches, []
        return out
