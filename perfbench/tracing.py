"""Spans, engine counters and memory readings for the benchmark.

Spans are recorded by the benchmark's own code around its calls into
the package's public functions (registry ``fn``s, ``sinks``,
``snapshots``, ``ivm``, ``scd``, the ``ledger_cdc`` stream).  They are
kept in memory and written out once, when the run ends.  A span's self
time is its duration minus the part of it covered by its child spans.

Engine counters come from Spark itself: job counts from the DAG
scheduler's next job id (all threads), and per-stage executor run,
CPU, GC, shuffle, spill and input figures from the application status
store, which Spark keeps even with the UI disabled.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

# stage fields summed per pass: (record key, AppStatus StageData getter,
# scale to the record's unit)
_STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("input_bytes", "inputBytes", 1),
    ("input_rows", "inputRecords", 1),
    ("tasks", "numCompleteTasks", 1),
)


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` only yields.

    One stack is shared by all threads on purpose: a ``foreachBatch``
    callback runs on a py4j callback thread while the main thread waits
    inside the span that started the stream, and that span is its
    cause, so it becomes the callback span's parent."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        # set to a callable returning Spark's next job id to record the
        # jobs each span ran
        self.job_id = None
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            idx = len(self.spans)
            rec = {"name": name, "start": time.perf_counter(), "end": None,
                   "parent": self._stack[-1] if self._stack else None,
                   "pass": self.pass_id}
            if self.job_id is not None:
                rec["jobs"] = -self.job_id()
            self.spans.append(rec)
            self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.job_id is not None:
                rec["jobs"] += self.job_id()
            with self._lock:
                self._stack.remove(idx)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                             "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += max(0.0, dur - child_time[i])
        return out

    def find(self, name: str, pass_id: int | None = None) -> list[dict]:
        """Finished spans called *name* (of one pass, if given)."""
        return [s for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (pass_id is None or s["pass"] == pass_id)]


class EngineCounters:
    """Counter snapshots over one Spark context, diffed per pass."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gateway = sc._gateway
        self._jvm = sc._jvm
        self._last_stage = -1

    def job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def mark(self) -> tuple[int, int]:
        """Start of a measured interval: (next job id, last stage id seen)."""
        self._last_stage = max(self._last_stage, self._max_stage())
        return self.job_id(), self._last_stage

    def _stages(self):
        store = self._jsc.statusStore()
        seq = store.stageList(None, False, False,
                              self._gateway.new_array(self._jvm.double, 0),
                              None)
        return [seq.apply(i) for i in range(seq.size())]

    def _max_stage(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def since(self, mark: tuple[int, int]) -> dict:
        """Jobs, stages and summed stage metrics since *mark*."""
        job0, stage0 = mark
        out = {k: 0 for k, _, _ in _STAGE_FIELDS}
        out["jobs"] = self.job_id() - job0
        out["stages"] = 0
        for s in self._stages():
            if s.stageId() <= stage0 or str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            for key, getter, scale in _STAGE_FIELDS:
                out[key] += getattr(s, getter)() * scale
        return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of *pid* in MiB, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM line for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak RSS of the JVM and of this driver process."""
    return {"jvm": vm_hwm_mb(jvm_pid(spark)), "driver": vm_hwm_mb(os.getpid())}
