"""Measuring the program from outside: spans, Spark job attribution, memory.

Every reading here goes through public or JVM-reachable Spark handles, so the
program itself carries no instrumentation:

* a job group per import or query phase (``setJobGroup``), read back through
  the status store once the listener bus is drained;
* Catalyst phase times from ``queryExecution().tracker()``, read after the
  executed plan is forced (the tracker is empty before that);
* cached bytes from ``getRDDStorageInfo()``, and bytes read from files from
  Hadoop's file system statistics;
* peak resident memory of the JVM and of this Python process from ``/proc``
  and ``getrusage``.
"""

from __future__ import annotations

import resource
import threading
import time
from collections import Counter
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Per-stage quantities summed over a job group, with the StageData getter and
# the factor that turns its unit into the reported one.
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
}


class Tracer:
    """Spans kept in memory and written out when the run ends.

    A span has a name, start, end (seconds since the tracer was made) and the
    id of the span that was open when it started. Counts measured at the same
    boundary go into the span's ``counts``. A disabled tracer records nothing.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._open.pop()


class SparkProbe:
    """Job-group attribution and cache/memory readings for one session."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name, False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group_totals(self, name: str) -> Counter:
        """Jobs, stages and per-stage metrics of every job in group ``name``.

        Stages a job skipped (their shuffle output was reused) have no
        attempt and are not counted.
        """
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        totals: Counter = Counter()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(name):
            totals["jobs"] += 1
            stage_ids = self._store.job(job_id).stageIds()
            for k in range(stage_ids.size()):
                try:
                    stage = self._store.lastStageAttempt(stage_ids.apply(k))
                except Py4JJavaError:
                    continue
                totals["stages"] += 1
                for key, (getter, scale) in _STAGE_FIELDS.items():
                    totals[key] += getattr(stage, getter)() * scale
        return totals

    def file_bytes_read(self) -> int:
        """Bytes read so far through Hadoop's local file system in this JVM
        (driver and, in local mode, every executor task)."""
        fs = self.sc._jvm.org.apache.hadoop.fs.FileSystem
        return sum(
            int(st.getBytesRead())
            for st in fs.getAllStatistics()
            if st.getScheme() == "file"
        )

    def cached_bytes(self) -> int:
        return sum(
            int(info.memSize()) + int(info.diskSize())
            for info in self._jsc.getRDDStorageInfo()
        )

    @contextmanager
    def cached_bytes_peak(self, interval_s: float = 0.1):
        """Poll cached bytes on a thread while the block runs; yields a dict
        whose ``peak`` holds the largest reading once the block has ended."""
        result = {"peak": 0}
        stop = threading.Event()

        def poll() -> None:
            while not stop.wait(interval_s):
                result["peak"] = max(result["peak"], self.cached_bytes())

        thread = threading.Thread(target=poll, daemon=True)
        thread.start()
        try:
            yield result
        finally:
            stop.set()
            thread.join()
            result["peak"] = max(result["peak"], self.cached_bytes())

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid


def phases_ms(jdf) -> dict[str, float]:
    """Catalyst analysis / optimization / planning time of a DataFrame whose
    executed plan has been forced."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident memory of the JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024
