"""Per-pass engine counters read from Spark's status stores.

Both stores are populated by the listener bus and work with
`spark.ui.enabled=false`:
  * the core store (`SparkContext.statusStore`): jobs, stages, tasks;
  * the SQL store (`sharedState().statusStore()`): per-node plan metrics
    (whole-stage-codegen time, Python worker time);
  * `getRDDStorageInfo`: cached or checkpointed block bytes still held.
"""

from __future__ import annotations

import re
import statistics
import time

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}
_VALUE = re.compile(r"^([\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A rendered SQL metric: '740 ms', '4.0 KiB', '8,000', or the
    multi-task form 'total (min, med, max ...)\\n346 ms (79 ms, ...)'."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _it(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusCollector:
    """Call `begin()` before a pass and `end()` after it; `end` returns the
    pass's counter deltas."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._gw = sc._gateway
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = sc.defaultParallelism
        self._t0 = 0.0
        self._marks = (-1, -1, -1)

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def _stages(self):
        return _it(self._store.stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None))

    def begin(self) -> None:
        self._drain()
        stage = max((s.stageId() for s in self._stages()), default=-1)
        job = max((j.jobId() for j in _it(self._store.jobsList(None))), default=-1)
        execution = max((e.executionId() for e in _it(self._sql.executionsList())), default=-1)
        self._marks = (stage, job, execution)
        self._t0 = time.perf_counter()

    def end(self) -> dict[str, float]:
        wall = time.perf_counter() - self._t0
        self._drain()
        stage0, job0, exec0 = self._marks
        out = dict.fromkeys((
            "task_busy_s", "task_cpu_s", "gc_s", "stages", "tasks",
            "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records",
            "spill_bytes", "max_task_s", "wscg_s", "python_eval_s"), 0.0)
        longest = None
        for s in self._stages():
            if s.stageId() <= stage0 or s.status().toString() != "COMPLETE":
                continue
            busy = s.executorRunTime() / 1e3
            out["task_busy_s"] += busy
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_records"] += s.shuffleWriteRecords()
            out["spill_bytes"] += s.diskBytesSpilled()
            if longest is None or busy > longest[0]:
                longest = (busy, s.stageId(), s.attemptId())
        out["jobs"] = float(sum(1 for j in _it(self._store.jobsList(None)) if j.jobId() > job0))
        out["task_skew"] = 1.0
        if longest is not None:
            durations = []
            for t in _it(self._store.taskList(longest[1], longest[2], 100_000)):
                d = t.duration()
                if d.isDefined():
                    durations.append(d.get() / 1e3)
            if durations:
                out["max_task_s"] = max(durations)
                med = statistics.median(durations)
                out["task_skew"] = max(durations) / med if med > 0 else 1.0
        for e in _it(self._sql.executionsList()):
            if e.executionId() <= exec0:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for node in _it(self._sql.planGraph(e.executionId()).allNodes()):
                for m in _it(node.metrics()):
                    if node.name().startswith("WholeStageCodegen") and m.name() == "duration":
                        key = "wscg_s"
                    elif m.name() == "time to run Python workers":
                        key = "python_eval_s"
                    else:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        out["core_util"] = out["task_busy_s"] / (self.cores * wall) if wall > 0 else 0.0
        out["block_bytes"] = float(sum(
            r.memSize() + r.diskSize() for r in self._sc.getRDDStorageInfo()))
        return {f"spark.{k}": float(v) for k, v in out.items()}


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM, in MiB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
