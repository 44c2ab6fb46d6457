"""Per-layer measurement from outside the package.

- ``Tracer`` records spans ``{name, start, end, parent, request_id}`` around
  the benchmark's calls into each layer, keeps them in memory with the
  counters attached to each span, and writes them out once at the end. A
  disabled tracer records nothing and costs one attribute test per call.
- ``Engine`` reads Spark's own status store (``AppStatusStore``) for stage
  and task counts, shuffle and spill bytes and executor time, attributing
  stages to a call by stage id above the last id seen; it also reads JVM GC
  time and the JVM's peak RSS.
- ``plan_counts`` counts Exchange, Window, Python and broadcast nodes in the
  final (post-AQE) physical plan of a DataFrame that has run.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

ENGINE_KEYS = (
    "jobs", "stages", "tasks", "scan_tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s",
    "failed_tasks",
)
PLAN_KEYS = ("exchanges", "windows", "python_nodes", "broadcasts")


class Span:
    __slots__ = ("name", "start", "end", "parent", "request_id", "counters", "child_s")

    def __init__(self, name, start, parent, request_id):
        self.name, self.start, self.end = name, start, start
        self.parent, self.request_id = parent, request_id
        self.counters: dict[str, float] = {}
        self.child_s = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self, index: int) -> dict:
        return {"id": index, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent,
                "request_id": self.request_id, "counters": self.counters}


class Tracer:
    """Span recorder; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request_id: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request_id is None and parent is not None:
            request_id = self.spans[parent].request_id
        sp = Span(name, time.perf_counter(), parent, request_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.seconds

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps(sp.as_dict(i)) + "\n")


def self_seconds_by_layer(spans: list[Span]) -> dict[str, float]:
    """Self time (duration minus child spans) summed per layer, where a
    layer is the span name up to its first dot."""
    out: dict[str, float] = {}
    for sp in spans:
        layer = sp.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + sp.seconds - sp.child_s
    return out


class RetentionError(RuntimeError):
    """Stages a call ran have already been evicted from the status store."""


class Engine:
    """Status-store deltas per call: stages with an id above the last one
    seen belong to the call that just ended."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self.cores = sc.defaultParallelism
        self.retained = int(sc.getConf().get("spark.ui.retainedStages", "1000"))
        self._no_quantiles = sc._gateway.new_array(self.jvm.double, 0)
        self._empty = self.jvm.java.util.ArrayList()
        self.last_stage = self._max_stage_id()
        self.last_job = self._max_job_id()
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        """Stored stages, newest first. Spark 4.1 has only the 5-argument
        ``stageList(statuses, details, withSummaries, unsortedQuantiles,
        taskStatus)``; the store returns stages in descending id order."""
        seq = self._store.stageList(self._empty, False, False,
                                    self._no_quantiles, self._empty)
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def _max_stage_id(self) -> int:
        self._drain()
        stages = self._stages()
        return stages.get(0).stageId() if stages.size() else -1

    def _max_job_id(self) -> int:
        # jobsList, like stageList, returns newest first
        jobs = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            self._store.jobsList(self._empty))
        return jobs.get(0).jobId() if jobs.size() else -1

    def delta(self) -> dict[str, float]:
        """Counters for every stage and job since the previous call."""
        self._drain()
        stages = self._stages()
        n = stages.size()
        new = []
        for i in range(n):
            s = stages.get(i)
            if s.stageId() <= self.last_stage:
                break
            new.append(s)
        # Every stage id belongs to a job and skipped stages are stored
        # too, so the ids are contiguous: a gap below the new ones means
        # the store evicted stages of this call.
        oldest = stages.get(n - 1).stageId() if n else 0
        if new and oldest > self.last_stage + 1:
            raise RetentionError(
                f"stages {self.last_stage + 1}..{oldest - 1} were evicted "
                f"(spark.ui.retainedStages={self.retained})")
        out = dict.fromkeys(ENGINE_KEYS, 0.0)
        for s in new:
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            tasks = s.numTasks()
            out["stages"] += 1
            out["tasks"] += tasks
            if s.inputBytes() > 0 or s.inputRecords() > 0:
                out["scan_tasks"] += tasks
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["failed_tasks"] += s.numFailedTasks()
        if new:
            self.last_stage = new[0].stageId()
        last_job = self._max_job_id()
        out["jobs"] = float(last_job - self.last_job)
        self.last_job = last_job
        return out

    def gc_seconds(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow|ArrowEval")


def plan_counts(df) -> dict[str, float]:
    """Node counts of the final physical plan of ``df`` (after it ran)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.split("== Initial Plan ==", 1)[0]
    out = dict.fromkeys(PLAN_KEYS, 0.0)
    for line in text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node == "Exchange":
            out["exchanges"] += 1
        elif node == "BroadcastExchange":
            out["broadcasts"] += 1
        elif node == "Window":
            out["windows"] += 1
        elif _PYTHON_NODE.search(node):
            out["python_nodes"] += 1
    return out
