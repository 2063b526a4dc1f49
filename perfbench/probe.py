"""Measurement from outside the engine.

Everything here observes ``energydatalake_spark`` without editing it:

- ``Tracer``: in-memory spans (name, start, end, parent) around calls
  into the engine's modules, each span optionally owning a Spark job
  group so the jobs it causes are attributed to it;
- ``stage_totals``: per-job-group execution statistics read from
  Spark's status store (jobs, stages, tasks, executor time, shuffle,
  spill, scan input);
- ``CatalystListener`` / ``StreamListener``: a ``QueryExecutionListener``
  and a ``StreamingQueryListener`` that collect Catalyst phase times and
  micro-batch counts;
- ``wrap``: replaces a function at one import site with a timed one.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import SparkSession
from pyspark.sql.streaming.listener import StreamingQueryListener

#: StageData accessor -> summed field name
_STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_rows",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}


def drain_events(spark: SparkSession) -> None:
    """Block until the listener bus has delivered every queued event, so
    the status store and the listeners below are up to date."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_totals(spark: SparkSession, groups: list[str]) -> dict[str, float]:
    """Sum the status store's statistics over every job of ``groups``.
    Call ``drain_events`` first."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    empty_list = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = {"jobs": 0, "stages": 0, **{v: 0 for v in _STAGE_FIELDS.values()}}
    stage_ids: set[int] = set()
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            stage_ids.update(int(s) for s in info.stageIds)
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, empty_list, False, no_quantiles)
        counted = False
        for i in range(attempts.length()):
            sd = attempts.apply(i)
            if sd.status().toString() == "SKIPPED":
                continue
            counted = True
            for attr, name in _STAGE_FIELDS.items():
                out[name] += getattr(sd, attr)()
        out["stages"] += counted
    return out


def storage_bytes(spark: SparkSession) -> int:
    """Bytes held by cached/persisted RDD blocks (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def jvm_pid(spark: SparkSession) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (``VmHWM``) of ``pids``, MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory. Disabled, ``span`` costs one branch and
    sets no job group, so untraced runs measure the engine alone."""

    def __init__(self, spark: SparkSession, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, own_group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None, name,
                  time.perf_counter(), attrs=attrs)
        if own_group:
            sp.group = f"perfbench-{sp.id}"
            sc.setJobGroup(sp.group, name)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if own_group:
                outer = next((s.group for s in reversed(self._stack) if s.group), None)
                if outer:
                    sc.setJobGroup(outer, "")
                else:
                    sc._jsc.clearJobGroup()

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def subtree(self, sp: Span) -> list[Span]:
        out = [sp]
        for c in self.children(sp):
            out.extend(self.subtree(c))
        return out

    def self_time(self, sp: Span) -> float:
        """Duration minus the time covered by child spans (children of
        one span run one after another, so their durations add)."""
        return sp.dur - sum(c.dur for c in self.children(sp))

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "name": s.name,
             "start": round(s.start, 6), "end": round(s.end, 6),
             "self_s": round(self.self_time(s), 6), "group": s.group, **s.attrs}
            for s in self.spans
        ]


def wrap(module, attr: str, tracer: Tracer, layer: str, own_group: bool = False):
    """Replace ``module.attr`` with a version that runs inside a
    ``layer`` span; returns a function that restores the original."""
    orig = getattr(module, attr)

    def timed(*args, **kwargs):
        with tracer.span(layer, own_group=own_group, call=attr):
            return orig(*args, **kwargs)

    setattr(module, attr, timed)
    return lambda: setattr(module, attr, orig)


# --------------------------------------------------------------------------
# listeners
# --------------------------------------------------------------------------

PHASES = ("analysis", "optimization", "planning")


class CatalystListener:
    """``QueryExecutionListener`` implemented in Python through the py4j
    callback server: records each finished action's Catalyst phase
    times (ms)."""

    def __init__(self):
        self.records: list[dict[str, int]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        phases = qe.tracker().phases()
        rec = {}
        for p in PHASES:
            opt = phases.get(p)
            rec[p] = int(opt.get().durationMs()) if opt.isDefined() else 0
        self.records.append(rec)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.records.append({p: 0 for p in PHASES})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class StreamListener(StreamingQueryListener):
    """Records each micro-batch's duration (ms)."""

    def __init__(self):
        self.batch_ms: list[int] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self.batch_ms.append(int(event.progress.batchDuration))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def attach_listeners(spark: SparkSession) -> tuple[CatalystListener, StreamListener]:
    """Register a Catalyst and a streaming listener; returns both."""
    ensure_callback_server_started(spark.sparkContext._gateway)
    catalyst = CatalystListener()
    spark._jsparkSession.listenerManager().register(catalyst)
    stream = StreamListener()
    spark.streams.addListener(stream)
    return catalyst, stream
