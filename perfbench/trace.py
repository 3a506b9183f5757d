"""Spans, Spark stage attribution and process counters for the benchmark.

A :class:`Tracer` records spans (name, start, end, parent) in memory. In
a traced run each span also sets a Spark job group whose description is
the span's id, so every stage the span submits carries that id and its
task metrics can be read back from the application status store at the
end of the run. Stages submitted from threads the span did not create
(``compact_day_store`` runs its rewrites on a thread pool, and pool
threads do not inherit the job group) are attributed by submission time
to the innermost span that was open then.

With tracing off a span only measures wall time: no job group, no
status-store reads, no listener.

The process counters read ``/proc`` for the JVM and the Python workers,
which are all descendants of the benchmark's own process in local mode.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc

def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list:
    """Every live process below this one."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the JVM and the Python workers,
    reaped children included (a worker that exited is counted in its
    parent's cutime/cstime)."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


def python_worker_hwm_mb() -> float:
    """Highest VmHWM (peak resident set) of any Python process below
    this one: the pyspark daemon and the workers it forks."""
    peak = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"python" not in fh.read():
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


# ---------------------------------------------------------------- spans

class Tracer:
    """In-memory span recorder; see the module docstring."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.tag = ""           # which op / phase the next spans belong to
        self.spans: list = []
        self._open: list = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        """Record the block as a span and tag its Spark jobs with the
        span id; a no-op while tracing is off."""
        if not self.enabled:
            yield
            return
        self._n += 1
        sid = f"{name}#{self._n}"
        rec = {"id": sid, "name": name, "tag": self.tag,
               "parent": self._open[-1]["id"] if self._open else None}
        sc = self.spark.sparkContext
        sc.setJobGroup(sid, sid)
        self._open.append(rec)
        rec["wall_start_ms"] = time.time() * 1000.0
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end_ms"] = time.time() * 1000.0
            self._open.pop()
            if self._open:
                sc.setJobGroup(self._open[-1]["id"], self._open[-1]["id"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    # ------------------------------------------------ stage attribution

    def _flush_listener_bus(self) -> None:
        bus = self.spark.sparkContext._jsc.sc().listenerBus()
        bus.waitUntilEmpty(10_000)

    def _stages(self) -> list:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        empty = jvm.java.util.ArrayList()
        seq = sc._jsc.sc().statusStore().stageList(
            empty, False, False, sc._gateway.new_array(jvm.double, 0),
            empty)
        return [seq.apply(i) for i in range(seq.size())]

    def _span_of_stage(self, stage, ids) -> str | None:
        desc = stage.description()
        if desc.isDefined() and desc.get() in ids:
            return desc.get()
        # no span's job group: a pool thread's job, or a streaming
        # query's, which sets its own group
        sub = stage.submissionTime()
        if not sub.isDefined():
            return None
        t = sub.get().getTime()
        best = None
        for s in self.spans:
            if s["wall_start_ms"] <= t <= s["wall_end_ms"]:
                if best is None or s["wall_start_ms"] >= best["wall_start_ms"]:
                    best = s
        return best["id"] if best else None

    def _subtree(self) -> dict:
        """span id -> set of span ids at or below it."""
        below = {s["id"]: {s["id"]} for s in self.spans}
        parent = {s["id"]: s["parent"] for s in self.spans}
        for sid in list(below):
            p = parent[sid]
            while p is not None and p in below:
                below[p].add(sid)
                p = parent[p]
        return below

    def stage_metrics(self) -> dict:
        """span id -> summed task metrics of every stage it (or a span
        below it) submitted, plus the per-stage list for skew reads."""
        self._flush_listener_bus()
        per_span: dict = {}
        ids = {s["id"] for s in self.spans}
        for st in self._stages():
            sid = self._span_of_stage(st, ids)
            if sid is None:
                continue
            per_span.setdefault(sid, []).append(st)
        out = {}
        for sid, below in self._subtree().items():
            stages = [st for i in below for st in per_span.get(i, ())]
            out[sid] = {
                "executor_run_s": sum(st.executorRunTime()
                                      for st in stages) / 1e3,
                "executor_cpu_s": sum(st.executorCpuTime()
                                      for st in stages) / 1e9,
                "fetch_wait_s": sum(st.shuffleFetchWaitTime()
                                    for st in stages) / 1e3,
                "gc_s": sum(st.jvmGcTime() for st in stages) / 1e3,
                "failed_tasks": sum(st.numFailedTasks() for st in stages),
                "shuffle_write_bytes": sum(st.shuffleWriteBytes()
                                           for st in stages),
                "spill_bytes": sum(st.memoryBytesSpilled()
                                   + st.diskBytesSpilled()
                                   for st in stages),
                "stages": stages,
            }
        return out

    def task_skew(self, stages) -> float:
        """max / median task run time of the stage that ran longest in
        total — the keyed Python stage of a grouped-map span."""
        if not stages:
            return 0.0
        st = max(stages, key=lambda s: s.executorRunTime())
        tl = self.spark.sparkContext._jsc.sc().statusStore().taskList(
            st.stageId(), st.attemptId(), 100_000)
        runs = []
        for i in range(tl.size()):
            m = tl.apply(i).taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med else 0.0

    def python_bytes(self) -> dict:
        """span id -> bytes sent to / returned from Python workers, from
        the SQL status store's per-operator metrics."""
        self._flush_listener_bus()
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        group_of = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobGroup().isDefined():
                group_of[j.jobId()] = j.jobGroup().get()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        out: dict = {}
        for i in range(execs.size()):
            e = execs.apply(i)
            job_ids = e.jobs().keySet().iterator()
            sid = None
            while job_ids.hasNext() and sid is None:
                sid = group_of.get(job_ids.next())
            if sid is None:
                continue
            eid = e.executionId()
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            acc = out.setdefault(sid, {"sent": 0.0, "received": 0.0})
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                for m in range(metrics.size()):
                    met = metrics.apply(m)
                    key = {"data sent to Python workers": "sent",
                           "data returned from Python workers":
                               "received"}.get(met.name())
                    if key is None:
                        continue
                    v = values.get(met.accumulatorId())
                    if v.isDefined():
                        acc[key] += parse_size(v.get())
        return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Bytes from a formatted SQL size metric: ``'1.2 MiB'`` or the
    multi-task form ``'total (min, med, max ...)\\n1.2 MiB (...)'``."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def stream_listener(spark):
    """Register and return a StreamingQueryListener whose ``progress``
    list keeps every progress event's trigger time, state rows and
    state commit time, and which counts terminated queries."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list = []
            self.terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            self.progress.append({
                "id": str(p.id),
                "input_rows": p.numInputRows,
                "trigger_ms": (p.durationMs or {}).get("triggerExecution",
                                                       0),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "commit_ms": sum(o.commitTimeMs for o in ops),
                "has_state": bool(ops)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
