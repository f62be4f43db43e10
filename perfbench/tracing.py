"""Spans and counters recorded from outside the engine.

A traced run wraps each call into a layer's public function in a span
(name, start, end, parent, call id) and reads counters at the same
boundaries:

- JVM GC and JIT time and heap use, from the ``java.lang.management``
  MXBeans, as deltas across each call;
- Catalyst analysis/optimization/planning time, from the executed
  DataFrame's ``queryExecution().tracker().phases()``;
- Spark job/stage/task counts, bytes and executor time, from the status
  store. Each call runs under its own job group; the group's stages are
  read once, after the timed part, and summed per call.

Spans live in memory and are written once at the end. With tracing off
every span and counter method here is a no-op.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

# Span layers, in the order the self-time table lists them.
LAYERS = ["bench", "alchemy", "parser", "executor", "spark", "operators",
          "operators.cache", "streaming"]


class Span:
    __slots__ = ("layer", "name", "start", "end", "parent", "call_id",
                 "child_s")

    def __init__(self, layer, name, start, parent, call_id):
        self.layer, self.name, self.start = layer, name, start
        self.parent, self.call_id = parent, call_id
        self.end = start
        self.child_s = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.seconds - self.child_s


class JvmCounters:
    """GC/JIT/heap readings through py4j; a handful of round trips each."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()
        self._mem = mf.getMemoryMXBean()
        self._heap_pools = [p for p in mf.getMemoryPoolMXBeans()
                            if p.getType().name() == "HEAP"]

    def gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc)

    def jit_ms(self) -> int:
        return self._jit.getTotalCompilationTime()

    def heap_used_mb(self) -> float:
        return self._mem.getHeapMemoryUsage().getUsed() / 2**20

    def heap_retained_mb(self) -> float:
        """Heap in use after full collections: the live set. Collected
        three times, since Spark's cleaner frees more once a collection
        has enqueued the dead broadcasts, shuffles and RDDs."""
        for _ in range(3):
            self._mem.gc()
            time.sleep(0.2)
        return self.heap_used_mb()

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_pool_peaks_mb(self) -> dict:
        """Each heap pool's peak since the last reset."""
        return {p.getName(): p.getPeakUsage().getUsed() / 2**20
                for p in self._heap_pools}


def process_tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and all its descendants,
    counting the exited children each one has reaped, plus this process.
    Host CPU stolen from a virtual machine is not charged to a process,
    so unlike wall time this does not move with neighbours' load."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while scanning
        f = stat[stat.rindex(")") + 2:].split()
        # ppid; utime + stime + cutime + cstime (fields 4, 14-17)
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            ticks += procs[pid][1]
            todo.extend(children[pid])
    t = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def catalyst_ms(df) -> dict:
    """Catalyst phase durations of the DataFrame's last execution. The
    phase map is a Scala Map whose ``get`` returns an Option."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:  # noqa: BLE001 — a result without a JVM plan
        return out
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        if opt.isDefined():
            s = opt.get()
            out[k] = s.endTimeMs() - s.startTimeMs()
    return out


def plan_leaves(df) -> int:
    return df._jdf.queryExecution().analyzed().collectLeaves().size()


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.jvm = JvmCounters(spark)
        self.spans: list[Span] = []
        self.calls: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self._stack: list[Span] = []
        self._call_id = None
        self._t0 = time.perf_counter()

    # ------------------------------------------------------------- spans

    @contextlib.contextmanager
    def call(self, call_id: int, kind: str):
        """Top-level span of one timed call: sets the call's job group and
        takes the JVM counter deltas across it."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb-{call_id}", kind)
        self._call_id = call_id
        gc0, jit0 = self.jvm.gc_ms(), self.jvm.jit_ms()
        try:
            with self.span("bench", kind):
                yield
        finally:
            c = self.calls[call_id]
            c["gc_ms"] += self.jvm.gc_ms() - gc0
            c["jit_ms"] += self.jvm.jit_ms() - jit0
            c["heap_used_mb"] = self.jvm.heap_used_mb()
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._call_id = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, name, time.perf_counter(), parent, self._call_id)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.seconds
            if s.call_id is not None:
                self.calls[s.call_id][f"t.{layer}"] += s.seconds
            self.spans.append(s)

    def count(self, key: str, value: float) -> None:
        """Add to a per-call counter of the current call."""
        if self.enabled and self._call_id is not None:
            self.calls[self._call_id][key] += value

    def note(self, call_id: int, key: str, value: float) -> None:
        """Add to a per-call counter outside the call's span."""
        if self.enabled:
            self.calls[call_id][key] += value

    def wrap(self, layer: str, name: str, fn):
        """``fn`` run inside a span; used to wrap methods of objects the
        engine hands back (a DBAPI connection's executor, a result's
        ``collect``) without touching the engine's code."""
        if not self.enabled:
            return fn

        def traced(*a, **kw):
            with self.span(layer, name):
                return fn(*a, **kw)
        return traced

    # --------------------------------------------------- after the run

    def stage_counters(self) -> None:
        """Sum the status store's stage metrics into each call, by the
        job group the call's jobs ran under."""
        if not self.enabled:
            return
        store = self.spark.sparkContext._jsc.sc().statusStore()
        stage_call = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith("pb-"):
                continue
            call_id = int(group.get()[3:])
            self.calls[call_id]["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_call[int(ids.apply(k))] = call_id
        gw = self.spark.sparkContext._gateway
        stages = store.stageList(None, False, False,
                                 gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            st = stages.apply(i)
            call_id = stage_call.get(st.stageId())
            if call_id is None or st.status().toString() == "SKIPPED":
                continue
            c = self.calls[call_id]
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["input_bytes"] += st.inputBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.diskBytesSpilled()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9

    def self_seconds(self) -> dict:
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.self_s
        return out

    def dump(self, path: str) -> None:
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as fh:
            json.dump({
                "spans": [{"layer": s.layer, "name": s.name,
                           "start": round(s.start - self._t0, 6),
                           "end": round(s.end - self._t0, 6),
                           "parent": index.get(id(s.parent)),
                           "call_id": s.call_id} for s in self.spans],
                "calls": {str(k): dict(v) for k, v in self.calls.items()},
            }, fh)
