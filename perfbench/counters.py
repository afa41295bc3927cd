"""Counters for the benchmark: layer spans, Spark status-store stage
deltas, JVM GC time and a process-tree RSS sampler.

Spans are recorded from the benchmark's own files, around calls into
the program's public functions.  They live in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager

_MB = 1024.0 * 1024.0


class StageCounters:
    """Per-stage shuffle, spill, executor CPU time and input bytes from
    the Spark status store (works with the UI disabled), plus the job
    count.  Each ``collect()`` returns the sums over the stages and jobs
    completed since the previous call."""

    FIELDS = ("stages", "shuffle_mb", "spill_mb", "cpu_s", "input_mb", "jobs")

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._last_stage = -1
        self._jobs = self._store.jobsList(None).size()
        self.collect()

    def collect(self) -> dict:
        jvm = self._sc._jvm
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())
        out = dict.fromkeys(self.FIELDS, 0.0)
        newest = self._last_stage
        it = stages.iterator()
        while it.hasNext():  # newest stage first
            st = it.next()
            sid = st.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if str(st.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["shuffle_mb"] += (st.shuffleReadBytes()
                                  + st.shuffleWriteBytes()) / _MB
            out["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / _MB
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["input_mb"] += st.inputBytes() / _MB
        self._last_stage = newest
        jobs = self._store.jobsList(None).size()
        out["jobs"], self._jobs = jobs - self._jobs, jobs
        return out


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector, in seconds
    (local mode: driver and executors share the JVM)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


class Tracer:
    """Layer spans: name, start, end, parent, run id, plus per-span
    Spark stage deltas.  ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self._counters = StageCounters(spark) if (enabled and spark) else None

    def _charge_open_spans(self) -> None:
        """Add the stages completed since the last call to every open
        span (a parent's counts include its children's)."""
        if not self._counters:
            return
        t = time.perf_counter()
        new = self._counters.collect()
        for i in self._stack:
            acc = self.spans[i]["spark"]
            for k, v in new.items():
                acc[k] += v
        self.overhead_s += time.perf_counter() - t

    def count(self, df) -> int:
        """``df.count()`` done only to report a count: its time is
        tracing overhead and its stages are left out of the stage
        deltas, so neither is charged to the enclosing layer."""
        self._charge_open_spans()
        t = time.perf_counter()
        n = df.count()
        if self._counters:
            self._counters.collect()
        dt = time.perf_counter() - t
        self.overhead_s += dt
        if self._stack:
            self.spans[self._stack[-1]]["overhead"] += dt
        return n

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        self._charge_open_spans()
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "run": self.run_id,
               "attrs": attrs, "overhead": 0.0,
               "spark": dict.fromkeys(StageCounters.FIELDS, 0.0)}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            self._charge_open_spans()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its child spans cover and the
        tracer's own counting inside it."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {i: s["end"] - s["start"] - child[i] - s["overhead"]
                for i, s in enumerate(self.spans)}

    def layer_totals(self) -> dict[str, dict]:
        """Per span name: summed self time, call count, stage deltas and
        the span attributes (counts reported by the benchmark)."""
        out: dict[str, dict] = {}
        st = self.self_times()
        for i, s in enumerate(self.spans):
            t = out.setdefault(s["name"], {"s": 0.0, "calls": 0, "attrs": {},
                                           "spark": {}})
            t["s"] += st[i]
            t["calls"] += 1
            for k, v in s["attrs"].items():
                if isinstance(v, (int, float)):
                    t["attrs"][k] = t["attrs"].get(k, 0) + v
            for k, v in s["spark"].items():
                t["spark"][k] = t["spark"].get(k, 0) + v
        return out

    def p50_ms(self, name: str) -> float:
        """Median duration of the spans called ``name``, in ms."""
        xs = sorted(s["end"] - s["start"] for s in self.spans
                    if s["name"] == name)
        return 1e3 * xs[(len(xs) - 1) // 2] if xs else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True, default=str) + "\n")


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory of this process and all its
    descendants (JVM, Python workers) every 0.2 s and keeps the peak."""

    INTERVAL = 0.2

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kb = sum(_rss_kb(p) for p in _tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)
        return kb

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
