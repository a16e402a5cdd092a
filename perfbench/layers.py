"""Tracing for the benchmark: spans, Spark status-store counters and a
process-tree RSS sampler.

Spans are recorded around the benchmark's own calls into the engine
(build, plan, execute, streaming runs) and kept in memory. Spark's
status store is read after a pass, outside the timed region, and
every job is attributed to the innermost span whose interval holds the
job's submission time.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    group: str | None  # spans of one query or streaming job share it
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call a
    no-op, so traced and untraced passes run the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.self_time = 0.0  # time spent inside the tracer itself

    def open(self, name: str, group: str | None = None, **attrs) -> Span | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, len(self.spans), parent.sid if parent else None,
                  group or (parent.group if parent else None), time.time(),
                  attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self.self_time += time.perf_counter() - t
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.time()
        self._stack.pop()

    def dump(self, path: str) -> None:
        """Write every span as one JSON list."""
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)

    def add(self, name: str, start: float, end: float, parent: Span | None,
            **attrs) -> Span | None:
        """Record a finished span (e.g. a streaming trigger reported by
        a progress event)."""
        if not self.enabled:
            return None
        sp = Span(name, len(self.spans), parent.sid if parent else None,
                  parent.group if parent else None, start, end, attrs)
        self.spans.append(sp)
        return sp

    def leaf_at(self, t: float, within: Span) -> Span:
        """Innermost descendant of ``within`` whose interval holds t."""
        best = within
        for s in self.spans:
            if s.sid > within.sid and s.start <= t <= s.end and \
                    self.descends(s, within) and s.sid > best.sid:
                best = s
        return best

    def descends(self, s: Span, anc: Span) -> bool:
        while s.parent is not None:
            if s.parent == anc.sid:
                return True
            s = self.spans[s.parent]
        return False


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ status store

class StatusStore:
    """Reads jobs, stages and SQL executions that ended since the last
    read, as JSON from Spark's in-process status store."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._om = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self._om.registerModule(getattr(scala_module, "MODULE$"))
        self._list = jvm.java.util.ArrayList
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            jvm.double, 0)
        self._seen_job = self._seen_exec = -1
        self.read()  # everything before now is history

    def read(self) -> tuple[list, dict, list]:
        """(new jobs, stages by id, new SQL executions)."""
        self._sc.listenerBus().waitUntilEmpty(30_000)
        store = self._sc.statusStore()
        jobs = [j for j in json.loads(self._om.writeValueAsString(
                    store.jobsList(self._list())))
                if j["jobId"] > self._seen_job]
        stages = {}
        if jobs:
            want = {sid for j in jobs for sid in j["stageIds"]}
            for st in json.loads(self._om.writeValueAsString(
                    store.stageList(self._list(), False, False,
                                    self._no_quantiles, self._list()))):
                if st["stageId"] in want and st["status"] in (
                        "COMPLETE", "FAILED"):
                    stages[st["stageId"]] = st
        sql = self._spark._jsparkSession.sharedState().statusStore()
        execs = [e for e in json.loads(self._om.writeValueAsString(
                     sql.executionsList()))
                 if e["executionId"] > self._seen_exec]
        if jobs:
            self._seen_job = max(j["jobId"] for j in jobs)
        if execs:
            self._seen_exec = max(e["executionId"] for e in execs)
        return jobs, stages, execs


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^\s*(?:total[^\n]*\n)?\s*([\d,.]+)\s*([A-Za-z]*)")


def sql_metric_totals(execs: list) -> dict[str, float]:
    """Sum of each SQL metric's total over ``execs``, by metric name
    (sizes in bytes, timings in seconds)."""
    out: dict[str, float] = {}
    for e in execs:
        values = e.get("metricValues") or {}
        for m in e.get("metrics", []):
            raw = values.get(str(m["accumulatorId"]))
            if raw is None:
                continue
            hit = _TOTAL.match(raw)
            if not hit:
                continue
            num = float(hit.group(1).replace(",", ""))
            out[m["name"]] = out.get(m["name"], 0.0) + \
                num * _UNITS.get(hit.group(2), 1.0)
    return out


# ------------------------------------------------------------------- RSS

def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, starttime) of pid, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            tail = fh.read().rsplit(")", 1)[1].split()
        return int(tail[1]), int(tail[19])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> dict[int, int]:
    """pid -> starttime for every live descendant of root."""
    kids: dict[int, list[int]] = {}
    starts: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(st[0], []).append(int(name))
                starts[int(name)] = st[1]
    out, todo = {}, [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out[c] = starts[c]
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process's descendants (the Spark
    driver JVM and its Python workers) every ``interval`` seconds while
    ``active`` is set, and remembers every descendant it saw."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.seen: dict[int, int] = {}
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            procs = descendants(me)
            self.seen.update(procs)
            if self.active.is_set():
                self.peak = max(self.peak, sum(map(_rss_bytes, procs)))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.seen.update(descendants(os.getpid()))
