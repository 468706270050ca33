"""Measurement helpers: percentile rule, canonical result hash, spans
with self time, Spark counters per job group, and a peak-RSS sampler.

Nothing here changes what the engine does. Spans are recorded around
the benchmark's own calls into the engine's public functions; counters
are read from Spark's status store after each call.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import hashlib
import math
import os
import threading
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd


# --- statistics -------------------------------------------------------

TAIL_MIN_SAMPLES = 20


def tail_percentile(samples: list[float]) -> tuple[int, float]:
    """(p, value): the highest integer percentile, p50 or above, that
    still has at least ten samples above it, by the nearest-rank rule.
    With 100 samples that is p90; with 50, p80; with 20, p50. Fewer
    than TAIL_MIN_SAMPLES have no such percentile and raise ValueError."""
    n = len(samples)
    xs = sorted(samples)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= 10:
            return p, xs[rank - 1]
    raise ValueError(f"no percentile >= p50 has ten samples above it (n={n})")


# --- canonical result hash ------------------------------------------------
# The canonical-row rule of scripts/driver_sim.py, copied rather than
# imported because importing that script parses argv and edits sys.path;
# perfbench/tests checks that the two agree.

def canon_cell(v):
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if v is pd.NaT:
        return None
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_cell(x) for x in v)
    return v


def canon(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Sorted column names and rows sorted by repr: equal for two
    results that hold the same rows in any order."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(canon_cell(c) for c in row)
        for row in pdf[cols].itertuples(index=False)
    ]
    rows.sort(key=repr)
    return cols, rows


def result_pin(pdf: pd.DataFrame) -> dict:
    """{"rows": n, "hash": h}: row count and order-insensitive hash."""
    cols, rows = canon(pdf)
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]
    return {"rows": len(rows), "hash": h}


# --- spans ---------------------------------------------------------------

@dataclass
class Span:
    sid: int
    name: str
    layer: str
    request: int
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder. ``span()`` nests: a span opened while
    another is open records it as its parent. Spans of one request
    share its request id."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, request: int):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, layer, request, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def uncovered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] not covered by any of ``intervals``."""
    clipped = [(max(lo, a), min(hi, b)) for a, b in intervals if b > lo and a < hi]
    return (hi - lo) - _union_length(clipped)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: uncovered(s.start, s.end, kids.get(s.sid, [])) for s in spans}


# --- Spark counters ----------------------------------------------------------

class SparkCounters:
    """Job-group counters read from the live SparkContext.

    Job ids come from ``statusTracker()``; job and stage metrics come
    from the JVM AppStatusStore. ``stageData`` is called with its full
    signature, since the one-argument overloads are not reachable
    through py4j on Spark 4.1."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the store holds the finished jobs of the call just made."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _stages(self, job_ids: list[int]):
        """stage id -> its attempts' StageData, over the given jobs."""
        ids: set[int] = set()
        for j in job_ids:
            seq = self._store.job(j).stageIds()
            ids.update(seq.apply(i) for i in range(seq.size()))
        out = {}
        for sid in sorted(ids):
            seq = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            out[sid] = [seq.apply(i) for i in range(seq.size())]
        return out

    def stale_stages(self, group: str) -> list[int]:
        """Skipped stages of the group's jobs whose RDDs no stage of the
        group computed: their shuffle output came from an earlier
        request. (Under AQE a query's final job skips the map stages its
        own earlier jobs ran; those share RDD ids and are not stale.)"""
        self.drain()
        ran: set[int] = set()
        skipped: dict[int, set[int]] = {}
        for sid, attempts in self._stages(self.job_ids(group)).items():
            seq = attempts[0].rddIds()
            rdds = {seq.apply(i) for i in range(seq.size())}
            if all(a.status().toString() == "SKIPPED" for a in attempts):
                skipped[sid] = rdds
            else:
                ran |= rdds
        return sorted(sid for sid, rdds in skipped.items() if not rdds & ran)

    def group(self, group: str) -> dict:
        """jobs, tasks, cpu_s, shuffle_bytes, spill_bytes and the jobs'
        wall-clock intervals (epoch seconds) for one job group."""
        self.drain()
        jobs = self.job_ids(group)
        out = {"jobs": len(jobs), "tasks": 0, "cpu_s": 0.0, "shuffle_bytes": 0,
               "spill_bytes": 0, "intervals": []}
        for j in jobs:
            jd = self._store.job(j)
            out["tasks"] += jd.numCompletedTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
        for attempts in self._stages(jobs).values():
            for st in attempts:
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's query
    execution, from ``queryExecution().tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    return float(sum(
        phases.apply(p).durationMs()
        for p in ("analysis", "optimization", "planning")
        if phases.contains(p)
    ))


# --- host -----------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from
    /proc/stat: the share of time the hypervisor ran other guests on
    this machine's CPUs is their difference over an interval."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


# --- memory --------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and its descendants, split into the
    Python process ``root``, the JVM it launched, and the JVM's Python
    workers. Other descendants are skipped: they are launcher scripts and
    helpers the JVM spawns, and a helper caught between its spawn and its
    exec shows the JVM's own pages as resident."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    out = {"python": 0, "jvm": 0, "workers": 0}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if pid == root:
            out["python"] += rss
        elif comm == "java":
            out["jvm"] += rss
        elif comm.startswith("python"):
            out["workers"] += rss
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    plus those of descendants they have already reaped."""
    kids = _children()
    tck = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / tck


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds while
    ``active`` is set; ``peak`` is the highest total seen and
    ``parts`` the highest of each part."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak = 0
        self.parts = {"python": 0, "jvm": 0, "workers": 0}
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        now = tree_rss(os.getpid())
        self.peak = max(self.peak, sum(now.values()))
        for k, v in now.items():
            self.parts[k] = max(self.parts[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            if self.active.is_set():
                self.sample()

    def close(self) -> None:
        self.sample()
        self._stop.set()
        self._thread.join()
