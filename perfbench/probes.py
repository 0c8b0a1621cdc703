"""Measurement helpers: spans, Spark job/SQL counters, UDF profiles and memory.

Everything here observes the program from outside: it wraps calls into the
package's public functions, reads Spark's status tracker and SQL status store
through the classic API, and reads ``/proc``. Nothing here changes a plan or a
result.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once.

    ``enabled=False`` makes ``span`` a no-op, so the untraced run pays
    nothing for the instrumentation points."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that its child spans cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
                for s in self.spans if s["end"] is not None}

    def write(self, path: str) -> None:
        selfs = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs.get(s["id"])}) + "\n")


# -- Spark scheduling ---------------------------------------------------------


@contextmanager
def job_group(spark, tag: str):
    """Run the block under a fresh job group; yields a dict that receives
    ``jobs``, ``stages`` and ``tasks`` launched inside it. The enclosing group
    is restored afterwards, so jobs of a nested group count only there."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(tag, tag)
    out: dict = {}
    try:
        yield out
    finally:
        sc.setJobGroup(outer or "", outer or "")
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(tag)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        out.update(jobs=len(jobs), stages=len(stages), tasks=tasks)


def job_floor(spark, n: int = 5) -> float:
    """Median wall of an empty one-row job: the fixed cost every job pays."""
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


_EXCHANGE_RE = re.compile(r"(?<![A-Za-z])(?:Exchange|BroadcastExchange) ")


def exchanges(df) -> int:
    """Shuffle and broadcast exchanges in the physical plan (reuses excluded)."""
    return len(_EXCHANGE_RE.findall(df._jdf.queryExecution().executedPlan().toString()))


# -- SQL status store ---------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SQL_METRICS = {
    "shuffle bytes written": "spark.shuffle_write_bytes",
    "spill size": "spark.spill_bytes",
    "peak memory": "spark.peak_exec_mem_bytes",
}


def _parse_size(text: str) -> float:
    # "total (min, med, max (stageId: taskId))\n500.7 KiB (...)" or "0.0 B"
    value, unit = text.split("\n")[-1].split()[:2]
    return float(value.replace(",", "")) * _UNITS[unit]


def sql_execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def sql_metrics(spark, since: int) -> dict[str, float]:
    """Sum shuffle-write, spill and peak-memory totals over every operator of
    the SQL executions started after ``since`` (classic API only)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {name: 0.0 for name in _SQL_METRICS.values()}
    seen = set()
    execs = store.executionsList(since, 1 << 20).iterator()
    while execs.hasNext():
        e = execs.next()
        values = store.executionMetrics(e.executionId())
        metrics = e.metrics().iterator()
        while metrics.hasNext():
            m = metrics.next()
            name = _SQL_METRICS.get(m.name())
            if name is None or m.accumulatorId() in seen:
                continue
            v = values.get(m.accumulatorId())
            if v.isDefined():
                seen.add(m.accumulatorId())
                out[name] += _parse_size(v.get())
    return out


# -- Python UDF profiles --------------------------------------------------------

KERNEL_FUNCS = {"run_batch", "kernel"}


def udf_profile(spark, functions_modules: set[str]) -> dict:
    """Split the perf profile of the grouped-map UDFs run since the last
    clear into kernel time (``run_batch``/``kernel``) and time inside each
    ``unravelsports_spark/functions`` module, entered from outside it."""
    results = spark._profiler_collector._perf_profile_results
    udf = 0.0
    mods = {m: 0.0 for m in functions_modules}
    for stats in results.values():
        for (fname, _line, func), (_cc, _nc, _tt, ct, callers) in stats.stats.items():
            if func in KERNEL_FUNCS:
                udf += ct
            mod = fname[:-3] if fname.endswith(".py") else None
            if mod in mods:
                mods[mod] += sum(c[3] for key, c in callers.items() if key[0] != fname)
    return {"udf_s": udf, "modules": mods}


# -- Processes and memory -------------------------------------------------------


def descendants() -> set[int]:
    """Every live process below this one (the JVM and its Python workers)."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    ours, frontier = set(), [os.getpid()]
    while frontier:
        for kid in children.get(frontier.pop(), []):
            if kid not in ours:
                ours.add(kid)
                frontier.append(kid)
    return ours



def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def java_heap_pss(heap_bytes: int) -> int:
    """PSS of the Java heap of the JVM below this process. The heap is
    reserved in one piece, so it is the VMAs that lie within ``heap_bytes``
    of the start of the JVM's largest anonymous mapping."""
    jvm = [pid for pid in descendants() if _comm(pid) == "java"]
    if len(jvm) != 1:
        raise RuntimeError(f"expected one JVM below this process, found {len(jvm)}")
    vmas = []  # [start, end, anonymous, pss]
    with open(f"/proc/{jvm[0]}/smaps") as f:
        for line in f:
            tok = line.split()
            if not tok[0].endswith(":"):
                start, end = (int(a, 16) for a in tok[0].split("-"))
                vmas.append([start, end, len(tok) == 5, 0])
            elif tok[0] == "Pss:":
                vmas[-1][3] = int(tok[1]) << 10
    base = max((v for v in vmas if v[2]), key=lambda v: v[1] - v[0])[0]
    return sum(v[3] for v in vmas if v[0] >= base and v[1] <= base + heap_bytes)


class RssSampler:
    """Peak summed proportional set size (PSS) of this process's descendants,
    the JVM and the Python workers it forks, less the Java heap. PSS splits
    pages shared after a fork among the sharers, so the sum does not grow
    with the number of forked workers the way summed RSS does. The heap is
    committed and touched when the JVM starts, so its PSS is a constant the
    benchmark sets; it is measured once (``heap``) and taken off every
    sample. Sampled every ``interval`` seconds in a thread."""

    def __init__(self, heap_bytes: int, interval: float = 0.05):
        self.interval = interval
        self.heap = java_heap_pss(heap_bytes)
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) << 10
            except (OSError, StopIteration, ValueError):
                continue
        return total - self.heap

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._sample())
