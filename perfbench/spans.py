"""Layer measurement from outside the package.

* ``Tracer`` records spans (name, start, end, parent, trace id). Each
  span runs its Spark jobs under a job group of its own, so after an
  operation the jobs, stages, tasks, shuffle and spill of every span are
  read back from ``statusTracker()`` and the status store, and the
  Python-worker time from the SQL status store.
* ``patched`` wraps a function or class-level method for the length of a
  traced pass, so calls the package makes internally open spans too.
* ``RssSampler`` keeps the peak RSS of the driver and of every Python
  worker process the session forks.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import re
import statistics
import threading
import time

_SQL_PY_TIME = "time to run Python workers"
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _parse_duration_s(text: str) -> float:
    """Seconds from a SQL timing metric's text, e.g. ``"219 ms"`` or
    ``"total (min, med, max (stageId: taskId))\\n1.2 s (...)"``."""
    m = _DURATION.search(text.rsplit("\n", 1)[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


class Span:
    __slots__ = (
        "sid", "name", "parent", "trace_id", "start", "end", "attrs", "group",
        "jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
        "python_s", "skew",
    )

    def __init__(self, sid: int, name: str, parent: int | None, trace_id: str, attrs: dict):
        self.sid, self.name, self.parent, self.trace_id = sid, name, parent, trace_id
        self.attrs = attrs
        self.group = f"perfbench-{trace_id}-{sid}"
        self.start = self.end = 0.0
        self.jobs = self.stages = self.tasks = 0
        self.shuffle_write_bytes = self.spill_bytes = 0
        self.python_s = 0.0
        # max/median task run time of this span's longest stage
        self.skew = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    def record(self, self_s: float) -> dict:
        return {
            "id": self.sid, "name": self.name, "parent": self.parent,
            "trace_id": self.trace_id, "start": round(self.start, 6),
            "end": round(self.end, 6), "self_s": round(self_s, 6),
            "jobs": self.jobs, "stages": self.stages, "tasks": self.tasks,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "spill_bytes": self.spill_bytes, "python_s": round(self.python_s, 6),
            "stage_task_skew": round(self.skew, 4), **self.attrs,
        }


class Tracer:
    """Span recorder bound to one Spark session (one thread)."""

    def __init__(self, spark, trace_id: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._unresolved: list[Span] = []
        self._seen_stages: set[int] = set()
        self._last_execution = -1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.sid if parent else None, self.trace_id, attrs)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(sp)
            self._unresolved.append(sp)

    def resolve(self) -> None:
        """Attach Spark job/stage/SQL figures to the spans closed since
        the last call. Call it between operations, outside timing."""
        if not self._unresolved:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        owner: dict[int, Span] = {}
        for sp in self._unresolved:
            for j in tracker.getJobIdsForGroup(sp.group):
                owner[j] = sp
        quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        longest: dict[int, int] = {}
        # a stage shared by several jobs ran in the first of them
        for j in sorted(owner):
            sp = owner[j]
            sp.jobs += 1
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                if s in self._seen_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:  # evicted from the status store
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                self._seen_stages.add(s)
                sp.stages += 1
                sp.tasks += sd.numTasks()
                sp.shuffle_write_bytes += sd.shuffleWriteBytes()
                sp.spill_bytes += sd.diskBytesSpilled()
                run_ms = sd.executorRunTime()
                if sd.numTasks() > 1 and run_ms > longest.get(id(sp), -1):
                    longest[id(sp)] = run_ms
                    dist = store.taskSummary(s, sd.attemptId(), quantiles)
                    if dist.isDefined():
                        t = dist.get().executorRunTime()
                        sp.skew = t.apply(1) / t.apply(0) if t.apply(0) > 0 else 1.0
        self._python_time(owner)
        self._unresolved = []

    def _python_time(self, owner: dict[int, Span]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList().iterator()
        newest = self._last_execution
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid <= self._last_execution:
                continue
            newest = max(newest, eid)
            accs = set()
            ms = e.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                if m.name() == _SQL_PY_TIME:
                    accs.add(m.accumulatorId())
            if not accs:
                continue
            jobs = [k for k in _scala_keys(e.jobs()) if k in owner]
            if not jobs:
                continue
            vals = sql.executionMetrics(eid).iterator()
            while vals.hasNext():
                kv = vals.next()
                if kv._1() in accs:
                    owner[min(jobs)].python_s += _parse_duration_s(kv._2())
        self._last_execution = newest

    def self_times(self) -> dict[int, float]:
        covered: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] = covered.get(sp.parent, 0.0) + sp.duration
        return {sp.sid: sp.duration - covered.get(sp.sid, 0.0) for sp in self.spans}

    def inclusive(self, name: str, since: int = 0) -> list[dict]:
        """Per ``name`` span opened at index >= ``since``: its duration
        plus Spark figures summed over it and its descendants."""
        spans = self.spans[since:]
        children: dict[int, list[Span]] = {}
        for sp in spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)

        def subtree(sp: Span):
            yield sp
            for c in children.get(sp.sid, ()):
                yield from subtree(c)

        out = []
        for sp in spans:
            if sp.name != name:
                continue
            tree = list(subtree(sp))
            out.append(
                {
                    "s": sp.duration,
                    "jobs": sum(t.jobs for t in tree),
                    "stages": sum(t.stages for t in tree),
                    "tasks": sum(t.tasks for t in tree),
                    "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tree),
                    "spill_bytes": sum(t.spill_bytes for t in tree),
                    "python_s": sum(t.python_s for t in tree),
                    "skew": max((t.skew for t in tree), default=0.0),
                    "count": len(tree),
                    "attrs": sp.attrs,
                }
            )
        return out

    def layer_self_times(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + st[sp.sid]
        return {k: round(v, 6) for k, v in sorted(out.items())}


def _scala_keys(m) -> list[int]:
    keys = []
    it = m.keysIterator()
    while it.hasNext():
        keys.append(it.next())
    return keys


@contextlib.contextmanager
def patched(tracer: Tracer, owner, attr: str, span_name: str, on_result=None):
    """Replace ``owner.attr`` by a wrapper that runs the original inside
    a span; ``on_result(span, result)`` may annotate the span."""
    orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(span_name) as sp:
            res = orig(*args, **kwargs)
            if on_result is not None:
                on_result(sp, res)
            return res

    setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        setattr(owner, attr, orig)


# --- memory ---


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(field.encode()):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root``, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses
        parent[int(d)] = int(stat.rsplit(b")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def python_workers(root: int) -> list[int]:
    out = []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
                if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                    out.append(pid)
        except OSError:
            pass
    return out


def _reset_peak(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


class RssSampler:
    """Peak RSS (MiB) of the driver and of the largest Python worker
    between ``begin()`` and ``end()``. Peaks come from each process's
    VmHWM, reset at ``begin()``; a background thread re-reads them every
    ``interval`` seconds so workers that exit mid-pass still count."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.pid = os.getpid()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self._workers: list[int] = []
        self._hwm = False
        self.driver_kb = self.worker_kb = 0

    def _sample(self, rescan: bool) -> None:
        if rescan:
            self._workers = python_workers(self.pid)
        field = "VmHWM:" if self._hwm else "VmRSS:"
        d = _status_kb(self.pid, field)
        w = max((_status_kb(p, field) for p in self._workers), default=0)
        with self._lock:
            self.driver_kb = max(self.driver_kb, d)
            self.worker_kb = max(self.worker_kb, w)

    def _loop(self) -> None:
        for n in itertools.count():
            if self._stop.wait(self.interval):
                return
            self._sample(rescan=n % 5 == 0)

    def begin(self) -> None:
        self._workers = python_workers(self.pid)
        self._hwm = all(_reset_peak(p) for p in [self.pid, *self._workers])
        self.driver_kb = self.worker_kb = 0
        self._sample(rescan=False)
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def end(self) -> tuple[float, float]:
        self._stop.set()
        self._thread.join()
        self._sample(rescan=True)
        return self.driver_kb / 1024, self.worker_kb / 1024


def summary(values: list[float]) -> dict:
    """Median of ``values`` with the sample count, the maximum, and the
    highest percentile that has at least ten samples beyond it (none
    below 11 samples)."""
    n = len(values)
    ordered = sorted(values)
    pct = 100 * (1 - 10 / n) if n > 10 else None
    return {
        "median": statistics.median(ordered) if n else 0.0,
        "n": n,
        "max": ordered[-1] if n else 0.0,
        "percentile": pct,
        "at_percentile": ordered[n - 11] if pct is not None else None,
    }
