"""In-memory spans, plan metrics and process memory for the benchmark.

Spans are recorded from the benchmark's side of each layer boundary:
around every stage-prefix action and every direct kernel call. They
stay in memory until the run ends and are then written out with the
run's record. Nothing here reaches into ``esri_dump_spark``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records (name, start, end, parent, run id) spans. A disabled
    tracer records nothing, so the untraced run executes the same
    code with no span bookkeeping."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds (the
        span's duration minus the time its direct children cover;
        children of one span run one after another)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            e = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                           "self_s": 0.0})
            e["count"] += 1
            e["total_s"] += d
            e["self_s"] += d - child_s[s["id"]]
        return out


def median(xs) -> float:
    return float(statistics.median(xs))


# ------------------------------------------------------------ plan metrics

def python_eval_metrics(df) -> dict:
    """Sums of the Python-eval (``ArrowEvalPython``) node metrics in the
    executed plan of ``df``, after an action on ``df`` itself has run.
    Walks the adaptive plan over py4j, descending into query stages."""
    keys = ("pythonDataSent", "pythonBootTime", "pythonInitTime",
            "pythonNumRowsReceived")
    totals = dict.fromkeys(keys, 0)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in cls:
            stack.append(node.plan())
            continue
        if "EvalPython" in cls:
            m = node.metrics()
            for k in keys:
                if m.contains(k):
                    totals[k] += int(m.apply(k).value())
        ch = node.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return {"rows_sent": totals["pythonNumRowsReceived"],
            "bytes_sent": totals["pythonDataSent"],
            # ms, summed over tasks; boot is 0 once workers are reused
            "init_s": (totals["pythonBootTime"]
                       + totals["pythonInitTime"]) / 1000.0}


# ------------------------------------------------------------ memory

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """Every live descendant process of ``root`` (read from /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """User + system CPU seconds of this process and its live
    descendants (the driver JVM and the Python workers), including
    children they have already reaped. With steal accounting the
    kernel charges no stolen time to a task, so unlike wall time this
    does not grow when other guests take the host's CPUs."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def steal_seconds() -> float:
    """CPU seconds the hypervisor gave to other guests while this
    machine's CPUs were runnable, summed over CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


class PeakRss:
    """Samples the summed RSS of this process's descendants (the
    driver JVM and its Python workers) on a background thread while
    active; ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss(p) for p in descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
