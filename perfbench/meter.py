"""Measurement from outside the engine: process-tree CPU and RSS read from
``/proc``, Spark stage counters read from the driver's status store, and
in-memory trace spans.

Nothing here reaches into ``marie_icr_spark``; the spans wrap the
benchmark's own calls into the engine's public functions.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# /proc process tree
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return s[s.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (a scan of ``/proc/*/stat``)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat(pid)
    return f is not None and f[0] != "Z"


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, counting reaped children too
    (utime, stime, cutime, cstime), so a worker that exits mid-pass is
    still charged through its parent."""
    total = 0
    for p in tree_pids(root):
        f = _stat(p)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread summing the tree's RSS every ``interval_s``;
    :meth:`window` returns the peak seen since it was last called."""

    def __init__(self, root: int, interval_s: float):
        self.root = root
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval_s)

    def window(self) -> int:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from ``/proc/stat``:
    logged with each pass to tell a slow machine from a slow pass."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def summarize(passes: list[dict]) -> dict:
    """End-to-end metrics of timed passes: throughput of the fastest pass
    (other tenants of a shared machine only ever slow a pass down, so the
    fastest is the steadiest estimate across runs), CPU and RSS medians."""
    med = statistics.median
    return {
        "turns_per_s": max(r["turns"] / r["wall_s"] for r in passes),
        "cpu_us_per_turn": med([1e6 * r["cpu_s"] / r["turns"] for r in passes]),
        "peak_rss_mb": med([r["peak_rss"] / 1e6 for r in passes]),
    }


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def job_stages(spark, group: str) -> list[int]:
    """Stage ids of every job run under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    stages: list[int] = []
    for j in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.extend(info.stageIds)
    return sorted(set(stages))


def stage_counters(spark, group: str) -> dict:
    """Jobs, tasks, GC time, shuffle-write and spill bytes and the task
    run-time spread of the stages run under ``group``, read from the
    driver's ``AppStatusStore``. Stages skipped because their shuffle
    output was reused have no attempt and are left out."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    quant = sc._gateway.new_array(sc._jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    out = {
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "tasks": 0, "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "run_ms": 0, "stages": [],
    }
    for sid in job_stages(spark, group):
        try:
            data = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage never ran: its input was reused
            continue
        if str(data.status()) != "COMPLETE":
            continue
        n = int(data.numCompleteTasks())
        summ = store.taskSummary(sid, int(data.attemptId()), quant)
        med = mx = 0.0
        if summ.isDefined():
            rt = summ.get().executorRunTime()
            med, mx = float(rt.apply(0)), float(rt.apply(1))
        st = {
            "stage": sid,
            "tasks": n,
            "run_ms": int(data.executorRunTime()),
            "gc_ms": int(data.jvmGcTime()),
            "shuffle_write_bytes": int(data.shuffleWriteBytes()),
            "spill_bytes": int(data.memoryBytesSpilled())
            + int(data.diskBytesSpilled()),
            "task_ms_median": med,
            "task_ms_max": mx,
        }
        out["stages"].append(st)
        for k in ("tasks", "gc_ms", "shuffle_write_bytes", "spill_bytes", "run_ms"):
            out[k] += st[k]
    return out


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent, pass id. Disabled
    tracers hand out no-op spans, so untraced runs pay one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the span name's prefix before the first
        '.') not covered by the span's children."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".")[0]
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out
