"""Spans, Spark stage counters and process RSS for the traced run.

Spans are recorded around the benchmark's own calls into each engine
module and kept in memory; ``Tracer.dump`` writes them out once, at the
end. Stage counters come from Spark's status store, which the driver keeps
even with the web UI disabled (``session.get_spark`` disables it).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one ``yield``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.op = None  # shared by the spans of one operation
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class StageReader:
    """Jobs and stages that ran since the previous ``delta`` call. Stages
    come from ``SparkContext.statusStore().stageList`` (newest first)."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._seen = -1
        self._jobs_seen = -1
        self.delta()

    def delta(self) -> tuple[list[dict], int]:
        """(new stages, number of new jobs)."""
        stages = self._new_stages()
        jobs = [j for j in self._sc.statusTracker().getJobIdsForGroup()
                if j > self._jobs_seen]
        self._jobs_seen = max(jobs, default=self._jobs_seen)
        return stages, len(jobs)

    def _new_stages(self) -> list[dict]:
        jvm = self._sc._jvm
        # the status store is fed asynchronously by the listener bus: drain
        # it so the last task-end events of the action just run are counted
        self._jsc.listenerBus().waitUntilEmpty()
        seq = self._jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() <= self._seen:
                break
            sub, done = s.submissionTime(), s.completionTime()
            out.append({
                "stage": s.stageId(),
                "status": s.status().toString(),
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "submitted": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "completed": done.get().getTime() / 1e3 if done.isDefined() else None,
            })
        if out:
            self._seen = max(st["stage"] for st in out)
        return out


def scan_output_rows(df) -> int:
    """SQL ``numOutputRows`` of the data-source scan node in ``df``'s
    executed plan (valid after an action on ``df``)."""
    plan = df._jdf.queryExecution().executedPlan()
    todo = [plan]
    while todo:
        node = todo.pop()
        if node.nodeName().startswith("BatchScan"):
            return int(node.metrics().apply("numOutputRows").value())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    raise LookupError("no BatchScan node in the executed plan")


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        while not self._stop.wait(self._interval):
            self.peak_bytes = max(self.peak_bytes, descendants_rss_bytes())


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command field may hold spaces; ppid follows its ')'
                parent[int(name)] = int(f.read().rpartition(")")[2].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def descendants_rss_bytes() -> int:
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total
