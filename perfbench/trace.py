"""Measurement plumbing: in-memory spans, the resident-memory sampler and
the reader of Spark's own status store.

Spans are recorded only from the benchmark's files, around its calls into
the program's layers. They stay in memory and are written once, at the end
of the run.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans with name, start, end, parent and run id. ``enabled=False``
    makes every call a no-op, so the untraced run pays nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        #: parent for spans opened on threads with no open span of their
        #: own (the DagRunner's worker threads)
        self.root: int | None = None
        self.cost_s = 0.0  # time spent inside the tracer's own bookkeeping

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "run": self.run_id,
            "parent": stack[-1] if stack else self.root, **attrs,
        }
        stack.append(sid)
        self.cost_s += time.perf_counter() - c0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            c1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
            self.cost_s += time.perf_counter() - c1

    def busy(self, name: str) -> float:
        """Summed duration of every span called ``name`` (busy time: spans
        on parallel threads are added, not unioned)."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    kids = []
    try:
        tasks = list(Path(f"/proc/{pid}/task").iterdir())
    except OSError:  # the process has exited
        return kids
    for task in tasks:
        try:
            kids += [int(x) for x in (task / "children").read_text().split()]
        except OSError:
            pass
    return kids


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants, in MiB."""
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += _rss_kb(p)
        todo += child_pids(p)
    return total / 1024.0


class RssSampler:
    """Samples the benchmark's process tree (driver Python, the JVM and
    the JVM's Python workers) every ``interval`` seconds; keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return self.peak_mb


def _to_json(sc, obj) -> list[dict]:
    """Serialise a status-store result in the JVM, in one py4j call."""
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))
    return json.loads(mapper.writeValueAsString(obj))


def read_status_store(sc) -> tuple[list[dict], dict[tuple[int, int], dict]]:
    """Every job and stage attempt Spark's status store holds, as plain
    dicts. Times are epoch seconds (millisecond resolution)."""
    store = sc._jsc.sc().statusStore()

    def secs(ms):
        return None if ms is None else ms / 1e3

    jobs = [{
        "id": j["jobId"], "name": j["name"], "group": j.get("jobGroup"),
        "stages": j["stageIds"], "submitted": secs(j.get("submissionTime")),
        "completed": secs(j.get("completionTime")), "status": j["status"],
    } for j in _to_json(sc, store.jobsList(None))]
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = {(s["stageId"], s["attemptId"]): {
        "submitted": secs(s.get("submissionTime")),
        "completed": secs(s.get("completionTime")),
        "tasks": s["numCompleteTasks"],
        "exec_run_s": s["executorRunTime"] / 1e3,
        "exec_cpu_s": s["executorCpuTime"] / 1e9,
        "input_bytes": s["inputBytes"],
        "shuffle_read_bytes": s["shuffleReadBytes"],
        "shuffle_write_bytes": s["shuffleWriteBytes"],
        "spill_bytes": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
        "gc_s": s["jvmGcTime"] / 1e3,
    } for s in _to_json(sc, store.stageList(None, False, False, empty, None))}
    return jobs, stages


def persisted_bytes(sc) -> int:
    """Memory plus disk bytes of every persisted RDD (pins included)."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time Catalyst recorded for
    ``df``'s own query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        if ph.isDefined():
            total += (ph.get().endTimeMs() - ph.get().startTimeMs()) / 1e3
    return total
