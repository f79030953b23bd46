"""Measurement helpers: span recorder, Spark status-store reader,
process-tree memory sampler and CPU-steal counter. Nothing here imports
the package under test, so the recorder can wrap its modules from
outside."""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

# Layer modules whose public functions the traced run wraps, by the
# layer name used in span and metric names.
LAYER_MODULES = {
    "session": "hadoop_20_warehouse_fix_spark.session",
    "catalog": "hadoop_20_warehouse_fix_spark.catalog",
    "keyed": "hadoop_20_warehouse_fix_spark.sources.keyed",
    "dedup": "hadoop_20_warehouse_fix_spark.operators.dedup",
    "similarity": "hadoop_20_warehouse_fix_spark.operators.similarity",
    "text": "hadoop_20_warehouse_fix_spark.functions.text",
    "windows": "hadoop_20_warehouse_fix_spark.streaming.windows",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    sid: int = 0  # index in Tracer.spans


@dataclass
class Tracer:
    """Records one span per wrapped call: name, start, end and the
    enclosing span. Spans stay in memory until :meth:`dump`."""

    spans: list[Span] = field(default_factory=list)
    enabled: bool = False
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None, sid=len(self.spans))
        self.spans.append(sp)
        self._stack.append(sp.sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every public function of the layer modules, in the
        defining module and in every loaded package module that imported
        it by name."""
        pkg = [m for n, m in list(sys.modules.items()) if n.startswith("hadoop_20_warehouse_fix_spark") and m]
        for layer, modname in LAYER_MODULES.items():
            mod = sys.modules.get(modname)
            if mod is None:
                continue
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                wrapped = self.wrap(f"{layer}.{attr}", fn)
                for m in pkg:
                    for a, v in list(vars(m).items()):
                        if v is fn:
                            self._patched.append((m, a, fn))
                            setattr(m, a, wrapped)

    def uninstall(self) -> None:
        for m, a, fn in reversed(self._patched):
            setattr(m, a, fn)
        self._patched.clear()

    def totals(self, spans: list[Span]) -> dict[str, tuple[float, int]]:
        """Per span name: (summed wall, calls), counting only the
        outermost span of each name so recursion is not double-counted."""
        out: dict[str, tuple[float, int]] = {}
        for s in spans:
            p = s.parent
            while p is not None and self.spans[p].name != s.name:
                p = self.spans[p].parent
            if p is not None:  # inside a span of the same name
                continue
            t, n = out.get(s.name, (0.0, 0))
            out[s.name] = (t + s.end - s.start, n + 1)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"id": s.sid, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent}) + "\n")


STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "spill_bytes": "diskBytesSpilled",
    "peak_exec_mem_bytes": "peakExecutionMemory",
    "input_bytes": "inputBytes",
    "tasks": "numCompleteTasks",
}


def job_stats(sc, group: str, eager_job_ids: set[int]) -> dict[str, float]:
    """Sum the stage metrics of every job run under ``group``. Read as
    soon as the op returns, before the status store evicts the stages
    (``spark.ui.retainedStages``). Skipped stages ran no tasks and add
    nothing; ``peak_exec_mem_bytes`` is the largest stage's, not a sum."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = list(tracker.getJobIdsForGroup(group))
    out = {k: 0.0 for k in STAGE_FIELDS}
    out.update(jobs=len(job_ids), stages=0, eager_jobs=len(eager_job_ids & set(job_ids)))
    seen = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            raise RuntimeError(f"job {jid} of {group} was evicted before it was read")
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, getter in STAGE_FIELDS.items():
                v = float(getattr(stage, getter)())
                out[key] = max(out[key], v) if key == "peak_exec_mem_bytes" else out[key] + v
    return out


def cpu_ticks() -> tuple[int, int]:
    """(stolen, runnable) CPU jiffies of the whole machine from /proc/stat.
    Stolen time is time a runnable CPU of this (virtual) machine waited
    while the hypervisor ran another tenant; runnable is busy + stolen."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    stolen = f[7]
    return stolen, f[0] + f[1] + f[2] + f[5] + f[6] + stolen


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's runnable CPU time stolen between two
    :func:`cpu_ticks` readings."""
    runnable = after[1] - before[1]
    return (after[0] - before[0]) / runnable if runnable > 0 else 0.0


def _tree_pids(root: int) -> set[int]:
    """``root`` and its descendants, leaving out a child the JVM forked
    that has not yet exec'ed: it still maps every page of the JVM, which
    would be counted twice."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(c for c in children.get(pid, []) if not _unexeced_jvm_fork(pid, c))
    return tree


def _unexeced_jvm_fork(parent: int, child: int) -> bool:
    try:
        exe = os.readlink(f"/proc/{parent}/exe")
        return os.path.basename(exe) == "java" and os.readlink(f"/proc/{child}/exe") == exe
    except OSError:
        return False


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and Python workers) on a background thread; :attr:`peak` is the
    largest total seen."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
