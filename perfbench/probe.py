"""Measurement helpers: process-tree CPU and memory, percentiles, spans and
the Spark counters attached to them.

The benchmark measures every layer from outside: a span is opened around a
call into one of the package's public functions, and the Spark work that
call caused is read back from the status tracker (jobs of the span's job
group) and the status store (``lastStageAttempt`` per stage)."""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# process tree (driver Python, its JVM, and the JVM's Python workers)


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] not in ("Z", "X")


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU of the live tree, including children its members
    have already reaped (Python workers that exited)."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def pss_bytes(pids: list[int]) -> int:
    """Proportional set size of ``pids``: pages shared between them (the
    forked Python workers share their parent's) are counted once."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process has ended
            pass
    return total


class MemorySampler:
    """Background thread that records the peak resident memory (PSS) of a
    process tree. The thread reads only the pids found by the last
    ``refresh()``, which walks ``/proc`` once; call it whenever the tree
    may have grown (after session start, before each pass)."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root, self.interval = root, interval
        self.peak = 0
        self.pids = [root]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def refresh(self) -> None:
        self.pids = tree_pids(self.root)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes(self.pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------------
# statistics


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile, or None unless at least ten
    samples lie beyond it (so p50 needs 20 samples and p90 needs 100)."""
    n = len(values)
    if n == 0 or n * (100 - q) / 100 < 10:
        return None
    rank = max(1, -(-n * q // 100))
    return sorted(values)[int(rank) - 1]


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    groups: list[str] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for a, b in sorted(kids.get(i, [])):
            a, b = max(a, reach), min(b, s.end)
            if b > a:
                covered += b - a
                reach = b
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """Spans kept in memory. With a SparkContext, each span runs its jobs
    under its own job group and, on exit, sums the metrics of the stages
    those jobs ran."""

    STAGE_COUNTERS = (
        "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
        "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "input_bytes", "output_bytes",
    )
    _serial = itertools.count()  # job groups must not repeat across tracers

    def __init__(self, sc=None):
        self.sc = sc
        self.serial = next(self._serial)
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        s = Span(name, time.perf_counter(), parent)
        self.spans.append(s)
        self._open.append(idx)
        if self.sc is not None:
            s.groups.append(f"perfbench-{os.getpid()}-{self.serial}-{idx}")
            self._label(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            if self.sc is not None:
                self._label(None if parent is None else self.spans[parent])
                s.counters = self._spark_counters(s.groups)

    def _label(self, s: Span | None) -> None:
        """Route the driver thread's next jobs to ``s``'s job group."""
        self.sc.setLocalProperty("spark.jobGroup.id", s and s.groups[0])
        self.sc.setLocalProperty("spark.job.description", s and s.name)

    def _spark_counters(self, groups: list[str]) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        c = dict.fromkeys(("jobs",) + self.STAGE_COUNTERS, 0.0)
        stage_ids: set[int] = set()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                c["jobs"] += 1
                if info is not None:
                    stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: the stage never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["input_bytes"] += st.inputBytes()
            c["output_bytes"] += st.outputBytes()
        return c

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per span name: summed self time (``s``) and summed counters."""
        out: dict[str, dict[str, float]] = {}
        for s, own in zip(self.spans, self_times(self.spans)):
            acc = out.setdefault(s.name, {"s": 0.0, "n": 0})
            acc["s"] += own
            acc["n"] += 1
            for k, v in s.counters.items():
                acc[k] = acc.get(k, 0.0) + v
        return out

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": s.name,
                "start": round(s.start - t0, 6),
                "end": round(s.end - t0, 6),
                "parent": s.parent,
                "counters": s.counters,
            }
            for s in self.spans
        ]
