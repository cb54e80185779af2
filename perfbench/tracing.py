"""Layer accounting the benchmark installs from outside the engine.

- :class:`Tracer` wraps public functions of the engine's modules (by
  rebinding the module or class attribute the caller looks up) and sums
  wall time, call counts and a per-call count of work.
- :class:`SparkOps` runs each Spark-path call in its own job group and
  reads job, stage and task counts from the status tracker and shuffle
  bytes from Spark's status store.
- :class:`WorkerRss` samples peak resident memory of the Python worker
  processes under the Spark JVM from ``/proc`` (read only).
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict


class Tracer:
    """Sums time and calls per key over wrapped callables. ``install``
    returns nothing; ``restore`` puts every original back."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.counts: dict[str, int] = defaultdict(int)
        self._undo: list[tuple[object, str, object]] = []

    def install(self, owner: object, name: str, key: str, count=None) -> None:
        """Wrap ``owner.name``; ``count(result)`` adds to ``counts[key]``."""
        original = getattr(owner, name)
        perf = time.perf_counter

        def wrapper(*args, **kwargs):
            t0 = perf()
            try:
                out = original(*args, **kwargs)
            finally:
                self.seconds[key] += perf() - t0
                self.calls[key] += 1
            if count is not None:
                self.counts[key] += count(out)
            return out

        self._undo.append((owner, name, original))
        setattr(owner, name, wrapper)

    def restore(self) -> None:
        for owner, name, original in reversed(self._undo):
            setattr(owner, name, original)
        self._undo.clear()

    def snapshot(self) -> tuple[dict, dict, dict]:
        return dict(self.seconds), dict(self.calls), dict(self.counts)


def install_serve_trace(tracer: Tracer) -> None:
    """The serving-path layers, wrapped where ``LocalSearcher`` looks
    them up: the parser and decoder names bound in ``serve``, and the
    searcher's ``term_meta`` and ``search`` methods."""
    from fugu_spark import serve

    tracer.install(serve, "parse_query", "parse")
    tracer.install(serve.LocalSearcher, "term_meta", "term_meta")
    tracer.install(
        serve, "decode_posting_blocks_batched", "decode",
        count=lambda d: int(len(d["doc_ids"])),
    )
    tracer.install(serve.LocalSearcher, "search", "search")


class SparkOps:
    """Job, stage, task and shuffle accounting around Spark-path calls."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    def run(self, label: str, fn):
        """→ (result, {"jobs", "stages", "tasks", "shuffle_bytes"})."""
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        try:
            out = fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return out, self.usage(group)

    def usage(self, group: str) -> dict:
        jobs = list(self.tracker.getJobIdsForGroup(group))
        stages: list[int] = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.extend(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": tasks,
            "shuffle_bytes": self._shuffle_bytes(set(stages)),
        }

    def _shuffle_bytes(self, stage_ids: set[int]) -> int:
        """Shuffle write bytes of the given stages from the status store
        (filled by the listener bus, so drain it first)."""
        from py4j.protocol import Py4JError

        if not stage_ids:
            return 0
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        total = 0
        for sid in stage_ids:
            try:
                total += int(store.lastStageAttempt(sid).shuffleWriteBytes())
            except Py4JError:  # a skipped stage never ran: nothing stored
                pass
        return total


def _parents() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[tuple[int, int]]:
    """(pid, depth) of every process below ``pid``."""
    kids: dict[int, list[int]] = defaultdict(list)
    for child, parent in _parents().items():
        kids[parent].append(child)
    out, todo = [], [(pid, 0)]
    while todo:
        p, d = todo.pop()
        for c in kids.get(p, []):
            out.append((c, d + 1))
            todo.append((c, d + 1))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRss:
    """Peak VmHWM of any Python worker (the daemon's children) under the
    Spark JVM, sampled every ``interval`` seconds while running."""

    def __init__(self, jvm_pid: int, interval: float = 0.05) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def workers(self) -> list[int]:
        return [p for p, depth in descendants(self.jvm_pid) if depth == 2]

    def sample(self) -> None:
        for pid in self.workers():
            self.peak_kb = max(self.peak_kb, _hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "WorkerRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def self_peak_rss_mb() -> float:
    return _hwm_kb(os.getpid()) / 1024.0

