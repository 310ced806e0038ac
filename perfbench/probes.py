"""Outside-in probes: Spark's status store and the process tree's memory.

``StatusStore`` reads job and stage records through
``statusStore().jobsList`` / ``stageList``, which work with the UI
disabled. ``RssSampler`` samples the resident set of this process and all
its descendants — the Python driver, the JVM and the Python workers.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field


def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` -> epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


@dataclass
class JobRecord:
    job_id: int
    start_s: float  # epoch seconds
    end_s: float
    stage_ids: list[int]


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0

    def add(self, other: "StageTotals") -> None:
        for name in self.__dataclass_fields__:
            setattr(self, name, getattr(self, name) + getattr(other, name))


@dataclass
class Delta:
    """What Spark did between two marks: jobs, and the stages that ran
    (skipped stages are left out)."""

    jobs: list[JobRecord] = field(default_factory=list)
    stages: dict[int, StageTotals] = field(default_factory=dict)

    def totals(self, jobs: list[JobRecord] | None = None) -> StageTotals:
        """Stage metrics summed over ``jobs`` (default: every stage)."""
        if jobs is None:
            ids = set(self.stages)
        else:
            ids = {sid for j in jobs for sid in j.stage_ids}
        out = StageTotals()
        for sid in ids & set(self.stages):
            out.add(self.stages[sid])
        return out

    def jobs_within(self, start_s: float, end_s: float) -> list[JobRecord]:
        return [j for j in self.jobs if start_s <= j.start_s <= end_s]

    def covered_s(self, start_s: float, end_s: float) -> float:
        """Seconds of [start_s, end_s] during which at least one job ran."""
        return union_length(
            [(j.start_s, j.end_s) for j in self.jobs], start_s, end_s
        )


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(highest job id, highest stage id) seen so far. Both lists come
        newest first."""
        self._drain()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        jmax = jobs.apply(0).jobId() if jobs.size() else -1
        smax = stages.apply(0).stageId() if stages.size() else -1
        return jmax, smax

    def since(self, mark: tuple[int, int]) -> Delta:
        """Jobs and stages started after ``mark``, summed."""
        self._drain()
        store = self._sc.statusStore()
        out = Delta()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= mark[0]:
                break
            start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if start is None:
                continue
            sids = j.stageIds()
            out.jobs.append(
                JobRecord(
                    job_id=int(j.jobId()),
                    start_s=start / 1000.0,
                    end_s=(end if end is not None else start) / 1000.0,
                    stage_ids=[int(sids.apply(n)) for n in range(sids.size())],
                )
            )
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            failed = int(s.numFailedTasks())
            out.stages.setdefault(int(s.stageId()), StageTotals()).add(
                StageTotals(
                    stages=1,
                    tasks=int(s.numCompleteTasks()) + failed,
                    failed_tasks=failed,
                    executor_run_s=s.executorRunTime() / 1000.0,
                    executor_cpu_s=s.executorCpuTime() / 1e9,
                    gc_s=s.jvmGcTime() / 1000.0,
                    shuffle_write_bytes=int(s.shuffleWriteBytes()),
                    input_bytes=int(s.inputBytes()),
                )
            )
        out.jobs.sort(key=lambda r: r.job_id)
        return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent pid -> child pids, pid -> RSS bytes) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm", "rb") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        pid = int(name)
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * _PAGE
    return children, rss


def descendants(root: int) -> set[int]:
    children, _rss = _process_table()
    out, todo = set(), list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    _children, rss = _process_table()
    return rss.get(root, 0) + sum(rss.get(p, 0) for p in descendants(root))


class RssSampler:
    """Peak summed RSS of the process tree, sampled every ``interval_s``
    on a background thread between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_bytes / 2**20
