"""Counters read from outside the engine: Spark's own totals, the
filesystem under the versioned tables, and the JVM's peak memory.

Every counter is a difference of totals taken before and after a pass,
so nothing accumulates across passes or migrations.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark import SparkContext


class SparkCounters:
    """Job, stage and task counts plus task metrics, as the difference of
    session totals. Jobs and stages come from the scheduler's id counters;
    tasks, shuffle, input, run and GC figures from the status store's
    single local executor summary (one py4j round trip per field, instead
    of one per stage)."""

    FIELDS = {
        "tasks": "totalTasks",
        "failed_tasks": "failedTasks",
        "shuffle_write_bytes": "totalShuffleWrite",
        "input_bytes": "totalInputBytes",
        "executor_run_s": "totalDuration",
        "gc_s": "totalGCTime",
    }
    MILLIS = ("executor_run_s", "gc_s")

    def __init__(self, sc: SparkContext):
        self._jsc = sc._jsc.sc()

    def totals(self) -> dict:
        # task-end events reach the status store through the listener
        # bus; drain it so the totals include every finished task
        self._jsc.listenerBus().waitUntilEmpty()
        dag = self._jsc.dagScheduler()
        out = {"jobs": int(dag.nextJobId()), "stages": int(dag.nextStageId())}
        executors = self._jsc.statusStore().executorList(True)
        for key, getter in self.FIELDS.items():
            total = 0
            for i in range(executors.size()):
                total += int(getattr(executors.apply(i), getter)())
            out[key] = total / 1000.0 if key in self.MILLIS else total
        return out

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        return {k: after[k] - before[k] for k in before}


def peak_rss_mb() -> float:
    """VmHWM of the session's JVM (the py4j gateway process)."""
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


@dataclass
class _Snapshot:
    current: dict  # table root -> committed version name (or None)
    files: set  # (st_ino, st_mtime_ns) of every file under a version dir


def _version_dirs(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(d for d in os.listdir(root) if d.startswith("v_"))


def _current(root: str):
    try:
        with open(os.path.join(root, "_CURRENT")) as f:
            return f.read().strip() or None
    except FileNotFoundError:
        return None


def _files(vdir: str):
    for dirpath, _, names in os.walk(vdir):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            yield (st.st_ino, st.st_mtime_ns), st.st_size


def table_roots(*parents: str) -> list[str]:
    """Every versioned table directly under the given directories."""
    roots = []
    for p in parents:
        if os.path.isdir(p):
            roots += [os.path.join(p, d) for d in sorted(os.listdir(p)) if not d.startswith(".")]
    return roots


def snapshot(roots: list[str]) -> _Snapshot:
    """The committed version and file identities of each table root, taken
    before a pass for ``storage_delta``."""
    files = set()
    for root in roots:
        for v in _version_dirs(root):
            files.update(ident for ident, _ in _files(os.path.join(root, v)))
    return _Snapshot({r: _current(r) for r in roots}, files)


def storage_delta(before: _Snapshot, roots: list[str]) -> dict:
    """File accounting of the versions committed since ``before``.

    A file in such a version counts as *written* when its inode (with its
    mtime, so a recycled inode number is not mistaken for the old file)
    did not exist before the pass, else as *linked*. Each inode counts
    once."""
    written: dict = {}
    linked: dict = {}
    commits = 0
    live: dict = {}
    retained: dict = {}
    for root in roots:
        cur = _current(root)
        prev = before.current.get(root)
        for v in _version_dirs(root):
            if cur is None or v > cur:
                continue  # not committed
            is_new = prev is None or v > prev
            commits += is_new
            for ident, size in _files(os.path.join(root, v)):
                retained[ident] = size
                if v == cur:
                    live[ident] = size
                if is_new:
                    (linked if ident in before.files else written)[ident] = size
    n_new = len(written) + len(linked)
    return {
        "commits": commits,
        "bytes_written": sum(written.values()),
        "files_written": len(written),
        "files_linked": len(linked),
        "link_ratio": len(linked) / n_new if n_new else 0.0,
        "retained_bytes": sum(v for k, v in retained.items() if k not in live),
    }
