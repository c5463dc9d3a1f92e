"""Measurements taken from outside the program, adding no Spark jobs:
resident memory from ``/proc`` and store size from a filesystem walk plus
parquet footers."""

from __future__ import annotations

import os

import pyarrow.parquet as pq


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM, its Python daemon and
    workers)."""
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class PeakRss:
    """Peak resident memory over the ``with`` block of the processes below
    the benchmark process: the JVM's ``VmHWM``, and the sum of ``VmHWM``
    over the Python workers (the daemon and its forks). Entering resets
    the high-water mark of every live process (``clear_refs`` 5), so
    set-up does not count; a worker forked inside the block starts from
    its own size. ``/proc`` is read once, when the block ends: the kernel
    keeps the peaks, and a sampling thread would slow the run it
    measures. A worker that exits inside the block is not counted. The
    Python driver itself is excluded: it holds no table data."""

    def __init__(self) -> None:
        self.jvm_kb = self.workers_kb = 0

    def __enter__(self) -> "PeakRss":
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass
        return self

    def __exit__(self, *exc) -> None:
        for pid in descendants(os.getpid()):
            kb = _status_kb(pid, "VmHWM")
            if _comm(pid) == "java":
                self.jvm_kb = max(self.jvm_kb, kb)
            else:
                self.workers_kb += kb

    @property
    def jvm_mb(self) -> float:
        return self.jvm_kb / 1024

    @property
    def workers_mb(self) -> float:
        return self.workers_kb / 1024


def parquet_files(root: str) -> dict[str, int]:
    """{path: bytes} of every parquet data file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def parquet_rows(paths) -> int:
    """Row count of parquet files, read from their footers."""
    return sum(pq.read_metadata(p).num_rows for p in paths)


def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total
