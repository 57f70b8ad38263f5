"""Spark-free helpers of the benchmark: result digests, statistics,
layer arithmetic and the /proc process-tree RSS sampler.

Kept apart from the Spark code so ``test_measure.py`` can check them
without starting a JVM.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import threading


def rows_digest(columns: list[str], rows) -> tuple[str, int]:
    """md5 of a collected result, independent of row and column order.

    Same normalization as ``scripts/result_hashes.py::frame_hash``: every
    cell becomes ``str()`` (NULL becomes ""), columns are sorted by name
    and rows are sorted, so a digest pinned with either tool matches.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(
        tuple("" if r[i] is None else str(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    h.update("\x01".join(columns[i] for i in order).encode())
    for r in norm:
        h.update("\x02".join(r).encode())
    return h.hexdigest(), len(norm)


def geomean(values) -> float:
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values) -> float:
    return statistics.median(values)


def e2e_metrics(times_by_op: dict) -> dict:
    """The operation-derived end-to-end metrics of a workload.

    Each distinct operation contributes the median of its times;
    ``suite_s`` is their sum and ``query_geomean_s`` their geometric mean.
    """
    per_op = [median(t) for t in times_by_op.values() if t]
    return {"suite_s": sum(per_op), "query_geomean_s": geomean(per_op)}


def op_metrics(samples_by_op: dict) -> dict:
    """``e2e_metrics`` over each operation's ``[wall s, CPU s]`` samples,
    once on CPU time (the bounded end-to-end metrics) and once on wall
    time (``wall.*``)."""
    cpu = e2e_metrics({k: [c for _, c in v] for k, v in samples_by_op.items()})
    wall = e2e_metrics({k: [w for w, _ in v] for k, v in samples_by_op.items()})
    return {"suite_cpu_s": cpu["suite_s"],
            "query_geomean_cpu_s": cpu["query_geomean_s"],
            **{f"wall.{m}": v for m, v in wall.items()}}


def busy_seconds(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals: the time at
    least one job was running."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_gap_seconds(wall_s: float, intervals) -> float:
    """Wall time during which no job of the operation was running."""
    return wall_s - busy_seconds(intervals)


def udf_seconds(noop_extract_s: float, scan_s: float) -> float:
    """Extraction UDF time: the noop-sink extraction minus the noop scan
    of the same input."""
    return noop_extract_s - scan_s


def sink_seconds(parquet_s: float, noop_s: float) -> float:
    """Parquet sink time: the parquet-sink pass minus the noop-sink pass."""
    return parquet_s - noop_s


def cpu_times(proc: str = "/proc") -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``, in ticks."""
    with open(os.path.join(proc, "stat")) as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests (the 8th counter, ``steal``)."""
    delta = [b - a for a, b in zip(before, after)]
    # guest time is already counted in user time
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


def process_tree(root_pid: int, proc: str = "/proc") -> list[int]:
    """``root_pid`` and every process descended from it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name sits in parentheses and may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_rss_bytes(root_pid: int, proc: str = "/proc") -> int:
    """Resident set size summed over the process tree of ``root_pid``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root_pid, proc):
        try:
            with open(os.path.join(proc, str(pid), "statm")) as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_seconds(root_pid: int, proc: str = "/proc") -> float:
    """CPU time (user plus system, own plus reaped children) summed over
    the process tree of ``root_pid``. Time the hypervisor stole is not in
    it, so it reads the work done where wall time also reads contention."""
    ticks = 0
    for pid in process_tree(root_pid, proc):
        try:
            with open(os.path.join(proc, str(pid), "stat")) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the RSS of this process tree (driver JVM and Python
    workers included) on a background thread and keeps the peak."""

    def __init__(self, root_pid: int | None = None, interval_s: float = 0.2,
                 proc: str = "/proc"):
        self.root_pid = os.getpid() if root_pid is None else root_pid
        self.interval_s = interval_s
        self.proc = proc
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid, self.proc))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak
