"""Process-tree CPU and memory accounting from ``/proc``.

The engine runs as three kinds of process: this driver, the JVM it
launches, and the Python workers the JVM forks for pandas UDFs and
stateful functions.  CPU and RSS are therefore summed over every
descendant of the driver, not read from the driver alone.  CPU counts
only time the kernel charged to these processes (user + system), so
time stolen by the hypervisor is excluded; ``steal_frac`` reports that
share separately.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(text: str) -> list[str]:
    # comm (field 2) may contain spaces and parentheses: split after the last ')'
    return text[text.rindex(")") + 2 :].split()


def parse_stat(text: str) -> tuple[int, float]:
    """(ppid, cpu seconds) from one ``/proc/<pid>/stat`` line.  CPU is
    utime + stime + cutime + cstime: a reaped child's time moves into its
    parent's c-fields, so a worker that exits between two reads is still
    counted once, by the parent that waited for it."""
    f = _stat_fields(text)
    ppid = int(f[1])
    utime, stime, cutime, cstime = (int(x) for x in f[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                ppid, _ = parse_stat(fh.read())
        except (OSError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None, proc: str = "/proc") -> float:
    """User + system CPU seconds of ``root``'s process tree so far."""
    total = 0.0
    for pid in tree_pids(root or os.getpid(), proc):
        try:
            with open(f"{proc}/{pid}/stat") as fh:
                total += parse_stat(fh.read())[1]
        except (OSError, ValueError):
            continue
    return total


# comm names (truncated to 15 bytes) of HotSpot's JIT compiler threads
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_threads_cpu(root: int | None = None, proc: str = "/proc") -> dict[tuple[int, int], float]:
    """CPU seconds of every JIT compiler thread in ``root``'s tree, keyed
    by (pid, tid)."""
    out = {}
    for pid in tree_pids(root or os.getpid(), proc):
        try:
            tids = os.listdir(f"{proc}/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"{proc}/{pid}/task/{tid}/stat") as fh:
                    text = fh.read()
            except OSError:
                continue
            if text[text.index("(") + 1 : text.rindex(")")] in _JIT_THREADS:
                f = _stat_fields(text)
                out[(pid, int(tid))] = (int(f[11]) + int(f[12])) / _TICK
    return out


def jit_delta_s(before: dict, after: dict) -> float:
    """JIT CPU spent between two ``jit_threads_cpu`` reads.  A compiler
    thread started in between counts from zero; one that exited in
    between is not counted (HotSpot retires idle compiler threads)."""
    return sum(v - before.get(k, 0.0) for k, v in after.items())


def tree_rss_mb(root: int | None = None, proc: str = "/proc") -> float:
    """Summed resident set size of ``root``'s process tree, in MB."""
    total = 0
    for pid in tree_pids(root or os.getpid(), proc):
        try:
            with open(f"{proc}/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return total * _PAGE / 1e6


def host_cpu_ticks(proc: str = "/proc") -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's aggregate ``cpu`` line."""
    with open(f"{proc}/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user, so it is not added again.
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def process_age_s(proc: str = "/proc") -> float:
    """Seconds since this process was started (exec), from ``/proc``."""
    with open(f"{proc}/self/stat") as fh:
        start_ticks = int(_stat_fields(fh.read())[19])
    with open(f"{proc}/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


class RssSampler:
    """Background sampler of the tree's summed RSS; keeps the peak."""

    def __init__(self, period_s: float = 0.1) -> None:
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
