"""Measurement helpers shared by every workload: order statistics, the
operation ledger behind ``attempted``/``failed``, process memory read from
``/proc``, bytes that land on disk and the shutdown of every process a run
started.

Nothing here starts Spark; the tests import this module on its own.
"""

from __future__ import annotations

import os
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field


# ------------------------------------------------------------------ stats
def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float, bool]:
    """The highest percentile that has at least ``beyond`` samples above it.

    Returns ``(percentile, value, supported)``. With ``n`` samples sorted
    ascending, the answer is the sample at 0-based rank ``n - beyond - 1``
    (exactly ``beyond`` samples rank after it) and its percentile is
    ``100 * (n - beyond) / n``. When ``n <= beyond`` no percentile has that
    many samples beyond it; the maximum is returned with ``supported`` False
    so the caller can say so.
    """
    if not samples:
        raise ValueError("tail_percentile of an empty sample")
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return 100.0, xs[-1], False
    rank = n - beyond - 1
    return 100.0 * (rank + 1) / n, xs[rank], True


# ----------------------------------------------------------------- ledger
@dataclass
class OpLedger:
    """Counts checked operations. An operation fails when it raises or when
    its output check returns a problem description."""

    attempted: int = 0
    failed: int = 0
    check_s: float = 0.0
    problems: list[str] = field(default_factory=list)

    def record(self, name: str, check) -> bool:
        """Run ``check()`` (outside any timed span) and count the operation.
        ``check`` returns None when the output is correct, else a string."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            problem = check()
        except Exception:
            problem = "check raised:\n" + traceback.format_exc()
        self.check_s += time.perf_counter() - t0
        if problem:
            self.failed += 1
            self.problems.append(f"{name}: {problem}")
            print(f"[perfbench] FAILED {name}: {problem}", file=sys.stderr)
            return False
        return True

    def fail(self, name: str, why: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(f"{name}: {why}")
        print(f"[perfbench] FAILED {name}: {why}", file=sys.stderr)

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


class Stopwatch:
    """Accumulates the wall time of the timed operations only."""

    def __init__(self):
        self.samples: list[float] = []

    def time(self, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.samples.append(time.perf_counter() - t0)

    @property
    def total(self) -> float:
        return sum(self.samples)


# ----------------------------------------------------------------- memory
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Every live process whose parent chain reaches ``pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def adopt_orphans() -> bool:
    """Make this process the subreaper of its descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a process whose parent exits is re-parented
    here instead of to init, so ``stop_descendants`` can still see it and
    reap it. Returns False where the call is unavailable."""
    try:
        import ctypes

        return ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def stop_descendants(grace_s: float = 30.0, kill_s: float = 15.0) -> list[int]:
    """Wait until no process started from this one is left, reaping each.

    Descendants get ``grace_s`` seconds to exit on their own, then SIGTERM,
    then after ``kill_s`` more seconds SIGKILL. Returns the pids that had to
    be signalled."""
    me = os.getpid()
    t0 = time.monotonic()
    signalled: dict[int, int] = {}
    while True:
        _reap()
        alive = descendants(me)
        if not alive:
            return sorted(signalled)
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > grace_s + kill_s
               else signal.SIGTERM if waited > grace_s else None)
        for pid in alive:
            if sig is not None and signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                    signalled[pid] = sig
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class PeakRss:
    """Peak resident memory of a JVM plus its Python workers: the sum, over
    the JVM and every descendant process seen at any sample, of that
    process's ``VmHWM`` (its own high-water mark, kept by the kernel).
    A process that starts and exits between two samples is missed."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.hwm_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in (self.jvm_pid, *descendants(self.jvm_pid)):
            kb = _status_kb(pid, "VmHWM")
            if kb > self.hwm_kb.get(pid, 0):
                self.hwm_kb[pid] = kb

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0

    def breakdown(self) -> str:
        jvm = self.hwm_kb.get(self.jvm_pid, 0) / 1024.0
        others = [kb / 1024.0 for pid, kb in self.hwm_kb.items() if pid != self.jvm_pid]
        return f"jvm {jvm:.0f} MB + {len(others)} python processes {sum(others):.0f} MB"


# ------------------------------------------------------------------ bytes
def file_states(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (size, inode, mtime_ns) for every regular file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def landed_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two snapshots."""
    return sum(st[0] for p, st in after.items() if before.get(p) != st)


def tree_bytes(root: str) -> int:
    return sum(st[0] for st in file_states(root).values())
