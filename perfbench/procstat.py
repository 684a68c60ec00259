"""Process counters from ``/proc``: peak resident memory and bytes written.

The driver process is this Python interpreter; the JVM is its child
(PySpark launches it through ``spark-submit``).  Both are found by walking
``/proc/<pid>/stat`` parent links, so no extra package is needed.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of to
    init, so that ``stop_descendants`` still finds a process whose parent
    (``spark-submit``, the JVM) has already exited, and can reap it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 30.0) -> None:
    """End every descendant of this process and wait until each has ended.

    Descendants first get ``grace_s`` seconds to exit on their own, then
    SIGTERM (a JVM runs its shutdown hooks on it) and as long again, then
    SIGKILL.  The call returns once no descendant is left, reaped ones
    included."""
    me = os.getpid()
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, grace_s), (signal.SIGKILL, 60.0)):
        for pid in children(me) if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while True:
            _reap()
            if not children(me):
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    raise RuntimeError(f"processes still running: {children(me)}")


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids) -> float:
    """Sum of each process's peak resident set (``VmHWM``), in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def write_bytes(pid: int) -> int:
    """Bytes the process caused to be written to storage so far."""
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return total
