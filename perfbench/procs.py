"""Every process a run starts ends before the run does.

The measured process starts a JVM, the JVM starts the pyspark daemon, and
the daemon forks one Python worker per task slot in its own process group.
When the measured process exits, the JVM and the daemon shut down on their
own, but a few seconds later. ``run.py`` therefore makes itself the
subreaper of everything below it (orphans are re-parented to it, not to
init), and before it returns it stops and reaps every descendant that is
still there: SIGTERM first, SIGKILL for what outlives the grace period.

Plain Python, Linux only (``prctl``, ``/proc``).
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Re-parent orphaned descendants to this process instead of init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _live_parents() -> dict[int, int]:
    """pid → ppid of every process that is not a zombie."""
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended while we listed
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        if state != "Z":
            parents[int(name)] = int(ppid)
    return parents


def descendants() -> list[int]:
    """Live processes whose chain of parents leads to this one."""
    me = os.getpid()
    parents = _live_parents()
    out = []
    for pid in parents:
        p = pid
        for _ in range(len(parents)):
            p = parents.get(p, 0)
            if p in (me, 0, 1):
                break
        if p == me:
            out.append(pid)
    return out


def _reap() -> bool:
    """Collect every exited child; True while any child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def stop_descendants(grace_s: float = 10.0, limit_s: float = 30.0) -> None:
    """SIGTERM every descendant, SIGKILL what outlives ``grace_s``, and wait
    until each one has ended and been reaped (at most ``limit_s``)."""
    start = time.monotonic()
    termed: set[int] = set()
    while True:
        children = _reap()
        live = descendants()
        if not live and not children:
            return
        waited = time.monotonic() - start
        if waited > limit_s:
            print(f"perfbench: processes {live} did not end", file=sys.stderr)
            return
        sig = signal.SIGKILL if waited > grace_s else signal.SIGTERM
        for pid in live:
            if sig == signal.SIGKILL or pid not in termed:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                termed.add(pid)
        time.sleep(0.05)
