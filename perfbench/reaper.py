"""Run the benchmark in a child process and leave no process behind.

PySpark starts a JVM that outlives the Python process which started it by
a few seconds (it exits only when it sees its stdin close), and the JVM
starts Python worker daemons in process groups of their own. So the
benchmark runs in a child, and this process, marked as a child subreaper,
inherits every orphaned descendant. When the child has ended, it gives the
descendants a grace period to end by themselves, then signals them, and
returns only when every one has been reaped.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

WORKER_ENV = "PERFBENCH_WORKER"
PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 30  # JVM shutdown hooks run in this time
TERM_S = 10


def is_worker() -> bool:
    return os.environ.get(WORKER_ENV) == "1"


def run_supervised(script: str, argv: list[str]) -> int:
    """Run ``script argv`` as a worker; return its exit code once it and
    every process it started have ended."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"[perfbench] cannot become a subreaper (errno {ctypes.get_errno()}); "
              "orphaned descendants are still stopped, but only those found in time",
              file=sys.stderr, flush=True)
    env = dict(os.environ, **{WORKER_ENV: "1"})

    def interrupted(signum, _frame):
        raise KeyboardInterrupt(signal.Signals(signum).name)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, interrupted)
    grace, rc = GRACE_S, 1
    try:
        child = subprocess.Popen([sys.executable, script, *argv], env=env)
        rc = child.wait()
    except KeyboardInterrupt:
        grace = 0
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        stop_descendants(grace)
    return rc


def stop_descendants(grace: float) -> None:
    """Wait up to ``grace`` seconds for every descendant to end, then
    SIGTERM the rest, and SIGKILL what is left after ``TERM_S`` more."""
    t0 = time.monotonic()
    sent = None
    while True:
        _reap_ended()
        left = descendants(os.getpid())
        if not left:
            return
        waited = time.monotonic() - t0
        want = (signal.SIGKILL if waited >= grace + TERM_S
                else signal.SIGTERM if waited >= grace else None)
        if want is not None and want != sent:
            for pid in left:
                try:
                    os.kill(pid, want)
                except ProcessLookupError:
                    pass
            sent = want
        time.sleep(0.05)


def _reap_ended() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def descendants(root: int) -> list[int]:
    """Every live or zombie process below ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
