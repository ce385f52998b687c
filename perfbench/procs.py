"""Run a command so that no process it starts outlives it.

A PySpark driver leaves processes behind for a few seconds after it exits:
the Spark JVM stops only once it sees its stdin close, and
multiprocessing's resource tracker only once its pipe closes. A benchmark
run must not end while they live, so the runner executes in a child
process and this supervisor, made a child subreaper, collects every
descendant the child leaves: orphans are re-parented to the supervisor,
which signals them (SIGTERM, then SIGKILL after a grace period) and reaps
them before it returns.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def children() -> list[int]:
    """The live (or not yet reaped) processes whose parent is this one."""
    pid = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(name))
    return out


def _signal(pids: list[int], pgid: int, sig: int) -> None:
    try:
        os.killpg(pgid, sig)
    except OSError:
        pass
    for p in pids:
        try:
            os.kill(p, sig)
        except OSError:
            pass


def reap_descendants(pgid: int, grace_s: float = 10.0) -> None:
    """Signal and reap every descendant until none is left: SIGTERM first,
    so the JVM runs its shutdown hooks, and SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        while True:  # reap whatever has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = children()
        if not left:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        _signal(left, pgid, sig)
        time.sleep(0.05)


def run_supervised(cmd: list[str], env: dict[str, str] | None = None, grace_s: float = 10.0) -> int:
    """Run ``cmd`` in a session of its own and return its exit code once
    it and every process it started have ended. SIGTERM and SIGINT sent to
    the supervisor are passed on to the child's process group."""
    become_subreaper()
    child = subprocess.Popen(cmd, env=env, start_new_session=True)

    def forward(signum, _frame):
        try:
            os.killpg(child.pid, signum)
        except OSError:
            pass

    old = {s: signal.signal(s, forward) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        code = child.wait()
    finally:
        reap_descendants(child.pid, grace_s)
        for s, h in old.items():
            signal.signal(s, h)
    return code if code >= 0 else 128 - code
