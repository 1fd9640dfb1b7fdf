"""Run the benchmark in a child process and end every process it leaves.

The Spark JVM outlives the Python driver that started it: it exits only
once it reads end-of-file on the pipe the driver held, and then runs its
shutdown hooks. The JVM's Python workers outlive the JVM in the same
way. :func:`supervise` starts the benchmark as a child in a session of
its own, marks itself a child subreaper (Linux), so every orphaned
descendant is re-parented to it, and returns only once it has reaped
them all. Whatever the child ends with, nothing it started is left.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time

CHILD_ENV = "PERFBENCH_CHILD"
WORK_ENV = "PERFBENCH_WORK"
PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 5.0  # time left to descendants to exit on their own before SIGKILL


def _become_subreaper() -> None:
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            out.append(int(name))
    return out


def _reap_all() -> bool:
    """Reap every exited child; True once no child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            return False


def end_descendants(pgid: int, grace_s: float) -> None:
    """Wait up to ``grace_s`` for every descendant to exit, then SIGKILL
    what is left, until none is left."""
    deadline = time.monotonic() + grace_s
    while not _reap_all():
        if time.monotonic() > deadline:
            with contextlib.suppress(ProcessLookupError, PermissionError):
                os.killpg(pgid, signal.SIGKILL)
            for pid in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.02)


def supervise(script: str, argv: list[str], work: str) -> int:
    """Run ``script argv`` as a child with ``work`` as its work directory;
    return its exit code once it and all its descendants have ended."""
    _become_subreaper()
    env = dict(os.environ, **{CHILD_ENV: "1", WORK_ENV: work})
    child = subprocess.Popen([sys.executable, script, *argv], env=env, start_new_session=True)

    def forward(signum, _frame):
        with contextlib.suppress(ProcessLookupError):
            os.killpg(child.pid, signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, forward)
    try:
        rc = child.wait()
    finally:
        end_descendants(child.pid, GRACE_S)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still be using it
            os.rmdir(os.path.dirname(work))
    return rc if rc >= 0 else 128 - rc
