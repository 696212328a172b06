"""Runs a command in a session of its own and, however it ends, stops
every process it left behind and waits until each has ended.

A PySpark driver leaves processes behind by design: the Spark JVM exits
only once its stdin pipe to the driver closes, i.e. after the driver has
exited, and the JVM's Python worker daemon exits after that in turn.
Every process of the child's session is found in ``/proc``; the caller
becomes the child subreaper (Linux), so those orphans are re-parented to
it and it reaps them.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Orphaned descendants re-parent to this process (Linux only)."""
    try:
        ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def session_procs(session: int) -> list[tuple[int, str, int]]:
    """(pid, state, ppid) of every process in ``session``."""
    out = []
    try:
        pids = [int(p) for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return out
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # ended meanwhile
        if int(fields[3]) == session:
            out.append((pid, fields[0], int(fields[1])))
    return out


def stop_all(session: int, grace_s: float, term_s: float = 5.0) -> None:
    """Waits up to ``grace_s`` for the session's processes to end on
    their own, then sends SIGTERM, and SIGKILL ``term_s`` later; returns
    once none is left, having reaped those that were re-parented here."""
    t0, sig, me = time.time(), None, os.getpid()
    while True:
        left = []
        for pid, state, ppid in session_procs(session):
            if state in ("Z", "X"):
                if ppid == me:
                    try:
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass
            else:
                left.append(pid)
        if not left:
            return
        waited = time.time() - t0
        want = signal.SIGKILL if waited > grace_s + term_s else signal.SIGTERM if waited > grace_s else None
        if want is not None and want != sig:
            sig = want
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def run(cmd: list[str], env: dict, out_path: str, timeout_s: float, grace_s: float) -> int | None:
    """Runs ``cmd`` with its standard output sent to ``out_path``;
    returns its exit code (None if it ran past ``timeout_s`` and was
    killed) once no process of its session is left."""
    become_subreaper()
    with open(out_path, "wb") as out:
        proc = subprocess.Popen(cmd, env=env, stdout=out, start_new_session=True)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        return None
    finally:
        # a child that has not ended (timed out, or this process is being
        # stopped) is stopped at once, with its processes
        stop_all(proc.pid, grace_s if proc.returncode is not None else 0.0)
        if proc.returncode is None:
            proc.wait()
