"""Process-tree helpers read straight from /proc: session membership,
CPU time, resident memory, and teardown of a whole session.

Every benchmark child is started in a session of its own
(``start_new_session=True``), so the session id groups the child, the
JVM it launches and the JVM's Python workers.  ``setpgid`` inside the
PySpark daemon moves workers to another process group but never to
another session, which is why membership is by session, not by group.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (index 0 is
    the state), or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    return raw[raw.rfind(")") + 2:].split()


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        # fields: 0 state, 1 ppid, 2 pgrp, 3 session
        if f is not None and int(f[3]) == sid and f[0] != "Z":
            out.append(int(name))
    return out


def descendants(root: int) -> dict[int, str]:
    """Every live descendant of ``root``, across sessions, as
    {pid: start time}; the start time tells a pid reused later apart."""
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None and f[0] != "Z":
                children.setdefault(int(f[1]), []).append(int(name))
                start[int(name)] = f[19]
    out, todo = {}, [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = start[c]
            todo.append(c)
    return out


def alive(pid: int, start: str) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z" and f[19] == start


def tree_cpu_s(sid: int) -> float:
    """User+system CPU of every live process in the session, including
    the CPU of children they have already reaped (cutime/cstime), so a
    Python worker that exits and is waited for still counts."""
    total = 0
    for pid in session_pids(sid):
        f = _stat_fields(pid)
        if f is not None:
            # fields 11..14: utime, stime, cutime, cstime
            total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return b"python" in os.path.basename(argv0)


class WorkerRssSampler:
    """Background thread: peak RSS (VmHWM, MB) of any Python process in
    the session other than ``driver_pid`` — i.e. the Spark Python
    daemon and its workers — while ``active`` is set.  VmHWM is each
    process's own high-water mark, so a peak between two samples of a
    live process is not missed."""

    def __init__(self, sid: int, driver_pid: int, interval: float = 0.05):
        self.sid, self.driver_pid, self.interval = sid, driver_pid, interval
        self.peak_kb = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if not self.active.is_set():
                continue
            for pid in session_pids(self.sid):
                if pid != self.driver_pid and _is_python(pid):
                    self.peak_kb = max(self.peak_kb,
                                       _status_kb(pid, "VmHWM:"))

    def __enter__(self) -> "WorkerRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def kill_session(sid: int, grace_s: float = 5.0) -> int:
    """SIGKILL every process in the session and wait until none is
    left (zombies are reaped by their parents or init).  Returns how
    many processes were found alive before the kill."""
    pids = session_pids(sid)
    found = len(pids)
    deadline = time.monotonic() + grace_s
    while pids:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            break
        time.sleep(0.05)
        pids = session_pids(sid)
    return found


class Interrupted(Exception):
    """Raised in the supervisor by SIGTERM/SIGINT so that ``finally``
    blocks tear children down."""


def raise_on_signals() -> None:
    def handler(signum, _frame):
        raise Interrupted(f"signal {signum}")
    signal.signal(signal.SIGTERM, handler)
    signal.signal(signal.SIGINT, handler)


def run_child(argv: list[str], timeout_s: float, env: dict | None = None,
              cwd: str | None = None, stdout=None) -> tuple[int, int]:
    """Run ``argv`` in a new session and wait at most ``timeout_s``.

    Whatever happens — normal exit, timeout, or an exception such as
    ``Interrupted`` — every process of the child's session is killed
    and waited for before this returns or re-raises.  Returns
    ``(returncode, survivors)``: survivors counts processes of the
    session still alive after the child itself exited, which is a
    teardown leak (a timed-out child's tree counts too)."""
    proc = subprocess.Popen(argv, env=env, cwd=cwd, stdout=stdout,
                            start_new_session=True)
    survivors = 0
    try:
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            rc = -signal.SIGKILL
            os.kill(proc.pid, signal.SIGKILL)
            proc.wait()
        # the child is reaped; anything left in its session leaked
        survivors = kill_session(proc.pid)
        return rc, survivors
    finally:
        if proc.returncode is None:
            proc.kill()
            proc.wait()
        kill_session(proc.pid)
