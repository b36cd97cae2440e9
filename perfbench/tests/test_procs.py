"""Process-tree helpers: CPU of a session, worker RSS, and teardown of
children that leave processes behind or hang."""

import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import procs  # noqa: E402

PY = sys.executable
BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"
# parent + child burning CPU in the parent's (new) session
TWO_BURNERS = (
    "import subprocess, sys\n"
    "c = subprocess.Popen([sys.executable, '-c', {burn!r}])\n"
    "exec({burn!r})\n"
    "c.wait()\n"
    "print('done', flush=True)\n"
    "import time; time.sleep(30)\n")


def _wait_for(pred, timeout=20.0):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(0.05)
    return False


def test_tree_cpu_counts_every_process_of_the_session():
    code = TWO_BURNERS.format(burn=BURN.format(s=0.5))
    p = subprocess.Popen([PY, "-c", code], start_new_session=True,
                         stdout=subprocess.PIPE)
    try:
        assert p.stdout.readline() == b"done\n"
        # the child was reaped by its parent: its CPU is in cutime
        assert procs.session_pids(p.pid) == [p.pid]
        assert procs.tree_cpu_s(p.pid) >= 0.9
    finally:
        procs.kill_session(p.pid)
        p.wait()


def test_rss_sampler_sees_a_worker_but_not_the_driver():
    code = ("import subprocess, sys, time\n"
            "c = subprocess.Popen([sys.executable, '-c', "
            "'b = bytearray(200 << 20); import time; time.sleep(30)'])\n"
            "time.sleep(30)\n")
    p = subprocess.Popen([PY, "-c", code], start_new_session=True)
    try:
        with procs.WorkerRssSampler(p.pid, driver_pid=p.pid,
                                    interval=0.02) as s:
            s.active.set()
            assert _wait_for(lambda: s.peak_mb >= 200)
    finally:
        procs.kill_session(p.pid)
        p.wait()


def test_run_child_kills_and_counts_what_outlives_the_child():
    code = ("import subprocess, sys\n"
            "subprocess.Popen([sys.executable, '-c', "
            "'import time; time.sleep(60)'])\n")
    before = set(procs.descendants(os.getpid()))
    rc, survivors = procs.run_child([PY, "-c", code], timeout_s=30)
    assert (rc, survivors) == (0, 1)
    assert set(procs.descendants(os.getpid())) <= before


def test_run_child_timeout_kills_the_tree():
    code = ("import subprocess, sys, time\n"
            "subprocess.Popen([sys.executable, '-c', "
            "'import time; time.sleep(60)'])\n"
            "time.sleep(60)\n")
    t0 = time.monotonic()
    rc, survivors = procs.run_child([PY, "-c", code], timeout_s=1.0)
    assert time.monotonic() - t0 < 10
    assert rc != 0 and survivors == 1


def test_alive_tells_a_reused_pid_apart():
    p = subprocess.Popen([PY, "-c", "import time; time.sleep(30)"])
    try:
        start = procs.descendants(os.getpid())[p.pid]
        assert procs.alive(p.pid, start)
        assert not procs.alive(p.pid, str(int(start) + 1))
    finally:
        p.kill()
        p.wait()
    assert not procs.alive(p.pid, start)
