"""The /proc sampler sees descendants, their CPU after they exit, and peak RSS."""

import subprocess
import sys
import time

import procstat

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"


def test_tree_contains_child_and_grandchild():
    # child forks a grandchild; both must be in this process's tree, also
    # when a sample was taken before they started
    procstat.tree()
    code = ("import subprocess, sys, time\n"
            "p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(3)'])\n"
            "time.sleep(3); p.wait()\n")
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            procs = procstat.tree()
            kids = [p for p, (ppid, _c) in procs.items() if ppid == child.pid]
            if kids:
                break
            time.sleep(0.05)
        assert child.pid in procs
        assert kids, "grandchild not found in the tree"
    finally:
        child.kill()
        child.wait(timeout=10)


def test_cpu_of_exited_children_is_counted():
    before = procstat.Sampler().cpu_s()
    subprocess.run([sys.executable, "-c", _BURN], check=True, timeout=30)
    after = procstat.Sampler().cpu_s()
    # the child burned 0.5 s of CPU and was reaped by this process
    assert after - before >= 0.4


def test_peak_memory_sees_a_child_allocation():
    code = "b = b'x' * (200 * 1024 * 1024)\nimport time; time.sleep(1.0)\n"
    with procstat.Sampler(interval_s=0.05) as s:
        s.sample_memory()
        base = s.peak_pss_mb
        subprocess.run([sys.executable, "-c", code], check=True, timeout=30)
    assert s.peak_pss_mb - base >= 150


def test_pss_counts_pages_shared_by_a_fork_once():
    # a forked child shares the parent's 200 MB: RSS counts it twice, PSS once
    code = ("import os, time\n"
            "b = b'x' * (200 * 1024 * 1024)\n"
            "pid = os.fork()\n"
            "time.sleep(1.5)\n"
            "if pid: os.waitpid(pid, 0)\n")
    with procstat.Sampler(interval_s=0.1) as s:
        s.sample_memory()
        base = s.peak_pss_mb
        subprocess.run([sys.executable, "-c", code], check=True, timeout=30)
    assert 150 <= s.peak_pss_mb - base <= 300


def test_python_worker_pids_match_on_command_line():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(3)",
                              "pyspark.daemon"])
    try:
        time.sleep(0.3)
        assert child.pid in procstat.python_worker_pids(procstat.tree())
    finally:
        child.kill()
        child.wait(timeout=10)
