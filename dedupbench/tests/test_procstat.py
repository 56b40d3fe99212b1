"""The /proc sampler counts the whole process tree, children included."""

import subprocess
import sys
import time

import procstat

CHILD = "x = bytearray(64 * 2**20)\nimport time\nt = time.time()\nwhile time.time() - t < {busy}: pass\ntime.sleep({idle})"
PARENT = (
    "import subprocess, sys\n"
    "kids = [subprocess.Popen([sys.executable, '-c', {child!r}]) for _ in range(2)]\n"
    "[k.wait() for k in kids]\n"
    "import time; time.sleep({tail})\n"
)


def test_tree_rss_and_cpu_include_children():
    code = PARENT.format(child=CHILD.format(busy=0.6, idle=1.0), tail=1.5)
    p = subprocess.Popen([sys.executable, "-c", code])
    try:
        with procstat.TreeSampler(p.pid, interval=0.05) as s:
            time.sleep(1.2)
            assert len(procstat.tree_pids(p.pid)) == 3
            # the children have exited and been reaped: their CPU lives on
            # in the parent's cutime
            time.sleep(1.3)
            cpu, _ = procstat.tree_usage(p.pid)
            p.wait(timeout=30)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    assert p.returncode == 0
    # two children each touched 64 MB
    assert s.peak_rss_mb > 2 * 64
    assert cpu >= 2 * 0.5
    assert s.tree_cpu_s >= 2 * 0.5


def test_host_counters_move():
    a = procstat.host_busy_seconds()
    t = time.time()
    while time.time() - t < 0.3:
        pass
    assert procstat.host_busy_seconds() > a
    assert procstat.load1() >= 0
