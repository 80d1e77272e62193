"""Process-tree accounting."""

import os
import subprocess
import sys

from perfbench import procstat


def test_tree_cpu_difference_counts_a_reaped_child_once():
    meter = procstat.TreeCpu(1)
    before = meter.total({1: 5.0, 2: 1.0}, {})
    # pid 2 exited with 1.25 s in all and was reaped into its parent's
    # cutime; the parent itself used 0.5 s more; pid 3 is new
    after = meter.total({1: 5.0 + 1.25 + 0.5, 3: 0.25}, {})
    assert after - before == 0.25 + 0.5 + 0.25


def test_tree_cpu_keeps_an_ended_jit_thread_subtracted():
    meter = procstat.TreeCpu(1)
    before = meter.total({1: 10.0}, {(1, 7): 2.0, (1, 8): 1.0})
    # thread 8 ended; its CPU stays in the JVM's total
    after = meter.total({1: 10.0 + 0.5 + 0.75}, {(1, 7): 2.5})
    assert after - before == 0.75


def test_tree_includes_children_and_their_memory():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        me = os.getpid()
        tree = procstat.descendants(me)
        assert tree[0] == me and child.pid in tree
        rss = procstat.tree_peak_rss_mb(me)
        assert rss["driver"] > 0 and rss["workers"] > 0
        assert rss["total"] == rss["driver"] + rss["jvm"] + rss["workers"]
        assert set(procstat.cpu_seconds(tree)) >= {me, child.pid}
        assert procstat.TreeCpu(me).read() > 0
    finally:
        child.kill()
        child.wait()
    assert not procstat.is_alive(child.pid)


def test_load_context_fields():
    ctx = procstat.load_context()
    assert ctx["nproc"] >= 1 and ctx["running_procs"] >= 0 and ctx["loadavg_1m"] >= 0
    steal, total = procstat.cpu_ticks()
    assert 0 <= steal <= total and total > 0
