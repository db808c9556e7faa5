from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

from proctree import descendants, self_cpu_s, thread_cpu_s, tree_cpu, tree_peak_rss_mb

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 1.0:\n    pass\n"


def test_walk_counts_a_busy_live_child():
    before = tree_cpu(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", BUSY + "time.sleep(30)\n"])
    try:
        for _ in range(200):
            now = tree_cpu(os.getpid())
            if (now - before).children_s >= 0.9:
                break
            subprocess.run(["sleep", "0.05"], check=True)
        assert child.pid in descendants(os.getpid())
        assert (now - before).children_s >= 0.9
        assert tree_peak_rss_mb(os.getpid()) > 0
    finally:
        child.kill()
        child.wait(timeout=10)


def test_walk_keeps_a_reaped_child():
    before = tree_cpu(os.getpid())
    subprocess.run([sys.executable, "-c", BUSY], check=True, timeout=60)
    assert (tree_cpu(os.getpid()) - before).children_s >= 0.9


def test_self_cpu_excludes_children():
    before = self_cpu_s()
    subprocess.run([sys.executable, "-c", BUSY], check=True, timeout=60)
    assert self_cpu_s() - before < 0.5


def test_thread_cpu_counts_only_the_named_threads():
    pid = os.getpid()
    with open(f"/proc/{pid}/task/{threading.get_native_id()}/comm") as fh:
        name = fh.read().strip()
    before = thread_cpu_s(pid, name)
    t = time.process_time()
    while time.process_time() - t < 1.0:
        pass
    assert thread_cpu_s(pid, name) - before >= 0.9
    assert thread_cpu_s(pid, "no thread has this name") == 0


def test_thread_cpu_finds_the_jit_compiler_threads(spark):
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    assert thread_cpu_s(pid, "CompilerThre") > 0
