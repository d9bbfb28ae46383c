"""The /proc sampler counts CPU of children after they are reaped.

    python3 -m pytest perfbench/test_procsample.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procsample  # noqa: E402

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"


def test_reaped_child_cpu_is_counted():
    before = procsample.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", BURN], check=True, timeout=60)
    assert procsample.tree_cpu_s(os.getpid()) - before >= 0.45


def test_live_child_is_in_the_tree():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in procsample.tree_pids(os.getpid())
        assert procsample.alive(child.pid)
        jvm, python = procsample.tree_memory_bytes(os.getpid())
        assert jvm == 0 and python > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert not procsample.alive(child.pid)
