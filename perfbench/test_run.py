"""The benchmark leaves no process of its own running when it ends.

    python3 -m pytest perfbench/test_run.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import procsample  # noqa: E402
import run  # noqa: E402

SLEEP = [sys.executable, "-c", "import time; time.sleep(60)"]
# a child that starts a grandchild and exits at once, leaving it running
ORPHAN = [sys.executable, "-c",
          "import subprocess, sys; subprocess.Popen([sys.executable, '-c', "
          "'import time; time.sleep(60)']); print('started', flush=True)"]


def test_end_descendants_kills_and_reaps_children():
    children = [subprocess.Popen(SLEEP) for _ in range(2)]
    t0 = time.time()
    run._end_descendants()
    assert time.time() - t0 < 30
    for c in children:
        assert not procsample.alive(c.pid)
        assert not os.path.exists(f"/proc/{c.pid}")  # reaped, not a zombie


def test_end_pids_waits_for_a_process_that_is_not_a_child():
    parent = subprocess.Popen(ORPHAN, stdout=subprocess.PIPE, text=True)
    assert parent.stdout.readline().strip() == "started"
    grandchild = [p for p in procsample.tree_pids(parent.pid) if p != parent.pid]
    parent.wait(timeout=30)
    run._end_pids(grandchild, grace_s=0.2)
    assert grandchild and not any(procsample.alive(p) for p in grandchild)


def test_expected_features_leave_no_resource_tracker():
    from multiprocessing import resource_tracker

    import data
    import expected

    feats, _ = expected.image_features(data.images(4, 1), procs=2)
    assert len(feats) == 4
    assert resource_tracker._resource_tracker._pid is None
