"""Seeded inputs: same seed, same inputs; every seed, same counts.

    python3 -m pytest perfbench/test_data.py -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import data  # noqa: E402


def test_same_seed_same_inputs():
    a, b = data.images(40, 3), data.images(40, 3)
    assert a.equals(b)
    assert data.zipf_timeline(2000, 50, 40, 3).equals(data.zipf_timeline(2000, 50, 40, 3))
    assert not a["bytes"].equals(data.images(40, 4)["bytes"])


def test_every_seed_has_the_same_shape():
    shapes = set()
    for seed in range(4):
        im = data.images(100, seed)
        tl = data.zipf_timeline(5000, 100, 100, seed)
        shapes.add((
            tuple(im["fmt"].value_counts().sort_index()),
            len(im.drop_duplicates(subset=["bytes", "fmt"])),
            int((im["bytes"].map(len) == 0).sum()),
            int((tl["kind"] == "query").sum()),
            tuple(tl["entity_id"].value_counts().sort_index()),
        ))
    assert len(shapes) == 1


def test_timeline_from_events_shape():
    ev = data.events(1000, 20, 5)
    tl = data.timeline_from_events(ev, 30)
    assert list(tl["row_id"]) == list(ev["event_id"])
    assert (tl["image_id"].isna() == (tl["kind"] == "query")).all()
    assert tl["ts"].is_monotonic_increasing
