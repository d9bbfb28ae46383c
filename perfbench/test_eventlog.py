"""Event-log parser test against a log recorded from a real run.

The fixture is one ``point_in_time_features`` job (24 images, 70k-event
timeline, shuffle as-of path) recorded by ``fixtures/record.py``.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import data  # noqa: E402
import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "pit_small.eventlog.json.gz")


def _job_stages():
    events = eventlog.load(FIXTURE)
    return events, [s for s in eventlog.stages(events) if s.group == "job.0"]


def test_every_pipeline_layer_is_found():
    _, stages = _job_stages()
    layers = {s.layer for s in stages}
    assert {"featurize.dedup", "featurize.udf", "featurize.joinback",
            "pipeline.observations", "ops.asof", "pipeline.strategy_count"} <= layers


def test_attribution_covers_the_cpu():
    _, stages = _job_stages()
    total = sum(s.cpu_s for s in stages)
    unattributed = sum(s.cpu_s for s in stages if s.layer is None)
    assert total > 0
    assert unattributed / total <= 0.1


def test_udf_metrics_are_read():
    _, stages = _job_stages()
    udf = [s for s in stages if s.layer == "featurize.udf"]
    assert sum(s.python_s for s in udf) > 0
    assert sum(s.acc.get(eventlog.PY_SENT, 0) for s in udf) > 0
    assert sum(s.acc.get(eventlog.PY_BACK, 0) for s in udf) > 0
    # the UDF sees each distinct content exactly once
    images = data.images(24, 7)
    distinct = len(images.drop_duplicates(subset=["bytes", "fmt"]))
    rows = sum(s.op_metric(r"^MapInPandas run\(__digest", "number of output rows") for s in udf)
    assert rows == distinct
    assert all(len(s.task_run_ms) > 0 for s in udf)


def test_strategy_count_job_is_timed():
    events, stages = _job_stages()
    assert eventlog.job_seconds(events, stages, "pipeline.strategy_count", "job.") > 0
    assert eventlog.job_seconds(events, stages, "pipeline.strategy_count", "other.") == 0


def test_skew():
    assert eventlog.skew([]) == 0.0
    assert eventlog.skew([2.0, 2.0, 2.0]) == 1.0
    assert eventlog.skew([1.0, 2.0, 6.0]) == 3.0
    assert eventlog.skew([0.0, 1.0, 3.0]) == 1.5
