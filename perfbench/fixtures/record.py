"""Record the event-log fixture that ``perfbench/test_eventlog.py`` reads.

Run from the repository root::

    python3 perfbench/fixtures/record.py

It runs ``point_in_time_features`` once on 24 seeded images and a
70k-event timeline (more than 50k observations, so the ``auto`` strategy
runs its count job and picks the shuffle as-of path) on ``local[2]`` with
the Spark event log on, under job group ``job.0``.  The events
``eventlog.py`` reads are kept and gzipped into ``pit_small.eventlog.json.gz``.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
KEEP = {
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
}
N_IMAGES, N_EVENTS, SEED = 24, 70_000, 7


def main() -> None:
    sys.path[:0] = [os.path.dirname(HERE), ROOT]
    import data
    from pic2vec_spark.pipeline import point_in_time_features
    from pic2vec_spark.session import get_spark

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        spark = get_spark("record", parallelism=2, extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        })
        data.timeline_from_events(data.events(N_EVENTS, 200, SEED), N_IMAGES) \
            .to_parquet(f"{work}/timeline.parquet", index=False)
        images = spark.createDataFrame(data.images(N_IMAGES, SEED))
        spark.sparkContext.setJobGroup("job.0", "job.0")
        out = point_in_time_features(images, spark.read.parquet(f"{work}/timeline.parquet"))
        out.write.format("noop").mode("overwrite").save()
        spark.stop()
        (log,) = [f for f in os.listdir(work) if f.startswith("local-")]
        with open(os.path.join(work, log)) as src, \
                gzip.open(os.path.join(HERE, "pit_small.eventlog.json.gz"), "wt") as dst:
            for line in src:
                if json.loads(line)["Event"] in KEEP:
                    dst.write(line)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
