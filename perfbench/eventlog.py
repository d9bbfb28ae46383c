"""Read a Spark event log and attribute each stage to an engine layer.

Spark writes one JSON event per line when ``spark.eventLog.enabled`` is
set.  This module needs four kinds of event:

- ``SparkListenerJobStart``/``JobEnd``: the job's stages, its times and its
  ``spark.jobGroup.id`` (the span id the benchmark sets around each call
  into a layer);
- ``SparkListenerStageCompleted``: the stage's accumulables, totalled
  over its tasks (CPU, run time, GC, shuffle, spill and the SQL metrics
  of every operator that ran in the stage);
- ``SparkListenerTaskEnd``: per-task run time and peak execution memory,
  for skew and memory high-water marks;
- the SQL execution start and adaptive-update events, whose plan trees
  map each SQL metric's accumulator id to the operator that owns it.

A stage is attributed to a layer by the operators it ran (``LAYER_RULES``,
first match wins).  Executor CPU time counts JVM threads only, so a
stage's CPU is taken as executor CPU plus the SQL metric "time to run
Python workers"; without it the featurize UDF would look nearly free.
"""

from __future__ import annotations

import gzip
import json
import re
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

# (layer, pattern over the stage's operator descriptions), first match wins
LAYER_RULES: tuple[tuple[str, str], ...] = (
    # point_in_time_features(asof_strategy="auto") counts the observations
    ("pipeline.strategy_count", r"HashAggregate\(keys=\[\], functions=\[(partial_)?count\(1\)\]\)"),
    ("featurize.udf", r"MapInPandas run\(__digest"),
    ("snapshots.write", r"write_(stream|group)\("),
    ("ops.asof", r"MapInPandas probe\(|__asof_side"),
    ("featurize.antijoin", r"Join \[__digest[^\n]*LeftAnti"),
    ("featurize.joinback", r"Join \[__digest"),
    ("featurize.dedup", r"Aggregate\(key=\[__digest"),
    ("pipeline.observations", r"Join \[image_id|hashpartitioning\(image_id"),
    ("ops.asof", r"hashpartitioning\(entity_id"),
)

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"


@dataclass
class Stage:
    stage_id: int
    job_id: int
    group: str
    ops: list[str]
    acc: dict[str, float]  # accumulable name -> stage total
    op_acc: list[tuple[str, str, float]]  # (operator, metric name, total)
    task_run_ms: list[float] = field(default_factory=list)
    task_peak_mem: list[float] = field(default_factory=list)
    layer: str | None = None

    @property
    def jvm_cpu_s(self) -> float:
        return self.acc.get("internal.metrics.executorCpuTime", 0.0) / 1e9

    @property
    def python_s(self) -> float:
        return self.acc.get(PY_RUN, 0.0) / 1e3

    @property
    def cpu_s(self) -> float:
        return self.jvm_cpu_s + self.python_s

    @property
    def shuffle_write_bytes(self) -> float:
        return self.acc.get("internal.metrics.shuffle.write.bytesWritten", 0.0)

    @property
    def shuffle_read_bytes(self) -> float:
        return self.acc.get("internal.metrics.shuffle.read.localBytesRead", 0.0) + \
            self.acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0.0)

    @property
    def spill_bytes(self) -> float:
        return self.acc.get("internal.metrics.memoryBytesSpilled", 0.0) + \
            self.acc.get("internal.metrics.diskBytesSpilled", 0.0)

    def op_metric(self, op_pattern: str, name: str) -> float:
        return sum(v for op, n, v in self.op_acc if n == name and re.search(op_pattern, op))


def load(path: str) -> list[dict]:
    """One event per line; ``.gz`` files are read through gzip."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _plan_ops(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        out[int(m["accumulatorId"])] = info["simpleString"]
    for child in info.get("children", ()):
        _plan_ops(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def classify(stage: Stage) -> str | None:
    if stage.group.startswith("relational."):
        return "ops.windows"
    text = "\n".join(stage.ops)
    for layer, pattern in LAYER_RULES:
        if re.search(pattern, text):
            return layer
    return None


def stages(events: list[dict]) -> list[Stage]:
    """Every completed stage, attributed to a layer (``None`` if no rule
    matched)."""
    acc_op: dict[int, str] = {}
    job_of_stage: dict[int, tuple[int, str]] = {}
    tasks: dict[int, list[dict]] = {}
    done: list[dict] = []
    for e in events:
        kind = e["Event"]
        if kind in (SQL_START, SQL_AQE):
            _plan_ops(e["sparkPlanInfo"], acc_op)
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in e["Stage IDs"]:
                job_of_stage[sid] = (e["Job ID"], group)
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e.get("Task Metrics") or {})
        elif kind == "SparkListenerStageCompleted":
            done.append(e["Stage Info"])
    out = []
    for info in done:
        sid = info["Stage ID"]
        job_id, group = job_of_stage.get(sid, (-1, ""))
        acc: dict[str, float] = {}
        op_acc = []
        for a in info.get("Accumulables", ()):
            name, value = a.get("Name", ""), _num(a.get("Value"))
            acc[name] = acc.get(name, 0.0) + value
            op = acc_op.get(int(a["ID"]))
            if op is not None:
                op_acc.append((op, name, value))
        st = Stage(
            stage_id=sid, job_id=job_id, group=group,
            ops=sorted({op for op, _, _ in op_acc}), acc=acc, op_acc=op_acc,
            task_run_ms=[_num(t.get("Executor Run Time")) for t in tasks.get(sid, ())],
            task_peak_mem=[_num(t.get("Peak Execution Memory")) for t in tasks.get(sid, ())],
        )
        st.layer = classify(st)
        out.append(st)
    return out


def job_seconds(events: list[dict], stages: list[Stage], layer: str, group_prefix: str) -> float:
    """Wall seconds of the jobs, in matching groups, whose completed stages
    are all attributed to ``layer``."""
    layers: dict[int, set] = {}
    for st in stages:
        if st.group.startswith(group_prefix):
            layers.setdefault(st.job_id, set()).add(st.layer)
    start: dict[int, float] = {}
    total = 0.0
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            start[e["Job ID"]] = e["Submission Time"]
        elif e["Event"] == "SparkListenerJobEnd" and layers.get(e["Job ID"]) == {layer}:
            total += (e["Completion Time"] - start[e["Job ID"]]) / 1e3
    return total


def skew(values: list[float]) -> float:
    """max / median of positive task run times (1.0 = perfectly even)."""
    vals = sorted(v for v in values if v > 0)
    if not vals:
        return 0.0
    mid = len(vals) // 2
    med = vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2
    return vals[-1] / med
