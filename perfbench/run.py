#!/usr/bin/env python3
"""The repository benchmark: point-in-time feature workloads on Spark.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload pit_cold --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

One run builds its inputs from ``--seed``, computes the expected outputs
without Spark, sets the engine up and runs a few untimed jobs while the
JVM compiles (process start to here, less the first two steps, is
``setup_s``), then runs one job at a time on ``local[nproc]`` for
``--seconds`` (a closed loop with one client) and checks every job's
output.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
runs with the Spark event log on and prints the per-layer metrics.  The
last line of standard output is one JSON object; the line before it is
the run record.  See ``perfbench/README.md`` for what each number means.
"""

from __future__ import annotations

import os

# one BLAS thread per process, as the engine sets for its Python workers;
# must precede the first numpy import (oracle pool and kernel replay)
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pit_cold", "pit_warm")
MIN_JOBS = 3  # timed jobs per run even when --seconds runs out first
TRACE_JOBS = 2  # timed jobs per session of a traced run

# the frozen headline relational set (bench.py RELATIONAL), timed in the
# traced pit_warm run (on pit_cold too it would push a traced run past two
# minutes)
RELATIONAL = (
    "asof_join", "asof_nearest", "lag_lead", "forward_fill", "sessionize",
    "session_stats", "sliding_1h", "tumbling_hourly", "topk_per_user",
    "pricing_summary", "top_customers",
)

N_IMAGES = 96
N_EVENTS, N_USERS = 100_000, 1_500  # the sf0.1 events shape


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Spans:
    """Benchmark-side spans: one per call into a layer, in memory."""

    def __init__(self):
        self.items: list[dict] = []

    def run(self, spark, name: str, fn):
        """Run ``fn`` under Spark job group ``name`` and record its span."""
        spark.sparkContext.setJobGroup(name, name)
        t0 = time.time()
        try:
            return fn()
        finally:
            self.items.append({"name": name, "start": t0, "end": time.time()})
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.items if s["name"] == name)


# --------------------------------------------------------------------------
# workloads


class Workload:
    """Inputs on disk, expected outputs, set-up and the unit of work.

    Subclasses define ``prepare_engine`` (set-up after the session is up)
    and ``job`` (the DataFrame one timed job writes)."""

    name = ""
    image_rows = N_IMAGES
    # untimed jobs before timing starts: the JVM spends ~20 CPU-s
    # JIT-compiling the job's code over its first jobs on 4 cores, and its
    # CPU per job falls ~5x meanwhile.  A fixed count puts every run's timed
    # jobs at the same point of that curve.  Compiled code outlives a
    # session, so a later session in the same process needs one job, for
    # its new Python workers.
    burn_in_jobs = 2

    def __init__(self, seed: int, work: str):
        import data

        self.seed = seed
        self.work = work
        self.images = data.images(self.image_rows, seed)
        self.timeline = self.make_timeline()
        os.makedirs(f"{work}/raw")
        self.timeline_path = f"{work}/raw/timeline.parquet"
        self.timeline.to_parquet(self.timeline_path, index=False)
        self.query_rows = int((self.timeline["kind"] == "query").sum())

    def make_timeline(self):
        raise NotImplementedError

    def compute_expected(self, procs: int) -> None:
        import expected

        feats, zero = expected.image_features(self.images, procs)
        self.expected = expected.point_in_time(self.timeline, feats, zero)
        self.width = self.expected.width

    def check(self, path: str) -> str | None:
        import expected

        return expected.check(path, self.expected)

    def images_df(self, spark, pdf):
        from pic2vec_spark.synth import IMAGES_SCHEMA

        schema = IMAGES_SCHEMA.__class__(
            [f for f in IMAGES_SCHEMA.fields if f.name in pdf.columns]
        )
        return spark.createDataFrame(pdf, schema=schema)

    def setup(self, spark, tag: str, spans: Spans) -> None:
        """Materialize the inputs through the engine and do the workload's
        own preparation."""
        from pic2vec_spark.snapshots import SnapshotTable

        self.image_table = SnapshotTable(f"{self.work}/{tag}/images", spark)
        spans.run(spark, "setup.snapshots.write",
                  lambda: self.image_table.write(self.images_df(spark, self.images)))
        self.prepare_engine(spark, tag, spans)

    def prepare_engine(self, spark, tag: str, spans: Spans) -> None:
        pass

    def job(self, spark):
        raise NotImplementedError

    def featurize_alone(self, spark):
        raise NotImplementedError

    def observations(self, spark, feats):
        from pyspark.sql import functions as F

        tl = spark.read.parquet(self.timeline_path)
        return (
            tl.filter((F.col("kind") == "feature") & F.col("image_id").isNotNull())
            .select("entity_id", "ts", "row_id", "image_id")
            .join(feats, "image_id", "left")
        )


class PitCold(Workload):
    """``point_in_time_features`` end to end: scan, digest dedup, decode
    and CNN UDF, join-back and the as-of join, all per job."""

    name = "pit_cold"

    def make_timeline(self):
        import data

        ev = data.events(N_EVENTS, N_USERS, self.seed)
        return data.timeline_from_events(ev, self.image_rows)

    def job(self, spark):
        from pic2vec_spark.pipeline import point_in_time_features

        return point_in_time_features(self.image_table.scan(), spark.read.parquet(self.timeline_path))

    def featurize_alone(self, spark):
        from pic2vec_spark.featurize import featurize_images

        return featurize_images(self.image_table.scan())


class PitWarm(Workload):
    """Features persisted during set-up by ``incremental_featurize``; each
    job is ``lookup_features`` plus the as-of join over a query-heavy,
    Zipf-skewed timeline.  The CNN does no work in a job."""

    name = "pit_warm"
    image_rows = 64  # only set-up runs the CNN; the timeline sets the job
    burn_in_jobs = 8  # all-JVM jobs of ~2 s: the JIT curve spans more of them

    def make_timeline(self):
        import data

        return data.zipf_timeline(N_EVENTS, N_USERS, self.image_rows, self.seed)

    def prepare_engine(self, spark, tag: str, spans: Spans) -> None:
        from pic2vec_spark.featurize import incremental_featurize
        from pic2vec_spark.snapshots import SnapshotTable

        self.feature_table = SnapshotTable(f"{self.work}/{tag}/features", spark)
        spans.run(spark, "setup.featurize.incremental",
                  lambda: incremental_featurize(self.image_table.scan(), self.feature_table))

    def job(self, spark):
        from pyspark.sql import functions as F

        from pic2vec_spark.featurize import lookup_features
        from pic2vec_spark.ops.asof import asof_join

        feats = lookup_features(self.image_table.scan(), self.feature_table).select(
            "image_id", "caption", "missing", "features"
        )
        queries = spark.read.parquet(self.timeline_path).filter(F.col("kind") == "query") \
            .select("entity_id", "ts", "row_id")
        return asof_join(queries, self.observations(spark, feats), on="entity_id", ts="ts",
                         value_cols=["image_id", "caption", "missing", "features"],
                         tiebreak="row_id")

    def featurize_alone(self, spark):
        from pic2vec_spark.featurize import lookup_features

        return lookup_features(self.image_table.scan(), self.feature_table)


# --------------------------------------------------------------------------
# one run


class Run:
    def __init__(self, args):
        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}"
        )
        self.spans = Spans()
        self.attempted = 0
        self.failures: list[str] = []
        self.plan_strategy = ""
        self.record_extra: dict = {}

    def session(self, traced: bool):
        from pic2vec_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
        }
        if traced:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark("perfbench", parallelism=self.nproc, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def run_job(self, spark, wl: Workload, group: str) -> tuple[float, float] | None:
        """One timed job; returns (wall s, tree CPU s), or None if it failed."""
        import expected
        from procsample import tree_cpu_s

        out = f"{self.work}/out"
        self.attempted += 1
        pid = os.getpid()
        c0, t0 = tree_cpu_s(pid), time.perf_counter()
        try:
            self.spans.run(spark, group, lambda: expected.checked_output(wl.job(spark), wl.width)
                           .write.mode("overwrite").parquet(out))
        except Exception as e:  # a failed job is counted, not fatal
            self.failures.append(f"{group}: {type(e).__name__}: {e}"[:500])
            return None
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(pid) - c0
        problem = wl.check(out)
        if problem is not None:
            self.failures.append(f"{group}: {problem}")
            return None
        return wall, cpu

    def burn_in(self, spark, wl: Workload, jobs: int) -> None:
        """Untimed jobs; their output is still checked."""
        for i in range(jobs):
            self.run_job(spark, wl, f"burnin.{i}")

    def timed_loop(self, spark, wl: Workload, seconds: float, min_jobs: int, group: str):
        """Jobs until ``seconds`` have passed and at least ``min_jobs`` ran."""
        walls, cpus = [], []
        t_end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < t_end or i < min_jobs:
            r = self.run_job(spark, wl, f"{group}.{i}")
            if r is not None:
                walls.append(r[0])
                cpus.append(r[1])
            i += 1
        return walls, cpus

    # ------------------------------------------------------------ untraced

    def end_to_end(self, wl: Workload) -> dict:
        from procsample import PeakRss, host_steal_s

        # set-up is cold: process start to the first timed job, so JVM
        # start, the session, the inputs written through the engine, the
        # workload's preparation and the burn-in (JIT, Python workers,
        # weight broadcast) all count; input generation and the expected
        # outputs (the benchmark's own work) do not
        t0 = _process_start() + self.pre_s
        spark = self.session(traced=False)
        t1 = time.time()
        wl.setup(spark, "s0", self.spans)
        t2 = time.time()
        self.burn_in(spark, wl, wl.burn_in_jobs)
        setup_s = time.time() - t0
        parts = {"session_s": t1 - t0, "inputs_s": t2 - t1, "burn_in_s": t0 + setup_s - t2}
        # host CPU steal and JVM GC time over the timed jobs: they tell a
        # slow run on a busy host from a slow run of the engine
        steal0, gc0 = host_steal_s(), _jvm_gc_s(spark)
        with PeakRss(os.getpid()) as rss:
            rss.reset()
            walls, cpus = self.timed_loop(spark, wl, self.args.seconds, MIN_JOBS, "job")
            peak, jvm_peak = rss.python_peak_mb, rss.jvm_peak_mb
        steal, gc = host_steal_s() - steal0, _jvm_gc_s(spark) - gc0
        self.plan_strategy = _asof_strategy(wl.job(spark))
        spark.stop()
        job_s = _median(walls)
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (job_s, "s"),
            "images_per_s": (wl.image_rows / job_s if job_s else 0.0, "1/s"),
            "query_rows_per_s": (wl.query_rows / job_s if job_s else 0.0, "1/s"),
            "cpu_s": (_median(cpus), "s"),
            "peak_rss_mb": (peak, "MB"),
        }
        self.record_extra = {
            "setup_parts_s": parts, "job_walls_s": walls, "job_cpu_s": cpus,
            "host_steal_s": steal, "jvm_gc_s": gc,
            "job_samples": len(walls), "peak_jvm_rss_mb": jvm_peak,
        }
        return metrics

    # -------------------------------------------------------------- traced

    def per_layer(self, wl: Workload) -> dict:
        import eventlog
        import replay

        # untraced sessions before and after the traced one, same process
        # and inputs: their mean is the base for trace.overhead_s, which
        # cancels the JIT speed-up still under way across the three
        out: dict[str, float] = {}
        base, spark = [], None
        for tag in ("base0", "traced", "base1"):
            if spark is not None:
                spark.stop()
            spark = self.session(traced=tag == "traced")
            wl.setup(spark, tag, self.spans)
            self.burn_in(spark, wl, wl.burn_in_jobs if tag == "base0" else 1)
            if tag == "traced":
                traced, _ = self.timed_loop(spark, wl, 0, TRACE_JOBS, "job")
                self.plan_strategy = _asof_strategy(wl.job(spark))
                self.forced_subplans(spark, wl, out)
                if wl.name == "pit_warm":
                    self.relational(spark, out)
            else:
                walls, _ = self.timed_loop(spark, wl, 0, TRACE_JOBS, tag)
                base.append(_median(walls))
        spark.stop()
        out["trace.overhead_s"] = _median(traced) - sum(base) / len(base)
        logs = os.listdir(f"{self.work}/eventlog")
        events = eventlog.load(os.path.join(f"{self.work}/eventlog", logs[0]))
        stages = eventlog.stages(events)
        out.update(layer_metrics(stages, events, wl, n_jobs=len(traced)))
        out.update(replay.replay(wl.images, per_format=12))
        self.record_extra = {
            "stages": [
                {"stage": s.stage_id, "group": s.group, "layer": s.layer,
                 "cpu_s": round(s.cpu_s, 4), "ops": [o.split(" ")[0] for o in s.ops]}
                for s in stages
            ],
            "spans": [{"name": s["name"], "s": round(s["end"] - s["start"], 4)}
                      for s in self.spans.items],
        }
        return out

    def forced_subplans(self, spark, wl: Workload, out: dict) -> None:
        """Each layer's public function forced on its own."""
        import pandas as pd
        from pyspark.sql import functions as F

        import data
        from pic2vec_spark.featurize import incremental_featurize
        from pic2vec_spark.ops.asof import asof_join
        from pic2vec_spark.snapshots import SnapshotTable

        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()

        self.spans.run(spark, "snapshots.scan", noop(wl.image_table.scan()))
        out["snapshots.scan_s"] = self.spans.seconds("snapshots.scan")
        feats = wl.featurize_alone(spark).select("image_id", "missing", "features")
        feats = self.spans.run(spark, "featurize.alone", lambda: feats.localCheckpoint(eager=True))
        out["featurize.alone_s"] = self.spans.seconds("featurize.alone")
        obs = wl.observations(spark, feats)
        obs = self.spans.run(spark, "materialize.observations",
                             lambda: obs.localCheckpoint(eager=True))
        queries = spark.read.parquet(wl.timeline_path).filter(F.col("kind") == "query") \
            .select("entity_id", "ts", "row_id")
        self.spans.run(spark, "asof.alone", noop(asof_join(
            queries, obs, on="entity_id", ts="ts",
            value_cols=["image_id", "missing", "features"], tiebreak="row_id")))
        out["asof.alone_s"] = self.spans.seconds("asof.alone")

        # append path: a fresh feature table, a base batch, then one batch
        # that re-sends half of the base content next to new images
        table = SnapshotTable(f"{self.work}/append_table", spark)
        base = data.images(64, self.args.seed + 20_000)
        new = data.images(32, self.args.seed + 20_000, id_offset=64)
        batch = pd.concat([base.iloc[:32].assign(image_id=lambda d: "re_" + d["image_id"]), new],
                          ignore_index=True)
        self.spans.run(spark, "snapshots.base",
                       lambda: incremental_featurize(wl.images_df(spark, base), table))
        before = table.manifest()
        self.spans.run(spark, "snapshots.append",
                       lambda: incremental_featurize(wl.images_df(spark, batch), table))
        after = table.manifest()
        old = {p["file"] for p in before["partitions"]}
        added = [p for p in after["partitions"] if p["file"] not in old]
        out["snapshots.append_s"] = self.spans.seconds("snapshots.append")
        out["snapshots.written_mb"] = sum(p["bytes"] for p in added) / 2**20
        out["snapshots.files_written"] = float(len(added))
        rows = sum(p["rows"] for p in after["partitions"])
        out["snapshots.stored_bytes_per_row"] = sum(p["bytes"] for p in after["partitions"]) / rows
        out["snapshots.manifest_kb"] = os.path.getsize(
            f"{self.work}/append_table/snapshots/{after['snapshot_id']}.json") / 1024
        stored = table.scan().select("__digest").toPandas()["__digest"]
        if stored.duplicated().any() or len(stored) != _distinct_content(base, new):
            self.failures.append("snapshots.append: stored digests are not the distinct content once")
        self.attempted += 1

    def relational(self, spark, out: dict) -> None:
        """The frozen relational set at sf0.1, each checked against its
        registered DuckDB oracle."""
        import duckdb

        import __spark_entry__ as em
        import data

        sf = f"{self.work}/sf"
        os.makedirs(sf)
        tables = data.relational_tables(self.args.seed)
        tables["events"] = data.events(N_EVENTS, N_USERS, self.args.seed)
        for name, pdf in tables.items():
            pdf.to_parquet(f"{sf}/{name}.parquet", index=False)
        qs, oracle = em.queries(), em.oracle_sql()
        con = duckdb.connect()
        try:
            for name in tables:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf}/{name}.parquet')")
            for q in RELATIONAL:
                self.attempted += 1
                try:
                    got = self.spans.run(spark, f"relational.{q}", lambda: qs[q](spark, sf).toPandas())
                except Exception as e:  # a failed query is counted, not fatal
                    self.failures.append(f"relational.{q}: {type(e).__name__}: {e}"[:500])
                    continue
                out[f"relational.{q}_s"] = self.spans.seconds(f"relational.{q}")
                if not _same_frame(got, con.execute(oracle[q]).fetchdf()):
                    self.failures.append(f"relational.{q}: differs from its DuckDB oracle")
        finally:
            con.close()

    # ------------------------------------------------------------------ main

    def main(self) -> dict:
        cls = {"pit_cold": PitCold, "pit_warm": PitWarm}[self.args.workload]
        load_before = os.getloadavg()
        os.makedirs(f"{self.work}/tmp", exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = f"{self.work}/local"
        os.environ["TMPDIR"] = f"{self.work}/tmp"
        t0 = time.perf_counter()
        wl = cls(self.args.seed, self.work)
        wl.compute_expected(self.nproc)
        self.pre_s = time.perf_counter() - t0
        if self.args.trace:
            values = self.per_layer(wl)
            units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
            metrics = {k: (values.get(k, 0.0), u) for k, u in units.items()}
        else:
            metrics = self.end_to_end(wl)
        record = {
            "workload": wl.name, "seed": self.args.seed, "seconds": self.args.seconds,
            "trace": self.args.trace, "nproc": self.nproc,
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "asof_strategy": self.plan_strategy, "inputs_and_expected_s": self.pre_s,
            "error_rate": len(self.failures) / max(self.attempted, 1),
            "failures": self.failures[:5], "versions": _versions(),
            "git_commit": _git_commit(), **self.record_extra,
        }
        print(json.dumps({"record": record}, default=float))
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }


# --------------------------------------------------------------------------
# helpers


def layer_metrics(stages, events, wl: Workload, n_jobs: int) -> dict:
    """Per-layer numbers from the traced jobs' stages, per job."""
    import eventlog

    jobs = [s for s in stages if s.group.startswith("job.")]

    def by(layer: str) -> list:
        return [s for s in jobs if s.layer == layer]

    per = 1.0 / max(n_jobs, 1)
    mb = 1.0 / 2**20
    udf, asof = by("featurize.udf"), by("ops.asof")
    cnn_rows = sum(s.op_metric(r"^MapInPandas run\(__digest", "number of output rows") for s in udf)
    distinct = sum(
        s.op_metric(r"Aggregate\(key=\[__digest#\d+\], functions=\[first", "number of output rows")
        for s in by("featurize.dedup")
    )
    total_cpu = sum(s.cpu_s for s in jobs)
    # with AQE an exchange's map side runs as its own job, so the bytes a
    # window moved are read where the Window operator runs
    windows = [s for s in stages if s.group.startswith("relational.")
               and any(o.startswith("Window") for o in s.ops)]
    out = {
        "featurize.input_rows": float(wl.image_rows),
        "featurize.distinct_digests": distinct * per,
        "featurize.cnn_rows": cnn_rows * per,
        "featurize.useful_ratio": cnn_rows * per / wl.image_rows,
        "featurize.udf_cpu_s": sum(s.jvm_cpu_s for s in udf) * per,
        "featurize.python_worker_s": sum(s.python_s for s in udf) * per,
        "featurize.to_python_mb": sum(s.acc.get(eventlog.PY_SENT, 0.0) for s in udf) * per * mb,
        "featurize.from_python_mb": sum(s.acc.get(eventlog.PY_BACK, 0.0) for s in udf) * per * mb,
        "featurize.udf_task_skew": eventlog.skew([t for s in udf for t in s.task_run_ms]),
        "featurize.dedup_shuffle_mb": sum(s.shuffle_write_bytes for s in by("featurize.dedup")) * per * mb,
        "featurize.joinback_shuffle_mb":
            sum(s.shuffle_write_bytes for s in by("featurize.joinback")) * per * mb,
        "pipeline.strategy_count_s":
            eventlog.job_seconds(events, stages, "pipeline.strategy_count", "job.") * per,
        "pipeline.asof_strategy": 1.0 if any(
            "probe(" in op for s in jobs for op in s.ops) else 0.0,
        "asof.cpu_s": sum(s.cpu_s for s in asof) * per,
        "asof.shuffle_write_mb": sum(
            s.op_metric(ASOF_EXCHANGE, "shuffle bytes written") for s in jobs) * per * mb,
        "asof.shuffle_read_mb": sum(
            s.op_metric(ASOF_EXCHANGE, "local bytes read") + s.op_metric(ASOF_EXCHANGE, "remote bytes read")
            for s in jobs) * per * mb,
        "asof.spill_mb": sum(s.spill_bytes for s in asof) * per * mb,
        "asof.peak_exec_mem_mb": max((m for s in asof for m in s.task_peak_mem), default=0.0) * mb,
        "asof.task_skew": eventlog.skew([t for s in asof for t in s.task_run_ms]),
        "windows.shuffle_mb": sum(s.shuffle_read_bytes for s in windows) * mb,
        "spark.jobs": len({s.job_id for s in jobs}) * per,
        "spark.tasks": sum(len(s.task_run_ms) for s in jobs) * per,
        "spark.executor_cpu_s": sum(s.jvm_cpu_s for s in jobs) * per,
        "spark.gc_s": sum(s.acc.get("internal.metrics.jvmGCTime", 0.0) for s in jobs) * per / 1e3,
        "spark.unattributed_cpu_frac":
            sum(s.cpu_s for s in jobs if s.layer is None) / total_cpu if total_cpu else 0.0,
    }
    for layer in sorted({s.layer for s in jobs if s.layer}):
        out[f"layer.{layer}.cpu_s"] = sum(s.cpu_s for s in by(layer)) * per
    return out


# the as-of join's entity exchange (the shuffle path's only exchange)
ASOF_EXCHANGE = r"^Exchange hashpartitioning\(entity_id"


def _jvm_gc_s(spark) -> float:
    """Seconds the driver JVM's garbage collectors have run so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def _asof_strategy(df) -> str:
    """Which as-of path the engine planned: the broadcast path probes
    with a ``probe`` mapInPandas, the shuffle path runs a window."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "broadcast" if "probe(" in plan else "shuffle"


def _distinct_content(*frames) -> int:
    import pandas as pd

    both = pd.concat(frames, ignore_index=True)
    return len(both.drop_duplicates(subset=["bytes", "fmt"]))


def _same_frame(a, b) -> bool:
    """Order-free equality of two result frames: floats to 1e-6, the
    rest compared as strings."""
    import numpy as np

    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            x, y = x.astype(float), y.astype(float)
            if not ((np.isnan(x) & np.isnan(y)) | np.isclose(x, y, atol=1e-6)).all():
                return False
        elif not (a[c].astype(str).to_numpy() == b[c].astype(str).to_numpy()).all():
            return False
    return True


def _versions() -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "numpy": numpy.__version__, "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
    }


def _git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    if r.returncode != 0:
        return None
    return r.stdout.strip() or None


def _end_jvm() -> None:
    """End the JVM that pyspark launched and wait until it, the pyspark
    daemon and the workers have exited: none may outlive the run."""
    from pyspark import SparkContext

    from procsample import tree_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    tree = tree_pids(proc.pid)
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the daemon and workers lose their parent with the JVM and follow it
    _end_pids(tree, grace_s=60)


def _end_descendants() -> None:
    """End whatever still runs below this process and wait for each."""
    from procsample import tree_pids

    me = os.getpid()
    _end_pids([p for p in tree_pids(me) if p != me], grace_s=10)


def _end_pids(pids: list[int], grace_s: float) -> None:
    """Wait up to ``grace_s`` for ``pids`` to exit on their own, then kill
    the rest and wait until they have ended; reap ended children."""
    from procsample import alive

    deadline = time.time() + grace_s
    killed = False
    while True:
        _reap_children()
        left = [p for p in pids if alive(p)]
        if not left:
            return
        if not killed and time.time() >= deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


def _reap_children() -> None:
    """Collect the exit status of every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no children left
            return
        if pid == 0:  # children left, none ended
            return


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        # one process per workload, as the benchmark is meant to be run
        code = 0
        for w in WORKLOADS:
            cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            code |= subprocess.run(cmd, cwd=ROOT).returncode
        return code
    if not os.path.isdir(os.path.join(ROOT, "pic2vec_spark")):
        print("perfbench: the engine package pic2vec_spark is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    run = Run(args)
    try:
        result = run.main()
    finally:
        _end_jvm()
        _end_descendants()
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
