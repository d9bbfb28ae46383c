"""Expected outputs, computed without Spark, and the per-job output check.

Image features come from the engine's single-machine oracle
(``pic2vec_spark.oracle.oracle_featurize``), run once per distinct
content in a small process pool.  The point-in-time alignment comes from
DuckDB's ``ASOF JOIN`` over the same timeline.  Both are computed once per
run, before set-up starts, so they are not part of ``setup_s``.
"""

from __future__ import annotations

import gc
import multiprocessing as mp
from multiprocessing import resource_tracker
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

SPOTS = 16  # vector elements checked per row, spread over the width
SUM_EVERY = 16  # rows whose row_id is a multiple of this get the two sums
RTOL = 1e-4


def spot_index(width: int) -> np.ndarray:
    return np.linspace(0, width - 1, SPOTS).round().astype(int)


def dot_weights(width: int) -> np.ndarray:
    """Fixed pseudo-random weights in [0, 1), one per vector element:
    the weighted sum moves when any element changes or moves."""
    i = np.arange(width)
    return (i * 7919 % 97) / 97.0


def checked_output(df, width: int):
    """The job's checked output: keys, flags, and per vector its length,
    min, max and ``SPOTS`` of its elements, computed in Spark; on every
    ``SUM_EVERY``-th row also its sum and weighted sum
    (:func:`dot_weights`).  Writing every vector out would make the
    parquet writer the workload's largest cost.  The spots catch a wrong or
    shifted vector, the sums a change to any one element.  Spark runs the
    sums' lambdas interpreted; on every row they doubled a ``pit_warm``
    job.  A vector belongs to an image, and the sampled rows still reach
    nearly every image."""
    from pyspark.sql import functions as F

    v = F.col("features_asof")
    zero = F.lit(0.0).cast("double")
    sampled = F.col("row_id") % SUM_EVERY == 0
    return df.select(
        "row_id", "image_id_asof", "missing_asof",
        F.size(v).alias("f_size"), F.array_min(v).alias("f_min"), F.array_max(v).alias("f_max"),
        F.when(sampled, F.aggregate(v, zero, lambda acc, x: acc + x.cast("double")))
        .alias("f_sum"),
        F.when(sampled, F.aggregate(
            F.transform(v, lambda x, i: x.cast("double") * (i * 7919 % 97) / 97.0),
            zero, lambda acc, x: acc + x)).alias("f_dot"),
        *[v[int(i)].alias(f"f_{k}") for k, i in enumerate(spot_index(width))],
    )


def _summary(features: np.ndarray) -> np.ndarray:
    """The numeric columns of :func:`checked_output`, from expected vectors."""
    f64 = features.astype(np.float64)
    spots = f64[:, spot_index(f64.shape[1])]
    return np.column_stack([f64.min(axis=1), f64.max(axis=1), f64.sum(axis=1),
                            f64 @ dot_weights(f64.shape[1]), spots])


def _oracle_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
    from pic2vec_spark.oracle import oracle_featurize
    from pic2vec_spark.plan import FeaturizerPlan

    return oracle_featurize(pdf, FeaturizerPlan.build())


def _oracle_pool(chunks: list[pd.DataFrame]) -> list[pd.DataFrame]:
    with mp.get_context("spawn").Pool(len(chunks)) as pool:
        return pool.map(_oracle_chunk, chunks)


def image_features(images: pd.DataFrame, procs: int) -> tuple[dict, np.ndarray]:
    """``{image_id: (missing, features)}`` and f(zero tensor), the vector
    the engine gives unmatched references."""
    key = images["fmt"].astype(str) + "|" + images["bytes"].map(lambda b: b.hex())
    first = images.assign(_k=key).drop_duplicates("_k")
    distinct = pd.concat(
        [first[["image_id", "bytes", "fmt"]],
         pd.DataFrame({"image_id": ["__zero__"], "bytes": [None], "fmt": [""]})],
        ignore_index=True,
    )
    chunks = [distinct.iloc[i::procs] for i in range(min(procs, len(distinct)))]
    try:
        out = pd.concat(_oracle_pool(chunks), ignore_index=True)
    finally:
        # a spawn pool starts multiprocessing's resource tracker, which
        # otherwise lives until this process exits and then outlives it
        # for a moment; once the pool's semaphores are collected (they
        # unregister themselves), stop the tracker and wait for it
        gc.collect()
        resource_tracker._resource_tracker._stop()
    by_rep = {r.image_id: (bool(r.missing), np.asarray(r.features, np.float32))
              for r in out.itertuples()}
    rep_of_key = dict(zip(first["_k"], first["image_id"]))
    feats = {iid: by_rep[rep_of_key[k]] for iid, k in zip(images["image_id"], key)}
    return feats, by_rep["__zero__"][1]


@dataclass
class Expected:
    row_id: np.ndarray
    image_id: np.ndarray  # object, None where no observation precedes
    missing: np.ndarray  # object: True / False / None
    summary: np.ndarray  # (n, 4 + SPOTS): min, max, sum, weighted sum, spots; NaN rows where None
    width: int

    @property
    def n(self) -> int:
        return len(self.row_id)


def point_in_time(timeline: pd.DataFrame, feats: dict, zero: np.ndarray) -> Expected:
    """Latest observation at or before each query row; equal timestamps
    resolve to the largest ``row_id`` (the engine's tiebreak)."""
    con = duckdb.connect()
    try:
        con.register("tl", timeline)
        pairs = con.execute(
            """
            WITH obs AS (
              SELECT entity_id, ts, max(row_id) AS row_id FROM tl
              WHERE kind = 'feature' AND image_id IS NOT NULL
              GROUP BY entity_id, ts),
            q AS (SELECT entity_id, ts, row_id FROM tl WHERE kind = 'query')
            SELECT q.row_id AS q_row, o.row_id AS o_row
            FROM q ASOF LEFT JOIN obs o
              ON q.entity_id = o.entity_id AND q.ts >= o.ts
            ORDER BY q.row_id
            """
        ).fetchdf()
    finally:
        con.close()
    obs_image = pairs["o_row"].map(timeline.set_index("row_id")["image_id"])
    image_id = obs_image.astype(object).where(obs_image.notna(), None).to_numpy()
    known = sorted(feats)
    table = _summary(np.stack([feats[i][1] for i in known] + [zero]))
    flags = np.array([feats[i][0] for i in known] + [True], dtype=object)
    pos = pd.Series(np.arange(len(known)), index=known)
    # a reference to an image the table lacks gets missing + f(0)
    row = obs_image.map(pos).fillna(len(known)).astype(int).to_numpy()
    has = obs_image.notna().to_numpy()
    missing = np.where(has, flags[row], None)
    summary = np.where(has[:, None], table[row], np.nan)
    summary[pairs["q_row"].to_numpy() % SUM_EVERY != 0, 2:4] = np.nan
    return Expected(pairs["q_row"].to_numpy(np.int64), image_id, missing, summary, len(zero))


def check(path: str, exp: Expected) -> str | None:
    """``None`` when the parquet output of :func:`checked_output` at ``path``
    matches ``exp``, otherwise the first difference found."""
    t = pq.read_table(path).sort_by("row_id")
    row_id = t["row_id"].to_numpy()
    if len(row_id) != exp.n or not np.array_equal(row_id, exp.row_id):
        return f"row set differs: {len(row_id)} rows vs {exp.n} expected"
    image_id = np.array(t["image_id_asof"].to_pylist(), dtype=object)
    if not np.array_equal(image_id, exp.image_id):
        bad = int(np.flatnonzero(image_id != exp.image_id)[0])
        return f"image_id_asof differs at row_id {row_id[bad]}"
    missing = np.array(t["missing_asof"].to_pylist(), dtype=object)
    if not np.array_equal(missing, exp.missing):
        bad = int(np.flatnonzero(missing != exp.missing)[0])
        return f"missing_asof differs at row_id {row_id[bad]}"
    present = ~np.isnan(exp.summary[:, 0])
    size = t["f_size"].to_numpy(zero_copy_only=False)
    if not np.array_equal(np.where(present, exp.width, -1), np.nan_to_num(size, nan=-1)):
        return "features_asof length or null pattern differs"
    cols = ["f_min", "f_max", "f_sum", "f_dot"] + [f"f_{k}" for k in range(SPOTS)]
    got = np.column_stack([t[c].to_numpy(zero_copy_only=False) for c in cols])[present]
    want = exp.summary[present]
    err = np.abs(got - want) / (np.abs(want) + 1.0)
    # NaN in both is a sum left out on an unsampled row; in one, a difference
    err = np.nan_to_num(np.where(np.isnan(got) & np.isnan(want), 0.0, err), nan=np.inf)
    if err.size and err.max() > RTOL:
        bad = int(np.argmax(err.max(axis=1)))
        return f"features_asof differ from the oracle at row_id {row_id[present][bad]} ({err.max():.3g})"
    return None
