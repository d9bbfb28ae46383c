"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``seed``.  Row counts, the duplicate
share, the missing-image share, the format mix and the size mix are the
same for every seed; the seed moves pixel content, timestamps and which
rows land in which class.  That keeps the work per job equal across
seeds, so run-to-run spread measures the system and not the input.

Images are encoded with the engine's own encoders
(``pic2vec_spark.codecs.encode_image``): the container has no other
JPEG encoder.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from pic2vec_spark.codecs import encode_image
from pic2vec_spark.synth import (
    CORRUPT_FRACTION,
    EMPTY_FRACTION,
    GIF_FRACTION,
    HOT_FRACTION,
    N_HOT_CLUSTERS,
    _FMTS as FORMATS,
    _SIZES as SIZES,
    _gen_pixels,
)

EVENT_TYPES = ("view", "click", "signup", "error", "purchase")
T0 = np.datetime64("2024-01-01T00:00:00", "us")
MONTH_US = 30 * 86_400 * 1_000_000
ZIPF_S = 1.1  # entity skew of the pit_warm timeline
QUERY_SHARE = 0.8  # as-of query rows in the pit_warm timeline
SF = 0.1  # scale of the relational tables


def _classes(n: int, rng: np.random.Generator) -> np.ndarray:
    """Exact per-seed counts of each row class, in seeded order."""
    counts = {
        "hot": int(round(HOT_FRACTION * n)),
        "gif": int(round(GIF_FRACTION * n)),
        "empty": int(round(EMPTY_FRACTION * n)),
        "corrupt": int(round(CORRUPT_FRACTION * n)),
    }
    labels = np.array(
        sum(([k] * v for k, v in counts.items()), [])
        + ["plain"] * (n - sum(counts.values()))
    )
    return labels[rng.permutation(n)]


def images(n: int, seed: int, id_offset: int = 0) -> pd.DataFrame:
    """``n`` image rows ``(image_id, bytes, fmt, caption)``, in the mix of
    ``pic2vec_spark.synth`` but with exact per-seed class counts.

    ``id_offset`` shifts ids and plain content, so two calls with the same
    seed share only the hot-cluster content.
    """

    rng = np.random.default_rng([seed, 1, id_offset])
    classes = _classes(n, rng)
    # (format, size) pairs are dealt evenly over the plain rows and formats
    # over the corrupt rows; hot rows take their cluster's.  Every seed then
    # has the same mix, and decode cost, which grows with pixels and is
    # largest for jpg, is the same
    fmts = np.full(n, "png", dtype=object)
    sizes = np.full(n, SIZES[0])
    plain = np.flatnonzero(classes == "plain")
    pair = rng.permutation(len(plain))
    fmts[plain] = np.array(FORMATS)[pair % len(FORMATS)]
    sizes[plain] = np.array(SIZES)[(pair // len(FORMATS)) % len(SIZES)]
    corrupt = np.flatnonzero(classes == "corrupt")
    fmts[corrupt] = np.array(FORMATS)[rng.permutation(len(corrupt)) % len(FORMATS)]
    cluster_of = np.cumsum(classes == "hot") % N_HOT_CLUSTERS
    hot_cache: dict[int, tuple[str, bytes]] = {}
    rows = []
    for i in range(n):
        gid = id_offset + i
        cls = classes[i]
        fmt, side = str(fmts[i]), int(sizes[i])
        if cls == "hot":
            cluster = int(cluster_of[i])
            if cluster not in hot_cache:
                crng = np.random.default_rng([seed, 2, cluster])
                cfmt = FORMATS[cluster % len(FORMATS)]
                hot_cache[cluster] = (
                    cfmt, encode_image(_gen_pixels(crng, SIZES[cluster % len(SIZES)],
                                               SIZES[(cluster + 1) % len(SIZES)]), cfmt)
                )
            fmt, data = hot_cache[cluster]
        else:
            prng = np.random.default_rng([seed, 3, gid])
            if cls == "gif":
                fmt, data = "gif", b"GIF89a" + prng.bytes(32)
            elif cls == "empty":
                data = b""
            elif cls == "corrupt":
                data = prng.bytes(64)
            else:
                data = encode_image(_gen_pixels(prng, side, side), fmt)
        rows.append((f"img_{gid:09d}", data, fmt, f"caption {gid} {cls} {fmt}"))
    return pd.DataFrame(rows, columns=["image_id", "bytes", "fmt", "caption"])


def events(n: int, n_users: int, seed: int) -> pd.DataFrame:
    """sf-shaped ``events`` table: uniform users and event types, one
    month of time-ordered timestamps (the repo's sf0.1 events shape)."""
    rng = np.random.default_rng([seed, 4])
    ts = T0 + np.sort(rng.integers(0, MONTH_US, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def timeline_from_events(ev: pd.DataFrame, n_images: int) -> pd.DataFrame:
    """Non-purchase events observe image ``event_id % n_images``;
    purchases are the as-of queries.  This is the flagship's Spark-side
    ``__spark_entry__._timeline_from_events`` in pandas: the expected
    outputs need the timeline without going through Spark."""
    query = ev["event_type"].to_numpy() == "purchase"
    ids = [f"img_{j:09d}" for j in ev["event_id"] % n_images]
    return pd.DataFrame(
        {
            "entity_id": ev["user_id"].to_numpy(),
            "ts": ev["ts"].to_numpy(),
            "image_id": np.where(query, None, ids).astype(object),
            "kind": np.where(query, "query", "feature"),
            "row_id": ev["event_id"].to_numpy(),
        }
    )


def zipf_timeline(n: int, n_entities: int, n_images: int, seed: int) -> pd.DataFrame:
    """Query-heavy timeline whose entities follow a Zipf law, so one
    entity's partition dominates the as-of exchange."""
    rng = np.random.default_rng([seed, 5])
    p = 1.0 / np.arange(1, n_entities + 1) ** ZIPF_S
    # expected counts, not a sample: every seed has the same hot-entity load
    n_per = np.floor(p / p.sum() * n).astype(np.int64)
    n_per[0] += n - n_per.sum()
    # the entity id is its Zipf rank, the same for every seed: the as-of
    # exchange hashes entity ids to partitions, and which hot entities share
    # a partition sets the slowest task.  Seeded ids moved that, and the job
    # time with it, by up to 40% between seeds
    entity = np.repeat(np.arange(n_entities), n_per)
    rows = len(entity)
    query = rng.permutation(rows) < int(round(QUERY_SHARE * rows))
    img = rng.integers(0, n_images, rows)
    return pd.DataFrame(
        {
            "entity_id": entity.astype(np.int64),
            "ts": T0 + rng.integers(0, MONTH_US, rows),
            "image_id": np.where(query, None, [f"img_{j:09d}" for j in img]).astype(object),
            "kind": np.where(query, "query", "feature"),
            "row_id": rng.permutation(rows).astype(np.int64),
        }
    )


def relational_tables(seed: int) -> dict[str, pd.DataFrame]:
    """The TPC-H-shaped tables the frozen relational query set reads
    (``events`` comes from :func:`events`)."""
    rng = np.random.default_rng([seed, 6])
    n_cust, n_ord, n_li = int(150_000 * SF), int(1_500_000 * SF), int(6_000_000 * SF)
    day = np.timedelta64(86_400_000_000, "us")
    d0 = np.datetime64("1995-01-01T00:00:00", "us")
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(
                ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
            )[rng.integers(0, 5, n_cust)],
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": d0 + rng.integers(0, 2400, n_ord) * day,
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, int(200_000 * SF), n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, int(10_000 * SF), n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": d0 + rng.integers(0, 2500, n_li) * day,
        }
    )
    return {"nation": nation, "customer": customer, "orders": orders, "lineitem": lineitem}
