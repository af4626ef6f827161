"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables with the column names and types that
``datahub_spark.ingest`` reads, one parquet file per table. Row counts
scale with ``sf`` like the reference tables (sf 0.1: 15k customers,
150k orders, 600k lineitems). The same (seed, sf) gives byte-identical
files; nothing here touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "large", "green", "steel"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "plate"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO", "MEDIUM"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
WORDS = ("key agg row scan slow fast table value part hash batch window spark "
         "order data column join small line customer query filter merge the "
         "a group big vector stream").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
DIM = 64
N_LABELS = 10
# 2024-01-01T00:00:00Z in microseconds; events span 30 days
EVENTS_T0_US = 1_704_067_200_000_000
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    n = lambda base: max(int(base * sf), 10)
    return {"region": 5, "nation": 25, "customer": n(150_000),
            "supplier": n(10_000), "part": n(200_000), "orders": n(1_500_000),
            "lineitem": n(6_000_000), "events": n(1_000_000),
            "users": n(15_000), "documents": n(50_000),
            "embeddings": n(20_000)}


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(lo * 100, hi * 100, n) / 100.0, 2)


def _day_ts(days):
    # epoch days -> timestamp[us]
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def documents(rng, n: int) -> pa.Table:
    """Word-salad documents; every 20th document repeats an earlier one
    so near-duplicate detection has true pairs to find."""
    texts = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        k = int(rng.integers(8, 90))
        texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 5}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def embeddings(rng, n: int) -> pa.Table:
    """Unit-norm 64-d vectors around ``N_LABELS`` cluster centres."""
    centres = rng.normal(size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centres[labels] + 0.6 * rng.normal(size=(n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype="int32")), flat),
        "label": pa.array(labels.astype("int32")),
    })


def build(seed: int, sf: float, tables=TABLES) -> dict[str, pa.Table]:
    """The tables named in ``tables`` for (seed, sf). Each table draws
    from its own stream, so asking for a subset gives the same rows."""
    n = sizes(sf)
    out: dict[str, pa.Table] = {}

    def rng_for(name):
        return np.random.default_rng([seed, TABLES.index(name)])

    for name in tables:
        rng = rng_for(name)
        if name == "region":
            t = pa.table({"r_regionkey": pa.array(np.arange(5, dtype="int32")),
                          "r_name": pa.array(REGIONS, pa.string())})
        elif name == "nation":
            t = pa.table({"n_nationkey": pa.array(np.arange(25, dtype="int32")),
                          "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                          "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})
        elif name == "customer":
            c = n["customer"]
            t = pa.table({
                "c_custkey": pa.array(np.arange(c, dtype="int64")),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
                "c_nationkey": pa.array(rng.integers(0, 25, c).astype("int32")),
                "c_acctbal": pa.array(_cents(rng, -999, 9999, c)),
                "c_mktsegment": _pick(rng, SEGMENTS, c),
            })
        elif name == "supplier":
            s = n["supplier"]
            t = pa.table({
                "s_suppkey": pa.array(np.arange(s, dtype="int64")),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
                "s_nationkey": pa.array(rng.integers(0, 25, s).astype("int32")),
                "s_acctbal": pa.array(_cents(rng, -999, 9999, s)),
            })
        elif name == "part":
            p = n["part"]
            adj, noun = rng.integers(0, 8, p), rng.integers(0, 8, p)
            t = pa.table({
                "p_partkey": pa.array(np.arange(p, dtype="int64")),
                "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}"
                                    for a, b in zip(adj, noun)]),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
                "p_type": _pick(rng, PART_TYPES, p),
                "p_size": pa.array(rng.integers(1, 51, p).astype("int32")),
                "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10.0, 2)),
            })
        elif name == "orders":
            o = n["orders"]
            t = pa.table({
                "o_orderkey": pa.array(np.arange(o, dtype="int64")),
                "o_custkey": pa.array(rng.integers(0, n["customer"], o)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
                "o_totalprice": pa.array(_cents(rng, 1000, 500_000, o)),
                "o_orderdate": _day_ts(rng.integers(9131, 10957, o)),
                "o_orderpriority": _pick(rng, PRIORITIES, o),
            })
        elif name == "lineitem":
            m = n["lineitem"]
            t = pa.table({
                "l_orderkey": pa.array(rng.integers(0, n["orders"], m)),
                "l_partkey": pa.array(rng.integers(0, n["part"], m)),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], m)),
                "l_linenumber": pa.array(rng.integers(1, 8, m).astype("int32")),
                "l_quantity": pa.array(rng.integers(1, 51, m).astype("float64")),
                "l_extendedprice": pa.array(_cents(rng, 900, 105_000, m)),
                "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], m),
                "l_linestatus": _pick(rng, ["F", "O"], m),
                "l_shipdate": _day_ts(rng.integers(9131, 11688, m)),
            })
        elif name == "events":
            e = n["events"]
            # sorted distinct offsets keep (user_id, ts) unique
            ts = np.sort(rng.choice(EVENTS_SPAN_US, e, replace=False))
            t = pa.table({
                "event_id": pa.array(np.arange(e, dtype="int64")),
                "ts": pa.array(EVENTS_T0_US + ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n["users"], e)),
                "event_type": _pick(rng, EVENT_TYPES, e),
                "value": pa.array(_cents(rng, 0, 20, e)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
            })
        elif name == "documents":
            t = documents(rng, n["documents"])
        elif name == "embeddings":
            t = embeddings(rng, n["embeddings"])
        else:
            raise ValueError(f"unknown table {name!r}")
        out[name] = t
    return out


def write(out_dir: str, seed: int, sf: float, tables=TABLES) -> str:
    """Write the tables to ``out_dir/<table>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(seed, sf, tables).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
