"""Seeded input generators for the benchmark workloads.

Everything the program sees is derived from the ``--seed`` argument:

- ``write_seeds``: a crawl seed list in the dirty-URL / Zipf-host scheme
  of ``sources.fixtures.make_seeds`` (upper-cased scheme and host, ``:80``
  ports, shuffled query params, fragments, ~10% canonical-collision
  aliases) over the first ``NUM_SEED_HOSTS`` synthetic-web hosts.
- ``write_tables``: the ten registry tables (TPC-H-ish star schema plus
  events, documents and embeddings) with the columns, types and value
  distributions of the repo's test tables, at ``scale`` times the 0.1
  tier's row counts (``scale=0.1`` gives the 0.01 tier's sizes).  The
  distributions were measured on the 0.01 tier; README.md compares
  them.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from topicalcrawler_spark.core.synthweb import HOST_WEIGHTS, HOSTS
from topicalcrawler_spark.sources.fixtures import NUM_SEED_HOSTS


def make_seed_urls(seed: int, n: int) -> list[str]:
    rng = np.random.default_rng(seed)
    w = HOST_WEIGHTS[:NUM_SEED_HOSTS] / HOST_WEIGHTS[:NUM_SEED_HOSTS].sum()
    urls: list[str] = []
    i = 0
    while len(urls) < n:
        host = HOSTS[int(rng.choice(NUM_SEED_HOSTS, p=w))]
        clean = f"http://{host}/s/{i:05d}"
        r = rng.random(5)
        u = clean
        if r[0] < 0.3:
            h, _, tail = u.split("://", 1)[1].partition("/")
            u = f"HTTP://{h.upper()}/{tail}"
        if r[1] < 0.2:
            u = u.replace(".test/", ".test:80/", 1)
        if r[2] < 0.3:
            u += "?b=2&a=1" if r[3] < 0.5 else "?a=1&b=2"
        if r[4] < 0.2:
            u += "#sec"
        urls.append(u)
        if rng.random() < 0.10 and len(urls) < n:
            urls.append(clean + ("?a=1&b=2" if r[3] < 0.5 else "?b=2&a=1"))
        i += 1
    return urls


def write_seeds(path: str, seed: int, n: int) -> list[str]:
    urls = make_seed_urls(seed, n)
    with open(path, "w") as f:
        f.write("\n".join(urls) + "\n")
    return urls


# ------------------------------------------------------------ registry tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.43, 0.15, 0.15, 0.14, 0.13]
# share of documents replaced by a copy of another document plus " dup"
NEAR_DUP_FRAC = 0.05
EMB_DIM = 64

# row counts of the 0.1 tier; ``scale`` multiplies the scalable ones
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 5_000,
}


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - a).astype(int))
    return (a + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def make_tables(seed: int, scale: float = 0.1) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(int(v * scale), 1) for k, v in BASE_ROWS.items()}
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    k = np.arange(n["customer"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(k, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": pa.array(rng.integers(0, 25, k.size), pa.int32()),
        "c_acctbal": _cents(rng, k.size, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, k.size)],
    })

    k = np.arange(n["supplier"])
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": pa.array(rng.integers(0, 25, k.size), pa.int32()),
        "s_acctbal": _cents(rng, k.size, 0.0, 9999.99),
    })

    k = np.arange(n["part"])
    t["part"] = pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, k.size), rng.integers(0, 8, k.size))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k.size)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, k.size)],
        "p_size": pa.array(rng.integers(1, 51, k.size), pa.int32()),
        "p_retailprice": (9000 + k % 1000) / 10.0,
    })

    k = np.arange(n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(k, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k.size), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, k.size)],
        "o_totalprice": _cents(rng, k.size, 1000.0, 500000.0),
        "o_orderdate": _days(rng, k.size, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, k.size)],
    })

    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _cents(rng, m, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })

    m = n["events"]
    gaps_us = rng.exponential(259e6, m).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": np.datetime64(datetime(2024, 1, 1), "us") + np.cumsum(gaps_us).astype(
            "timedelta64[us]"
        ),
        "user_id": pa.array(rng.integers(0, max(m // 66, 1), m), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, m)],
        "value": np.maximum(np.round(rng.exponential(50.0, m), 2), 0.01),
        "props": [json.dumps({"k": int(i)}) for i in rng.integers(0, 100, m)],
    })

    t["documents"] = _documents(rng, n["documents"])

    m = n["embeddings"]
    vec = rng.standard_normal((m, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    return t


def _documents(rng, m: int) -> pa.Table:
    """10-99 tokens drawn uniformly from VOCAB; then NEAR_DUP_FRAC of the
    documents are replaced, in doc order, by another document plus a
    trailing ``dup`` token (so a copy of a copy gets ``dup dup``).  The
    ``lang`` tag is independent of the text, as in the 0.01 tier."""
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
        for _ in range(m)
    ]
    for i in np.flatnonzero(rng.random(m) < NEAR_DUP_FRAC):
        j = int(rng.integers(0, m - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(m), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, size=m, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(m)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def write_tables(out_dir: str, seed: int, scale: float = 0.1) -> dict[str, int]:
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
