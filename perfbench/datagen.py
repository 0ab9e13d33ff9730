"""Seeded input tables for the benchmark.

Writes the ten base tables the query registry reads (a TPC-H-like star
schema, an ``events`` stream, ``documents`` and ``embeddings``) as one
parquet file each. Value distributions follow the registry's test data;
the relational tables are half their 0.01 scale factor and the corpus
tables match it. Every value is drawn from
``numpy.random.default_rng(seed)``, so one seed always gives the same
bytes-for-bytes inputs and two seeds give inputs of the same shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 750,
    "supplier": 50,
    "part": 1000,
    "orders": 7500,
    "lineitem": 30000,
    "events": 5000,
    "documents": 500,
    "embeddings": 500,
}

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (["en"] * 41) + (["zh"] * 15) + (["es"] * 15) + (["fr"] * 15) + (["de"] * 14)
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = "ECONOMY SMALL MEDIUM PROMO STANDARD LARGE".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
EMB_LABELS = 10


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return (rng.integers(lo, hi, n) * 86_400_000_000).astype("datetime64[us]")


def _cents(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    """Word-soup documents over a 31-word vocabulary. About 5% are
    near-duplicates (a prefix of an earlier document plus ``dup``) and a
    few are exact copies, so every dedup stage has something to find."""
    texts = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            keep = max(8, int(len(src) * rng.uniform(0.6, 0.95)))
            texts.append(" ".join(src[:keep] + ["dup"]))
        elif i > 10 and roll < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(LANGS, n).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    """Unit vectors scattered around ten label centroids."""
    centroids = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n)
    vecs = centroids[labels] * 0.08 + rng.normal(0.0, 1.0, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def _events(rng, n):
    gaps = rng.exponential(259.0, n)
    ts = (
        np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
        + np.cumsum(gaps * 1e6).astype("int64")
    ).astype("datetime64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 150, n).astype(np.int64)),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = SIZES
    n_cust, n_supp, n_part, n_ord = (
        s["customer"], s["supplier"], s["part"], s["orders"],
    )
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-02")),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }),
    }
    n_li = s["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-05")),
    })
    out["events"] = _events(rng, s["events"])
    out["documents"] = _documents(rng, s["documents"])
    out["embeddings"] = _embeddings(rng, s["embeddings"])
    return out


def write(seed: int, out_dir: str) -> dict[str, pa.Table]:
    os.makedirs(out_dir, exist_ok=True)
    made = tables(seed)
    for name, table in made.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return made
