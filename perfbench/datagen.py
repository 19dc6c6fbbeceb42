"""Registry input tables for the benchmark, generated from a fixed seed.

Writes the ten tables the registry faces read (``io.TABLES``: a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``) as one parquet file each, with the column names,
types and value domains of the project's reference test data:
uniform keys, 1995-2001 order calendar, January-2024 event stream,
a 31-word document vocabulary with ~5% near-duplicates, and 64-dim
unit embeddings drawn around ten cluster centres.

The scale factor ``sf`` sets row counts the same way the reference
data does (``lineitem`` = 6M x sf). The generator seed is fixed, so a
given ``sf`` always yields byte-identical tables and the committed
expected output hashes stay valid; the workload seed varies the
order faces run in, not the tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
EMBED_DIM = 64
N_CLUSTERS = 10


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 5),
        "part": max(int(200_000 * sf), 20),
        "orders": max(int(1_500_000 * sf), 100),
        "lineitem": max(int(6_000_000 * sf), 400),
        "events": max(int(1_000_000 * sf), 100),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(GENERATOR_SEED)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    npart = n["part"]
    keys = np.arange(npart)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, no, "1995-01-01", 2404),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, nl, "1995-01-02", 2499),
        }
    )
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 5), ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [_text(rng, int(k)) for k in rng.integers(10, 100, nd)]
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        if i > 0:  # near-duplicate of an earlier document
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    centres = rng.normal(0.0, 0.15, (N_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, N_CLUSTERS, nv)
    vecs = centres[labels] + rng.normal(0.0, 0.12, (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def ensure(root: str, sf: float) -> str:
    """Generate the tables for ``sf`` under ``root`` once; later calls
    reuse them. Returns the directory the faces read as ``sf_dir``."""
    sf_dir = os.path.join(root, f"sf{sf:g}")
    marker = os.path.join(sf_dir, "_COMPLETE")
    if not os.path.exists(marker):
        os.makedirs(sf_dir, exist_ok=True)
        for name, t in tables(sf).items():
            pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
        open(marker, "w").close()
    return sf_dir
