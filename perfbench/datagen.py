"""Synthetic inputs with the schema of the engine's TPC-H-ish tables.

The engine's queries read ten parquet tables (``sources/tables.py:TABLES``).
This module writes them so the benchmark never depends on data outside its
own checkout. The dataset is one fixed draw (``DATA_SEED``), never the
run's ``--seed``: row counts, key cardinalities, the co-purchase graph's
degree sequence and text lengths are the same in every run, so count
metrics repeat exactly across seeds. A run's seed changes only what the
workload does with the data (operation order, slices and keys touched). Value domains follow the tables the engine is tested on: money
columns carry at most two fractional digits (the exact-sum kernels in
``functions/exprs.py`` rely on that), timestamps are naive microseconds,
event values stay far below the streaming layer's 1e4 ingestion cap, and
document texts draw from a 30-word vocabulary so the text, dedup and
language-id queries see repeated tokens.

Row counts per scale factor ``sf``: lineitem ~6M*sf, orders 1.5M*sf,
customer 150k*sf, part 200k*sf, supplier 10k*sf, events 1M*sf; documents
and embeddings keep a floor of 500 rows.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# The one draw every run reads. Changing it (or this file) changes the
# inputs, so cached copies are keyed by a hash of this file.
DATA_SEED = 20240101

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_rows(sf: float) -> dict[str, int]:
    """Row count of each generated table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(50, int(1_500_000 * sf)),
        "lineitem": max(200, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _cents(x: np.ndarray) -> np.ndarray:
    """Round to two fractional digits (money)."""
    return np.round(x, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n = table_rows(sf)
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
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, nc)),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    price = _cents(900.0 + (np.arange(npart) % 1000) * 0.1)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": price,
        }
    )
    no = n["orders"]
    odate = _EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _cents(rng.uniform(1000.0, 500_000.0, no)),
            "o_orderdate": _ts(odate),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    lorder = np.sort(rng.integers(0, no, nl))
    lpart = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lorder, pa.int64()),
            "l_partkey": pa.array(lpart, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * price[lpart]),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(odate[lorder] + rng.integers(1, 122, nl) * _DAY_US),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * _DAY_US / ne, ne).astype(np.int64) + 1
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, max(15, ne // 66), ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.maximum(_cents(rng.exponential(50.0, ne)), 0.01),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = []
    for i in range(nd):
        words = rng.integers(0, len(VOCAB), rng.integers(10, 100))
        text = " ".join(VOCAB[w] for w in words)
        if i % 20 == 19:  # a near-duplicate of the previous document
            text = texts[-1] + " dup"
        texts.append(text)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, nd, p=[0.14, 0.44, 0.14, 0.14, 0.14])],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return out


def generate(out_dir: str, sf: float, tables: tuple[str, ...] | None = None) -> str:
    """Write the tables for ``sf`` under ``out_dir`` (one parquet file per
    table, one row group each) and return ``out_dir``. Every table is drawn
    in a fixed order from one generator, so a subset is the same bytes as
    in the full set."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, table in _tables(rng, sf).items():
        if tables is None or name in tables:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def cached(cache_root: str, sf: float) -> str:
    """Directory holding every table at ``sf``, generated on first use and
    reused by later runs in the same checkout. The directory name carries a
    hash of this file, so an edited generator never serves stale inputs; a
    half-written directory is never published (write, then rename)."""
    with open(__file__, "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(cache_root, f"sf{sf}-{tag}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, sf)
    try:
        os.rename(tmp, out)
    except OSError:  # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)
    return out
