"""Seeded generator for the query workloads' parquet corpus.

Writes the ten tables the registered queries read (the TPC-H-shaped star,
``events``, ``documents``, ``embeddings``) with the schemas and value
domains of the engine's reference corpus, so every query and its DuckDB
twin run unchanged on the output. One seed always writes the same rows.

Sizes follow the reference corpus at scale factor 0.01 (60k lineitems, 10k
events, 500 documents, 500 embeddings). As in that corpus, documents are 10–99 words drawn
from a 30-word vocabulary; one document in twenty is a copy of a random
document with `` dup`` appended (two copies of one source make an exact
duplicate pair); embeddings are unit-normalised Gaussian vectors with a
uniform label and no planted neighbours.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
EMBED_DIM = 64

SIZES = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "event_users": 150,
    "documents": 500, "embeddings": 500,
}
NEAR_DUP_SHARE = 20  # one document in NEAR_DUP_SHARE is a marked copy


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(VOCAB, k).tolist()) for k in lengths]
    base = list(texts)
    for i in rng.choice(n, n // NEAR_DUP_SHARE, replace=False):
        texts[i] = base[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs32 = vecs.astype(np.float32)
    offsets = np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(vecs32.ravel()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; deterministic in ``seed``."""
    s = SIZES
    rng = np.random.default_rng(seed)
    n_nation = 25
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(n_nation, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(n_nation)]),
        "n_regionkey": pa.array(np.arange(n_nation, dtype=np.int32) % 5),
    })
    nc = s["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, n_nation, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist()),
    })
    ns = s["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, n_nation, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = s["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(rng.choice(names, npart).tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart).tolist()),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)),
    })
    no = s["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist()),
    })
    nl = s["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl).tolist()),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl)),
    })
    ne = s["events"]
    gaps = rng.exponential(30 * 86400e6 / ne, ne)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, s["event_users"], ne).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    t["documents"] = _documents(rng, s["documents"])
    t["embeddings"] = _embeddings(rng, s["embeddings"])
    return t


def write_corpus(out_dir: str | Path, seed: int) -> Path:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns ``out_dir``."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, out / f"{name}.parquet")
    return out


if __name__ == "__main__":
    import sys

    write_corpus(sys.argv[1], int(sys.argv[2]))
