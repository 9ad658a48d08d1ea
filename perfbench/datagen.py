"""Deterministic benchmark inputs.

The base tables follow the schemas of the registry's test tables
(FIXTURES.md) at about sf0.01: region, nation, customer, supplier, part,
orders, lineitem, events, documents and embeddings.  They come from a fixed
data seed, so every run sees byte-identical tables and the expected answers
in ``expected.json`` stay valid.  The workload seed never changes the base
tables; it only picks what :func:`Plan` derives from them (op order, the
split of event rows across stream files, placement range bounds).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "group stream filter big vector").split()


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    us = (days_since_epoch.astype(np.int64) * 86_400_000_000)
    return pa.array(us, type=pa.timestamp("us"))


def _day(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten base tables as Arrow tables (pure function of ``seed``)."""
    rng = np.random.default_rng(seed)
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
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    adj = rng.integers(0, len(P_ADJ), N_PART)
    noun = rng.integers(0, len(P_NOUN), N_PART)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 2),
    })
    odate = rng.integers(_day(1995, 1, 1), _day(2001, 8, 2), N_ORDERS)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })
    lok = rng.integers(0, N_ORDERS, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, N_LINEITEM)),
    })
    # events: ts increases with event_id across 30 days, as in a log
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    ev_us += _day(2024, 1, 1) * 86_400_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(np.minimum(rng.exponential(60.0, N_EVENTS), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.12:
            # near-duplicate of an earlier document: one or two tokens edited
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(toks))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    label = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[label] + rng.normal(0.0, 0.6, (N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table, ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def fingerprint(tables: dict[str, pa.Table]) -> str:
    """Content hash of the generated tables; ``expected.json`` records it so
    a generator change cannot silently invalidate the stored answers."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for col in tables[name].columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()[:16]


class Plan:
    """Everything the workload seed decides.  Same seed, same plan."""

    def __init__(self, seed: int):
        self.seed = seed
        self._rng = random.Random(seed)

    def order(self, names: list[str]) -> list[str]:
        """The op order of the next pass (each call draws a fresh shuffle)."""
        out = list(names)
        self._rng.shuffle(out)
        return out

    def stream_cuts(self, n_rows: int, n_files: int) -> list[int]:
        """Row offsets splitting the time-ordered events into ``n_files``
        contiguous chunks of seed-chosen sizes (each at least a quarter of
        an even share, so every file carries data)."""
        rng = random.Random(self.seed * 7919 + n_files)
        floor = n_rows // (4 * n_files)
        weights = [rng.random() for _ in range(n_files)]
        spare = n_rows - floor * n_files
        sizes = [floor + int(spare * w / sum(weights)) for w in weights]
        sizes[-1] = n_rows - sum(sizes[:-1])
        cuts, acc = [], 0
        for s in sizes[:-1]:
            acc += s
            cuts.append(acc)
        return cuts

    def key_range(self, lo: int, hi: int, width: int) -> tuple[int, int]:
        """A seed-chosen ``[a, a + width)`` window inside ``[lo, hi)``."""
        a = random.Random(self.seed * 104729 + width).randrange(lo, hi - width)
        return a, a + width
