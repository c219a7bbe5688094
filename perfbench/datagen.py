"""Deterministic synthetic tables in the shape ``pac_spark.catalog`` reads.

The benchmark must not depend on data outside its own checkout, so it
writes its own star schema plus the ``events`` and ``documents`` tables,
one parquet file per table, with the column names, types and value
shapes of the engine's test data (TPC-H-like keys, 2-decimal money,
microsecond timestamps without a zone). Row counts scale with ``sf``
the way the test data does: 1,500,000 orders per unit of sf.

The tables come from a fixed seed, not from the run's ``--seed``: loop
operators' round counts depend on the data, and the per-op job counts
the benchmark reports must repeat exactly across runs. The run's seed
drives op order and the sink's keys instead.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All tables at scale ``sf``; identical for identical ``sf``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    retail = 900.0 + (pkeys % 1000) / 10.0
    t["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(retail, 2),
    })

    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995.astype(np.int64) + odays * _DAY_US),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_order)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_num.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (retail[l_part] + rng.integers(0, 1100, n_li)), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995.astype(np.int64) + ship * _DAY_US),
    })

    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(_EPOCH_2024.astype(np.int64) + ev_us),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    return t


def _fingerprint() -> str:
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def ensure(root: str, sf: float) -> str:
    """Directory holding every table at ``sf``, generated on first use.

    The directory name carries a hash of this file, so a change to the
    generator never reuses stale tables. Generation writes to a temp
    directory and renames it into place, so an interrupted run leaves
    nothing a later run would trust.
    """
    out = os.path.join(root, f"sf{sf:g}-{_fingerprint()}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, out)
    except OSError:  # another run generated it first
        shutil.rmtree(tmp, ignore_errors=True)
    return out
