"""Seeded lake tables for the ``lake_queries`` workload.

Writes the ten tables the query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the column names, types and
value ranges of the engine's TPC-H-like test schema. ``scale`` = 1.0
gives 60,000 lineitem and 20,000 events rows.
"""

from __future__ import annotations

import math
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "red", "green", "hot", "cold", "new", "old", "small", "large")
_NOUN = ("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def _write(out_dir: str, name: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, scale: float = 1.0) -> None:
    """Write every table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_orders = max(100, int(15000 * scale))
    n_events = max(200, int(20000 * scale))
    n_docs = max(40, int(500 * scale))
    n_vecs = max(40, int(500 * scale))
    n_users = 150
    day0 = datetime(1995, 1, 1)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": pa.array([round(rng.uniform(-999.0, 9999.0), 2) for _ in range(n_cust)]),
        "c_mktsegment": pa.array([rng.choice(_SEGMENTS) for _ in range(n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": pa.array([round(rng.uniform(-999.0, 9999.0), 2) for _ in range(n_supp)]),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)]),
        "p_type": pa.array([rng.choice(_PTYPES) for _ in range(n_part)]),
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)], pa.int32()),
        "p_retailprice": pa.array([round(900.0 + (i % 1000) / 10.0, 2) for i in range(n_part)]),
    })

    o_date = [day0 + timedelta(days=rng.randrange(2400)) for _ in range(n_orders)]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": pa.array([rng.choice("FOP") for _ in range(n_orders)]),
        "o_totalprice": pa.array([round(rng.uniform(1000.0, 500000.0), 2) for _ in range(n_orders)]),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": pa.array([rng.choice(_PRIORITIES) for _ in range(n_orders)]),
    })

    li = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )}
    for ok in range(n_orders):
        for ln in range(1, rng.randrange(1, 8) + 1):
            qty = float(rng.randrange(1, 51))
            ship = o_date[ok] + timedelta(days=rng.randrange(1, 122))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900.0, 2100.0), 2))
            li["l_discount"].append(rng.randrange(11) / 100.0)
            li["l_tax"].append(rng.randrange(9) / 100.0)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(ship)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_quantity": pa.array(li["l_quantity"]),
        "l_extendedprice": pa.array(li["l_extendedprice"]),
        "l_discount": pa.array(li["l_discount"]),
        "l_tax": pa.array(li["l_tax"]),
        "l_returnflag": pa.array(li["l_returnflag"]),
        "l_linestatus": pa.array(li["l_linestatus"]),
        "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us")),
    })

    ev0 = datetime(2024, 1, 1)
    ev_ts = sorted(
        ev0 + timedelta(microseconds=rng.randrange(30 * 86_400 * 1_000_000))
        for _ in range(n_events)
    )
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_events)], pa.int64()),
        "event_type": pa.array([rng.choice(_EVENT_TYPES) for _ in range(n_events)]),
        "value": pa.array([round(rng.expovariate(1 / 40.0) + 0.01, 2) for _ in range(n_events)]),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)]),
    })

    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.08:  # near-duplicate of an earlier doc
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randrange(20, 90))]
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([rng.choice(_LANGS) for _ in range(n_docs)]),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = []
    for _ in range(n_vecs):
        v = [rng.gauss(0.0, 1.0) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_vecs)], pa.int32()),
    })
