"""Seeded generator for the ten catalog tables the ``plans.queries_*``
layer reads (FIXTURES.md family A: TPC-H-ish star schema plus events,
documents and embeddings), written as one parquet file per table.

Column names, types and value domains follow the fixture spec, so every
catalog query and its DuckDB oracle run unchanged over the output. Row
counts scale with ``sf`` the way the fixture ladder does (sf0.001 has
6,000 lineitem rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["widget", "bolt", "gear", "gizmo", "plate", "anvil", "ring", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64


def _names(prefix: str, keys: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(keys.astype(str), 9))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_events = max(int(1_000_000 * sf), 500)
    n_docs = max(int(50_000 * sf), 200)
    n_vecs = max(int(50_000 * sf), 200)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _names("Customer#", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _names("Supplier#", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    })

    day0 = np.datetime64("1995-01-01", "ms")
    ok = np.arange(n_ord)
    odate = day0 + rng.integers(0, 2400, n_ord) * np.timedelta64(1, "D")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    lines_per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines_per)
    n_li = len(l_ok)
    l_num = np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    l_pk = rng.integers(0, n_part, n_li)
    ship = np.repeat(odate, lines_per) + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(l_pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (l_pk % 1000) / 10 + rng.uniform(0, 1200, n_li)), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("ms")),
    })

    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_events)
    ) * np.timedelta64(1, "us")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_events // 66, 10), n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": _money(rng, 0.01, 490, n_events),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}"),
    })

    lens = rng.integers(10, 100, n_docs)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), lens.sum())]
    text = np.array(
        [" ".join(ws) for ws in np.split(words, np.cumsum(lens)[:-1])], dtype=object
    )
    # ~5% exact duplicates for the dedup family
    dup = rng.random(n_docs) < 0.05
    text[dup] = text[rng.integers(0, n_docs, dup.sum())]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(s) for s in text], pa.int64()),
    })

    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
