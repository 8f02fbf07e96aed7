"""Seeded generator of the benchmark's input tables.

Writes the ten tables the engine's queries read (``region`` .. ``embeddings``)
as one parquet file each, with the column names and types of the engine's
test data (TESTDATA.md), so every registered query runs on them unchanged.
The values are drawn from ``numpy.random.default_rng(seed)``: one seed gives
byte-identical inputs, another seed gives another draw of the same shape.

``sf`` scales the row counts like the test data: at ``sf=0.1`` lineitem has
600,000 rows, events 100,000, documents 5,000 and embeddings 2,000.
"""

from __future__ import annotations

import datetime as dt
import os

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
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "group filter stream big vector"
).split()
EMB_DIM = 64
EMB_LABELS = 10


def _ts(start: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 100)
    n_supp = max(int(10_000 * sf), 20)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 1_000)
    n_line = max(int(6_000_000 * sf), 4_000)
    n_ev = max(int(1_000_000 * sf), 1_000)
    n_doc = max(int(50_000 * sf), 200)
    n_emb = max(int(20_000 * sf), 500)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pnames = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(pnames[rng.integers(0, len(pnames), n_part)]),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, n_part)]
            ),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(
                900.0 + (np.arange(n_part) % 1000) / 10.0, 2
            ),
        }
    )
    day_us = 86_400 * 1_000_000
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]
            ),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(
                dt.datetime(1995, 1, 1), rng.integers(0, 2405, n_ord) * day_us
            ),
            "o_orderpriority": pa.array(
                np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]
            ),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    part_of_line = rng.integers(0, n_part, n_line)
    price = np.round(qty * (900.0 + (part_of_line % 1000) / 10.0) * 1.0, 2)
    flags = rng.integers(0, 6, n_line)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(part_of_line, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags // 2]),
            "l_linestatus": pa.array(np.array(["F", "O"])[flags % 2]),
            "l_shipdate": _ts(
                dt.datetime(1995, 1, 2), rng.integers(0, 2499, n_line) * day_us
            ),
        }
    )
    t["events"] = events_table(rng, 0, n_ev)
    t["documents"] = documents_table(rng, n_doc)
    t["embeddings"] = embeddings_table(rng, n_emb)
    return t


def events_table(
    rng: np.random.Generator, first_id: int, n: int, n_users: int = 1500
) -> pa.Table:
    """``n`` events with ids ``first_id ..``; timestamps rise with the id."""
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": _ts(dt.datetime(2024, 1, 1), ts),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 32-word vocabulary; about 1% are exact
    copies and 3% near copies (a few words changed) of earlier ones, so the
    dedup operators find both kinds."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.04:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(len(words) // 20, 1)):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(8, 100))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors in ten labelled clusters."""
    centers = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> int:
    """Write every table to ``out_dir/<name>.parquet``; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
