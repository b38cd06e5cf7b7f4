"""Synthesize the engine's ten input tables as parquet files.

The tables follow the layout the engine reads (one ``{name}.parquet`` per
table, see ``data.TABLES``) and the distributions of the project's
reference test data: uniform keys, TPC-H-like value ranges, a sorted
``events`` stream over 30 days in which 5 % of events are re-delivered
(same user and timestamp as the event before), a 31-word document
vocabulary with 5 % near-duplicates (a copy of another document plus the
token ``dup``) and random unit-norm 64-d embeddings. Row counts scale linearly with ``sf``
(lineitem = 6,000,000 × sf).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
EMB_DIM = 64
#: share of events that repeat the (user_id, ts) of the event before them
DUP_EVENTS = 0.05


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _fmt(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys]


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _fmt("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _fmt("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": P_TYPES[rng.integers(0, len(P_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    users = rng.integers(0, n_users, n_ev)
    # re-delivered events: a new event_id with the (user_id, ts) of the
    # event before it, so deduplicating queries have rows to drop
    dup = np.flatnonzero(rng.random(n_ev) < DUP_EVENTS)
    dup = dup[dup > 0]
    ts[dup] = ts[dup - 1]
    users[dup] = users[dup - 1]
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": users,
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, n_doc)
    text = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        text[i] = text[int(rng.integers(0, n_doc))] + " dup"
    dk = np.arange(n_doc, dtype=np.int64)
    out["documents"] = pa.table({
        "doc_id": dk,
        "text": text,
        "lang": LANGS[rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": np.char.add("src", (dk % 20).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    v = rng.standard_normal((n_emb, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n_emb * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
        pa.array(v.ravel(), pa.float32()),
    )
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def build(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the tables under ``out_dir`` once; later calls reuse them.

    The directory appears atomically (written beside it, then renamed), so
    an interrupted build never leaves a half-written table set behind."""
    marker = os.path.join(out_dir, "_ROWS.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = {}
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
        rows[name] = t.num_rows
    with open(os.path.join(tmp, "_ROWS.json"), "w") as f:
        json.dump(rows, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return rows

