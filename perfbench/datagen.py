"""Seeded fixture generation for the benchmark.

Two families of input, both written under the run's work directory:

- ``star_schema``: the ten catalog tables (TPC-H-style star schema plus
  ``events``, ``documents`` and ``embeddings``) as one parquet file each,
  with the column names, Arrow types and value domains of the catalog's
  reference testdata.  It is generated from a fixed seed, like that
  testdata, so every workload seed runs the catalog over the same tables.
- ``federation_fixtures``: the dashboard's extractor inputs (a CSV
  directory with inferred types, an all-strings CSV directory queried
  with ``coerce=True`` and a JSON-lines directory with a nested field).
  These derive from the workload seed.

Only NumPy and PyArrow are used, so generation needs no Spark session.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_SEED = 42

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
OS_NAMES = ("android", "ios", "linux", "macos", "windows")

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rows(sf: float, per_sf1: int, floor: int) -> int:
    return max(floor, int(round(per_sf1 * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo_day: int, hi_day: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(lo_day, hi_day, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _write(path: str, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    pq.write_table(pa.table(cols), path)


def _documents(rng: np.random.Generator, n: int) -> dict[str, list]:
    """Whitespace-token documents over a 31-word vocabulary.  About one
    in twenty is a near-duplicate (an earlier document plus the token
    ``dup``) and a few are exact copies, so the dedup operators have
    pairs to find."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    langs = [LANGS[j] for j in rng.integers(0, len(LANGS), n)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> dict:
    """Unit vectors with a weak per-label direction (label centroid
    norm about 0.14, as in the reference testdata)."""
    centers = rng.normal(0.0, 1.0, (labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, labels, n).astype(np.int32)
    x = 0.14 * centers[label] + rng.normal(0.0, 0.125, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": label,
    }


def star_schema(out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten catalog tables at scale factor ``sf`` into
    ``out_dir`` (one ``<table>.parquet`` each).  Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(STAR_SEED)
    n_cust = _rows(sf, 150_000, 150)
    n_supp = _rows(sf, 10_000, 10)
    n_part = _rows(sf, 200_000, 200)
    n_ord = _rows(sf, 1_500_000, 1_500)
    n_li = _rows(sf, 6_000_000, 6_000)
    n_ev = _rows(sf, 1_000_000, 1_000)
    n_users = _rows(sf, 15_000, 15)
    n_docs = _rows(sf, 50_000, 500)
    n_emb = _rows(sf, 20_000, 500)

    _write(os.path.join(out_dir, "region.parquet"), {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(REGIONS),
    })
    _write(os.path.join(out_dir, "nation.parquet"), {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(os.path.join(out_dir, "customer.parquet"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    _write(os.path.join(out_dir, "supplier.parquet"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(os.path.join(out_dir, "part.parquet"), {
        "p_partkey": keys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    _write(os.path.join(out_dir, "orders.parquet"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(os.path.join(out_dir, "lineitem.parquet"), {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, 1, 2499, n_li),
    })
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    _write(os.path.join(out_dir, "events.parquet"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [json.dumps({"k": int(j)}) for j in rng.integers(0, 100, n_ev)],
    })
    _write(os.path.join(out_dir, "documents.parquet"), _documents(rng, n_docs))
    _write(os.path.join(out_dir, "embeddings.parquet"), _embeddings(rng, n_emb))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_docs, "embeddings": n_emb,
        "users": n_users,
    }


def federation_fixtures(out_dir: str, seed: int, n_cust: int) -> dict[str, str]:
    """Write the dashboard's non-parquet extractor inputs under
    ``out_dir`` from ``seed``.  Returns {db name: directory}.

    - ``crm/purchases.csv`` (types inferred): id, custkey, day, cents.
    - ``shop/products.csv`` (read as all strings): id, name, price, stock.
    - ``logs/sessions.jsonl``: id, user_id, t (epoch seconds),
      device {os, ver}, dur_ms.
    """
    rng = np.random.default_rng(seed)
    dirs = {db: os.path.join(out_dir, db) for db in ("crm", "shop", "logs")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    n_buy = 4000
    cust = rng.integers(0, n_cust, n_buy)
    day = rng.integers(0, 365, n_buy)
    cents = rng.integers(100, 100_000, n_buy)
    with open(os.path.join(dirs["crm"], "purchases.csv"), "w") as fh:
        fh.write("id,custkey,day,cents\n")
        for i in range(n_buy):
            fh.write(f"{i},{cust[i]},{day[i]},{cents[i]}\n")

    n_prod = 500
    price = rng.integers(100, 100_000, n_prod)
    stock = rng.integers(0, 1000, n_prod)
    with open(os.path.join(dirs["shop"], "products.csv"), "w") as fh:
        fh.write("id,name,price,stock\n")
        for i in range(n_prod):
            fh.write(f"{i},product_{i},{price[i] // 100}.{price[i] % 100:02d},{stock[i]}\n")

    n_sess = 6000
    users = rng.integers(0, 200, n_sess)
    t = 1_704_067_200 + np.sort(rng.integers(0, 7 * 86_400, n_sess))
    os_idx = rng.integers(0, len(OS_NAMES), n_sess)
    ver = rng.integers(1, 15, n_sess)
    dur = rng.integers(10, 600_000, n_sess)
    with open(os.path.join(dirs["logs"], "sessions.jsonl"), "w") as fh:
        for i in range(n_sess):
            fh.write(json.dumps({
                "id": i, "user_id": int(users[i]), "t": int(t[i]),
                "device": {"os": OS_NAMES[os_idx[i]], "ver": int(ver[i])},
                "dur_ms": int(dur[i]),
            }) + "\n")
    return dirs
