"""Seeded generator for the ten query tables the operator library reads.

Same table names, columns and types as the shared test tables (a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), generated from the benchmark seed so every run builds
its own inputs inside the checkout. ``scale`` plays the role of the
TPC-H scale factor: ``lineitem`` has about ``6_000_000 * scale`` rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de", "ja", "pt"])
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14, 0.0, 0.0])
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
_DIM = 64


def _days(start: str, n_days: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + n_days.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; return row counts."""
    rng = np.random.Generator(np.random.Philox(seed))
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_li = max(800, int(6_000_000 * scale))
    n_ev = max(500, int(1_000_000 * scale))
    n_users = max(20, n_ev // 66)
    n_docs = max(200, int(50_000 * scale))
    n_emb = max(100, int(20_000 * scale))

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red"])
    noun = np.array(["ring", "bolt", "plate", "nut", "gear", "pipe"])
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 7, n_part)], " "),
                noun[rng.integers(0, 6, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"])[
                rng.integers(0, 5, n_part)
            ],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    odate = rng.integers(0, 2404, n_ord)
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(900.0, 450_000.0, n_ord), 2),
            "o_orderdate": _days("1995-01-01", odate),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
        }
    )
    lo = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": lo.astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days("1995-01-02", odate[lo] + rng.integers(0, 121, n_li)),
        }
    )
    ts_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.uniform(0.0, 200.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)

    os.makedirs(out_dir, exist_ok=True)
    for name, df in t.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in t.items()}


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Filler-word documents with ~5% near-duplicates (one word changed,
    ``dup`` appended) and ~0.2% exact copies, so the dedup and
    near-dup leaves find real pairs."""
    words = np.array(_WORDS)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    src = rng.integers(0, n, n)
    kind = rng.random(n)
    for i in range(1, n):
        j = int(src[i]) % i
        if kind[i] < 0.002:
            texts[i] = texts[j]
        elif kind[i] < 0.05:
            toks = texts[j].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
            texts[i] = " ".join(toks) + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Unit vectors clustered around ten label centroids."""
    centers = rng.normal(size=(10, _DIM))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(scale=0.8, size=(n, _DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v),
            "label": label.astype(np.int32),
        }
    )
