"""Deterministic synthetic inputs for the benchmark.

Writes the ten source tables the engine reads (TPC-H-ish star plus the
``events``, ``documents`` and ``embeddings`` extension tables) as
parquet, with the same schemas and value distributions as the
repository's test corpora. Sizes follow the 0.01 scale factor:
60k lineitems, 15k orders, 1.5k customers, 500 documents.

The base tables depend only on ``BASE_SEED``, so every benchmark seed
reads the same corpus. ``perturb_lineitem`` derives, from the benchmark
seed, the changed input that ``bi_session``'s ETL cycles alternate with.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

BASE_SEED = 42
SF = 0.01
PERTURBED_MONTHS = 3
PERTURBED_SHARE = 0.2

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables() -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line = int(1_500_000 * SF), int(6_000_000 * SF)
    n_events, n_docs, n_vecs = int(1_000_000 * SF), int(50_000 * SF), int(50_000 * SF)
    i32 = np.int32

    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS})
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    part = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    gaps = rng.exponential(30 * 86400 / n_events, n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]"
    )
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_cust // 10, n_events).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2).clip(0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            # Near-duplicate of an earlier document: the dedup operators
            # need true positives to find.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs).astype(i32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def copy_tables(src_dir: str, dst_dir: str) -> None:
    """Copy every source table to a new directory: a new path is a new
    input for the engine's star cache."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in TABLES:
        shutil.copyfile(
            os.path.join(src_dir, f"{name}.parquet"), os.path.join(dst_dir, f"{name}.parquet")
        )


def perturb_lineitem(lineitem: pd.DataFrame, seed: int) -> tuple[pd.DataFrame, list[str]]:
    """Raise the price of a share of the lineitems shipped in a few
    seed-chosen months. Returns the changed table and the changed
    ``yyyy-MM`` months (the fact's ``pay_month`` values).

    Only ``l_extendedprice`` moves, upward by at least one cent. The
    fact's surrogate key orders by the other lineitem keys first, so
    rows keep their keys and every upsert updates real rows.
    """
    rng = np.random.default_rng([BASE_SEED, seed])
    month = lineitem["l_shipdate"].dt.strftime("%Y-%m")
    months = sorted(rng.choice(sorted(month.unique()), PERTURBED_MONTHS, replace=False))
    hit = month.isin(months).to_numpy() & (rng.random(len(lineitem)) < PERTURBED_SHARE)
    out = lineitem.copy()
    bump = np.round(rng.uniform(0.01, 50.0, int(hit.sum())), 2)
    out.loc[hit, "l_extendedprice"] = np.round(out.loc[hit, "l_extendedprice"] + bump, 2)
    return out, [str(m) for m in months]
