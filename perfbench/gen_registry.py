"""Seeded generator for the ten registry tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
types and value distributions of the star-schema test data the registry
queries were written against (TPC-H-like keys and enums, an ``events``
stream over January 2024, word-salad ``documents`` with ~5% near
duplicates, unit-norm 64-d ``embeddings``). Row counts scale with
``sf`` the same way: ``lineitem`` has 6,000,000 x sf rows.

The same (seed, sf) always produces byte-identical files.
"""

from __future__ import annotations

import datetime
import os
from fractions import Fraction

import numpy as np
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, n, start: datetime.date, span_days: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    off = rng.integers(0, span_days + 1, n).astype("timedelta64[D]")
    return base + off.astype("timedelta64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables as pandas frames (column order and dtypes as
    written)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_emb = max(100, int(round(500 * (sf / 0.01) ** 0.6)))

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{a} {n}" for a in _ADJ for n in _NOUN]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": rng.choice(names, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, datetime.date(1995, 1, 1), 2404),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, datetime.date(1995, 1, 2), 2498),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span_us, n_ev).astype("timedelta64[us]"))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _event_types(rng, n_ev),
            # even cents: the registry's weighted sums (x0.5) stay whole
            # cents, never a half-cent rounding tie
            "value": np.round(rng.exponential(2500.0, n_ev)) * 2 / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_emb, 64)).astype(np.float64)
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.standard_normal((10, 64)) * 0.5
    vec = vec + centroids[labels]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vec],
            "label": labels.astype(np.int32),
        }
    )
    return out


def _event_types(rng, n: int) -> np.ndarray:
    """Uniform event types, re-drawn while q41's skew ratio (largest
    type count over the mean count, rounded to 2 places) would sit
    exactly on a rounding tie: Spark rounds the decimal value half-up
    (1.035 -> 1.04), DuckDB the binary double (1.035 -> 1.03). That
    difference is the program's, not the data's; the benchmark keeps
    its inputs off it."""
    while True:
        types = rng.choice(_EVENT_TYPES, n)
        top = max(np.unique(types, return_counts=True)[1])
        ratio = Fraction(int(top) * len(_EVENT_TYPES) * 100, n)
        if ratio.denominator != 2:
            return types


def _documents(rng, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # near duplicate of an earlier document: a few words
            # substituted and a ``dup`` marker appended
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            words.append("dup")
        else:
            k = int(rng.integers(10, 101))
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)]
        if len(words) == 64:
            # q26's quality score of a 64-token text can sit within
            # float error of a 4th-place rounding tie (k/32 terms), where
            # Spark and DuckDB round differently
            words.append(_VOCAB[int(rng.integers(0, len(_VOCAB)))])
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write(out_dir: str, sf: float, seed: int) -> str:
    """Generate and write every table under ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in generate(sf, seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
