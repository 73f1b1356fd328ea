"""Local mirror of the driver's duckdb-oracle comparison.

Runs a Spark plan and its DuckDB oracle SQL over the same parquet dir,
then compares row count, sorted column names, and an order-insensitive
normalized value multiset. Floats are compared after rounding so the
check matches what the queries themselves guarantee (they round any
summation-order-sensitive aggregate in BOTH engines).
"""

from __future__ import annotations

import datetime
import math

import duckdb

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


def duckdb_run(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    # execute the oracle once (some take minutes); rows and the pandas
    # frame both read the materialized result
    con.execute(f"CREATE TEMP TABLE __oracle AS {sql}")
    cur = con.execute("SELECT * FROM __oracle")
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    pdf = None
    try:
        pdf = con.execute("SELECT * FROM __oracle").df()
    except Exception:
        pass
    con.close()
    return cols, rows, pdf


def _dtype_kind(dt) -> str:
    """Collapse a pandas dtype to the equivalence class the driver's
    value-hash distinguishes: int64-with-NULLs becomes float64 in BOTH
    engines' pandas conversion, so kinds ('i' vs 'f') are what matters
    — q22 failed two driver rounds on exactly int64-vs-float64 while
    every value compared equal after Python's 8 == 8.0."""
    k = dt.kind  # i u f b O M m
    return {"u": "i"}.get(k, k)


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def normalize_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def compare(spark_df, sql: str, sf_dir: str, name: str = "query"):
    s_cols = spark_df.columns
    s_pdf = spark_df.toPandas()
    s_rows = [tuple(r) for r in spark_df.collect()]
    d_cols, d_rows, d_pdf = duckdb_run(sql, sf_dir)
    if d_pdf is not None:
        for col in sorted(s_cols):
            if col not in d_pdf.columns:
                continue
            sk = _dtype_kind(s_pdf[col].dtype)
            dk = _dtype_kind(d_pdf[col].dtype)
            assert sk == dk, (
                f"{name}.{col}: pandas dtype kind mismatch spark="
                f"{s_pdf[col].dtype} duckdb={d_pdf[col].dtype} — the driver's "
                f"value-hash distinguishes these even when values are equal"
            )
    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count mismatch spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    sn = normalize_rows(s_cols, s_rows)
    dn = normalize_rows(d_cols, d_rows)
    mism = [i for i, (a, b) in enumerate(zip(sn, dn)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} mismatched rows; first: spark={sn[mism[0]]} "
        f"duckdb={dn[mism[0]]}"
    )
