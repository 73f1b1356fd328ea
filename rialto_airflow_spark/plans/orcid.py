"""ORCID reporting operators (publish_orcid_to_reports DAG surface):
A5 scope-count stats, A6 latest-record-per-orcid, A10 adoption
percentages, and the author_orcids mart.

Reference: rialto_airflow/mais.py:62-182, publish/orcid.py:17-76,
validate.py:6-92 (pandas) — all re-expressed as DataFrame plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rialto_airflow_spark.operators.dedup import survivor_select


def latest_orcid_records(users: DataFrame, order_col: str = "ingest_order") -> DataFrame:
    """A6 — mais.py:140-147: dict-overwrite keyed by orcid_id, last
    record wins → survivor window on the ingest order."""
    return survivor_select(
        users.where(F.col("orcid_id").isNotNull()), ["orcid_id"], order_col
    )


def count_scopes(users: DataFrame) -> DataFrame:
    """A5 — mais.py:150-164: occurrences of each scope; `scope` may
    be a single string or an array (dict-or-list again)."""
    scopes = F.explode(
        F.when(
            F.col("scope").startswith("["), F.from_json("scope", "array<string>")
        ).otherwise(F.array(F.col("scope")))
    ).alias("scope_value")
    return (
        users.where(F.col("scope").isNotNull())
        .select(scopes)
        .groupBy("scope_value")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def orcid_stats(users: DataFrame, today: Column | None = None) -> DataFrame:
    """A5 — mais.py:167-182: one row (date_label, read_only, read_write)
    where read_only = read_limited − read_write."""
    counts = count_scopes(users)
    pivoted = counts.agg(
        F.coalesce(
            F.sum(F.when(F.col("scope_value") == "/read-limited", F.col("n"))),
            F.lit(0),
        ).alias("__limited"),
        F.coalesce(
            F.sum(F.when(F.col("scope_value") == "/activities/update", F.col("n"))),
            F.lit(0),
        ).alias("__write"),
    )
    label = today if today is not None else F.date_format(F.current_date(), "MM/dd/yyyy")
    return pivoted.select(
        label.alias("date_label"),
        (F.col("__limited") - F.col("__write")).alias("read_only_scope"),
        F.col("__write").alias("read_write_scope"),
    )


def orcid_adoption(
    authors: DataFrame,
    role: str,
    school: str | None = None,
    dept: str | None = None,
    present: bool = True,
) -> DataFrame:
    """A10 — validate.py:18-83: percent of a role group with (or
    without) an ORCID, optionally filtered by school/department;
    rounded to 1 decimal like the reference."""
    df = authors.where(F.col("role") == role)
    if school is not None:
        df = df.where(F.col("primary_school") == school)
    if dept is not None:
        df = df.where(F.col("primary_dept") == dept)
    ind = F.col("orcid").isNotNull() if present else F.col("orcid").isNull()
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(ind.cast("double")) * 100, 1).alias("percent"),
    )
