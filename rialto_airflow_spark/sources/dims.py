"""S10-S15 — static reference datasets as broadcast dimension tables.

The reference loads these with pandas and memoizes per-row lookups
(apc/__init__.py:10-27, funders/dataset.py:26-37,
funders/ror_grid_dataset.py:17-25, openalex.py:262-277). Here each is
a small DataFrame the engine broadcast-joins — the set-based
replacement for per-row cached calls, which is what keeps distill/
link stages shuffle-free on the dimension side at any corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rialto_airflow_spark.functions.normalize import normalize_funder_name


def apc_lookup(apc_raw: DataFrame) -> DataFrame:
    """S13 — unpivot the APC dataset (ISSN_1, ISSN_2, APC_year,
    APC_USD) to (issn, apc_year, apc_usd, ds_idx).

    ds_idx preserves dataset row order because get_apc takes the
    FIRST matching row in file order (apc/__init__.py:22-27); rows
    with null APC_USD are dropped as in the reference's notna filter.
    """
    w = Window.orderBy(F.monotonically_increasing_id())
    idxed = apc_raw.withColumn("ds_idx", F.row_number().over(w) - 1)
    base = idxed.where(F.col("APC_USD").isNotNull()).select(
        F.col("ISSN_1").alias("issn_1"),
        F.col("ISSN_2").alias("issn_2"),
        F.col("APC_year").cast("int").alias("apc_year"),
        F.col("APC_USD").cast("int").alias("apc_usd"),
        "ds_idx",
    )
    one = base.where(F.col("issn_1").isNotNull()).select(
        F.col("issn_1").alias("issn"), "apc_year", "apc_usd", "ds_idx"
    )
    two = base.where(F.col("issn_2").isNotNull()).select(
        F.col("issn_2").alias("issn"), "apc_year", "apc_usd", "ds_idx"
    )
    return one.unionByName(two)


def federal_funders(raw: DataFrame) -> DataFrame:
    """S14 — (name, id[GRID]) with the reference's name normalization
    (funders/dataset.py:8-37): lowercase, trailing ' (ACRONYM)'
    stripped. Join on grid_id OR normalized name (J7)."""
    return raw.select(
        F.col("name").alias("funder_name"),
        normalize_funder_name("name").alias("normalized_name"),
        F.col("id").alias("grid_id"),
    )


def ror_grid(raw: DataFrame) -> DataFrame:
    """S15 — ROR↔GRID equivalence (funders/ror_grid_dataset.py:17-25):
    J8 broadcast map rorId -> gridId."""
    return raw.select(
        F.col("rorId").alias("ror_id"), F.col("gridId").alias("grid_id")
    )


def issn_source(raw: DataFrame) -> DataFrame:
    """S10 — materialized ISSN → OpenAlex Source lookup
    (openalex.py:262-277 memoized API call, made set-based):
    (issn, display_name, host_organization_name)."""
    return raw.select("issn", "display_name", "host_organization_name")
