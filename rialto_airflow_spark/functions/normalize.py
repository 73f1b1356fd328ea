"""Normalizer library — SURVEY.md §2.9 (N1-N15), as pure Column
expressions so they run JVM-side inside whole-stage codegen.

Each function re-expresses the semantics of the reference
(rialto_airflow/utils.py:88-223, harvest_incremental/authors.py:167-173,
funders/dataset.py:19-23) set-based; no Python UDFs anywhere in here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_doi(col: Column | str) -> Column:
    """N1 — reference rialto_airflow/utils.py:88-119.

    null/blank → null; any '"' → null; lowercase; drop spaces and
    backslashes; '&gt'/'&lt' anywhere → null; leading 'arxiv:' becomes
    the 10.48550/arxiv. DOI prefix; finally keep the first substring
    matching '10\\..+' (else null).
    """
    c = _c(col)
    cleaned = F.regexp_replace(F.lower(c), r"[ \\]", "")
    cleaned = F.regexp_replace(cleaned, r"^arxiv:", "10.48550/arxiv.")
    extracted = F.regexp_extract(cleaned, r"(10\..+)", 1)
    return (
        F.when(c.isNull() | (F.trim(c) == ""), F.lit(None))
        .when(c.contains('"'), F.lit(None))
        .when(cleaned.contains("&gt") | cleaned.contains("&lt"), F.lit(None))
        .when(extracted == "", F.lit(None))
        .otherwise(extracted)
    )


def normalize_pmid(col: Column | str) -> Column:
    """N2 — utils.py:126-133: strip, lowercase, drop PubMed URL and
    'medline:' prefixes (replace anywhere, like the reference)."""
    c = F.lower(F.trim(_c(col)))
    c = F.replace(c, F.lit("https://pubmed.ncbi.nlm.nih.gov/"), F.lit(""))
    c = F.replace(c, F.lit("medline:"), F.lit(""))
    return c


def normalize_wos_id(col: Column | str) -> Column:
    """N3 — utils.py:136-160: strip; blank → null; 'MEDLINE:'-prefixed
    → null (those encode PMIDs); drop a leading 'WOS:' (any case)."""
    t = F.trim(_c(col))
    u = F.upper(t)
    return (
        F.when(t.isNull() | (t == ""), F.lit(None))
        .when(u.startswith("MEDLINE:"), F.lit(None))
        .when(u.startswith("WOS:"), F.substring(t, 5, 2147483647))
        .otherwise(t)
    )


def normalize_orcid(col: Column | str) -> Column:
    """N4 — utils.py:163-169: strip, lowercase, drop orcid.org /
    sandbox.orcid.org URL prefixes."""
    c = F.lower(F.trim(_c(col)))
    c = F.replace(c, F.lit("https://orcid.org/"), F.lit(""))
    c = F.replace(c, F.lit("https://sandbox.orcid.org/"), F.lit(""))
    return c


def piped(col: Column | str) -> Column:
    """N5 — utils.py:172-182: null list → null; else pipe-join with
    None elements dropped (empty list → '')."""
    c = _c(col)
    return F.when(c.isNull(), F.lit(None)).otherwise(
        F.array_join(F.filter(c, lambda x: x.isNotNull()), "|")
    )


def to_boolean(col: Column | str) -> Column:
    """N7a — authors.py:167-169: strict {'true','false'} map (trimmed,
    case-insensitive); anything else is null (reference raises)."""
    c = F.lower(F.trim(_c(col)))
    return F.when(c == "true", F.lit(True)).when(c == "false", F.lit(False))


def to_array(col: Column | str) -> Column:
    """N7b — authors.py:172-173: pipe-split; empty/null → []."""
    c = _c(col)
    return F.when(c.isNull() | (c == ""), F.array().cast("array<string>")).otherwise(
        F.split(c, r"\|")
    )


def normalize_funder_name(col: Column | str) -> Column:
    """N10 — funders/dataset.py:19-23: strip one trailing ' (ACRONYM)'
    parenthetical, then lowercase."""
    return F.lower(F.regexp_replace(F.trim(_c(col)), r" ?\([^)]*\)$", ""))


def bool_to_csv(col: Column | str) -> Column:
    """N14 — publish/publication.py:400-421: booleans rendered as
    'true'/'false', null → empty string, for CSV downloads."""
    c = _c(col)
    return F.when(c.isNull(), F.lit("")).when(c, F.lit("true")).otherwise(F.lit("false"))
