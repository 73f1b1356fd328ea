"""Report marts — publish_to_reports re-expressed as four DataFrame
pipelines (publish/publication.py:40-338; grains per SURVEY §3.2).

The reference streams each SELECT row-by-row into a TRUNCATEd table
under SERIALIZABLE isolation; here each mart is one plan ending in
dropDuplicates (the ON CONFLICT DO NOTHING analog) and an atomic
overwrite write.

Scale shape shared by all four marts: the funder-federal flag is
aggregated per publication FIRST (one boolean per pub), then joined
into the author fan-out — the funder multiplicity never crosses the
author multiplicity, so the big join carries one row per edge, not
per (edge × funder).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rialto_airflow_spark.functions.normalize import bool_to_csv, piped

def source_coverage():
    """P2 — drop OpenAlex-only publications
    (publish/publication.py:80-86)."""
    return (
        F.col("pubmed_harvested").isNotNull()
        | F.col("dim_harvested").isNotNull()
        | F.col("wos_harvested").isNotNull()
        | F.col("sulpub_harvested").isNotNull()
    )


def _federal_flags(funder_edges: DataFrame, funders: DataFrame) -> DataFrame:
    """A1 — jsonb_agg_strict(federal) + any(): nulls dropped before
    the any(), empty aggregation → False
    (publish/publication.py:52-58,108)."""
    return (
        funder_edges.join(
            funders.select(F.col("id").alias("__fid"), "federal"),
            funder_edges["funder_id"] == F.col("__fid"),
            "left",
        )
        .groupBy("publication_id")
        .agg(F.coalesce(F.bool_or("federal"), F.lit(False)).alias("federally_funded"))
    )


def _with_federal(pubs: DataFrame, funder_edges: DataFrame, funders: DataFrame) -> DataFrame:
    flags = _federal_flags(funder_edges, funders)
    return pubs.join(
        flags, pubs["id"] == flags["publication_id"], "left"
    ).drop("publication_id").withColumn(
        "federally_funded", F.coalesce(F.col("federally_funded"), F.lit(False))
    )


def _author_join(pubs: DataFrame, author_edges: DataFrame, authors: DataFrame) -> DataFrame:
    """The author fan-out: one row per (pub, linked author)."""
    return pubs.join(
        author_edges, pubs["id"] == author_edges["publication_id"]
    ).join(authors.select(
        F.col("id").alias("__aid"), "sunet", "orcid", "role", "academic_council",
        "primary_school", "primary_dept",
    ), F.col("author_id") == F.col("__aid"))


# Each mart is one composition: the base (covered publications with
# their federal flag), for the three author-grain marts the author
# fan-out of that base, then the mart's projection + dropDuplicates.
# The public mart_* functions compose the three steps; the publish DAG
# builds the base and the fan-out once and projects all four marts
# from them.


def _base(pubs: DataFrame, funder_edges: DataFrame, funders: DataFrame) -> DataFrame:
    """P2 + A1: the publications every mart reads, each with its
    federally_funded flag."""
    return _with_federal(pubs.where(source_coverage()), funder_edges, funders)


def _publications(base: DataFrame) -> DataFrame:
    return base.select(
        "doi",
        "pub_year",
        "apc",
        piped("author_list_names").alias("author_list_names"),
        "open_access",
        piped("types").alias("types"),
        "publisher",
        "journal_name",
        "title",
        "federally_funded",
        "academic_council_authored",
        "faculty_authored",
    ).dropDuplicates()


def _by_school(fan_out: DataFrame) -> DataFrame:
    return fan_out.select(
        "academic_council_authored",
        "apc",
        "doi",
        "faculty_authored",
        "federally_funded",
        "open_access",
        "primary_school",
        "pub_year",
        piped("types").alias("types"),
    ).dropDuplicates()


def _by_department(fan_out: DataFrame) -> DataFrame:
    return fan_out.select(
        "academic_council_authored",
        "apc",
        "doi",
        "faculty_authored",
        "federally_funded",
        "open_access",
        "primary_school",
        F.col("primary_dept").alias("primary_department"),
        "pub_year",
        piped("types").alias("types"),
    ).dropDuplicates()


def _by_author(fan_out: DataFrame) -> DataFrame:
    return fan_out.select(
        "abstract",
        piped("author_list_names").alias("author_list_names"),
        piped("author_list_orcids").alias("author_list_orcids"),
        F.col("academic_council").alias("academic_council"),
        "apc",
        "citation_count",
        "doi",
        "federally_funded",
        "first_author_name",
        "first_author_orcid",
        "issue",
        "last_author_name",
        "last_author_orcid",
        "journal_name",
        "open_access",
        "orcid",
        "pages",
        "primary_school",
        F.col("primary_dept").alias("primary_department"),
        "publisher",
        "role",
        "sunet",
        "pub_year",
        "title",
        piped("types").alias("types"),
        "volume",
        F.lit(None).cast("string").alias("grant_ids"),
    ).dropDuplicates(["doi", "sunet"])


def mart_publications(
    pubs: DataFrame, funder_edges: DataFrame, funders: DataFrame
) -> DataFrame:
    """publications — 1 row per publication
    (publish/publication.py:40-118). Expects distilled columns."""
    return _publications(_base(pubs, funder_edges, funders))


def mart_publications_by_school(
    pubs: DataFrame,
    author_edges: DataFrame,
    authors: DataFrame,
    funder_edges: DataFrame,
    funders: DataFrame,
) -> DataFrame:
    """publications_by_school — 1 row per (pub, distinct author
    primary_school) (publish/publication.py:120-181)."""
    return _by_school(
        _author_join(_base(pubs, funder_edges, funders), author_edges, authors)
    )


def mart_publications_by_department(
    pubs: DataFrame,
    author_edges: DataFrame,
    authors: DataFrame,
    funder_edges: DataFrame,
    funders: DataFrame,
) -> DataFrame:
    """publications_by_department — 1 row per (pub, primary_school,
    primary_dept) (publish/publication.py:184-246)."""
    return _by_department(
        _author_join(_base(pubs, funder_edges, funders), author_edges, authors)
    )


def mart_publications_by_author(
    pubs: DataFrame,
    author_edges: DataFrame,
    authors: DataFrame,
    funder_edges: DataFrame,
    funders: DataFrame,
) -> DataFrame:
    """publications_by_author — 1 row per (pub, author), unique on
    (doi, sunet) (publish/publication.py:249-338; reports.py:100-102).

    The reference recomputes abstract/citation_count/pages/issue/
    volume/author lists from raw JSON at publish time; our pubs frame
    already carries them as distilled columns (same distillers, same
    values), so this mart is a pure projection. grant_ids exists in
    the schema but is never populated (reports.py:85) — kept null.
    """
    return _by_author(
        _author_join(_base(pubs, funder_edges, funders), author_edges, authors)
    )


def incremental_mart_publications_by_author_parts(
    old_pubs: DataFrame,
    new_pubs: DataFrame,
    author_edges: DataFrame,
    authors: DataFrame,
    funder_edges: DataFrame,
    funders: DataFrame,
    key: str = "id",
    compare_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental rebuild of ``publications_by_author`` from the
    publication CHANGE FEED — the consumer side of
    ``TableStore.changes()``: the (affected DOIs, rebuilt fragment)
    pair for only the mart rows whose source pubs changed between two
    retained versions, instead of recomputing the full
    pubs×edges×authors fan-out every run. Land it with
    ``operators.merge.apply_mart_parts(old_mart, affected, fragment,
    "doi")`` (old mart minus affected DOIs ∪ fragment), or as an
    O(changes) keyed REPLACE on a MANIFEST mart
    (``TableStore.replace_keys_manifest`` — only dirty doi-buckets
    land on disk).

    ``compare_cols`` narrows the diff's change test: the default
    (every shared column) is always correct, but in this engine a pub
    cannot change without its ``updated_at`` moving (M2's upsert
    stamps it; the watermark predicates depend on exactly that), so
    ``compare_cols=["updated_at"]`` turns the version diff into a
    THIN (key, stamp) join instead of a wide all-column comparison —
    the difference between shuffling two full table versions and
    shuffling two id/timestamp projections at 100 TB.

    The reference republished every mart weekly in full
    (dags/publish_to_reports.py:17-61 — each run TRUNCATEs and
    re-streams all rows); at its row counts that is fine, at 100 TB
    the full fan-out join is the single most expensive plan in the
    publish DAG while a weekly delta touches a sliver of it. Shape:
    one thin ``snapshot_diff`` of the two versions; affected DOIs =
    old∪new dois of the changed pub ids (O(changes), broadcast); the
    author fan-out runs over ONLY the affected DOIs' pubs.

    Equality contract (pinned by test): the applied result equals a
    full ``mart_publications_by_author(new_pubs, ...)`` rebuild,
    PROVIDED edges/authors/funder dims are the same ones a full
    rebuild would use — dim-side changes are not in this feed;
    callers that mutate edges/authors must fall back to a full
    rebuild (the DAG's flags-refresh divergence note explains why
    edge deltas are the cheaper-whole-table case anyway)."""
    # fan_key='doi' — rebuild every pub group SHARING an affected doi,
    # not just the changed ids (the mart is keyed (doi, sunet), so an
    # unchanged pub contributing rows under an affected doi must
    # re-enter the fragment or its rows would vanish with the
    # anti-join; null-safe matching keeps the null-DOI group whole for
    # the same reason)
    from rialto_airflow_spark.operators.merge import changed_rows, mart_parts

    return mart_parts(
        *changed_rows(old_pubs, new_pubs, key, compare_cols=compare_cols),
        new_pubs,
        "doi",
        lambda pubs: mart_publications_by_author(
            pubs, author_edges, authors, funder_edges, funders
        ),
    )


def format_for_download(df: DataFrame) -> DataFrame:
    """K3 — CSV download formatting (publish/publication.py:400-421):
    booleans rendered 'true'/'false', null → empty string."""
    out = df
    for name, dtype in df.dtypes:
        if dtype == "boolean":
            out = out.withColumn(name, bool_to_csv(name))
    return out


def write_download_csv(df: DataFrame, path: str) -> None:
    """K3 — single-file CSV with header."""
    format_for_download(df).coalesce(1).write.mode("overwrite").csv(
        path, header=True
    )


# Field,Type,Description rows for the consumer-facing data dictionary
# (reference ships static documentation/{table}_data_dictionary.csv per
# export, publish/publication.py:444-451; here the dictionary is
# DERIVED from the exported header so it can never drift from the data)
FIELD_DOCS: dict[str, tuple[str, str]] = {
    "doi": ("String", "DOI (Digital Object Identifier)"),
    "title": ("String", "Publication title"),
    "apc": ("Integer", "Article processing charge in USD"),
    "open_access": ("String", "Open-access status (gold/green/bronze/hybrid/closed)"),
    "pub_year": ("Integer", "Publication year"),
    "citation_count": ("Integer", "Maximum citation count across sources"),
    "journal_name": ("String", "Journal name"),
    "journal_issn": ("String", "Pipe-delimited ISSNs for the journal"),
    "publisher": ("String", "Publisher name"),
    "types": ("String", "Pipe-delimited publication types"),
    "funders": ("String", "Pipe-delimited funder names"),
    "federally_funded": ("Boolean", "Any funder is a US federal agency"),
    "academic_council_authored": ("Boolean", "Any author is academic council"),
    "faculty_authored": ("Boolean", "Any author has a faculty role"),
    "authors": ("String", "Pipe-delimited author full names"),
    "orcid": ("String", "Author ORCID iD"),
    "sunet": ("String", "Author SUNet ID"),
    "full_name": ("String", "Author full name"),
    "first_name": ("String", "Author first name"),
    "last_name": ("String", "Author last name"),
    "role": ("String", "Author role"),
    "primary_school": ("String", "Author primary school"),
    "primary_department": ("String", "Author primary department"),
    "primary_division": ("String", "Author primary division"),
    "academic_council": ("Boolean", "Author is academic council"),
    "abstract": ("String", "Publication abstract"),
    "pages": ("String", "Page range"),
    "issue": ("String", "Issue number"),
    "volume": ("String", "Volume number"),
    "grant_ids": ("String", "Pipe-delimited grant identifiers"),
    "pmid": ("String", "PubMed identifier"),
}


def data_dictionary_csv(header: list[str]) -> str:
    """Render the Field,Type,Description dictionary for an export's
    actual header (unknown fields degrade to String with no text)."""
    lines = ["Field,Type,Description"]
    for col in header:
        ftype, desc = FIELD_DOCS.get(col, ("String", ""))
        desc = '"%s"' % desc.replace('"', '""') if "," in desc else desc
        lines.append(f"{col},{ftype},{desc}")
    return "\n".join(lines) + "\n"


def zip_downloads(csv_dirs: dict[str, str], zip_path: str) -> str:
    """K3 — package the exported CSVs into one zip, each alongside its
    {table}_data_dictionary.csv (publish/publication.py:444-451 bundles
    the dictionary into every download zip; deleting the raw files is
    left to callers)."""
    import csv
    import glob
    import os
    import zipfile

    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, d in sorted(csv_dirs.items()):
            parts = sorted(glob.glob(os.path.join(d, "part-*.csv")))
            if parts:
                z.write(parts[0], arcname=f"{name}.csv")
                with open(parts[0], newline="") as fh:
                    header = next(csv.reader(fh), [])
                z.writestr(
                    f"{name}_data_dictionary.csv", data_dictionary_csv(header)
                )
    return zip_path
