"""K4 — the CLI 'publications for author X' query (cli.py:18-78) as
one DataFrame plan: filter the author, traverse the association
edges, pipe-join co-author sunets / funder names / present sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rialto_airflow_spark.functions.perf import local_df

# cli.py:54-62 source presence order
CLI_SOURCE_ORDER = ("sulpub", "crossref", "dim", "wos", "openalex", "pubmed")


def publications_for_author(
    sunet: str,
    pubs: DataFrame,
    author_edges: DataFrame,
    authors: DataFrame,
    funder_edges: DataFrame,
    funders: DataFrame,
) -> DataFrame:
    """One row per publication of the author, with pipe-joined
    authors/funders/sources (cli.py:40-78). Authors/funders aggregate
    per publication before the final projection — a semi-join path
    plus two pre-aggregations, no row-loop."""
    target = authors.where(F.col("sunet") == sunet).select(
        F.col("id").alias("__target_aid")
    )
    pub_ids = author_edges.join(
        F.broadcast(target), F.col("author_id") == F.col("__target_aid")
    ).select("publication_id").distinct()

    my_pubs = pubs.join(
        F.broadcast(pub_ids), pubs["id"] == pub_ids["publication_id"], "left_semi"
    )
    return _cli_projection(
        my_pubs, pub_ids, author_edges, authors, funder_edges, funders
    )


def publications_for_author_from_store(
    sunet: str,
    spark,
    store,
    table: str,
    author_edges: DataFrame,
    authors: DataFrame,
    funder_edges: DataFrame,
    funders: DataFrame,
) -> DataFrame:
    """The CLI lookup against a PERSISTED manifest publications table
    (``dag.complete``'s ``pubs_store`` output): one author's
    publication ids are driver-small by construction (hundreds, not
    millions — the point-read contract), so they collect and the pubs
    side reads through ``TableStore.read_keys`` — path-selected to
    ≤k bucket leaf dirs (file-pruned further under file-COW layouts)
    instead of scanning a 100 TB table to serve one author. The
    pre-round-11 shape (``publications_for_author`` over
    ``store.read(...)``) semi-joined the SAME ids against a
    full-table scan."""
    target = authors.where(F.col("sunet") == sunet).select(
        F.col("id").alias("__target_aid")
    )
    pub_ids_df = author_edges.join(
        F.broadcast(target), F.col("author_id") == F.col("__target_aid")
    ).select("publication_id").distinct()
    ids = [r["publication_id"] for r in pub_ids_df.collect()]
    my_pubs = store.read_keys(spark, table, ids)
    # the collected ids feed the edge branches too, as one local
    # slice, so the author→edge join runs once per lookup
    pub_ids = local_df(
        spark,
        [(i,) for i in ids],
        "publication_id "
        + author_edges.schema["publication_id"].dataType.simpleString(),
    )
    return _cli_projection(
        my_pubs, pub_ids, author_edges, authors, funder_edges, funders
    )


def _cli_projection(
    my_pubs: DataFrame,
    pub_ids: DataFrame,
    author_edges: DataFrame,
    authors: DataFrame,
    funder_edges: DataFrame,
    funders: DataFrame,
) -> DataFrame:
    def mine(edges: DataFrame) -> DataFrame:
        return edges.join(
            F.broadcast(pub_ids.withColumnRenamed("publication_id", "__pid")),
            F.col("publication_id") == F.col("__pid"),
            "left_semi",
        )

    co_authors = (
        mine(author_edges)
        .join(
            authors.select(F.col("id").alias("__aid"), "sunet"),
            F.col("author_id") == F.col("__aid"),
        )
        .groupBy("publication_id")
        .agg(F.concat_ws("|", F.collect_list("sunet")).alias("authors"))
    )
    pub_funders = (
        mine(funder_edges)
        .join(
            funders.select(F.col("id").alias("__fid"), "name"),
            F.col("funder_id") == F.col("__fid"),
        )
        .groupBy("publication_id")
        .agg(F.concat_ws("|", F.collect_list("name")).alias("funders"))
    )
    sources = F.concat_ws(
        "|",
        F.array_compact(
            F.array(
                *[
                    F.when(F.col(f"{s}_json").isNotNull(), F.lit(s))
                    for s in CLI_SOURCE_ORDER
                ]
            )
        ),
    )
    return (
        my_pubs.join(
            co_authors, my_pubs["id"] == co_authors["publication_id"], "left"
        )
        .drop("publication_id")
        .join(pub_funders, my_pubs["id"] == pub_funders["publication_id"], "left")
        .drop("publication_id")
        .select(
            "doi",
            "title",
            "publisher",
            "pub_year",
            "open_access",
            F.concat_ws("|", F.col("types")).alias("types"),
            "journal_name",
            F.coalesce(F.col("authors"), F.lit("")).alias("authors"),
            F.coalesce(F.col("funders"), F.lit("")).alias("funders"),
            sources.alias("sources"),
        )
    )
