"""The change-set → mart refresh path (``operators.merge``): the publish
DAG's incremental ``publications_by_author`` plans its version diff
once and derives both the mart and the keyed-REPLACE parts from it."""

from __future__ import annotations

from rialto_airflow_spark.dag import build_publish_dag
from tests.test_harvest_marts import PUB_SCHEMA, mkpub, ts


def test_incremental_publish_plans_one_snapshot_diff(spark, monkeypatch):
    """``publish_by_author`` on the incremental path calls
    ``snapshot_diff`` once (the parts feed both the mart DataFrame and
    ``publish_to_store``'s REPLACE), and the mart still equals the full
    rebuild. Same fixture as ``test_dag.py::
    test_incremental_mart_from_change_feed``: pub 1 updated, pub 3
    deleted, pub 4 inserted, pub 2 untouched."""
    from rialto_airflow_spark.operators import merge
    from rialto_airflow_spark.plans.marts import mart_publications_by_author

    authors = spark.createDataFrame(
        [
            (10, "ada", None, "0-1", "Ada", "L", True, True, "faculty",
             ["Eng"], ["CS"], "Eng", "CS", None, ts(1), ts(1)),
            (11, "bob", None, "0-2", "Bob", "M", True, False, "staff",
             ["Hum"], ["Hist"], "Hum", "Hist", None, ts(1), ts(1)),
        ],
        "id bigint, sunet string, cap_profile_id string, orcid string, "
        "first_name string, last_name string, status boolean, "
        "academic_council boolean, role string, schools array<string>, "
        "departments array<string>, primary_school string, primary_dept string, "
        "primary_division string, created_at timestamp, updated_at timestamp",
    )
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (3, 11), (4, 10)],
        "publication_id bigint, author_id bigint",
    )
    funder_edges = spark.createDataFrame(
        [], "publication_id bigint, funder_id bigint"
    )
    funders = spark.createDataFrame(
        [], "grid_id string, name string, federal boolean, ror_id string, "
            "openalex_id string, id bigint"
    )

    def pub(i, doi, title, updated=1):
        return mkpub(
            i, doi=doi, updated=updated, sulpub_harvested=ts(1), title=title
        )

    old_pubs = spark.createDataFrame(
        [pub(1, "10.1/a", "A v1"), pub(2, "10.1/b", "B v1"),
         pub(3, "10.1/c", "C v1")],
        PUB_SCHEMA,
    )
    new_pubs = spark.createDataFrame(
        [pub(1, "10.1/a", "A v2", updated=5), pub(2, "10.1/b", "B v1"),
         pub(4, "10.1/d", "D v1")],
        PUB_SCHEMA,
    )
    mart1 = mart_publications_by_author(
        old_pubs, edges, authors, funder_edges, funders
    )

    calls = []
    real = merge.snapshot_diff

    def counting(*args, **kwargs):
        calls.append(args[2])
        return real(*args, **kwargs)

    monkeypatch.setattr(merge, "snapshot_diff", counting)
    ctx = build_publish_dag().run({
        "spark": spark,
        "pubs": new_pubs,
        "authors": authors,
        "author_edges": edges,
        "funder_edges": funder_edges,
        "funders": funders,
        "harvests": spark.createDataFrame(
            [(1, ts(1), ts(2), False)],
            "id bigint, created_at timestamp, finished_at timestamp, "
            "is_full boolean",
        ),
        "incremental": {
            "prev_pubs": old_pubs,
            "prev_mart_by_author": mart1,
            "compare_cols": ["updated_at"],
        },
    })
    assert ctx["publish_ok"]
    assert calls == ["id"]

    def rowset(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(r[c] for c in cols) for r in df.select(*cols).collect()
        )

    full = mart_publications_by_author(
        new_pubs, edges, authors, funder_edges, funders
    )
    assert rowset(ctx["mart_by_author"]) == rowset(full)
