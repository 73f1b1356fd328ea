"""The publish DAG's shared mart intermediates: the change-set → mart
refresh path (``operators.merge``) — the incremental
``publications_by_author`` plans its version diff once and derives
both the mart and the keyed-REPLACE parts from it — and the full
rebuild, which builds the federal base and the author fan-out once for
all four marts."""

from __future__ import annotations

from rialto_airflow_spark.dag import build_publish_dag
from tests.test_harvest_marts import PUB_SCHEMA, mkpub, ts


def _authors(spark):
    return spark.createDataFrame(
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


def _harvests(spark):
    return spark.createDataFrame(
        [(1, ts(1), ts(2), False)],
        "id bigint, created_at timestamp, finished_at timestamp, "
        "is_full boolean",
    )


def test_incremental_publish_plans_one_snapshot_diff(spark, monkeypatch):
    """``publish_by_author`` on the incremental path calls
    ``snapshot_diff`` once (the parts feed both the mart DataFrame and
    ``publish_to_store``'s REPLACE), and the mart still equals the full
    rebuild. Same fixture as ``test_dag.py::
    test_incremental_mart_from_change_feed``: pub 1 updated, pub 3
    deleted, pub 4 inserted, pub 2 untouched."""
    from rialto_airflow_spark.operators import merge
    from rialto_airflow_spark.plans.marts import mart_publications_by_author

    authors = _authors(spark)
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
        "harvests": _harvests(spark),
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


def test_full_publish_builds_base_and_fan_out_once(spark, monkeypatch):
    """The full publish run builds the federal base (``_with_federal``)
    and the author fan-out (``_author_join``) once each and projects
    all four marts from them; each DAG mart equals its public
    ``mart_*`` function, row for row (exceptAll both ways)."""
    from rialto_airflow_spark.plans import marts as M

    authors = _authors(spark)
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (3, 11), (5, 10)],
        "publication_id bigint, author_id bigint",
    )
    funder_edges = spark.createDataFrame(
        [(1, 70), (1, 71), (2, 71), (3, 72)],
        "publication_id bigint, funder_id bigint",
    )
    funders = spark.createDataFrame(
        [("grid.0", "NIH", True, None, None, 70),
         ("grid.1", "Acme", False, None, None, 71),
         ("grid.2", "Unknown", None, None, None, 72)],
        "grid_id string, name string, federal boolean, ror_id string, "
        "openalex_id string, id bigint",
    )
    pubs = spark.createDataFrame(
        [
            mkpub(1, doi="10.1/a", sulpub_harvested=ts(1),
                  author_list_names=["Ada L", "Bob M"], abstract="A"),
            mkpub(2, doi="10.1/b", dim_harvested=ts(1), apc=100),
            mkpub(3, doi="10.1/c", wos_harvested=ts(1),
                  academic_council_authored=True),
            # OpenAlex-only: dropped by source coverage
            mkpub(4, doi="10.1/d", openalex_harvested=ts(1)),
            mkpub(5, doi=None, pubmed_harvested=ts(1)),
        ],
        PUB_SCHEMA,
    )

    calls = {"_with_federal": 0, "_author_join": 0}
    for name in calls:
        real = getattr(M, name)

        def counting(*args, _real=real, _name=name, **kwargs):
            calls[_name] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(M, name, counting)
    ctx = build_publish_dag().run({
        "spark": spark,
        "pubs": pubs,
        "authors": authors,
        "author_edges": edges,
        "funder_edges": funder_edges,
        "funders": funders,
        "harvests": _harvests(spark),
    })
    assert ctx["publish_ok"]
    assert calls == {"_with_federal": 1, "_author_join": 1}
    monkeypatch.undo()

    fan_args = (pubs, edges, authors, funder_edges, funders)
    public = {
        "mart_publications": M.mart_publications(pubs, funder_edges, funders),
        "mart_by_school": M.mart_publications_by_school(*fan_args),
        "mart_by_department": M.mart_publications_by_department(*fan_args),
        "mart_by_author": M.mart_publications_by_author(*fan_args),
    }
    for key, want in public.items():
        # exceptAll over an un-materialized dropDuplicates(subset) plan
        # fails to bind in Spark 4.1 (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
        # in the replicate_rows Generate); the DAG's marts are already
        # materialized, the public ones are materialized here
        got, want = ctx[key], want.localCheckpoint()
        assert got.columns == want.columns, key
        assert got.count() == want.count() > 0, key
        assert got.exceptAll(want).count() == 0, key
        assert want.exceptAll(got).count() == 0, key
    flags = {r["doi"]: r["federally_funded"]
             for r in ctx["mart_publications"].collect()}
    assert flags == {"10.1/a": True, "10.1/b": False, "10.1/c": False, None: False}
