"""End-to-end DAG orchestration test: harvest_incremental then
publish_to_reports over an in-memory dataset with a JSONL landing
dir (the file-backed connector boundary)."""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql import functions as F

from rialto_airflow_spark.dag import build_harvest_dag, build_publish_dag
from rialto_airflow_spark.plans.marts import write_download_csv, zip_downloads
from rialto_airflow_spark.sources.dims import federal_funders
from tests.test_harvest_marts import PUB_SCHEMA, mkpub, ts
import pytest

# slow integration battery — excluded from the default lane (see
# pyproject.toml); run with: pytest tests/ -m slowlane
pytestmark = pytest.mark.slowlane


def test_dag_end_to_end(spark, tmp_path):
    # landing dir with one new crossref payload (fill-in) and one new
    # openalex payload matching an existing DOI
    oa_dir = tmp_path / "openalex"
    oa_dir.mkdir()
    (oa_dir / "batch1.jsonl").write_text(
        json.dumps({"doi": "https://doi.org/10.1/A", "title": "From Landing",
                    "type": "article", "id": "https://openalex.org/W77"})
    )

    pubs = spark.createDataFrame(
        [
            mkpub(1, doi="10.1/a", updated=2, sulpub_harvested=ts(1),
                  dim_json={"id": "pub.1", "title": "Dim T", "type": "article",
                            "year": 2020,
                            "funders": [{"id": "grid.1", "name": "NSF"}]}),
            mkpub(2, openalex_id="W1", updated=1),
            mkpub(3, openalex_id="W1", updated=5, dim_harvested=ts(2)),
        ],
        PUB_SCHEMA,
    )
    authors = spark.createDataFrame(
        [(10, "ada", None, "0-1", "Ada", "L", True, True, "faculty",
          ["Eng"], ["CS"], "Eng", "CS", None, ts(1), ts(1))],
        "id bigint, sunet string, cap_profile_id string, orcid string, "
        "first_name string, last_name string, status boolean, "
        "academic_council boolean, role string, schools array<string>, "
        "departments array<string>, primary_school string, primary_dept string, "
        "primary_division string, created_at timestamp, updated_at timestamp",
    )
    ctx = {
        "spark": spark,
        "pubs": pubs,
        "authors": authors,
        "author_edges": spark.createDataFrame(
            [(1, 10), (2, 10), (3, 10)], "publication_id bigint, author_id bigint"
        ),
        "funder_edges": spark.createDataFrame(
            [], "publication_id bigint, funder_id bigint"
        ),
        "funders": spark.createDataFrame(
            [], "grid_id string, name string, federal boolean, ror_id string, "
                "openalex_id string, id bigint"
        ),
        "harvests": spark.createDataFrame(
            [(1, ts(1), ts(2), False)],
            "id bigint, created_at timestamp, finished_at timestamp, is_full boolean",
        ),
        "landing_dirs": {"openalex": str(oa_dir)},
        "dims": {
            "federal": federal_funders(
                spark.createDataFrame([("NSF", "grid.1")], "name string, id string")
            )
        },
    }

    harvest = build_harvest_dag()
    # distill rebuilds the distilled columns; drop stale ones so
    # withColumn replacement is exercised, then run
    ctx = harvest.run(ctx)
    assert ctx["harvest_finished"]

    out = {r["id"]: r for r in ctx["pubs"].collect()}
    # landing payload merged onto doi 10.1/a; dedup kept 3 over 2
    assert set(out) == {1, 3}
    assert json.loads(out[1]["openalex_json"])["id"] == "https://openalex.org/W77"
    assert out[1]["title"] == "Dim T"            # distilled (dim beats openalex? no sulpub)
    assert out[1]["academic_council_authored"] is True

    # funder got linked from the dim payload
    assert ctx["funder_edges"].count() == 1
    fr = ctx["funders"].collect()[0]
    assert (fr["grid_id"], fr["federal"]) == ("grid.1", True)

    # publish DAG over the harvested state
    from rialto_airflow_spark.storage import TableStore

    ctx["download_dir"] = str(tmp_path / "dl")
    ctx["reports_store"] = TableStore(str(tmp_path / "reports"))
    pub_dag = build_publish_dag()
    ctx = pub_dag.run(ctx)
    assert ctx["publish_ok"]
    assert ctx["mart_publications"].count() >= 1
    m = {r["doi"]: r for r in ctx["mart_publications"].collect()}
    assert m["10.1/a"]["federally_funded"] is True

    # reports-DB write: all four marts in ONE snapshot, readable back
    seq = ctx["reports_snapshot"]
    store = ctx["reports_store"]
    assert {n for _s, t in store.snapshots() for n in t} == {
        "publications",
        "publications_by_school",
        "publications_by_department",
        "publications_by_author",
    }
    snap_pubs = {
        r["doi"]: r
        for r in store.read_snapshot(spark, "publications", seq=seq).collect()
    }
    assert snap_pubs["10.1/a"]["federally_funded"] is True
    assert (
        store.read_snapshot(spark, "publications_by_author", seq=seq).count()
        >= 1
    )

    # zip packaging (K3): data CSV + its data dictionary, like the
    # reference's per-table download zips (publish/publication.py:444-451)
    zp = zip_downloads(
        {"publications": f"{ctx['download_dir']}/mart_publications"},
        str(tmp_path / "downloads.zip"),
    )
    import io
    import zipfile

    zf = zipfile.ZipFile(zp)
    assert sorted(zf.namelist()) == [
        "publications.csv",
        "publications_data_dictionary.csv",
    ]
    # the dictionary describes exactly the export's actual header
    import csv as _csv

    with zf.open("publications.csv") as fh:
        header = next(_csv.reader(io.TextIOWrapper(fh)))
    with zf.open("publications_data_dictionary.csv") as fh:
        dd = list(_csv.reader(io.TextIOWrapper(fh)))
    assert dd[0] == ["Field", "Type", "Description"]
    assert [r[0] for r in dd[1:]] == header
    # boolean fields are documented as such (K3 formats them true/false)
    dd_types = {r[0]: r[1] for r in dd[1:]}
    assert dd_types.get("federally_funded") == "Boolean"


def test_llm_curation_dag_end_to_end(spark, sf_dir, tmp_path):
    """The full curation task graph runs standalone, publishes every
    intermediate table, and its report is consistent with docs_final."""
    from pyspark.sql import functions as F

    from rialto_airflow_spark.llm_dag import build_curation_dag
    from rialto_airflow_spark.session import load_tables

    dag = build_curation_dag()
    names = [t.name for t in dag.topo_order()]
    assert names.index("exact_dedup") > names.index("c4_gate")
    assert names[-1] == "report"

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    bench = docs.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    ctx = dag.run(
        {
            "spark": spark,
            "sf_dir": sf_dir,
            "store_root": str(tmp_path / "store"),
            # the synthetic corpus is unpunctuated word soup: gate on
            # line length only so the graph exercises every stage
            "c4_params": {
                "min_words_per_line": 5,
                "min_sentences": 0,
                "blocklist": (),
                "drop_brace": False,
            },
            "gopher_params": {
                "min_words": 10,
                "min_stopword_hits": 1,
                "min_mean_word_len": 2.0,
            },
            "benchmark_df": bench,
            "clf_dim": 128,
            "clf_iters": 15,
            "sample_docs": 40,  # budget cut: quality-weighted 40 docs
            "shards_dir": str(tmp_path / "shards"),
            "n_shards": 4,
        }
    )
    store = ctx["store"]
    n_in = docs.count()
    n_gated = store.read(spark, "docs_gated").count()
    n_gopher = store.read(spark, "docs_gopher").count()
    n_dedup = store.read(spark, "docs_dedup").count()
    n_span = store.read(spark, "docs_span").count()
    final = store.read(spark, "docs_final")
    n_final = final.count()
    assert 0 < n_final <= n_span <= n_dedup <= n_gopher <= n_gated <= n_in
    # span stage: row-preserving (it cuts tokens, not docs) and audited
    span_tbl = store.read(spark, "docs_span")
    assert n_span == n_dedup
    assert span_tbl.where(F.col("span_removed") < 0).count() == 0
    # budget sample: exactly min(40, candidates) docs survive the cut
    n_scored = store.read(spark, "docs_scored").count()
    n_sampled = store.read(spark, "docs_sampled").count()
    assert n_sampled == min(40, n_scored)
    # decontamination removed the benchmark docs themselves
    decon = store.read(spark, "docs_decon")
    assert decon.join(bench.select("doc_id"), "doc_id", "left_semi").count() == 0
    # report totals match the final table
    rep = store.read(spark, "curation_report")
    assert rep.agg(F.sum("n_docs")).first()[0] == n_final
    assert set(
        r["split"] for r in rep.select("split").distinct().collect()
    ) <= {"train", "eval"}
    # every doc got a quality probability in [0, 1]
    assert (
        final.where(
            (F.col("quality_prob") < 0) | (F.col("quality_prob") > 1)
        ).count()
        == 0
    )
    # terminal shard export: the train split landed as ordered shards
    man = ctx["shards_manifest"]
    n_train = final.where(F.col("split") == "train").count()
    assert man["rows"] == n_train and man["n_shards"] == 4
    shards = spark.read.parquet(str(tmp_path / "shards"))
    assert shards.count() == n_train
    assert {"shard_id", "pos"} <= set(shards.columns)


def test_flags_refresh_when_only_edges_change(spark, tmp_path):
    """D18 flags must track the EDGE/AUTHOR state, not the payload
    watermark: a new pub↔faculty-author link discovered during an
    incremental harvest touches no pub payload, so updated_at stays
    put and the pub skips re-distillation — yet the flags must flip.
    (The reference serves stale flags here — distill-time-only
    derivation, distill.py:72-86 — a documented deliberate
    divergence.)"""
    from rialto_airflow_spark.storage import TableStore

    store = TableStore(str(tmp_path / "tables"))
    pubs = spark.createDataFrame(
        [mkpub(1, doi="10.1/a", updated=2, sulpub_harvested=ts(1))],
        PUB_SCHEMA,
    )
    authors = spark.createDataFrame(
        [
            (10, "ada", None, "0-1", "Ada", "L", True, True, "faculty",
             ["Eng"], ["CS"], "Eng", "CS", None, ts(1), ts(1)),
            (11, "bob", None, "0-2", "Bob", "M", True, False, "staff",
             ["Eng"], ["CS"], "Eng", "CS", None, ts(1), ts(1)),
        ],
        "id bigint, sunet string, cap_profile_id string, orcid string, "
        "first_name string, last_name string, status boolean, "
        "academic_council boolean, role string, schools array<string>, "
        "departments array<string>, primary_school string, primary_dept string, "
        "primary_division string, created_at timestamp, updated_at timestamp",
    )
    base = dict(
        spark=spark,
        authors=authors,
        funder_edges=spark.createDataFrame(
            [], "publication_id bigint, funder_id bigint"
        ),
        funders=spark.createDataFrame(
            [], "grid_id string, name string, federal boolean, ror_id string, "
                "openalex_id string, id bigint"
        ),
        dims={},
        landing_dirs={},
        harvests=spark.createDataFrame(
            [(1, ts(1), ts(2), True)],
            "id bigint, created_at timestamp, finished_at timestamp, is_full boolean",
        ),
        is_full=False,
    )

    # run 1: only a staff author linked (the pub must have SOME edge
    # or orphan removal drops it) → both flags False, pub distilled
    staff_edge = spark.createDataFrame(
        [(1, 11)], "publication_id bigint, author_id bigint"
    )
    ctx1 = dict(base, pubs=pubs, author_edges=staff_edge)
    ctx1 = build_harvest_dag().run(ctx1)
    store.write(ctx1["pubs"], "pubs")
    r1 = store.read(spark, "pubs").collect()[0]
    assert (r1["faculty_authored"], r1["academic_council_authored"]) == (
        False,
        False,
    )
    assert r1["distilled_at"] is not None

    # run 2: the ONLY change is a new faculty edge (payload untouched
    # — updated_at stays, the pub skips re-distillation)
    faculty_edge = spark.createDataFrame(
        [(1, 10)], "publication_id bigint, author_id bigint"
    )
    ctx2 = dict(
        base,
        pubs=store.read(spark, "pubs"),
        author_edges=staff_edge,
        incoming_edges=faculty_edge,
    )
    ctx2 = build_harvest_dag().run(ctx2)
    r2 = ctx2["pubs"].collect()[0]
    assert (r2["faculty_authored"], r2["academic_council_authored"]) == (
        True,
        True,
    )
    # and the watermark really did skip re-distillation
    assert r2["distilled_at"] == r1["distilled_at"]
    assert r2["updated_at"] == r1["updated_at"]


def test_incremental_mart_from_change_feed(spark, tmp_path):
    """CDC consumer (round-8 verdict #3): run 2 touches ONE pub
    (plus one insert, one delete) and the publications_by_author mart
    rebuilt incrementally from the table change feed equals the full
    recompute row-for-row — the reference's weekly full republish
    (dags/publish_to_reports.py:17-61) at delta cost."""
    from rialto_airflow_spark.operators.merge import apply_mart_parts
    from rialto_airflow_spark.plans.marts import (
        incremental_mart_publications_by_author_parts,
        mart_publications_by_author,
    )
    from rialto_airflow_spark.storage import TableStore

    def incremental_mart_publications_by_author(
        old_pubs, new_pubs, old_mart, *dims, compare_cols=None
    ):
        parts = incremental_mart_publications_by_author_parts(
            old_pubs, new_pubs, *dims, compare_cols=compare_cols
        )
        return apply_mart_parts(old_mart, *parts, "doi")

    store = TableStore(str(tmp_path / "tables"))
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

    pubs1 = spark.createDataFrame(
        [
            pub(1, "10.1/a", "A v1"),
            pub(2, "10.1/b", "B v1"),
            pub(3, "10.1/c", "C v1"),
        ],
        PUB_SCHEMA,
    )
    store.write(pubs1, "pubs")
    v1 = store.versions("pubs")[-1]["version"]
    mart1 = mart_publications_by_author(
        pubs1, edges, authors, funder_edges, funders
    )

    # run 2: pub 1 updated, pub 3 deleted, pub 4 inserted; pub 2 untouched
    pubs2 = spark.createDataFrame(
        [
            pub(1, "10.1/a", "A v2", updated=5),
            pub(2, "10.1/b", "B v1"),
            pub(4, "10.1/d", "D v1"),
        ],
        PUB_SCHEMA,
    )
    store.write(pubs2, "pubs")

    # the change feed names exactly the touched keys
    feed = store.changes(spark, "pubs", "id", v1)
    ops = {r["id"]: r["op"] for r in feed.collect()}
    assert ops == {1: "update", 3: "delete", 4: "insert"}

    old_pubs = store.read_version(spark, "pubs", v1)
    new_pubs = store.read(spark, "pubs")
    inc = incremental_mart_publications_by_author(
        old_pubs, new_pubs, mart1, edges, authors, funder_edges, funders
    )
    full = mart_publications_by_author(
        new_pubs, edges, authors, funder_edges, funders
    )

    def rowset(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(r[c] for c in cols) for r in df.select(*cols).collect()
        )

    assert rowset(inc) == rowset(full)
    # the thin-diff production shape (updated_at moves on every M2
    # touch) finds the same change set as the wide all-column compare
    inc_thin = incremental_mart_publications_by_author(
        old_pubs, new_pubs, mart1, edges, authors, funder_edges, funders,
        compare_cols=["updated_at"],
    )
    assert rowset(inc_thin) == rowset(full)
    # spot-check semantics: updated title flowed, deleted doi gone,
    # inserted doi present, untouched row byte-identical from mart1
    by_key = {(r["doi"], r["sunet"]): r for r in inc.collect()}
    assert by_key[("10.1/a", "ada")]["title"] == "A v2"
    assert ("10.1/c", "bob") not in by_key
    assert ("10.1/d", "ada") in by_key
    assert by_key[("10.1/b", "ada")]["title"] == "B v1"

    # and the publish DAG's opt-in incremental path produces the
    # same mart the full-rebuild path would
    ctx = {
        "spark": spark,
        "pubs": new_pubs,
        "authors": authors,
        "author_edges": edges,
        "funder_edges": funder_edges,
        "funders": funders,
        "harvests": spark.createDataFrame(
            [(1, ts(1), ts(2), False)],
            "id bigint, created_at timestamp, finished_at timestamp, is_full boolean",
        ),
        "incremental": {
            "prev_pubs": old_pubs,
            "prev_mart_by_author": mart1,
            "compare_cols": ["updated_at"],
        },
    }
    ctx = build_publish_dag().run(ctx)
    assert ctx["publish_ok"]
    assert rowset(ctx["mart_by_author"]) == rowset(full)


def test_distill_widens_narrow_input_schema(spark):
    """A pubs frame built from the CORE schema (no distill-derived
    columns — abstract, citation_count, author lists, pages/issue/
    volume/journal_issn) must still come out of the harvest DAG with
    every distill output populated.  Previously the incremental split
    projected the distilled slice back onto the narrow input columns
    (``done.select(*keep.columns)``), silently dropping everything
    distill had just computed, and the author mart then failed with
    AnalysisException at select time."""
    from rialto_airflow_spark.plans.marts import mart_publications_by_author
    from rialto_airflow_spark.schemas import DISTILL_OUTPUT_DDL

    distill_cols = [line.split()[0] for line in DISTILL_OUTPUT_DDL.strip().split(",\n")]
    narrow_schema = ", ".join(
        c for c in PUB_SCHEMA.split(", ")
        if c.split()[0] not in set(distill_cols)
    )
    row = {
        k: v
        for k, v in mkpub(
            1, doi="10.1/a", updated=2, sulpub_harvested=ts(1),
            dim_json={"id": "pub.1", "title": "Dim T", "type": "article",
                      "year": 2020, "abstract": "From the dim payload",
                      "recent_citations": 7},
        ).items()
        if k not in set(distill_cols)
    }
    pubs = spark.createDataFrame([row], narrow_schema)
    authors = spark.createDataFrame(
        [(10, "ada", None, "0-1", "Ada", "L", True, True, "faculty",
          ["Eng"], ["CS"], "Eng", "CS", None, ts(1), ts(1))],
        "id bigint, sunet string, cap_profile_id string, orcid string, "
        "first_name string, last_name string, status boolean, "
        "academic_council boolean, role string, schools array<string>, "
        "departments array<string>, primary_school string, primary_dept string, "
        "primary_division string, created_at timestamp, updated_at timestamp",
    )
    ctx = {
        "spark": spark,
        "pubs": pubs,
        "authors": authors,
        "author_edges": spark.createDataFrame(
            [(1, 10)], "publication_id bigint, author_id bigint"
        ),
        "funder_edges": spark.createDataFrame(
            [], "publication_id bigint, funder_id bigint"
        ),
        "funders": spark.createDataFrame(
            [], "grid_id string, name string, federal boolean, ror_id string, "
                "openalex_id string, id bigint"
        ),
        "harvests": spark.createDataFrame(
            [(1, ts(1), ts(2), False)],
            "id bigint, created_at timestamp, finished_at timestamp, is_full boolean",
        ),
        "landing_dirs": {},
        "dims": {},
    }
    ctx = build_harvest_dag().run(ctx)
    out = ctx["pubs"]
    # every distill output exists on the merged frame…
    assert set(distill_cols) <= set(out.columns)
    # …and carries the distilled VALUES, not the padding NULLs
    r = out.collect()[0]
    assert r["abstract"] == "From the dim payload"
    assert r["citation_count"] == 7
    # the mart that previously exploded now projects cleanly
    mart = mart_publications_by_author(
        out, ctx["author_edges"], authors, ctx["funder_edges"], ctx["funders"]
    )
    assert mart.select("abstract", "citation_count").collect()[0][0] == (
        "From the dim payload"
    )


def test_two_harvest_incremental_twin(spark, tmp_path):
    """Full harvest then INCREMENTAL harvest over mutated landing
    fixtures — the reference's conditional-distillation lifecycle
    (test/harvest_incremental/test_distill.py:63-122 +
    schema/rialto.py:116-126) as one two-run DAG test:

      run 1 (full): every pub distills (distilled_at NULL), dup
      group collapses to its survivor;
      run 2 (incremental): a mutated openalex payload touches ONE
      doi — only that pub re-distills (updated_at > distilled_at),
      untouched pubs keep their run-1 distilled_at byte-identical,
      the run-1 survivor persists, a new orphan payload is dropped,
      and the fill-in watermark predicate selects exactly the
      touched row.

    Tables are materialized through TableStore between runs (the
    Postgres-persistence analog): distilled_at/updated_at are
    current_timestamp expressions, so an unmaterialized lineage
    would re-stamp them on every action and erase the watermark
    semantics this test pins."""
    from rialto_airflow_spark.plans import watermark as W
    from rialto_airflow_spark.storage import TableStore

    store = TableStore(str(tmp_path / "tables"))

    oa1 = tmp_path / "oa_run1"
    oa1.mkdir()
    (oa1 / "batch.jsonl").write_text(
        json.dumps({"doi": "https://doi.org/10.1/A", "title": "Run1 OA",
                    "type": "article", "id": "https://openalex.org/W77"})
    )

    pubs = spark.createDataFrame(
        [
            mkpub(1, doi="10.1/a", updated=2, sulpub_harvested=ts(1),
                  dim_json={"id": "pub.1", "title": "Dim T", "type": "article",
                            "year": 2020}),
            # W1 dup group: 3 survives over 2 (newer updated_at)
            mkpub(2, openalex_id="W1", updated=1),
            mkpub(3, openalex_id="W1", updated=5, dim_harvested=ts(2)),
        ],
        PUB_SCHEMA,
    )
    authors = spark.createDataFrame(
        [(10, "ada", None, "0-1", "Ada", "L", True, True, "faculty",
          ["Eng"], ["CS"], "Eng", "CS", None, ts(1), ts(1))],
        "id bigint, sunet string, cap_profile_id string, orcid string, "
        "first_name string, last_name string, status boolean, "
        "academic_council boolean, role string, schools array<string>, "
        "departments array<string>, primary_school string, primary_dept string, "
        "primary_division string, created_at timestamp, updated_at timestamp",
    )
    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10)], "publication_id bigint, author_id bigint"
    )
    base_ctx = dict(
        spark=spark,
        authors=authors,
        funder_edges=spark.createDataFrame(
            [], "publication_id bigint, funder_id bigint"
        ),
        funders=spark.createDataFrame(
            [], "grid_id string, name string, federal boolean, ror_id string, "
                "openalex_id string, id bigint"
        ),
        dims={},
    )

    # ---- run 1: full harvest --------------------------------------
    ctx1 = dict(
        base_ctx,
        pubs=pubs,
        # full harvest: M5 resets the edge table, then link_authors
        # repopulates it from the harvest-discovered associations —
        # the reference's clear-then-relink lifecycle
        author_edges=edges,
        incoming_edges=edges,
        harvests=spark.createDataFrame(
            [(1, ts(1), ts(2), True)],
            "id bigint, created_at timestamp, finished_at timestamp, is_full boolean",
        ),
        is_full=True,
        landing_dirs={"openalex": str(oa1)},
    )
    ctx1 = build_harvest_dag().run(ctx1)
    store.write(ctx1["pubs"], "pubs")
    store.write(ctx1["author_edges"], "edges")
    r1 = {r["id"]: r for r in store.read(spark, "pubs").collect()}

    # full-run distillation: every surviving pub is stamped
    assert set(r1) == {1, 3}  # survivor choice: 3 over 2
    assert all(r1[i]["distilled_at"] is not None for i in r1)
    assert json.loads(r1[1]["openalex_json"])["title"] == "Run1 OA"

    # ---- run 2: incremental, mutated landings ---------------------
    oa2 = tmp_path / "oa_run2"
    oa2.mkdir()
    (oa2 / "batch.jsonl").write_text(
        "\n".join(
            [
                # mutated payload for the EXISTING doi → touch + re-distill
                json.dumps({"doi": "https://doi.org/10.1/A", "title": "Run2 OA",
                            "type": "article", "id": "https://openalex.org/W88"}),
                # brand-new doi with no author edge → orphan, removed
                json.dumps({"doi": "https://doi.org/10.9/ORPHAN",
                            "title": "Nobody's", "type": "article",
                            "id": "https://openalex.org/W99"}),
            ]
        )
    )
    ctx2 = dict(
        base_ctx,
        pubs=store.read(spark, "pubs"),
        author_edges=store.read(spark, "edges"),
        harvests=spark.createDataFrame(
            [(1, ts(1), ts(2), True), (2, ts(3), ts(4), False)],
            "id bigint, created_at timestamp, finished_at timestamp, is_full boolean",
        ),
        is_full=False,
        landing_dirs={"openalex": str(oa2)},
    )
    ctx2 = build_harvest_dag().run(ctx2)
    store.write(ctx2["pubs"], "pubs")
    r2 = {r["id"]: r for r in store.read(spark, "pubs").collect()}

    # orphan removed (J4), survivor persisted across runs
    assert set(r2) == {1, 3}
    assert r2[3]["openalex_json"] == r1[3]["openalex_json"]

    # updated_at-driven re-distillation: ONLY the touched pub
    assert json.loads(r2[1]["openalex_json"])["title"] == "Run2 OA"
    assert r2[1]["updated_at"] > r1[1]["updated_at"]
    assert r2[1]["distilled_at"] > r1[1]["distilled_at"]
    # untouched pub: watermark skip — byte-identical stamps
    assert r2[3]["distilled_at"] == r1[3]["distilled_at"]
    assert r2[3]["updated_at"] == r1[3]["updated_at"]

    # the watermark predicates themselves, over the run-2 state:
    # needs_distillation is False for everything (all stamps current)
    assert store.read(spark, "pubs").where(W.needs_distillation()).count() == 0
    # fill-in scope at the incremental watermark = exactly the touched
    # doi (updated since run 1, crossref payload still missing)
    wm = F.lit(r1[1]["updated_at"])
    scoped = store.read(spark, "pubs").where(
        W.fill_in_predicate("crossref", wm)
    )
    assert [r["id"] for r in scoped.collect()] == [1]
    # and a THIRD run with untouched landings re-distills nothing
    ctx3 = dict(
        base_ctx,
        pubs=store.read(spark, "pubs"),
        author_edges=store.read(spark, "edges"),
        harvests=ctx2["harvests"],
        is_full=False,
        landing_dirs={},
    )
    ctx3 = build_harvest_dag().run(ctx3)
    r3 = {r["id"]: r for r in ctx3["pubs"].collect()}
    assert {i: r3[i]["distilled_at"] for i in r3} == {
        i: r2[i]["distilled_at"] for i in r2
    }


def test_publish_snapshot_adopts_manifest_mart(spark, tmp_path):
    """Round-10 O(changes) publish: with the reports store's
    publications_by_author bootstrapped as a MANIFEST table, the
    incremental publish applies (affected dois, fragment) as a keyed
    REPLACE and the snapshot ADOPTS that version — only dirty
    doi-buckets land on disk, read_snapshot resolves the manifest,
    values equal the full rebuild, and vacuum keeps the snapshot's
    carriers pinned."""
    from rialto_airflow_spark.plans.marts import mart_publications_by_author
    from rialto_airflow_spark.storage import TableStore

    store = TableStore(str(tmp_path / "tables"))
    reports = TableStore(str(tmp_path / "reports"))
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
        [(1, 10), (1, 11), (2, 10), (3, 11), (4, 10)]
        + [(i, 10) for i in range(5, 25)],
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

    # 20 untouched filler pubs spread clean dois across many buckets
    filler = [pub(i, f"10.9/{i}", f"F{i}") for i in range(5, 25)]
    pubs1 = spark.createDataFrame(
        [pub(1, "10.1/a", "A v1"), pub(2, "10.1/b", "B v1"),
         pub(3, "10.1/c", "C v1")] + filler,
        PUB_SCHEMA,
    )
    store.write(pubs1, "pubs")
    v1 = store.versions("pubs")[-1]["version"]
    mart1 = mart_publications_by_author(
        pubs1, edges, authors, funder_edges, funders
    )
    # bootstrap: the mart lives as a doi-bucketed manifest table
    boot = reports.write_manifest(
        mart1, "publications_by_author", "doi", n_buckets=8
    )

    pubs2 = spark.createDataFrame(
        [pub(1, "10.1/a", "A v2", updated=5), pub(2, "10.1/b", "B v1"),
         pub(4, "10.1/d", "D v1")] + filler,
        PUB_SCHEMA,
    )
    store.write(pubs2, "pubs")
    old_pubs = store.read_version(spark, "pubs", v1)
    new_pubs = store.read(spark, "pubs")

    ctx = {
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
        "reports_store": reports,
        "incremental": {
            "prev_pubs": old_pubs,
            "prev_mart_by_author": mart1,
            "compare_cols": ["updated_at"],
        },
    }
    ctx = build_publish_dag().run(ctx)
    assert ctx["publish_ok"] and "reports_snapshot" in ctx

    def rowset(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(r[c] for c in cols) for r in df.select(*cols).collect()
        )

    full = mart_publications_by_author(
        new_pubs, edges, authors, funder_edges, funders
    )
    # the snapshot read resolves the adopted manifest version
    snap = reports.read_snapshot(spark, "publications_by_author")
    assert rowset(snap) == rowset(full)
    assert rowset(reports.read(spark, "publications_by_author")) == rowset(full)

    # O(changes): the refresh version holds only the affected dois'
    # buckets (3 changed dois → ≤3 of 8), the rest carried from boot
    info = reports.current_info("publications_by_author")
    dirty = [k for k, vd in info["manifest"].items() if vd == info["path"]]
    assert 1 <= len(dirty) <= 3  # 3 affected dois hash into <=3 buckets
    assert any(vd == boot for vd in info["manifest"].values())

    # vacuum keeps the snapshot-pinned carrier; the snapshot read
    # still resolves afterwards
    reports.vacuum("publications_by_author", keep=1, orphan_grace_s=0)
    assert rowset(
        reports.read_snapshot(spark, "publications_by_author")
    ) == rowset(full)


def test_harvest_persists_pubs_as_manifest_replace(spark, tmp_path):
    """ctx['pubs_store'] — the O(changes) WRITE for the CORE pubs
    table: run 1 bootstraps a manifest version; run 2 (one mutated
    payload) lands as a keyed REPLACE that rewrites only the dirty
    id-buckets, applies the run's deletes (the dedupe loser), and the
    stored table equals the run's finished ctx['pubs'] exactly."""
    import glob as _glob

    from rialto_airflow_spark.storage import TableStore

    store = TableStore(str(tmp_path / "tables"))

    oa1 = tmp_path / "oa_run1"
    oa1.mkdir()
    (oa1 / "batch.jsonl").write_text(
        json.dumps({"doi": "https://doi.org/10.1/A", "title": "Run1 OA",
                    "type": "article", "id": "https://openalex.org/W77"})
    )
    pubs = spark.createDataFrame(
        [mkpub(i, doi=f"10.1/p{i}", updated=1) for i in range(1, 40)]
        + [
            mkpub(100, doi="10.1/a", updated=2),
            # dup group: 102 survives over 101 → run's delete set
            mkpub(101, openalex_id="W1", updated=1),
            mkpub(102, openalex_id="W1", updated=5),
        ],
        PUB_SCHEMA,
    )
    authors = spark.createDataFrame(
        [(10, "ada", None, "0-1", "Ada", "L", True, True, "faculty",
          ["Eng"], ["CS"], "Eng", "CS", None, ts(1), ts(1))],
        "id bigint, sunet string, cap_profile_id string, orcid string, "
        "first_name string, last_name string, status boolean, "
        "academic_council boolean, role string, schools array<string>, "
        "departments array<string>, primary_school string, primary_dept string, "
        "primary_division string, created_at timestamp, updated_at timestamp",
    )
    edges = spark.createDataFrame(
        [(i, 10) for i in range(1, 40)] + [(100, 10), (101, 10), (102, 10)],
        "publication_id bigint, author_id bigint",
    )
    base_ctx = dict(
        spark=spark,
        authors=authors,
        author_edges=edges,
        funder_edges=spark.createDataFrame(
            [], "publication_id bigint, funder_id bigint"
        ),
        funders=spark.createDataFrame(
            [], "grid_id string, name string, federal boolean, ror_id string, "
                "openalex_id string, id bigint"
        ),
        dims={},
        harvests=spark.createDataFrame(
            [(1, ts(1), ts(2), True)],
            "id bigint, created_at timestamp, finished_at timestamp, "
            "is_full boolean",
        ),
        pubs_store=store,
        pubs_manifest_buckets=16,
    )

    # run 1: bootstrap
    ctx1 = dict(base_ctx, pubs=pubs, landing_dirs={"openalex": str(oa1)})
    ctx1 = build_harvest_dag().run(ctx1)
    info1 = store.current_info("publications")
    assert info1 and "manifest" in info1
    v1 = info1["path"]
    stored1 = store.read(spark, "publications")
    assert {r["id"] for r in stored1.select("id").collect()} == (
        set(range(1, 40)) | {100, 102}
    )

    # run 2: one mutated payload → one dirty doi; everything else carried
    oa2 = tmp_path / "oa_run2"
    oa2.mkdir()
    (oa2 / "batch.jsonl").write_text(
        json.dumps({"doi": "https://doi.org/10.1/A", "title": "Run2 OA",
                    "type": "article", "id": "https://openalex.org/W88"})
    )
    ctx2 = dict(
        base_ctx,
        pubs=stored1,
        harvests=spark.createDataFrame(
            [(2, ts(3), ts(4), False)],
            "id bigint, created_at timestamp, finished_at timestamp, "
            "is_full boolean",
        ),
        landing_dirs={"openalex": str(oa2)},
    )
    ctx2 = build_harvest_dag().run(ctx2)

    info2 = store.current_info("publications")
    v2 = info2["path"]
    assert v2 != v1
    # O(changes): the run-2 version holds only the touched id-buckets
    dirty = [k for k, vd in info2["manifest"].items() if vd == v2]
    carried = [k for k, vd in info2["manifest"].items() if vd == v1]
    assert 1 <= len(dirty) <= 2 and len(carried) >= 10
    assert sum(
        os.path.getsize(p)
        for p in _glob.glob(v2 + "/**/*.parquet", recursive=True)
    ) < sum(
        os.path.getsize(p)
        for p in _glob.glob(v1 + "/**/*.parquet", recursive=True)
    ) / 4

    # value equality with the run's finished pubs
    want = {r["id"]: r for r in ctx2["pubs"].collect()}
    got = {r["id"]: r for r in store.read(spark, "publications").collect()}
    assert set(got) == set(want)
    assert json.loads(got[100]["openalex_json"])["title"] == "Run2 OA"


def test_persist_helpers_full_harvest_and_schema_evolution(spark, tmp_path):
    """Round-10 ADVICE (both mediums): a full harvest RE-BOOTSTRAPS the
    manifest table instead of diffing (a corpus-sized diff through the
    keyed-REPLACE path is the slowest possible shape and its changed-set
    broadcast is a driver hazard), and a run whose frame GAINED a column
    also re-bootstraps (snapshot_diff only compares shared columns, so
    new-column-only changes would silently miss the dirty set)."""
    from rialto_airflow_spark.dag import _persist_table
    from rialto_airflow_spark.storage import TableStore

    store = TableStore(str(tmp_path))
    t1 = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "id long, v long"
    )
    _persist_table(store, spark, "t", t1, "id", None, n_buckets=8, is_full=False)
    assert "manifest" in store.current_info("t")

    # incremental: one changed row -> keyed replace, most entries carried
    t2 = spark.createDataFrame(
        [(i, i * 10 if i != 3 else -1) for i in range(50)], "id long, v long"
    )
    _persist_table(
        store, spark, "t", t2, "id",
        spark.createDataFrame([(3,)], "id long"),
        n_buckets=8, is_full=False,
    )
    info = store.current_info("t")
    carriers = {
        vd for e in info["manifest"].values()
        for vd in ([e] if isinstance(e, str) else [])
    }
    assert len(carriers) == 2  # bootstrap + the one-dirty-bucket replace
    assert {r["v"] for r in store.read_keys(spark, "t", [3]).collect()} == {-1}

    # full harvest: same frame, is_full=True -> ONE fresh version holds all
    _persist_table(store, spark, "t", t2, "id", None, n_buckets=8, is_full=True)
    info = store.current_info("t")
    assert len(set(info["manifest"].values())) == 1

    # schema evolution: new column, SHARED columns unchanged -> must
    # still land (re-bootstrap), and the stored table equals the frame
    t3 = t2.withColumn("w", F.col("id") + 1000)
    _persist_table(
        store, spark, "t", t3, "id", spark.range(0),
        n_buckets=8, is_full=False,
    )
    got = store.read(spark, "t")
    assert set(got.columns) == {"id", "v", "w"}
    assert got.where(F.col("w").isNull()).count() == 0

    # edge table: replace of the affected pubs' edge groups only
    e1 = spark.createDataFrame(
        [(p, a) for p in range(20) for a in (1, 2)],
        "publication_id long, author_id long",
    )
    _persist_table(
        store, spark, "edges", e1, "publication_id", None,
        n_buckets=8, is_full=False,
    )
    v_boot = store.current_info("edges")["path"]
    # one edge added, one pub's edges wiped
    e2 = e1.where(F.col("publication_id") != 7).unionByName(
        spark.createDataFrame([(3, 9)], "publication_id long, author_id long")
    )
    _persist_table(
        store, spark, "edges", e2, "publication_id",
        spark.createDataFrame([(3,), (7,)], "publication_id long"),
        n_buckets=8, is_full=False,
    )
    info = store.current_info("edges")
    carried = [e for e in info["manifest"].values() if e == v_boot]
    assert len(carried) >= 4  # most buckets untouched
    got = {
        (r["publication_id"], r["author_id"])
        for r in store.read(spark, "edges").collect()
    }
    assert got == {
        (r["publication_id"], r["author_id"]) for r in e2.collect()
    }


def test_harvest_dag_persists_edge_tables_o_changes(spark, tmp_path):
    """Task-level check: with pubs_store set, the DAG's complete()
    also lands BOTH edge tables as manifest versions; an incremental
    run's new edge applies as a keyed replace carrying the rest."""
    from rialto_airflow_spark.storage import TableStore

    store = TableStore(str(tmp_path / "tables"))
    pubs = spark.createDataFrame(
        [mkpub(i, doi=f"10.1/p{i}", updated=1) for i in range(1, 30)],
        PUB_SCHEMA,
    )
    authors = spark.createDataFrame(
        [(10, "ada", None, "0-1", "Ada", "L", True, True, "faculty",
          ["Eng"], ["CS"], "Eng", "CS", None, ts(1), ts(1))],
        "id bigint, sunet string, cap_profile_id string, orcid string, "
        "first_name string, last_name string, status boolean, "
        "academic_council boolean, role string, schools array<string>, "
        "departments array<string>, primary_school string, primary_dept string, "
        "primary_division string, created_at timestamp, updated_at timestamp",
    )
    edges = spark.createDataFrame(
        [(i, 10) for i in range(1, 30)],
        "publication_id bigint, author_id bigint",
    )
    base_ctx = dict(
        spark=spark,
        authors=authors,
        funder_edges=spark.createDataFrame(
            [], "publication_id bigint, funder_id bigint"
        ),
        funders=spark.createDataFrame(
            [], "grid_id string, name string, federal boolean, ror_id string, "
                "openalex_id string, id bigint"
        ),
        dims={},
        harvests=spark.createDataFrame(
            [(1, ts(1), ts(2), False)],
            "id bigint, created_at timestamp, finished_at timestamp, "
            "is_full boolean",
        ),
        pubs_store=store,
        pubs_manifest_buckets=8,
    )
    ctx1 = dict(base_ctx, pubs=pubs, author_edges=edges)
    ctx1 = build_harvest_dag().run(ctx1)
    for t in ("publications", "pub_author_edges", "pub_funder_edges"):
        assert "manifest" in (store.current_info(t) or {}), t
    v1 = store.current_info("pub_author_edges")["path"]

    # run 2: one new edge (insert-if-absent) -> edge replace, carried rest
    ctx2 = dict(
        base_ctx,
        pubs=store.read(spark, "publications"),
        author_edges=store.read(spark, "pub_author_edges"),
        incoming_edges=spark.createDataFrame(
            [(2, 10), (3, 10)], "publication_id bigint, author_id bigint"
        ),
    )
    ctx2 = build_harvest_dag().run(ctx2)
    info = store.current_info("pub_author_edges")
    assert info["path"] != v1
    carried = [e for e in info["manifest"].values() if e == v1]
    assert carried  # most buckets rode through by reference
    got = {
        (r["publication_id"], r["author_id"])
        for r in store.read(spark, "pub_author_edges").collect()
    }
    want = {
        (r["publication_id"], r["author_id"])
        for r in ctx2["author_edges"].collect()
    }
    assert got == want


def test_persist_full_harvest_preserves_recorded_layout(spark, tmp_path):
    """Self-review fix: an is_full re-bootstrap must carry the STORED
    table's layout (bucket sizing grown via split_buckets, file-COW
    sort_cols/max_file_rows), not the ctx defaults — otherwise one
    full harvest silently degrades every later incremental run to
    whole-bucket rewrites."""
    from rialto_airflow_spark.dag import _persist_table
    from rialto_airflow_spark.storage import TableStore

    store = TableStore(str(tmp_path))
    t1 = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "id long, v long"
    )
    store.write_manifest(
        t1, "t", "id", n_buckets=8, sort_cols=["id"], max_file_rows=10
    )
    store.split_buckets(spark, "t", factor=2)
    assert store.current_info("t")["n_buckets"] == 16

    # full harvest with a DIFFERENT ctx default (the default 64) — the
    # stored layout must survive
    _persist_table(store, spark, "t", t1, "id", None, n_buckets=64, is_full=True)
    info = store.current_info("t")
    assert info["n_buckets"] == 16
    assert info.get("sort_cols") == ["id"]
    assert info.get("max_file_rows") == 10
    assert all(not isinstance(e, str) for e in info["manifest"].values())


def test_persist_helpers_changed_keys_skip_stored_read(
    spark, tmp_path, monkeypatch
):
    """Round-12 task #1 (helper level): with a threaded changed-key
    set, persisting a keyed table or an edge table never reads the
    stored head at all — the replace rewrites only the files containing
    those keys. Pinned by poisoning snapshot_diff AND TableStore.read
    for the whole call."""
    from rialto_airflow_spark import storage as storage_mod
    from rialto_airflow_spark.dag import _persist_table
    from rialto_airflow_spark.operators import merge as merge_mod
    from rialto_airflow_spark.storage import TableStore

    store = TableStore(str(tmp_path))
    t1 = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "id long, v long"
    )
    store.write_manifest(
        t1, "t", "id", n_buckets=8, sort_cols=["id"], max_file_rows=10
    )
    e1 = spark.createDataFrame(
        [(p, a) for p in range(20) for a in (1, 2)]
        + [(None, 77)],  # a null-pub edge group must round-trip
        "publication_id long, author_id long",
    )
    _persist_table(
        store, spark, "edges", e1, "publication_id", None,
        n_buckets=8, is_full=False,
    )
    v_pub_boot = store.current_info("t")["path"]
    v_edge_boot = store.current_info("edges")["path"]

    def _poison(*a, **k):
        raise AssertionError("stored-head read on the threaded path")

    monkeypatch.setattr(merge_mod, "snapshot_diff", _poison)
    monkeypatch.setattr(storage_mod.TableStore, "read", _poison)

    # run 2: row 3 updated, row 7 deleted, row 60 inserted, plus a
    # null-id insert (payload batches carry no id column)
    rows2 = [
        (i, i * 10 if i != 3 else -1) for i in range(50) if i != 7
    ] + [(60, 600), (None, 999)]
    t2 = spark.createDataFrame(rows2, "id long, v long")
    changed = spark.createDataFrame(
        [(3,), (7,), (60,), (None,)], "id long"
    )
    _persist_table(
        store, spark, "t", t2, "id", changed, n_buckets=8, is_full=False
    )
    monkeypatch.undo()
    got = {(r["id"], r["v"]) for r in store.read(spark, "t").collect()}
    assert got == set(rows2)
    info = store.current_info("t")
    # O(changes): most file entries carried from the bootstrap dir
    carried = [
        f[0]
        for e in info["manifest"].values()
        for f in e["files"]
        if f[0].startswith(v_pub_boot)
    ]
    assert len(carried) >= 4

    # an EMPTY changed set is a no-op — no version churn
    v_before = store.current_info("t")["path"]
    monkeypatch.setattr(merge_mod, "snapshot_diff", _poison)
    monkeypatch.setattr(storage_mod.TableStore, "read", _poison)
    _persist_table(
        store, spark, "t", t2, "id", changed.limit(0),
        n_buckets=8, is_full=False,
    )
    assert store.current_info("t")["path"] == v_before

    # edge helper: pub 3 gains an edge, pub 7's group vanishes, the
    # null group gains one — all threaded, no stored read
    e2 = (
        e1.where(
            F.col("publication_id").isNull()
            | (F.col("publication_id") != 7)
        )
        .unionByName(
            spark.createDataFrame(
                [(3, 9), (None, 78)], "publication_id long, author_id long"
            )
        )
    )
    changed_e = spark.createDataFrame(
        [(3,), (7,), (None,)], "publication_id long"
    )
    _persist_table(
        store, spark, "edges", e2, "publication_id", changed_e,
        n_buckets=8, is_full=False,
    )
    monkeypatch.undo()
    got_e = {
        (r["publication_id"], r["author_id"])
        for r in store.read(spark, "edges").collect()
    }
    assert got_e == {
        (r["publication_id"], r["author_id"]) for r in e2.collect()
    }
    info_e = store.current_info("edges")
    assert any(
        e == v_edge_boot for e in info_e["manifest"].values()
    )  # untouched buckets carried


def test_harvest_dag_threads_changed_keys(spark, tmp_path, monkeypatch):
    """Round-12 task #1 (DAG level): a tracked incremental run's
    complete() persists pubs + both edge tables WITHOUT ever reading
    the stored head (snapshot_diff and TableStore.read poisoned for
    run 2), covering every change class at once: a payload update, a
    new-doi insert, an edge insert, and an orphan delete."""
    from rialto_airflow_spark import storage as storage_mod
    from rialto_airflow_spark.operators import merge as merge_mod
    from rialto_airflow_spark.storage import TableStore

    store = TableStore(str(tmp_path / "tables"))
    oa1 = tmp_path / "oa_run1"
    oa1.mkdir()
    (oa1 / "batch.jsonl").write_text(
        json.dumps({"doi": "https://doi.org/10.1/A", "title": "Run1 OA",
                    "type": "article", "id": "https://openalex.org/W77"})
    )
    pubs = spark.createDataFrame(
        [mkpub(i, doi=f"10.1/p{i}", updated=1) for i in range(1, 40)]
        + [mkpub(100, doi="10.1/a", updated=2)],
        PUB_SCHEMA,
    )
    authors = spark.createDataFrame(
        [(10, "ada", None, "0-1", "Ada", "L", True, True, "faculty",
          ["Eng"], ["CS"], "Eng", "CS", None, ts(1), ts(1))],
        "id bigint, sunet string, cap_profile_id string, orcid string, "
        "first_name string, last_name string, status boolean, "
        "academic_council boolean, role string, schools array<string>, "
        "departments array<string>, primary_school string, primary_dept string, "
        "primary_division string, created_at timestamp, updated_at timestamp",
    )
    edges = spark.createDataFrame(
        [(i, 10) for i in range(1, 40)] + [(100, 10)],
        "publication_id bigint, author_id bigint",
    )
    base_ctx = dict(
        spark=spark,
        authors=authors,
        funder_edges=spark.createDataFrame(
            [], "publication_id bigint, funder_id bigint"
        ),
        funders=spark.createDataFrame(
            [], "grid_id string, name string, federal boolean, ror_id string, "
                "openalex_id string, id bigint"
        ),
        dims={},
        harvests=spark.createDataFrame(
            [(1, ts(1), ts(2), True)],
            "id bigint, created_at timestamp, finished_at timestamp, "
            "is_full boolean",
        ),
        pubs_store=store,
        pubs_manifest_buckets=16,
    )
    ctx1 = dict(
        base_ctx, pubs=pubs, author_edges=edges,
        landing_dirs={"openalex": str(oa1)},
    )
    ctx1 = build_harvest_dag().run(ctx1)
    stored1 = store.read(spark, "publications")
    stored1_edges = store.read(spark, "pub_author_edges")

    # run 2: pub 100 updated + a brand-new doi (null-id insert — it
    # orphans out by design, exercising the null changed key); pub 39
    # loses its edge (orphan delete); pub 2 gains an edge
    oa2 = tmp_path / "oa_run2"
    oa2.mkdir()
    (oa2 / "batch.jsonl").write_text(
        "\n".join([
            json.dumps({"doi": "https://doi.org/10.1/A", "title": "Run2 OA",
                        "type": "article", "id": "https://openalex.org/W88"}),
            json.dumps({"doi": "https://doi.org/10.1/NEW", "title": "Fresh",
                        "type": "article", "id": "https://openalex.org/W99"}),
        ])
    )
    def _poison(*a, **k):
        raise AssertionError("stored-head read on the threaded path")

    ctx2 = dict(
        base_ctx,
        pubs=stored1,
        author_edges=stored1_edges.where(F.col("publication_id") != 39),
        incoming_edges=spark.createDataFrame(
            [(2, 10)], "publication_id bigint, author_id bigint"
        ),
        harvests=spark.createDataFrame(
            [(2, ts(3), ts(4), False)],
            "id bigint, created_at timestamp, finished_at timestamp, "
            "is_full boolean",
        ),
        landing_dirs={"openalex": str(oa2)},
    )
    monkeypatch.setattr(merge_mod, "snapshot_diff", _poison)
    monkeypatch.setattr(storage_mod.TableStore, "read", _poison)
    ctx2 = build_harvest_dag().run(ctx2)
    monkeypatch.undo()

    want = {r["id"]: r for r in ctx2["pubs"].collect()}
    got = {r["id"]: r for r in store.read(spark, "publications").collect()}
    assert set(got) == set(want)
    assert 39 not in got and 100 in got
    assert json.loads(got[100]["openalex_json"])["title"] == "Run2 OA"
    got_e = {
        (r["publication_id"], r["author_id"])
        for r in store.read(spark, "pub_author_edges").collect()
    }
    assert got_e == {
        (r["publication_id"], r["author_id"])
        for r in ctx2["author_edges"].collect()
    }
    assert (39, 10) not in got_e and (2, 10) in got_e
