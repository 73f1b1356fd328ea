"""Default-lane checks of the harvest dedupe and the CLI point read:
``remove_duplicates`` against a pure-Python copy of the reference's
sequential per-pass rule (deduplicate.py:14-35), and the plan shapes
both promise."""

from __future__ import annotations

import datetime
import json
import random
import re

import pytest
from pyspark.sql import functions as F

from rialto_airflow_spark.plans import harvest as H

PUB_SCHEMA = (
    "id bigint, doi string, updated_at timestamp, openalex_json string, "
    "dim_json string, sulpub_json string, wos_id string, pubmed_id string"
)
# platform key -> (row position, JSON field or None for a plain column),
# in reference pass order
KEYS = {
    "openalex": (3, "id"),
    "dim": (4, "id"),
    "sulpub": (5, "sulpubid"),
    "wos_id": (6, None),
    "pubmed_id": (7, None),
}


def day(d):
    return None if d is None else datetime.datetime(2024, 1, d)


def as_json(field, v):
    return None if v is None else json.dumps({field: v})


def pub(i, doi=None, updated=None, **keys):
    return (
        i,
        doi,
        day(updated),
        as_json("id", keys.get("openalex")),
        as_json("id", keys.get("dim")),
        as_json("sulpubid", keys.get("sulpub")),
        keys.get("wos_id"),
        keys.get("pubmed_id"),
    )


def key_of(row, name):
    col, field = KEYS[name]
    v = row[col]
    return v if v is None or field is None else json.loads(v).get(field)


def newest_first(row):
    """updated_at DESC NULLS LAST, then id ASC."""
    return (row[2] is None, -row[2].timestamp() if row[2] else 0.0, row[0])


def reference_dedupe(pubs, author_edges, funder_edges):
    """The reference's five passes, one at a time: in each key's
    groups of alive null-DOI rows the newest ``updated_at`` survives
    (NULLs last, ties to the lower id), the rest are deleted and their
    edges re-point to the survivor, duplicates collapsing."""
    alive = {r[0]: r for r in pubs}
    ae, fe = set(author_edges), set(funder_edges)
    touched: set[int] = set()
    for name in KEYS:
        groups: dict[str, list] = {}
        for r in alive.values():
            k = key_of(r, name)
            if r[1] is None and k is not None:
                groups.setdefault(k, []).append(r)
        moved = {}
        for g in groups.values():
            g.sort(key=newest_first)
            moved.update({r[0]: g[0][0] for r in g[1:]})
        for loser, survivor in moved.items():
            del alive[loser]
            touched |= {loser, survivor}
        ae = {(moved.get(p, p), a) for p, a in ae}
        fe = {(moved.get(p, p), f) for p, f in fe}
    return set(alive), ae, fe, touched


def hostile_fixture(seed=7):
    rows = [
        # cross-pass chain: 1 loses to 2 on openalex, 2 to 3 on wos_id,
        # 3 to 4 on pubmed_id — 1's and 2's edges end on 4
        pub(1, updated=1, openalex="W1", wos_id="X1"),
        pub(2, updated=5, openalex="W1", wos_id="X2"),
        pub(3, updated=9, wos_id="X2", pubmed_id="P9"),
        pub(4, updated=12, pubmed_id="P9"),
        # updated_at tie broken by id
        pub(10, updated=3, dim="D1"),
        pub(11, updated=3, dim="D1"),
        # NULL updated_at sorts last; two NULLs tie on id
        pub(20, updated=None, sulpub="S1"),
        pub(21, updated=2, sulpub="S1"),
        pub(22, updated=None, pubmed_id="P1"),
        pub(23, updated=None, pubmed_id="P1"),
        # a DOI'd row sharing keys is out of scope and never merges
        pub(30, doi="10.1/x", updated=20, openalex="W1", dim="D1"),
        # NULL keys: no platform key at all, and a JSON without the field
        pub(40, updated=1),
        pub(41, updated=1),
        (42, None, day(4), json.dumps({"title": "t"}), None, None, None, None),
    ]
    # seeded rows: small key pools of their own, so groups collide
    # across passes and chains form at random
    rng = random.Random(seed)

    def pool(values):
        return rng.choice(values) if rng.random() < 0.35 else None

    for i in range(100, 180):
        rows.append(
            pub(
                i,
                doi=f"10.9/{i}" if rng.random() < 0.15 else None,
                updated=rng.choice([None, 1, 2, 3, 4]),
                openalex=pool(["w1", "w2", "w3", "w4"]),
                dim=pool(["d1", "d2", "d3"]),
                sulpub=pool(["s1", "s2", "s3"]),
                wos_id=pool(["x1", "x2", "x3", "x4"]),
                pubmed_id=pool(["p1", "p2", "p3"]),
            )
        )
    ids = [r[0] for r in rows]

    def edge():
        return None if rng.random() < 0.05 else rng.choice(ids)

    author_edges = [(1, 7), (1, 7), (2, 7), (4, 8), (None, 7), (None, 7)]
    author_edges += [(edge(), rng.randint(1, 6)) for _ in range(160)]
    funder_edges = [(1, 70), (3, 70), (None, 71), (None, 71), (11, 72)]
    funder_edges += [(edge(), rng.randint(70, 74)) for _ in range(90)]
    return rows, author_edges, funder_edges


@pytest.fixture(scope="module")
def dedupe_inputs(spark):
    rows, ae, fe = hostile_fixture()
    return (
        (rows, ae, fe),
        (
            spark.createDataFrame(rows, PUB_SCHEMA),
            spark.createDataFrame(ae, "publication_id bigint, author_id bigint"),
            spark.createDataFrame(fe, "publication_id bigint, funder_id bigint"),
        ),
    )


def test_remove_duplicates_matches_sequential_passes(dedupe_inputs):
    (rows, ae, fe), frames = dedupe_inputs
    want_ids, want_ae, want_fe, want_touched = reference_dedupe(rows, ae, fe)
    # the fixture exercises what it claims to
    assert {1, 2, 3, 11, 20, 23} <= want_touched - want_ids
    assert {4, 10, 21, 22, 30, 40, 41, 42} <= want_ids

    pubs, out_ae, out_fe, losers = H.remove_duplicates(*frames, return_losers=True)
    assert sorted(r["id"] for r in pubs.select("id").collect()) == sorted(want_ids)
    for out, want in ((out_ae, want_ae), (out_fe, want_fe)):
        assert out.columns[0] == "publication_id"
        got = [tuple(r) for r in out.collect()]
        assert len(got) == len(set(got))  # ON CONFLICT DO NOTHING
        assert set(got) == want
    touched = {v for r in losers.collect() for v in (r["loser_id"], r["survivor_id"])}
    assert touched == want_touched
    assert H.remove_duplicates(*frames)[0].count() == len(want_ids)


def _plan_lines(df):
    return df._jdf.queryExecution().optimizedPlan().toString().splitlines()


def _node(line):
    return line.lstrip("+-:! ")


def test_dedupe_outputs_plan_against_the_materialized_map(dedupe_inputs):
    """pubs and both edge tables read the loser map the passes
    produced once; none of them re-plans the window chain."""
    _, frames = dedupe_inputs
    for out in H.remove_duplicates(*frames):
        windows = [l for l in _plan_lines(out) if re.match(r"Window\b", _node(l))]
        assert windows == [], windows


def test_cli_from_store_reads_only_the_authors_edges(spark, tmp_path):
    """The store lookup's edge branches start from the collected ids
    (a local relation, no second author→edge join), and the funder
    branch is semi-joined to them before its aggregate, so one lookup
    never groups the whole funder-edge table."""
    from rialto_airflow_spark.plans.cli import (
        publications_for_author,
        publications_for_author_from_store,
    )
    from rialto_airflow_spark.storage import TableStore

    pubs = spark.createDataFrame(
        [
            (i, f"10.1/{i}", f"T{i}", None, 2024, "gold", ["Article"], None,
             '{"id": "W"}' if i % 2 else None, None, None, None, None, None)
            for i in range(1, 9)
        ],
        "id bigint, doi string, title string, publisher string, pub_year int, "
        "open_access string, types array<string>, journal_name string, "
        "openalex_json string, dim_json string, sulpub_json string, "
        "wos_json string, pubmed_json string, crossref_json string",
    )
    authors = spark.createDataFrame(
        [(10, "ada"), (11, "gho")], "id bigint, sunet string"
    )
    ae = spark.createDataFrame(
        [(1, 10), (2, 10), (2, 11), (3, 11), (4, 11)],
        "publication_id bigint, author_id bigint",
    )
    fe = spark.createDataFrame(
        [(1, 70), (2, 71), (3, 70), (5, 71)],
        "publication_id bigint, funder_id bigint",
    )
    funders = spark.createDataFrame(
        [(70, "NIH"), (71, "NSF")], "id bigint, name string"
    )
    store = TableStore(str(tmp_path))
    store.write_manifest(pubs, "publications", "id", n_buckets=4)

    out = publications_for_author_from_store(
        "ada", spark, store, "publications", ae, authors, fe, funders
    )
    want = publications_for_author("ada", pubs, ae, authors, fe, funders)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))

    plan = _plan_lines(out)
    assert not any("ada" in l for l in plan), "author→edge join re-planned"
    agg = next(i for i, l in enumerate(plan) if "AS funders" in l)
    depth = len(plan[agg]) - len(_node(plan[agg]))
    subtree = []
    for line in plan[agg + 1:]:
        if len(line) - len(_node(line)) <= depth:
            break
        subtree.append(_node(line))
    assert any(n.startswith("Join LeftSemi") for n in subtree), subtree


def test_link_funders_outputs_read_the_materialized_resolution(spark):
    """Both link_funders outputs plan against the resolved (pub,
    funder) rows materialized once: neither re-plans the payload
    explodes (no Generate), and the rows are the expected ones."""
    from rialto_airflow_spark.sources.dims import federal_funders

    pubs = spark.createDataFrame(
        [
            (1, json.dumps({"funders": [
                {"id": "grid.1", "name": "National Institutes of Health (NIH)"},
                {"id": "grid.2", "name": "Acme Foundation"},
                {"id": None, "name": "No Grid"},
            ]}), json.dumps({"grants": [{"funder": "F9"}]})),
            (2, None, json.dumps({"grants": [{"funder": "F9"}, {"funder": None}]})),
            (3, json.dumps({"funders": [{"id": "grid.3", "name": "Linked"}]}), None),
        ],
        "id bigint, dim_json string, openalex_json string",
    )
    funders = spark.createDataFrame(
        [], "grid_id string, name string, federal boolean, ror_id string, "
            "openalex_id string, id bigint",
    )
    funder_edges = spark.createDataFrame(
        [(3, 77)], "publication_id bigint, funder_id bigint"
    )
    federal = federal_funders(spark.createDataFrame(
        [("National Institutes of Health (NIH)", "grid.x")], "name string, id string"
    ))
    oa_dim = spark.createDataFrame(
        [("F9", "ror.9", "grid.9", "Nine Fund", True)],
        "openalex_id string, ror_id string, grid_id string, name string, "
        "federal boolean",
    )
    funders_out, edges_out = H.link_funders(
        pubs, funders, funder_edges, federal, oa_dim
    )
    for out in (funders_out, edges_out):
        gens = [l for l in _plan_lines(out) if re.match(r"Generate\b", _node(l))]
        assert gens == [], gens
    got = {r["grid_id"]: (r["name"], r["federal"]) for r in funders_out.collect()}
    assert got == {
        "grid.1": ("National Institutes of Health (NIH)", True),
        "grid.2": ("Acme Foundation", False),
        "grid.9": ("Nine Fund", True),
    }
    fid = {g: H.funder_surrogate_id(F.lit(g)) for g in got}
    want = spark.range(1).select(
        *[c.alias(g) for g, c in fid.items()]
    ).collect()[0].asDict()
    assert {tuple(r) for r in edges_out.collect()} == {
        (3, 77), (1, want["grid.1"]), (1, want["grid.2"]),
        (1, want["grid.9"]), (2, want["grid.9"]),
    }
