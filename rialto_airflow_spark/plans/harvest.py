"""Harvest post-processing plans: per-source MERGE, platform-ID
dedup with edge re-pointing, orphan removal, funder linking, and the
author-derived flags (SURVEY.md §2.10, §2.4 A2/A3/A9, §2.3 J4/J5/J9).

The reference walks duplicate groups row-by-row in Python
(harvest_incremental/deduplicate.py, funders/linker.py); here the
five dedup passes are one window chain over a narrow key frame.
Sequential pass order (openalex → dim → sulpub → wos_id → pubmed_id —
deduplicate.py:14-35) is preserved because each merge changes the
survivor set for the next key.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rialto_airflow_spark.functions.normalize import normalize_funder_name
from rialto_airflow_spark.functions.perf import materialize_cut
from rialto_airflow_spark.operators.merge import merge_on_key

# the five platform-identity keys, in reference pass order
# (deduplicate.py:38-184)
PLATFORM_KEYS: tuple[tuple[str, str], ...] = (
    ("openalex", "get_json_object(openalex_json, '$.id')"),
    ("dim", "get_json_object(dim_json, '$.id')"),
    ("sulpub", "get_json_object(sulpub_json, '$.sulpubid')"),
    ("wos_id", "wos_id"),
    ("pubmed_id", "pubmed_id"),
)


def upsert_source_batch(
    pubs: DataFrame,
    batch: DataFrame,
    source: str,
    now: Column | None = None,
    broadcast_batch: bool = True,
) -> DataFrame:
    """M2 — per-source publication upsert by DOI (openalex.py:86-106
    and siblings): on DOI match only that source's columns update;
    null-DOI rows always insert; updated_at refreshes on touch.

    Defaults to the broadcast MERGE decomposition (round 10): an
    incremental harvest batch is tiny against the accumulated pubs
    table, and the full-outer plan sort-merge-shuffles the WHOLE
    table per source per run — the M2-at-scale weakness the round-9
    verdict flagged. Pass ``broadcast_batch=False`` for a FULL
    harvest, where the batch is table-sized and the single
    sort-merge join is the right physical plan."""
    update_cols = [c for c in batch.columns if c != "doi"]
    return merge_on_key(
        pubs,
        batch,
        "doi",
        update_cols=update_cols,
        updated_at_col="updated_at",
        now=now,
        broadcast_batch=broadcast_batch,
    )


def remove_duplicates(
    pubs: DataFrame,
    author_edges: DataFrame,
    funder_edges: DataFrame,
    return_losers: bool = False,
):
    """A2/A3 — all five platform-key passes in reference order.

    Scope: rows with null DOI and a non-null key (deduplicate.py:
    43-46). Survivor = newest updated_at, NULLs last (merge_pubs sort,
    deduplicate.py:195-198; ties broken by id for determinism); edges
    of losers re-point to the survivor with ON CONFLICT DO NOTHING
    semantics (dropDuplicates); losers are deleted. A pass-k survivor
    can lose in a later pass, and the edges it gathered follow it.

    The passes run once, on a narrow frame of the candidates (id,
    updated_at, one column per key). Each row carries ``__root``, the
    id it currently merges into (itself while alive). Per pass, one
    window ranks the alive rows of each key; a second, partitioned on
    ``__root``, hands every row rooted at a new loser that loser's
    survivor. The resulting loser → (pass survivor, final survivor)
    map is materialized once, and the three outputs plan against it:
    pubs is one anti-join, each edge table one re-point plus one
    dropDuplicates.

    ``return_losers=True`` appends the (loser_id, survivor_id) map —
    each loser with its own pass's survivor: the run's delete set plus
    the survivors whose edge groups it re-pointed (the O(changes)
    persistence threads both into its changed-key set)."""
    keys = [f"__k{i}" for i in range(len(PLATFORM_KEYS))]
    cand = pubs.where(F.col("doi").isNull()).select(
        "id",
        "updated_at",
        *[F.expr(e).alias(k) for k, (_, e) in zip(keys, PLATFORM_KEYS)],
    )
    any_key = reduce(operator.or_, [F.col(k).isNotNull() for k in keys])
    state = cand.where(any_key).select(
        "*",
        F.col("id").alias("__root"),
        F.lit(None).cast(cand.schema["id"].dataType).alias("__survivor"),
    )
    order = (F.col("updated_at").desc(), F.col("id").asc())
    for i, k in enumerate(keys):
        # dead rows and NULL keys are never ranked: each sits alone in
        # a partition keyed by its own id, so neither piles into one
        ranked = (F.col("__root") == F.col("id")) & F.col(k).isNotNull()
        part = F.struct(
            F.when(ranked, F.col(k)), F.when(~ranked, F.col("id"))
        )
        top = F.first("id").over(Window.partitionBy(part).orderBy(*order))
        state = state.withColumn("__top", top).withColumn(
            "__survivor",
            F.coalesce(
                "__survivor", F.when(F.col("__top") != F.col("id"), F.col("__top"))
            ),
        )
        # every row moves to where its root went; before the first
        # pass each row is its own root, so that needs no window
        root_to = F.when(F.col("id") == F.col("__root"), F.col("__top"))
        state = state.withColumn(
            "__root",
            F.col("__top")
            if i == 0
            else F.max(root_to).over(Window.partitionBy("__root")),
        ).drop(k, "__top")
    losers = materialize_cut(
        state.where(F.col("__root") != F.col("id")).select(
            F.col("id").alias("loser_id"),
            F.col("__survivor").alias("survivor_id"),
            F.col("__root").alias("final_id"),
        )
    )

    def repoint(edges: DataFrame) -> DataFrame:
        e = edges.join(
            F.broadcast(losers), edges["publication_id"] == F.col("loser_id"), "left"
        )
        return e.select(
            F.coalesce(F.col("final_id"), F.col("publication_id")).alias(
                "publication_id"
            ),
            *[c for c in edges.columns if c != "publication_id"],
        ).dropDuplicates(edges.columns)

    pubs_out = pubs.join(
        F.broadcast(losers), pubs["id"] == losers["loser_id"], "left_anti"
    )
    out = (pubs_out, repoint(author_edges), repoint(funder_edges))
    if return_losers:
        return (*out, losers.select("loser_id", "survivor_id"))
    return out


def remove_orphans(
    pubs: DataFrame, author_edges: DataFrame, return_removed: bool = False
):
    """J4 — delete publications with no author edge
    (deduplicate.py:220-232): keep = left_semi.
    ``return_removed=True`` appends the removed ids (the anti-join
    complement) so the O(changes) persistence tracks the delete set
    from ONE definition of the orphan predicate."""
    kept = pubs.join(
        author_edges,
        pubs["id"] == author_edges["publication_id"],
        "left_semi",
    )
    if return_removed:
        removed = pubs.join(
            author_edges,
            pubs["id"] == author_edges["publication_id"],
            "left_anti",
        ).select("id")
        return kept, removed
    return kept


def funder_surrogate_id(grid_id: Column) -> Column:
    """Deterministic surrogate key for the funder dim (replaces the
    Postgres autoincrement, SURVEY §1.3): stable across runs and
    executors, joinable without a driver-side counter."""
    return F.xxhash64(grid_id)


def link_funders(
    pubs_parsed: DataFrame,
    funders: DataFrame,
    funder_edges: DataFrame,
    federal_dim: DataFrame,
    openalex_funder_dim: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """J9/M3/M4 — funder linking (funders/linker.py:26-156).

    Only publications lacking any funder edge are processed (P7,
    linker.py:38-44). Dimensions leg: explode dim_json.funders[]
    (grid_id + name required); federal = GRID in the federal dim OR
    normalized name matches (J7, dataset.py:8-23). OpenAlex leg:
    explode openalex_json.grants[].funder through the pre-materialized
    funder dim (S11: openalex_id, ror_id, grid_id, name, federal) —
    the set-based stand-in for the per-row API lookup
    (linker.py:159-192), which requires ror→grid resolution.

    Returns (funder_dim_out, funder_edges_out). Funder upsert is a
    MERGE on grid_id (M3); edge insert is union+dropDuplicates (M4).
    Both read the resolved (publication, funder) rows, which are
    materialized once (``materialize_cut``), so the explodes and the
    broadcast joins run once rather than once per output.
    """
    unlinked = pubs_parsed.join(
        funder_edges,
        pubs_parsed["id"] == funder_edges["publication_id"],
        "left_anti",
    )

    # --- Dimensions leg (linker.py:33-66) ---
    dim_funders = (
        unlinked.where(F.col("dim_json").isNotNull())
        .select(
            F.col("id").alias("publication_id"),
            F.explode(
                F.from_json(
                    F.get_json_object("dim_json", "$.funders"),
                    "array<struct<id: string, name: string>>",
                )
            ).alias("f"),
        )
        .select(
            "publication_id",
            F.col("f.id").alias("grid_id"),
            F.col("f.name").alias("name"),
        )
        .where(F.col("grid_id").isNotNull() & F.col("name").isNotNull())
    )
    fed = F.broadcast(federal_dim)
    by_grid = dim_funders.join(
        fed.select(F.col("grid_id").alias("__fg")),
        F.col("grid_id") == F.col("__fg"),
        "left",
    )
    by_name = by_grid.join(
        fed.select(F.col("normalized_name").alias("__fn")).distinct(),
        normalize_funder_name(F.col("name")) == F.col("__fn"),
        "left",
    )
    dim_resolved = by_name.select(
        "publication_id",
        "grid_id",
        "name",
        (F.col("__fg").isNotNull() | F.col("__fn").isNotNull()).alias("federal"),
        F.lit(None).cast("string").alias("ror_id"),
        F.lit(None).cast("string").alias("openalex_id"),
    )

    # --- OpenAlex leg (linker.py:69-156) ---
    if openalex_funder_dim is not None:
        grants = (
            unlinked.where(F.col("openalex_json").isNotNull())
            .select(
                F.col("id").alias("publication_id"),
                F.explode(
                    F.from_json(
                        F.get_json_object("openalex_json", "$.grants"),
                        "array<struct<funder: string>>",
                    )
                ).alias("g"),
            )
            .select("publication_id", F.col("g.funder").alias("__oa_id"))
            .where(F.col("__oa_id").isNotNull())
        )
        oa_resolved = grants.join(
            F.broadcast(openalex_funder_dim),
            F.col("__oa_id") == openalex_funder_dim["openalex_id"],
        ).select(
            "publication_id",
            "grid_id",
            "name",
            "federal",
            "ror_id",
            "openalex_id",
        )
        resolved = dim_resolved.unionByName(oa_resolved)
    else:
        resolved = dim_resolved
    resolved = materialize_cut(resolved)

    # --- M3 funder MERGE on grid_id + M4 edge union ---
    new_funders = (
        resolved.select("grid_id", "name", "federal", "ror_id", "openalex_id")
        .dropDuplicates(["grid_id"])
        .withColumn("id", funder_surrogate_id(F.col("grid_id")))
    )
    funders_out = merge_on_key(
        funders,
        new_funders.drop("id"),
        "grid_id",
        update_cols=["name", "federal"],
    ).withColumn("id", funder_surrogate_id(F.col("grid_id")))

    new_edges = resolved.select(
        "publication_id", funder_surrogate_id(F.col("grid_id")).alias("funder_id")
    )
    edges_out = funder_edges.unionByName(new_edges).dropDuplicates(
        ["publication_id", "funder_id"]
    )
    return funders_out, edges_out


def author_flags(
    pubs: DataFrame, author_edges: DataFrame, authors: DataFrame
) -> DataFrame:
    """A9/D18 — academic_council_authored / faculty_authored: any
    linked author with the flag (harvest_incremental/distill.py:
    72-86). Aggregated per publication before joining back, so the
    author fan-out never multiplies publication rows."""
    flags = (
        author_edges.join(
            F.broadcast(authors.select("id", "academic_council", "role")),
            author_edges["author_id"] == authors["id"],
        )
        .groupBy("publication_id")
        .agg(
            F.coalesce(F.bool_or("academic_council"), F.lit(False)).alias(
                "__council"
            ),
            F.coalesce(F.bool_or(F.col("role") == "faculty"), F.lit(False)).alias(
                "__faculty"
            ),
        )
    )
    out = pubs.join(flags, pubs["id"] == flags["publication_id"], "left").drop(
        "publication_id"
    )
    return out.withColumn(
        "academic_council_authored", F.coalesce(F.col("__council"), F.lit(False))
    ).withColumn(
        "faculty_authored", F.coalesce(F.col("__faculty"), F.lit(False))
    ).drop("__council", "__faculty")
