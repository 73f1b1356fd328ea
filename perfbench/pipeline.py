"""Drive the harvest and publish DAGs over a generated corpus.

``stage`` turns a :class:`gen_corpus.Corpus` into the DataFrames the
DAGs read (tables go through parquet files, like rows read from a
store); ``harvest_context`` builds the context of a full harvest that
persists into a manifest ``TableStore``.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq

_ARROW = {
    "bigint": pa.int64(),
    "int": pa.int32(),
    "string": pa.string(),
    "boolean": pa.bool_(),
    "timestamp": pa.timestamp("us", tz="UTC"),
    "array<string>": pa.list_(pa.string()),
}
HARVEST_DDL = "id bigint, created_at timestamp, finished_at timestamp, is_full boolean"
HARVEST_TIME = datetime.datetime(2024, 1, 2, tzinfo=datetime.timezone.utc)


def _write_rows(rows: list[dict], struct, path: str) -> None:
    schema = pa.schema(
        [(f.name, _ARROW[f.dataType.simpleString()]) for f in struct.fields]
    )
    cols = {f.name: [r.get(f.name) for r in rows] for f in struct.fields}
    pq.write_table(pa.table(cols, schema=schema), path)


def stage(spark, corpus, root: str) -> dict:
    """Write the corpus tables under ``root`` and return the frames the
    DAG context needs: pubs, authors, edges and the federal dim."""
    from pyspark.sql.types import StructType

    from rialto_airflow_spark.schemas import AUTHOR_DDL, PUBLICATION_DDL
    from rialto_airflow_spark.sources.dims import federal_funders

    os.makedirs(root, exist_ok=True)
    out = {}
    for name, ddl, rows in (
        ("pubs", PUBLICATION_DDL, corpus.pubs),
        ("authors", AUTHOR_DDL, corpus.authors),
    ):
        path = os.path.join(root, f"{name}.parquet")
        _write_rows(rows, StructType.fromDDL(ddl), path)
        out[name] = spark.read.parquet(path)
    path = os.path.join(root, "edges.parquet")
    pq.write_table(
        pa.table(
            {
                "publication_id": pa.array([p for p, _a in corpus.edges], pa.int64()),
                "author_id": pa.array([a for _p, a in corpus.edges], pa.int64()),
            }
        ),
        path,
    )
    out["edges"] = spark.read.parquet(path)
    out["federal"] = federal_funders(
        spark.createDataFrame(corpus.federal, "name string, id string")
    )
    return out


def _harvests(spark, rows):
    return spark.createDataFrame(rows, HARVEST_DDL)


def harvest_context(spark, staged: dict, store, n_buckets: int) -> dict:
    """Context of a full harvest of the staged corpus, persisted into
    ``store`` (manifest tables for publications and both edge tables)
    by the DAG's ``complete`` task."""
    return {
        "spark": spark,
        "pubs": staged["pubs"],
        "authors": staged["authors"],
        "author_edges": staged["edges"],
        "incoming_edges": staged["edges"],
        "funder_edges": spark.createDataFrame(
            [], "publication_id bigint, funder_id bigint"
        ),
        "funders": spark.createDataFrame(
            [],
            "grid_id string, name string, federal boolean, ror_id string, "
            "openalex_id string, id bigint",
        ),
        "harvests": _harvests(spark, [(1, HARVEST_TIME, None, True)]),
        "is_full": True,
        "landing_dirs": {},
        "dims": {"federal": staged["federal"]},
        "pubs_store": store,
        "pubs_manifest_buckets": n_buckets,
    }


def finish_harvest(spark, ctx: dict) -> None:
    """Record the harvest as finished, so the publish DAG's
    ``check_harvest_complete`` lets it through."""
    ctx["harvests"] = _harvests(spark, [(1, HARVEST_TIME, HARVEST_TIME, True)])
