"""MERGE-shaped operators — SURVEY.md §2.10 (M1-M5).

The reference upserts row-at-a-time through Postgres
(`INSERT … ON CONFLICT (doi) DO UPDATE`, e.g.
rialto_airflow/harvest_incremental/openalex.py:86-114). Here the same
semantics are one set-based plan with two physical shapes:

* ``broadcast_batch=True`` (small batch against a big table — the
  common incremental/streaming case): Catalyst CANNOT broadcast-hash a
  FULL OUTER equi-join (the hint is silently dropped and the whole
  table shuffles+sorts per merge), so the merge is decomposed into
  broadcast-able pieces — ``existing ⟕ broadcast(batch)`` produces
  updates + untouched rows with ZERO shuffle of the table, and inserts
  are derived batch-side (a broadcast semi-join of the table's key
  column against the batch bounds matched keys at O(batch), then a
  broadcast anti-join of the batch against those). Two table scans
  (one column-pruned to the key), no table shuffle, no sort.
* ``broadcast_batch=False`` (batch comparable to the table): one
  full-outer sort-merge join — the right plan when both sides are big.

Key semantics preserved from the reference:
  * null-key batch rows ALWAYS insert (Postgres unique indexes ignore
    NULLs — schema/rialto.py:60);
  * on match, only the batch's own columns are updated, everything
    else keeps the existing value (per-source column sets, M2);
  * `updated_at` refreshes only when a match actually updates — this
    timestamp drives incremental predicates and dedup survivor
    selection downstream (schema/rialto.py:82-84).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_on_key(
    existing: DataFrame,
    batch: DataFrame,
    key: str,
    update_cols: Sequence[str] | None = None,
    updated_at_col: str | None = None,
    now: Column | None = None,
    broadcast_batch: bool = False,
) -> DataFrame:
    """MERGE ``batch`` into ``existing`` on ``key`` (M2 shape).

    update_cols: columns the batch is allowed to overwrite on match
        (defaults to every shared non-key column). Columns present only
        in ``existing`` survive untouched; columns present only in
        ``batch`` are carried for inserts and null for old rows.
    updated_at_col: if set, matched-and-updated rows and inserts get
        ``now`` in this column; untouched rows keep their value.
    broadcast_batch: pick the broadcast decomposition (small batch —
        see module docstring) instead of the full-outer sort-merge
        join. Correctness is identical; only the physical plan differs.
        The broadcast plan assumes ``existing`` is key-unique (the M2
        contract), which bounds the matched-key set at O(batch keys).
    """
    e_cols = existing.columns
    b_cols = batch.columns
    if update_cols is None:
        update_cols = [c for c in b_cols if c != key and c in e_cols]
    now = now if now is not None else F.current_timestamp()

    # Null keys never match anything: route them straight to insert.
    batch_keyed = batch.where(F.col(key).isNotNull())
    batch_nullkey = batch.where(F.col(key).isNull())

    all_cols = [c for c in dict.fromkeys([*e_cols, *b_cols]) if c != key]

    def _out_exprs(key_expr: Column, matched: Column, inserted: Column) -> list[Column]:
        out: list[Column] = [key_expr.alias(key)]
        for c in all_cols:
            if updated_at_col and c == updated_at_col:
                continue
            in_e, in_b = c in e_cols, c in b_cols
            if in_e and in_b and c in update_cols:
                expr = (
                    F.when(matched | inserted, F.col(f"b.{c}"))
                    .otherwise(F.col(f"e.{c}"))
                )
            elif in_e and in_b:
                expr = F.when(inserted, F.col(f"b.{c}")).otherwise(F.col(f"e.{c}"))
            elif in_e:
                expr = F.col(f"e.{c}")
            else:
                expr = F.when(matched | inserted, F.col(f"b.{c}"))
            out.append(expr.alias(c))
        if updated_at_col:
            out.append(
                F.when(matched | inserted, now)
                .otherwise(F.col(f"e.{updated_at_col}"))
                .alias(updated_at_col)
            )
        return out

    def _shape_inserts(
        df: DataFrame, template: DataFrame, stamp: bool = True
    ) -> DataFrame:
        """Align an insert-only batch slice to the merged schema:
        updated_at stamped ``now``, existing-only columns null."""
        if updated_at_col and (stamp or updated_at_col not in df.columns):
            df = df.withColumn(updated_at_col, now)
        for c in template.columns:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(template.schema[c].dataType))
        return df.select(*template.columns)

    if broadcast_batch:
        # Decomposed broadcast plan — see module docstring. A full
        # outer join can never broadcast (Catalyst drops the hint), so:
        # (1) updates + untouched: existing LEFT OUTER broadcast(batch)
        #     — BroadcastHashJoin, zero shuffle/sort of the table;
        e = existing.alias("e")
        b = F.broadcast(
            batch_keyed.withColumn("__b_present", F.lit(True))
        ).alias("b")
        joined = e.join(b, F.col(f"e.{key}") == F.col(f"b.{key}"), "left_outer")
        matched = F.col("b.__b_present").isNotNull()
        merged = joined.select(*_out_exprs(F.col(f"e.{key}"), matched, F.lit(False)))
        # (2) inserts: batch keys absent from the table. The matched
        #     key set is derived by a broadcast SEMI join against the
        #     table's key column (column-pruned scan, no shuffle) and
        #     is O(batch) when existing is key-unique, so it
        #     broadcasts into the anti-join — the table never moves.
        matched_keys = existing.select(key).join(
            F.broadcast(batch_keyed.select(key)), key, "left_semi"
        )
        inserts = batch_keyed.join(F.broadcast(matched_keys), key, "left_anti")
        merged = merged.unionByName(_shape_inserts(inserts, merged))
    else:
        # presence markers, NOT key-null checks: an existing row with a
        # null key must never be classified as a batch insert (its key
        # simply cannot match anything)
        e = existing.withColumn("__e_present", F.lit(True)).alias("e")
        b = batch_keyed.withColumn("__b_present", F.lit(True)).alias("b")
        joined = e.join(b, F.col(f"e.{key}") == F.col(f"b.{key}"), "full_outer")
        matched = (
            F.col("e.__e_present").isNotNull() & F.col("b.__b_present").isNotNull()
        )
        inserted = F.col("e.__e_present").isNull()
        merged = joined.select(
            *_out_exprs(
                F.coalesce(F.col(f"e.{key}"), F.col(f"b.{key}")), matched, inserted
            )
        )

    # null-key rows keep a batch-supplied updated_at (legacy shape);
    # keyed inserts above are stamped ``now`` like the matched path
    return merged.unionByName(_shape_inserts(batch_nullkey, merged, stamp=False))


def merge_status_counts(
    existing: DataFrame,
    batch: DataFrame,
    key: str,
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Per-status row counts (status, n) for a batch against a table:
    'new' (no key match), 'updated' (any compared column differs,
    null-safe), 'noop' (identical). The distributed core of A11 —
    one left join + one aggregate, no collect."""
    if compare_cols is None:
        compare_cols = [c for c in batch.columns if c != key and c in existing.columns]
    b = batch.alias("b")
    e = existing.alias("e")
    joined = b.join(e, F.col(f"b.{key}") == F.col(f"e.{key}"), "left")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"b.{c}").eqNullSafe(F.col(f"e.{c}"))
    status = (
        F.when(F.col(f"b.{key}").isNull() | F.col(f"e.{key}").isNull(), "new")
        .when(changed, "updated")
        .otherwise("noop")
    )
    return joined.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).alias("n")
    )


def merge_metrics(
    existing: DataFrame, batch: DataFrame, key: str, compare_cols: Sequence[str] | None = None
) -> dict[str, int]:
    """A11 — the reference's load counters (authors.py:34-66):
    processed / new / updated / noop for a batch against a table.
    One aggregate job; null-key batch rows count as inserts."""
    counts = {
        r["status"]: r["n"]
        for r in merge_status_counts(existing, batch, key, compare_cols).collect()
    }
    counts = {k: counts.get(k, 0) for k in ("new", "updated", "noop")}
    counts["processed"] = sum(counts.values())
    return counts


def upsert_edges(existing: DataFrame, new_edges: DataFrame) -> DataFrame:
    """M4 — `ON CONFLICT DO NOTHING` on association tables
    (openalex.py:110-114): union + dedupe on the composite key."""
    return existing.unionByName(new_edges).dropDuplicates(existing.columns)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two table snapshots: one
    full-outer join on the key classifying every row as
    ``insert`` / ``delete`` / ``update`` (with the changed column
    names), dropping unchanged rows.

    Null-KEY rows are excluded (a CDC identity requires a key; with
    several null-key rows per side no pairing is well-defined — the
    same reason ``merge_on_key`` routes them straight to insert).
    Null VALUES are handled: ``eqNullSafe`` keeps NULL→value and
    value→NULL transitions visible as changes.

    The inverse of :func:`merge_on_key` — where MERGE applies a delta,
    this derives one, e.g. to publish an incremental feed from two
    versions of a :class:`~rialto_airflow_spark.storage.TableStore`
    table, or to audit what a pipeline run changed. One shuffle on the
    key (broadcast when either side is small); the change test is
    column algebra, no row-comparison UDF.

    Output: ``key, op, changed_cols`` (changed_cols empty for
    insert/delete — the row itself is the change).
    """
    cols = compare_cols or [
        c for c in new.columns if c != key and c in old.columns
    ]
    o = (
        old.select(key, *cols)
        .where(F.col(key).isNotNull())
        .withColumn("__o", F.lit(True))
        .alias("o")
    )
    n = (
        new.select(key, *cols)
        .where(F.col(key).isNotNull())
        .withColumn("__n", F.lit(True))
        .alias("n")
    )
    j = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    changed = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")), F.lit(c)
                )
                for c in cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    op = (
        F.when(F.col("o.__o").isNull(), F.lit("insert"))
        .when(F.col("n.__n").isNull(), F.lit("delete"))
        .when(F.size(changed) > 0, F.lit("update"))
    )
    return (
        j.select(
            F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
            op.alias("op"),
            F.when(op == "update", changed)
            .otherwise(F.array().cast("array<string>"))
            .alias("changed_cols"),
        )
        .where(F.col("op").isNotNull())
    )


def changed_rows(
    old_tbl: DataFrame,
    new_tbl: DataFrame,
    key: str,
    compare_cols: Sequence[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The rows of every key that differs between two table snapshots,
    from each side: ``(old_changed, new_changed)``, the change-set
    input of :func:`mart_parts` for callers with no in-hand delta (the
    batch/DAG consumers of two retained versions). One
    :func:`snapshot_diff` on the key — narrow it with ``compare_cols``
    (e.g. an ``updated_at`` stamp) to make the diff a thin key/stamp
    join — then one semi-join per side."""
    changed = snapshot_diff(
        old_tbl, new_tbl, key, compare_cols=compare_cols
    ).select(key).distinct()
    return (
        old_tbl.join(changed, key, "left_semi"),
        new_tbl.join(changed, key, "left_semi"),
    )


def _in_groups(
    rows: DataFrame, groups: DataFrame, fan_key: str, how: str = "left_semi"
) -> DataFrame:
    """``rows`` whose ``fan_key`` is (``left_semi``) / is not
    (``left_anti``) in the O(changes) ``groups`` set — broadcast, and
    null-safe so a NULL group is one group, matching groupBy."""
    return rows.join(
        F.broadcast(groups.withColumnRenamed(fan_key, "__chg_fan")),
        rows[fan_key].eqNullSafe(F.col("__chg_fan")),
        how,
    )


def mart_parts(
    old_changed: DataFrame,
    new_changed: DataFrame,
    group_rows,
    fan_key: str,
    build,
) -> tuple[DataFrame, DataFrame]:
    """Incremental mart refresh from a change set: the (affected
    groups, rebuilt fragment) pair. ``build`` is the mart definition
    — any function from a slice of the table to mart rows: a fan-out
    join into dimensions (the publications-by-author shape) or a group
    aggregate (``lambda r: r.groupBy(g).agg(*aggs)``). Land the pair
    with :func:`apply_mart_parts`, or as a keyed REPLACE on a manifest
    mart (``TableStore.replace_keys_manifest`` — an O(changes) WRITE
    instead of re-materializing the carried rows).

    ``old_changed`` / ``new_changed`` are the changed keys' rows from
    the version the mart was built from and from head (only their
    ``fan_key`` column is read): every group either side names is
    affected, so a row migrating between groups refreshes both, and a
    deleted key — present only in the old rows — re-points its group.
    Batch callers derive them with :func:`changed_rows`; the
    streaming sink already holds the change set (the micro-batch) and
    reads them bucket-pruned, never diffing two full versions. A
    SUPERSET of the truly-changed keys is safe: a group rebuilt
    without having changed reproduces its mart rows exactly.

    ``group_rows`` holds (a superset of) the affected groups' head
    rows — the whole table, or a callable from the affected set to
    such rows (for sources that prune by it); it is narrowed to the
    affected groups before ``build`` runs.

    Correctness requires ``build`` to be PER-GROUP: a mart row must
    depend only on table rows sharing its ``fan_key`` (and on
    dimension state treated as fixed — dim changes need a full
    rebuild). Under that contract the affected groups rebuilt from
    head plus the carried rest equal a full rebuild — holistic
    aggregates included, since affected groups are recomputed from
    scratch, not patched."""
    affected = (
        old_changed.select(fan_key)
        .unionByName(new_changed.select(fan_key))
        .distinct()
    )
    if callable(group_rows):
        group_rows = group_rows(affected)
    return affected, build(_in_groups(group_rows, affected, fan_key))


def apply_mart_parts(
    old_mart: DataFrame, affected: DataFrame, fragment: DataFrame, fan_key: str
) -> DataFrame:
    """The refreshed mart as a DataFrame: ``old_mart`` minus every
    affected group (null-safe anti-join against the broadcast
    O(changes) set) ∪ the rebuilt ``fragment`` of :func:`mart_parts`."""
    return _in_groups(old_mart, affected, fan_key, "left_anti").unionByName(
        fragment
    )
