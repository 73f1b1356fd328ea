"""Storage protocol of the persisted, incrementally maintained indexes:
the MinHash near-dup index (``operators.dedup``) and the IVF ANN index
(``operators.similarity``).

Both sit on ``commitlog.VersionedStore``: a version is a ``{root}/v...``
dir holding one PARTITIONED data dir plus small aux tables, and one
commit makes it live. This module owns what both indexes do on top:

* the carrier manifest — a commit-payload map from each partition value
  (as a string) to the version dirs holding its files, written by dirty
  compaction so clean partitions carry by reference;
* the files-first append marker, CAS'd against the head seq;
* full and dirty compaction under CAS;
* the manifest-aware read;
* vacuum that pins the carriers kept manifests still reference;
* the salted partitioned write.

The indexes differ only in data, one :class:`IndexLayout` each. Callers
resolve their own ``VersionedStore`` and pass it in, so each index
module keeps its store factory (the seam tests swap fakes through).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..commitlog import CommitConflict

# index writes split each partition-key group across this many salted
# tasks: hot buckets/lists never funnel into one writer, and files per
# partition directory stay bounded by the same number
WRITE_SALT = 8


@dataclass(frozen=True)
class IndexLayout:
    """What one index stores where. Partition values are integers."""

    data: str  # partitioned data dir inside a version
    part: str  # partition column
    id_col: str  # row id, the write salt's key
    manifest_key: str  # commit-payload key of the carrier manifest
    aux: tuple[str, ...] = ()  # side tables copied verbatim on compaction
    carried: tuple[str, ...] = ()  # payload fields every commit carries over


def salted_write(df: DataFrame, dest: str, part: str, salt_col: str, mode: str) -> None:
    """Partitioned parquet write spread over (part, salt): partitionBy
    still lays each row in its directory, while the salt splits a hot
    partition value across ≤ ``WRITE_SALT`` tasks and files."""
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(WRITE_SALT))
    (
        df.repartition(F.col(part), salt)
        .write.partitionBy(part)
        .mode(mode)
        .parquet(dest)
    )


def _data_dir(layout: IndexLayout, payload: dict) -> str:
    """The data dir of the version ``payload`` names."""
    return os.path.join(payload["path"], layout.data)


def _carried(layout: IndexLayout, payload: dict) -> dict:
    return {k: payload[k] for k in layout.carried if k in payload}


def read(
    spark, store, layout: IndexLayout, keys=None, payload: dict | None = None
) -> DataFrame:
    """The live version's rows, manifest-aware, partition column kept.
    A manifest head reads one partitioned scan per CARRIER dir, filtered
    to the partition values the manifest homes there, so partition
    discovery keeps the column and the plan has one branch per carrier.
    ``keys`` (driver-small) prunes to those partition values: path
    selection on a manifest head, PartitionFilters otherwise."""
    if payload is None:
        payload = store.current()
        if payload is None:
            raise FileNotFoundError(f"no committed index at {store.root}")
    manifest = payload.get(layout.manifest_key)
    if manifest is None:
        df = spark.read.parquet(_data_dir(layout, payload))
        return df if keys is None else df.where(F.col(layout.part).isin(list(keys)))
    sel = set(manifest) if keys is None else {str(k) for k in keys} & set(manifest)
    by_base: dict[str, set[int]] = {}
    for k in sel:
        for b in manifest[k]:
            by_base.setdefault(b, set()).add(int(k))
    parts = [
        spark.read.parquet(os.path.join(b, layout.data)).where(
            F.col(layout.part).isin(sorted(ks))
        )
        for b, ks in sorted(by_base.items())
    ]
    if not parts:
        # empty selection: keep the index's schema (its id type, not
        # the caller's), so the empty case types like the others
        return spark.read.parquet(_data_dir(layout, payload)).limit(0)
    return reduce(DataFrame.unionByName, parts)


def append(store, layout: IndexLayout, rows: DataFrame, dest: str, pointer) -> None:
    """Append ``rows`` into the live data dir ``dest`` and publish the
    append. Appends land inside the existing partition dirs without a
    version of their own, so a marker commit (same version path, marked
    ``appended``) gives a concurrent compaction's CAS an entry to order
    against. Ordering matters twice: the marker lands only AFTER the
    files (any compactor sequenced after it sees them), and it is CAS'd
    against the head seq read at the pointer post-check, so it can never
    re-point the head back at a version a rebuild or compaction just
    superseded. On a manifest head the marker also extends the touched
    partitions' carrier lists with this version.

    ``pointer()`` re-resolves the live data dir. If it no longer names
    ``dest`` the batch is stranded in a superseded version and the
    append raises; on a CAS conflict with the pointer unchanged (a
    sibling append's marker won the seq) it retries."""
    head_manifest = (store.current() or {}).get(layout.manifest_key)
    touched: list[str] = []
    if head_manifest is not None:
        # bounded collect: partition values are few by construction
        touched = [
            str(r[layout.part])
            for r in rows.select(layout.part).distinct().collect()
        ]
    salted_write(rows, dest, layout.part, layout.id_col, "append")
    base = os.path.dirname(dest)
    while True:
        head_seq = store.current_seq()
        now = pointer()
        if now != dest:
            raise RuntimeError(
                f"append to index {store.root}: index pointer moved during "
                f"append (was {dest!r}, now {now!r}); the appended batch "
                "landed in a superseded version and will NOT be probed — "
                "re-run the append against the current version"
            )
        cur = store.current() or {}
        extra = dict(_carried(layout, cur), appended=True)
        if head_manifest is not None:
            manifest = dict(cur.get(layout.manifest_key) or head_manifest)
            for k in touched:
                if base not in manifest.get(k, []):
                    manifest[k] = [*manifest.get(k, []), base]
            extra[layout.manifest_key] = manifest
        try:
            store.commit(base, extra=extra, expected=head_seq)
            return
        except CommitConflict:
            continue


def _n_files(store, layout: IndexLayout, key: str, bases: list[str]) -> int:
    """Data files of partition ``key`` across its carrier dirs."""
    return sum(
        f.endswith(".parquet")
        for b in bases
        for f in store.backend.list_data_files(
            os.path.join(b, layout.data, f"{layout.part}={key}")
        )
    )


def compact(
    spark, store, layout: IndexLayout, max_files: int | None = None, _after_read=None
) -> str | None:
    """Rewrite partitions ``distinct()`` into a fresh version (aux tables
    copied verbatim) and publish it with a CAS against the head seq read
    BEFORE the rows were listed. An append sequenced in between conflicts
    the CAS and the compaction re-reads, now seeing the appended files;
    a compaction that commits first trips the appender's pointer check.
    Either way every row survives, and probes keep reading the version
    they resolved until vacuum.

    ``max_files=None`` rewrites every partition into a self-contained
    version. Otherwise only DIRTY partitions are rewritten — more than
    ``max_files`` data files, or spread over several carrier dirs — and
    every clean one carries by reference in the commit's manifest;
    returns None when nothing is dirty (no write, no commit).

    ``_after_read`` is a test-only fault-injection hook run between the
    rewrite and the commit. Returns the new version dir."""
    while True:
        head_seq = store.current_seq()
        payload = store.current()
        if head_seq is None or payload is None:
            raise FileNotFoundError(
                f"no committed index at {store.root}: build the index first"
            )
        old = payload["path"]
        manifest = payload.get(layout.manifest_key)
        keys = None
        if max_files is not None:
            if manifest is None:
                # implicit single-dir manifest: every present partition
                # lives in the current version's data dir
                manifest = {
                    d.split("=", 1)[1]: [old]
                    for d in store.backend.list_data(os.path.join(old, layout.data))
                    if d.startswith(f"{layout.part}=")
                }
            keys = [
                k
                for k, bases in manifest.items()
                if len(bases) > 1 or _n_files(store, layout, k, bases) > max_files
            ]
            if not keys:
                return None
        base = store.new_version_path()
        for aux in layout.aux:
            src = os.path.join(old, aux)
            if store.backend.data_exists(src):
                spark.read.parquet(src).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(os.path.join(base, aux))
        sel = None if keys is None else [int(k) for k in keys]
        rows = read(spark, store, layout, sel, payload).distinct()
        salted_write(
            rows, os.path.join(base, layout.data), layout.part, layout.id_col,
            "overwrite",
        )
        extra = _carried(layout, payload)
        if keys is None:
            extra["compacted"] = True
        else:
            extra[layout.manifest_key] = {
                **manifest, **{k: [base] for k in keys}
            }
            extra["compacted_dirty"] = True
        if _after_read is not None:
            _after_read()
        try:
            store.commit(base, extra=extra, expected=head_seq)
            return base
        except CommitConflict:
            # an append or rebuild sequenced past the snapshot: the
            # rewrite may miss its rows, so redo against the new head
            # (the orphaned dir is vacuumable)
            continue


def vacuum(
    store,
    layout: IndexLayout,
    keep: int = 1,
    older_than_s: float | None = None,
    orphan_grace_s: float = 3600.0,
) -> list[str]:
    """``VersionedStore.vacuum`` that PINS carrier dirs a kept version's
    manifest still references — deleting one would tear that version's
    row set. The pin set is refs(newest ``keep`` versions + current)
    minus those versions' own dirs, so a superseded manifest version
    never pins ITSELF into retention (vacuum stays convergent). Pinned
    carriers are pure file holders: nothing resolves them as versions,
    so their own manifests need no protection, and their log entries are
    excluded from anchoring the log prune (which would otherwise stop
    pruning forever). Once a later full compaction un-pins a carrier it
    reclaims through the orphan path, ``orphan_grace_s`` later."""
    payload_for: dict[str, dict] = {}
    for _seq, payload in store.log.history():
        p = payload.get("path")
        if p and p not in payload_for:
            payload_for[p] = payload
    vs = store.versions()
    kept_paths = {v["path"] for v in (vs[-keep:] if keep else vs)}
    cur = store.current_path()
    if cur:
        kept_paths.add(cur)
    pinned: set[str] = set()
    for p in kept_paths:
        manifest = (payload_for.get(p) or {}).get(layout.manifest_key) or {}
        for bases in manifest.values():
            pinned.update(bases)
    pinned -= kept_paths
    return store.vacuum(
        keep=keep,
        older_than_s=older_than_s,
        orphan_grace_s=orphan_grace_s,
        pinned=pinned,
        log_anchor_exclude=pinned,
    )
