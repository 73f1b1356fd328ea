"""Deduplication operators for large-scale corpora.

Scale design (the point of this module): nothing here ever builds an
all-pairs product over the corpus. Every near-dup path follows
   signature (per-row, map-only)
   → bucket (shuffle on short keys)
   → candidate pairs (join inside buckets only)
   → verify (exact measure on candidates)
which is the standard LSH factorization that holds at 100 TB: the only
shuffles key on band/bucket hashes, and skewed buckets are bounded by
the band width (plus AQE skew splitting).

Determinism contract: signatures are md5-based (stable across engines
and runs), not Spark's murmur `hash()`, so DuckDB oracles can verify
results bit-for-bit. Swap `_hstr` for xxhash64 when cross-engine
reproducibility is not needed and raw speed is.

Reference tie-in: the reference dedups publications by exact platform
IDs with newest-wins survivor selection
(harvest_incremental/deduplicate.py:38-217); `exact_dedup` +
`survivor_select` reproduce that; the near-dup family extends it to
content identity for training-data pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rialto_airflow_spark.operators import index_store
from rialto_airflow_spark.operators.index_store import IndexLayout
from rialto_airflow_spark.operators.text import ngram_strings


def _hstr(col: Column, salt: int | str) -> Column:
    """Deterministic salted string hash (md5 hex)."""
    return F.md5(F.concat_ws("#", col, F.lit(str(salt))))


# re-exported for backward compatibility; implementations live in
# functions.perf (shared with the text operators)
from rialto_airflow_spark.functions.perf import (  # noqa: E402,F401
    bind_once,
    ensure_parallelism,
    release_on_gc,
)


def _h64(col: Column, salt: int | str) -> Column:
    """Deterministic salted 32-bit integer hash derived from md5."""
    return F.conv(F.substring(_hstr(col, salt), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# exact + survivor selection
# ---------------------------------------------------------------------------


def content_hash(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def exact_dedup(
    df: DataFrame, content_col: str, order_col: str, keep: str = "first"
) -> DataFrame:
    """Exact dedup: group rows by md5(content); within each group keep
    the first/last row by order_col (newest-wins when order_col is a
    recency column and keep='last' — deduplicate.py:187-199).

    One shuffle on the 128-bit content hash; group skew is impossible
    beyond true duplicate multiplicity.
    """
    h = content_hash(content_col).alias("__h")
    oc = F.col(order_col)
    w = Window.partitionBy("__h").orderBy(
        oc.asc() if keep == "first" else oc.desc()
    )
    return (
        df.select("*", h)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def survivor_select(
    df: DataFrame, key_cols: list[str], order_col: str
) -> DataFrame:
    """A3/A6 — newest row per key survives (merge_pubs,
    deduplicate.py:187-217; latest-per-orcid, mais.py:140-147)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _sig_expr(sh: Column, num_perm: int) -> Column:
    """MinHash signature (array of num_perm hex mins) from a bound
    shingle-array lambda variable — shingles hashed once per salt."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.array_min(
            F.transform(
                sh, lambda s: F.md5(F.concat_ws("#", s, i.cast("string")))
            )
        ),
    )


def banded_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band_idx, band_hash) rows — shingles → signature → bands
    in ONE bound expression per row (each stage evaluated exactly
    once), then explode. Map-only until the explode."""
    rows = num_perm // bands
    shingles = F.array_distinct(ngram_strings(text_col, shingle_n))

    def all_bands(sh: Column) -> Column:
        sig = _sig_expr(sh, num_perm)
        return bind_once(
            sig,
            lambda sg: F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.sequence(F.lit(0), F.lit(rows - 1)),
                                lambda r: F.element_at(sg, b * rows + r + 1),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            ),
        )

    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col), F.explode(bind_once(shingles, all_bands)).alias("band")
        )
        .select(
            id_col,
            F.col("band.band_idx").alias("band_idx"),
            F.col("band.band_hash").alias("band_hash"),
        )
    )


def lsh_candidate_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Candidate pairs colliding in ≥1 band. The self-join keys on
    (band_idx, band_hash): only same-bucket rows meet, so cost is the
    sum of squared bucket sizes, never n².

    The banded relation feeds both join sides; persisting it halves
    the signature computation (Spark would otherwise recompute the
    lineage per side). MEMORY_AND_DISK so big corpora spill instead
    of OOM."""
    from pyspark import StorageLevel

    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    # The persist is REQUIRED (A/B: dropping it is ~0.2-0.5 s slower
    # on q21 and the no-persist plan shows ZERO ReusedExchange and 8
    # parquet scans — Catalyst does not dedupe the self-join's two
    # subtrees) and stays LAZY: with the cache in place both sides
    # plan as InMemoryTableScan over ONE InMemoryRelation, so the
    # signature pipeline evaluates once regardless of which side's
    # stage touches a block first (block-level cache locking), and
    # the eager count() a previous round added here was a pure extra
    # job. Measured (interleaved in-session A/B, low-steal samples):
    # q36 2.20 s lazy vs 2.49 s eager; q50 1.83 vs 1.89; q21 3.10 vs
    # 3.21; q21 persist 1.48 vs no-persist 1.72.
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # the cache dies with the pair plan — loop callers (streaming
    # micro-batches, parameter sweeps) would otherwise accumulate one
    # banded cache per invocation forever
    return release_on_gc(pairs, banded)


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end MinHash LSH near-duplicate pairs (id_a < id_b).

    Hold a local: the banded-rows cache is released when the
    RETURNED DataFrame is garbage-collected (``release_on_gc``
    contract in ``functions/perf.py``) — bind the result before
    chaining, or the cache evicts before first read."""
    banded = banded_rows(df, id_col, text_col, num_perm, bands, shingle_n)
    return lsh_candidate_pairs(banded, id_col)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    assume_canonical: bool = False,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (id, cluster_id) where cluster_id is the smallest id in the
    component. This turns LSH candidate PAIRS into dedup GROUPS — the
    operation a dedup pipeline actually needs (keep one doc per
    cluster, drop the rest).

    Algorithm: min-label propagation with pointer jumping (the
    Shiloach-Vishkin path-halving step). Each round every vertex
    takes min(own label, neighbors' labels, label-of-its-label) —
    the last term chases each label one hop toward the component
    minimum, so convergence is O(log n) rounds instead of
    graph-diameter rounds: a 100-deep duplicate chain resolves in ~7
    rounds, not 100 (plain propagation would silently truncate at
    ``max_iter``). Correctness invariant: every label is an id inside
    the vertex's own component, and all three update terms preserve
    it, so the fixed point is the component minimum.

    Iteration discipline (what makes a Spark loop fast): the edge
    list and each round's labels are eagerly ``localCheckpoint``ed,
    truncating lineage so round N's plan is three small shuffles over
    materialized partitions instead of a re-derivation of every prior
    round (and of the upstream LSH pipeline that produced the pairs).
    The change flag is computed INSIDE the same plan, so convergence
    detection is a metadata-cheap scan of the checkpointed output,
    not an extra join job.

    Pair ids must be non-null (every producer in this repo — LSH
    bands, winnowing, embedding blocks — derives them from non-null
    key columns); a null id would be silently canonicalized away by
    the least/greatest edge orientation below.
    """
    # canonicalize BEFORE symmetrizing (round-12 shuffle-bytes
    # optimization): orienting each edge (least, greatest) first
    # means the dedup `distinct` shuffles E canonical rows instead of
    # 2E symmetrized ones, and the pair pipeline is evaluated in ONE
    # branch (no union of two derivations, so no pre-union
    # checkpoint). The mirrored direction is then a narrow
    # projection of the checkpointed canonical list — self-loops
    # excluded from the swap so the union stays exactly the old
    # distinct symmetric set.
    # (examined round 12: pre-partitioning sym by dst so the per-round
    # join could reuse the layout does NOT work — under AQE a
    # localCheckpoint records UnknownPartitioning, so the layout is
    # invisible to later plans, and at bench scale the labels side is
    # broadcast anyway, so the per-round join has no sym-side exchange
    # to remove. Left as-is.)
    # assume_canonical (round 13): ``lsh_candidate_pairs`` (and thus
    # minhash_near_dups) already emits DISTINCT pairs with strict
    # id_a < id_b — re-canonicalizing and re-deduping them here was a
    # second full exchange+aggregate of the edge list inside the entry
    # materialization job. Callers whose producer guarantees that
    # contract pass True and the edge list checkpoints as-is; the
    # default keeps the general path for arbitrary pair sources
    # (reversed duplicates, self-loops).
    if assume_canonical:
        canon = pairs.select(
            F.col(id_a).alias("src"), F.col(id_b).alias("dst")
        ).localCheckpoint()
    else:
        canon = (
            pairs.select(
                F.least(F.col(id_a), F.col(id_b)).alias("src"),
                F.greatest(F.col(id_a), F.col(id_b)).alias("dst"),
            )
            .distinct()
            .localCheckpoint()
        )
    sym = canon.unionByName(
        canon.where(F.col("src") != F.col("dst")).select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")

    def one_step(labels: DataFrame) -> DataFrame:
        # neighbor-min and self term in ONE join + ONE aggregation
        # (round-12: the old three-join round paid a separate
        # labels⨝nbr join just to re-attach the self label; the
        # labels table IS the self contribution, so union it into
        # the aggregation input tagged __self and recover the old
        # label as max(label where __self) — one row per id by
        # construction, so max picks exactly it)
        contrib = sym.join(
            labels.select(
                F.col("id").alias("__nid"),
                F.col("label").alias("__nlabel"),
            ),
            F.col("dst") == F.col("__nid"),
        ).select(
            F.col("src").alias("id"),
            F.col("__nlabel").alias("__l"),
            F.lit(False).alias("__self"),
        ).unionByName(
            labels.select(
                "id",
                F.col("label").alias("__l"),
                F.lit(True).alias("__self"),
            )
        )
        propagated = contrib.groupBy("id").agg(
            F.min("__l").alias("__mid"),
            F.max(F.when(F.col("__self"), F.col("__l"))).alias("__old"),
        )
        # pointer jump: chase __mid one hop (its owner's label);
        # any label is an id in the same component, so the jump
        # target is too — min keeps the invariant while halving
        # path lengths. (Round 13 also A/B'd jumping through the
        # round's OWN partial labels — a deeper chase via a lazily
        # persisted self-reference of `propagated`; it measured
        # ~+0.7 s WORSE on q36: the per-round cache write costs more
        # than the barrier the deeper chase saves on these graphs.)
        return (
            propagated.join(
                labels.select(
                    F.col("id").alias("__jid"), F.col("label").alias("__jlabel")
                ),
                propagated["__mid"] == F.col("__jid"),
                "left",
            )
            .select(
                "id",
                F.least(
                    F.col("__mid"), F.coalesce(F.col("__jlabel"), F.col("__mid"))
                ).alias("__new_label"),
                F.col("__old"),
            )
            .select(
                "id",
                "__new_label",
                (F.col("__new_label") < F.col("__old")).alias("__chg"),
            )
        )

    # Step 1 collapses to ONE aggregation, join-free (round-12
    # job-count optimization): the initial label map is the identity,
    # so the neighbor-min is just min(dst) per src (every vertex IS a
    # src — sym is symmetrized), the self term is src, and the
    # pointer jump is provably a no-op (label(__mid) == __mid under
    # identity labels). This also drops the separate identity-labels
    # localCheckpoint the loop no longer needs. Its convergence probe
    # is skipped too: step 1 always changes something when any edge
    # exists (the larger endpoint of every edge lowers its label);
    # an empty edge set exits via the next barrier's empty probe.
    m = F.least(F.col("src"), F.col("__m"))
    stepped = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("__m"))
        .select(
            F.col("src").alias("id"),
            m.alias("__new_label"),
            (m < F.col("src")).alias("__chg"),
        )
        .localCheckpoint()
    )
    labels = stepped.select("id", F.col("__new_label").alias("label"))
    # Remaining steps run ONE propagation step per materialization
    # barrier. A previous round tried TWO lazily-stacked steps per
    # barrier (fewer checkpoint+probe jobs), but the second step
    # references the first THREE times (two joins + the self union)
    # and those references are NOT all exchange-reusable — the
    # neighbor join keys on dst, the jump join on __mid, the self
    # union has no exchange at all — so the un-materialized first
    # step recomputes per reference. Measured (interleaved in-session
    # A/B, low-steal samples): q36 2.26 s at one step per barrier vs
    # 2.59 s at two; the original 62-s-box measurement that motivated
    # the change was taken under heavy hypervisor steal and did not
    # replicate.
    steps = 1
    while steps < max_iter:
        # LAZY checkpoint + one max(__chg) aggregate: the agg is the
        # first action over the marked RDD, so it materializes the
        # checkpoint AND answers convergence in ONE job — round 13,
        # halving the per-round job count (an eager checkpoint plus a
        # separate probe paid two scheduler round trips per round).
        # Unlike the reverted two-steps-per-barrier shape this stacks
        # nothing: still one propagation step per materialization.
        stepped = one_step(labels).localCheckpoint(eager=False)
        changed = stepped.agg(F.max("__chg")).first()[0]
        labels = stepped.select("id", F.col("__new_label").alias("label"))
        steps += 1
        if not changed:
            break
    return labels.select("id", F.col("label").alias("cluster_id"))


def cluster_survivors(
    df: DataFrame, clusters: DataFrame, id_col: str
) -> DataFrame:
    """Keep one row per near-dup cluster (the cluster_id member) plus
    every unclustered row — the 'drop near-duplicates' step after
    ``connected_components``. Left join on id + filter: no extra
    shuffle beyond the join."""
    c = clusters.select(
        F.col("id").alias("__cid"), F.col("cluster_id").alias("__cluster")
    )
    return (
        df.join(c, df[id_col] == F.col("__cid"), "left")
        .where(F.col("__cluster").isNull() | (F.col("__cluster") == df[id_col]))
        .drop("__cid", "__cluster")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash over whitespace tokens: bit b of the hash is 1 iff the
    sum over tokens of (+1 if bit b of md5-derived token hash else -1)
    is positive. Map-only per document, and single-pass: ONE aggregate
    carries an array of ``bits`` vote counters (zip_with add per
    token), instead of ``bits`` separate aggregates each rescanning
    the token array — ~bits× fewer array traversals per row."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    tok_hashes = F.transform(toks, lambda w: _h64(w, "simhash"))

    def body(th: Column) -> Column:
        # per token: its ±1 vote for every bit (b is a Python literal,
        # so shiftright stays a static expression)
        per_tok = F.transform(
            th,
            lambda h: F.array(
                *[
                    F.when(
                        F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1).cast("long"),
                    ).otherwise(F.lit(-1).cast("long"))
                    for b in range(bits)
                ]
            ),
        )
        votes = F.aggregate(
            per_tok,
            F.array_repeat(F.lit(0).cast("long"), bits),
            lambda acc, arr: F.zip_with(acc, arr, lambda a, x: a + x),
        )

        def fold(v: Column) -> Column:
            total = F.lit(0).cast("long")
            for b in range(bits):
                total = total + F.when(
                    F.element_at(v, b + 1) > 0, F.lit(2**b).cast("long")
                ).otherwise(F.lit(0).cast("long"))
            return total

        return bind_once(votes, fold)

    return ensure_parallelism(df).select(
        F.col(id_col), bind_once(tok_hashes, body).alias("simhash")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard verify
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs formed INSIDE blocks
    (never across the whole corpus). Blocks come from cheap equality
    keys (language, source, length bucket, or an LSH band); pair cost
    is bounded by the square of the largest block, which AQE skew
    handling further splits at scale."""
    shingled = ensure_parallelism(df).select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.array_distinct(ngram_strings(text_col, shingle_n)).alias("__sh"),
    )
    a, b = shingled.alias("a"), shingled.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    union = F.size(F.array_union(F.col("a.__sh"), F.col("b.__sh")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product with deterministic left-to-right
    summation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(v: Column) -> Column:
    """Euclidean norm in double precision."""
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns. For pairwise
    workloads prefer precomputing ``norm`` per row (norms are O(n),
    pairs are O(n²) — see embedding_near_dups/similarity.py)."""
    return dot(a, b) / (norm(a) * norm(b))


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
    norm_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks (e.g. a
    cluster label, an LSH sign-bucket — see similarity.sign_bucket).
    Same blocked-pair discipline as ngram_jaccard_pairs; norms are
    computed once per vector (O(n)) before the O(n²) pair stage —
    or reused from ``norm_col`` when the caller already materialized
    them (semantic_dedup's checkpointed assignment pass does), which
    also skips the ensure_parallelism probe on an already-planned
    input.

    Zero-norm vectors are excluded up front: they have no cosine
    direction, and without the filter their 0/0 similarity is NaN,
    which Spark's ordering treats as GREATER than any number — so
    ``NaN >= threshold`` would silently link every zero vector to its
    whole block."""
    if norm_col is not None:
        normed = df.select(
            F.col(id_col),
            F.col(vec_col),
            F.col(block_col),
            F.col(norm_col).alias("__nrm"),
        ).where(F.col("__nrm") > 0)
    else:
        normed = (
            ensure_parallelism(df)
            .select(
                F.col(id_col),
                F.col(vec_col),
                F.col(block_col),
                norm(F.col(vec_col)).alias("__nrm"),
            )
            .where(F.col("__nrm") > 0)
        )
    a, b = normed.alias("a"), normed.alias("b")
    sim = dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / (
        F.col("a.__nrm") * F.col("b.__nrm")
    )
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(sim, 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    centroids=None,
    k: int | None = None,
    max_iters: int = 3,
    target_cluster_size: int = 1000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding column — cluster the corpus with
    k-means, form cosine-similarity pairs ONLY within each cluster,
    connect pairs into duplicate groups, keep one representative
    (the smallest id) per group.

    Returns ``(id_col, centroid_id, keep)`` — auditable flags; filter
    on ``keep`` or feed the kept ids to a semi-join. Composition of
    existing machinery, no new physical shape: assignment is the same
    one-matmul-per-Arrow-batch map-only pass the IVF operators use
    (corpus never shuffles to get a cluster id), the pair stage is
    :func:`embedding_near_dups`'s blocked join with ``centroid_id``
    as the block, and grouping is :func:`connected_components`.

    Scale contract: all-pairs work is bounded by the squared cluster
    size. ``k`` therefore DEFAULTS to corpus-derived —
    ``max(8, n_rows // target_cluster_size)`` (one count() over the
    corpus, the same discipline as the paper's n/⟨cluster⟩ choice:
    LAION at k=50k is ~3e4 rows/cluster) — so within-cluster pair
    work grows LINEARLY with the corpus instead of quadratically at
    a fixed k (the measured anti-pattern: fixed k=8 cost 100× pair
    work for 10× data at the x10 tile, see SCALING.md). Pass an
    explicit ``k`` to pin the quantizer (reproducibility, or a
    pre-sized cluster budget); pass ``centroids`` to skip training
    entirely, in which case ``k``/``target_cluster_size`` are unused.
    Known approximation, inherited from the paper: a near-dup pair
    split across a cluster boundary is never examined; raise ``k``
    gradually or run a second pass with re-seeded centroids if
    boundary recall matters.
    ``centroids`` accepts a pre-trained ``(cids, cmat, cnorms)``
    triple (e.g. from ``similarity.kmeans_centroids`` or a persisted
    IVF index) so the quantizer trains once per corpus, not per call.
    """
    # function-local import: similarity.py imports dot/norm from this
    # module, so a module-level import here would be circular
    from rialto_airflow_spark.operators.similarity import (
        _centroid_assign,
        kmeans_centroids,
    )

    if centroids is None:
        if k is None:
            # corpus-derived k: clusters stay ~target_cluster_size so
            # the pair stage's per-cluster quadratic never outgrows a
            # scale-up; bounded below (tiny corpora) and above (k can
            # never exceed the row count)
            n_rows = df.count()
            k = max(8, n_rows // target_cluster_size)
            k = max(1, min(k, n_rows))
        centroids = kmeans_centroids(
            df, id_col, vec_col, k=k, max_iters=max_iters
        )
    cids, cmat, cnorms = centroids
    # localCheckpoint: the assignment's mapInPandas pass (the most
    # expensive map over the corpus) feeds BOTH sides of the pair
    # self-join and the final flags output — materialize it once, the
    # same iteration discipline kmeans_centroids/connected_components
    # apply (the operator is eager anyway: CC iterates to a collected
    # convergence flag)
    assigned = _centroid_assign(
        df, id_col, vec_col, "__sid", 1, cids, cmat, cnorms
    ).localCheckpoint()
    # the pair stage IS embedding_near_dups' blocked join (zero-norm
    # rows excluded there — their NaN cosine would otherwise pass any
    # threshold under Spark's NaN-is-greatest ordering)
    pairs = embedding_near_dups(
        assigned,
        "__sid",
        "__v",
        "centroid_id",
        threshold,
        norm_col="__vn",
    )
    clusters = connected_components(pairs).select(
        F.col("id").alias("__cid"), F.col("cluster_id").alias("__cluster")
    )
    return (
        assigned.select(
            F.col("__sid").alias(id_col), F.col("centroid_id")
        )
        .join(clusters, F.col(id_col) == F.col("__cid"), "left")
        .select(
            id_col,
            "centroid_id",
            (
                F.col("__cluster").isNull()
                | (F.col("__cluster") == F.col(id_col))
            ).alias("keep"),
        )
    )


def winnow_near_dups(
    docs: DataFrame | None,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
    k: int = 8,
    min_shared: int = 2,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """MOSS-style near-dup candidate pairs: documents sharing at least
    ``min_shared`` winnowing fingerprint hashes (Schleimer et al.) —
    the positional-coverage complement to MinHash banding: a winnow
    hash is the minimum over a LOCAL window of shingles, so two
    documents collide exactly where they share a passage, and an
    inserted paragraph can't hide between sketch samples.

    Scale shape mirrors ``lsh_candidate_pairs``: fingerprints explode
    map-side (k small hashes per doc), one shuffle buckets them by
    hash value, pairs form inside buckets only (sum of squared bucket
    sizes, never all-pairs), and the shared-hash count aggregates on
    the pair key. Boilerplate-heavy hashes make hot buckets — strip
    boilerplate first (operators.curation.boilerplate_lines) or raise
    ``n``; AQE skew-join covers the remainder.

    ``fingerprints`` accepts a precomputed ``(id_col, wfp)`` table
    (the output of ``text.winnow_fingerprint`` with MATCHING
    n/window/k — e.g. q50's persisted fingerprint pass) so the
    expensive text→shingle→window-min map runs once when the caller
    also needs the fingerprint column; ``docs``/``text_col`` are
    ignored in that case.
    """
    from rialto_airflow_spark.operators.text import winnow_fingerprint

    if fingerprints is not None:
        src = fingerprints.select(
            F.col(id_col).alias("id"), F.col("wfp").alias("__wfp")
        )
    else:
        if docs is None:
            raise ValueError("winnow_near_dups: pass docs or fingerprints")
        src = docs.select(
            F.col(id_col).alias("id"),
            winnow_fingerprint(F.col(text_col), n, window, k).alias("__wfp"),
        )
    fp = src.select(
        "id", F.explode(F.split(F.col("__wfp"), r"\|")).alias("h")
    ).where(F.col("h") != "")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Persisted MinHash index — incremental near-dup dedup
# ---------------------------------------------------------------------------
#
# The daily-ingest shape at 100 TB: nobody re-fingerprints the whole
# corpus to dedup a new batch. The corpus HISTORY persists as banded
# signature rows (thin: id + band hash — no text), partitioned by a
# bounded bucket of the band hash; a new batch fingerprints map-side
# and joins against the index on the band key. Probe cost is
# batch-sized fingerprinting + one thin-row join; small probes prune
# to their bucket partitions at file-listing time, and the 100-TB
# text is never re-read. The storage protocol (append markers,
# compaction, manifest reads, vacuum) is shared with the IVF index in
# ``operators.index_store``; MINHASH is this index's layout.

MINHASH = IndexLayout(
    data="rows",
    part="pbucket",
    id_col="index_id",
    manifest_key="rows_manifest",
    aux=("meta",),
)


def _pbucket(band_idx: Column, band_hash: Column, bands: int, buckets: int) -> Column:
    """Single bounded partition value: band_idx · buckets + a hash
    bucket of the band hash. Cardinality ≤ bands·buckets regardless
    of corpus size, so the partition-directory count stays fixed and
    a probe's distinct pbucket list is ALWAYS driver-small."""
    return (
        band_idx.cast("long") * buckets
        + F.pmod(F.xxhash64(band_hash), F.lit(buckets))
    ).cast("int")


def _minhash_store(path: str):
    """The index's shared versioned-store handle: commit-log layout
    under ``{path}/_commits`` (``commitlog.VersionedStore`` — one
    object-store-safe commit protocol for every store in the engine),
    with the pre-log ``INDEX.json`` pointer as read-only legacy."""
    import os

    from ..commitlog import VersionedStore

    return VersionedStore(
        path,
        version_prefix="v",
        legacy_pointer=os.path.join(path, "INDEX.json"),
    )


def minhash_index_current(path: str) -> tuple[str, str] | None:
    """Resolve the index's CURRENT (rows_dir, meta_dir), or None if no
    version is committed. Versions live under ``{path}/v...-...`` and
    the ``_commits`` log names the live one — the shared
    ``commitlog.VersionedStore`` discipline, so a REBUILD (compaction,
    retrain) publishes atomically while live probes keep reading the
    snapshot they resolved. (Legacy ``INDEX.json`` pointers and bare
    ``{path}/rows`` layouts still resolve, read-compatibly.)"""
    import os

    base = _minhash_store(path).current_path()
    if base is not None:
        return os.path.join(base, "rows"), os.path.join(base, "meta")
    legacy = os.path.join(path, "rows")
    if os.path.isdir(legacy):
        return legacy, os.path.join(path, "meta")
    return None


def _minhash_index_meta(spark, meta_dir: str) -> tuple[int, int, int, int]:
    r = spark.read.parquet(meta_dir).collect()[0]
    return r["num_perm"], r["bands"], r["shingle_n"], r["buckets"]


def write_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    buckets: int = 64,
) -> None:
    """Materialize the corpus's banded MinHash rows as a persisted
    dedup index: ``{path}/rows`` parquet PARTITIONED by ``pbucket``
    (≤ bands·buckets directories), ``{path}/meta`` holding the
    signature parameters so every probe fingerprints with EXACTLY the
    build's settings (mismatched params silently find nothing — the
    index is self-describing instead).

    Write shape mirrors ``similarity.write_lsh_index``: repartition
    on (pbucket, salt) so a hot band hash never funnels one write
    task, while partitionBy still lays each row in its directory.

    PUBLISH IS ATOMIC: rows + meta land in a fresh version directory
    and one commit to the ``_commits`` log makes them live together —
    a rebuild (periodic compaction of appended duplicates, a retrain)
    never exposes concurrent probes to a half-written rows dir or a
    meta/rows parameter mismatch, and the commit primitive is
    put-if-absent (object-store-safe), not a POSIX rename. Superseded
    version dirs are retained; reclaim with
    :func:`minhash_index_vacuum` once no probe can still hold them."""
    import os

    spark = docs.sparkSession
    store = _minhash_store(path)
    base = store.new_version_path()
    spark.createDataFrame(
        [(num_perm, bands, shingle_n, buckets)],
        "num_perm int, bands int, shingle_n int, buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "meta"))

    rows = banded_rows(docs, id_col, text_col, num_perm, bands, shingle_n).select(
        F.col(id_col).alias("index_id"),
        "band_idx",
        "band_hash",
        _pbucket(F.col("band_idx"), F.col("band_hash"), bands, buckets).alias(
            "pbucket"
        ),
    )
    index_store.salted_write(
        rows, os.path.join(base, MINHASH.data), MINHASH.part, MINHASH.id_col,
        "overwrite",
    )
    store.commit(base)


def append_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Extend an existing index with a new batch: fingerprint under
    the PERSISTED parameters and append — new files land inside the
    existing pbucket directories, so probes see old + new rows with
    partition pruning intact. Appending the same batch twice leaves
    duplicate index rows: harmless for correctness (probe pairs are
    distinct); :func:`compact_minhash_index` collapses them.

    Writer contract (``index_store.append``): files first, then a
    marker commit CAS'd against the head. A concurrent
    ``write_minhash_index`` pointer swap would strand this append in
    a superseded version (silently vacuumable — future duplicates of
    the appended docs would go undetected), so the pointer is RE-READ
    after the write and a swap-during-append raises ``RuntimeError``
    instead of losing the batch silently (round-7 ADVICE #2). On that
    error, re-run the append against the new current version —
    appends are idempotent-for-correctness per the duplicate-rows
    note above."""
    spark = docs.sparkSession
    cur = minhash_index_current(path)
    if cur is None:
        raise FileNotFoundError(f"no committed minhash index at {path}")
    rows_dir, meta_dir = cur
    num_perm, bands, shingle_n, buckets = _minhash_index_meta(spark, meta_dir)
    rows = banded_rows(docs, id_col, text_col, num_perm, bands, shingle_n).select(
        F.col(id_col).alias("index_id"),
        "band_idx",
        "band_hash",
        _pbucket(F.col("band_idx"), F.col("band_hash"), bands, buckets).alias(
            "pbucket"
        ),
    )
    store = _minhash_store(path)
    index_store.append(
        store, MINHASH, rows, rows_dir,
        lambda: (minhash_index_current(path) or (None,))[0],
    )


def compact_minhash_index(
    spark,
    path: str,
    _after_read=None,
) -> str:
    """Compact the persisted MinHash index: rewrite the CURRENT
    version's signature rows — ``distinct()``, so duplicate rows from
    re-applied appends collapse — into a fresh version with the same
    meta, and publish via CAS. The maintenance job the append path's
    docstring promises: every ``append_minhash_index`` lands another
    small file set inside the live pbucket dirs, and a daily-ingest
    index degrades into a file-listing storm without periodic rewrite
    (the ``TableStore.compact`` story, specialized to the index's
    partitioned layout).

    Concurrency contract (``index_store.compact``): the head seq is
    snapshotted BEFORE the rows are listed and the commit CAS's
    against it, so an append sequenced in between makes the compactor
    re-read, and a compaction committing first trips the appender's
    pointer check — either interleaving keeps every signature.

    ``_after_read`` is a test-only fault-injection hook invoked
    between the rewrite and the commit. Returns the new version's
    base dir."""
    return index_store.compact(
        spark, _minhash_store(path), MINHASH, _after_read=_after_read
    )


def compact_minhash_index_dirty(
    spark,
    path: str,
    max_files: int = 4,
    _after_read=None,
) -> str | None:
    """DIRTY-PARTITION compaction — cost proportional to the APPEND
    pattern, not the index (round-10 task #4). Appends accrete one
    small file set inside the live pbucket dirs; full
    :func:`compact_minhash_index` rewrites EVERY partition even when
    one is dirty. This pass rewrites only pbuckets holding more than
    ``max_files`` data files (or spanning multiple carrier dirs) into
    a fresh version and CARRIES every clean pbucket by reference in
    the commit's carrier manifest (``index_store``: each pbucket maps
    to the version dirs holding its files — the TableStore manifest
    idea, specialized to the index's partitioned layout). Probes
    resolve the manifest into a per-carrier path selection — pruning
    semantics unchanged; appends extend the touched buckets' carrier
    lists in their marker commit; vacuum pins carrier dirs any
    retained manifest still references (:func:`minhash_index_vacuum`).

    Same CAS concurrency contract as the full compaction. Returns the
    new version dir, or None when nothing is dirty (no commit, no
    write). ``_after_read`` is the test-only fault-injection hook."""
    return index_store.compact(
        spark, _minhash_store(path), MINHASH, max_files, _after_read
    )


def minhash_dups_against_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    prune: bool | None = None,
) -> DataFrame:
    """Near-dup pairs between a new batch and the persisted corpus
    index: ``(new_id, index_id)``, one row per colliding pair
    (distinct over bands), same ≥1-shared-band semantics as
    ``minhash_near_dups`` — so probing batch B against index(A)
    finds exactly the A×B pairs a full ``minhash_near_dups(A ∪ B)``
    would (equivalence pinned by test).

    ``prune=None`` auto-enables partition pruning when the probe's
    distinct pbucket set (bounded ≤ bands·buckets — driver-small BY
    CONSTRUCTION, not by contract) leaves some partitions untouched:
    the probed buckets become a literal IN filter on the partition
    column, so a one-document probe lists only its ~bands
    directories of a 100-TB index. Large batches touch every bucket
    and skip the filter (it would be a no-op).

    Ids must be unique across batch and index; a doc probed against
    an index that already contains it matches ITSELF (same id, same
    text) — callers replaying a batch can drop ``new_id == index_id``
    pairs or treat them as the replay signal (see
    ``streaming.events.stream_minhash_dedup``).

    Hold a local: the probe-rows cache is released when the RETURNED
    DataFrame is garbage-collected (``release_on_gc`` contract in
    ``functions/perf.py``) — bind the result before chaining."""
    spark = new_docs.sparkSession
    cur = minhash_index_current(path)
    if cur is None:
        raise FileNotFoundError(f"no committed minhash index at {path}")
    num_perm, bands, shingle_n, buckets = _minhash_index_meta(spark, cur[1])
    probe = banded_rows(
        new_docs, id_col, text_col, num_perm, bands, shingle_n
    ).select(
        F.col(id_col).alias("new_id"),
        "band_idx",
        "band_hash",
        _pbucket(F.col("band_idx"), F.col("band_hash"), bands, buckets).alias(
            "pbucket"
        ),
    )
    from pyspark import StorageLevel

    probe = probe.persist(StorageLevel.MEMORY_AND_DISK)
    if prune is False:
        keys = None
    else:
        keys = [r["pbucket"] for r in probe.select("pbucket").distinct().collect()]
        if not prune and len(keys) >= bands * buckets:
            keys = None  # every bucket probed: a filter would be a no-op
    idx = index_store.read(spark, _minhash_store(path), MINHASH, keys)
    pairs = (
        probe.join(idx, ["band_idx", "band_hash"])
        .select("new_id", "index_id")
        .distinct()
    )
    return release_on_gc(pairs, probe)


def pair_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Precision / recall / F1 of a candidate-pair set against labeled
    truth pairs — the evaluation loop every near-dup parameter sweep
    runs (num_perm × bands trades recall against candidate volume;
    measuring it beats folklore). The ANN twin is
    ``similarity.ann_recall``; this is the DEDUP-side metric, over
    unordered id pairs.

    Pairs are normalized to (min, max) so orientation never affects
    the score, then both sides dedupe; counts come from one semi-join
    (result-set-sized work — |pred| + |truth| rows, never
    corpus-sized). Output is ONE row: ``(n_predicted, n_truth, n_hit,
    precision, recall, f1)``. Empty sides are well-defined: empty
    truth → recall 1 (nothing to find), empty predictions →
    precision 1 (nothing claimed), both conventions chosen so a
    parameter sweep over a clean corpus doesn't divide by zero."""

    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        ).distinct()

    p = canon(predicted)
    t = canon(truth)
    hits = t.join(p, ["a", "b"], "left_semi")
    counts = (
        p.agg(F.count(F.lit(1)).alias("n_predicted"))
        .crossJoin(t.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    prec = F.when(
        F.col("n_predicted") > 0, F.col("n_hit") / F.col("n_predicted")
    ).otherwise(F.lit(1.0))
    rec = F.when(
        F.col("n_truth") > 0, F.col("n_hit") / F.col("n_truth")
    ).otherwise(F.lit(1.0))
    return counts.select(
        "n_predicted",
        "n_truth",
        "n_hit",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("f1"),
    )


def lsh_parameter_sweep(
    corpus: DataFrame,
    truth: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    grid: list[tuple[int, int]] = ((8, 2), (12, 4), (16, 4), (24, 8)),
    shingle_n: int = 3,
) -> DataFrame:
    """Run the num_perm × bands grid and score each configuration's
    candidate set against labeled truth — the tuning table behind the
    banding trade (more bands → higher recall AND more candidates;
    the S-curve threshold is ≈ (1/bands)^(bands/num_perm)).

    Driver loop by design: the grid is a handful of configurations
    and EACH one is a full distributed pipeline (signature → bucket
    join → metrics); the loop only sequences jobs and collects one
    metric ROW per config. Returns ``(num_perm, bands, threshold,
    n_candidates, n_truth, n_hit, precision, recall, f1)`` sorted by
    f1 descending — pick the cheapest config above your recall floor.
    """
    spark = corpus.sparkSession
    rows = []
    for num_perm, bands in grid:
        if num_perm % bands:
            raise ValueError(
                f"num_perm={num_perm} not divisible by bands={bands}"
            )
        cand = minhash_near_dups(
            corpus, id_col, text_col, num_perm=num_perm, bands=bands,
            shingle_n=shingle_n,
        )
        m = pair_metrics(cand, truth).collect()[0]
        rows.append(
            (
                num_perm,
                bands,
                round((1.0 / bands) ** (bands / num_perm), 4),
                m["n_predicted"],
                m["n_truth"],
                m["n_hit"],
                m["precision"],
                m["recall"],
                m["f1"],
            )
        )
    from rialto_airflow_spark.functions.perf import local_df

    return local_df(
        spark,
        rows,
        "num_perm int, bands int, threshold double, n_candidates long, "
        "n_truth long, n_hit long, precision double, recall double, f1 double",
    ).orderBy(F.col("f1").desc(), F.col("num_perm").asc())


def minhash_index_vacuum(
    path: str,
    keep: int = 1,
    older_than_s: float | None = None,
    orphan_grace_s: float = 3600.0,
) -> list[str]:
    """Drop all but the newest ``keep`` index versions, never the
    current one — the reclamation step after rebuilds
    (``write_minhash_index`` retains superseded version dirs so live
    probes finish against their resolved snapshot). ``older_than_s``
    additionally spares versions committed more recently than that —
    set it ≥ the longest probe lifetime so vacuum can run on a timer
    without racing in-flight probes (the shared
    ``commitlog.VersionedStore.vacuum`` contract; ``orphan_grace_s=0``
    is the known-single-writer shortcut).

    Dirty-compacted lineages keep the carrier dirs a kept version's
    manifest still references (``index_store.vacuum``)."""
    return index_store.vacuum(
        _minhash_store(path), MINHASH, keep, older_than_s, orphan_grace_s
    )
