"""LLM-training-data pipeline queries: dedup (exact / MinHash-LSH /
SimHash / n-gram Jaccard / embedding-cosine), similarity search
(brute-force + LSH-bucketed ANN), and text analysis — each with a
DuckDB oracle computing the identical deterministic result.

Near-dup queries synthesize duplicates on the fly (the driver corpus
has none): exact dups copy every 10th doc verbatim; near dups append
one token to every 10th doc. Both corpora are deterministic, so the
oracles rebuild them with plain SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rialto_airflow_spark.functions.perf import hold_alive, scratch_dir
from rialto_airflow_spark.operators import dedup as D
from rialto_airflow_spark.operators import similarity as S
from rialto_airflow_spark.operators import text as T
from rialto_airflow_spark.plans.queries import register
from rialto_airflow_spark.session import load_tables

# shared SQL fragments -------------------------------------------------------

# exact-dup corpus: every 10th doc duplicated verbatim under a new id
SQL_DUP_CORPUS = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""

# near-dup corpus: every 10th doc re-appended with one extra token
SQL_NEAR_CORPUS = """
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' zz near dup token pad' AS text,
         lang, source
  FROM documents WHERE doc_id % 10 = 0
"""

# word 3-gram shingles of column t, as a distinct list of strings
SQL_SHINGLES = """
  list_distinct(
    list_transform(
      range(1, greatest(len(regexp_split_to_array(trim({t}), '\\s+')) - 2, 0) + 1),
      i -> array_to_string(regexp_split_to_array(trim({t}), '\\s+')[i:i+2], ' ')
    )
  )
"""


def _spark_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    extra = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionByName(extra)


def _spark_near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    extra = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz near dup token pad")).alias("text"),
        "lang",
        "source",
    )
    return docs.select("doc_id", "text", "lang", "source").unionByName(extra)


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


@register(
    "q20_dedup_exact",
    oracle=f"""
    WITH corpus AS ({SQL_DUP_CORPUS})
    SELECT doc_id, md5(text) AS content_hash
    FROM (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM corpus
    ) WHERE rn = 1
    """,
    headline=True,
)
def q20_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy survivor selection (operators.dedup.
    exact_dedup) — smallest id per content hash survives."""
    corpus = _spark_dup_corpus(spark, sf_dir)
    return D.exact_dedup(corpus, "text", "doc_id", keep="first").select(
        "doc_id", D.content_hash("text").alias("content_hash")
    )


NUM_PERM, BANDS = 12, 4
_ROWS = NUM_PERM // BANDS


def minhash_pair_ctes() -> str:
    """CTE chain ending in ``pairs`` (id_a, id_b) — the MinHash-LSH
    candidate pairs over the synthesized near-dup corpus. Shared by
    the q21 oracle and the q36 connected-components oracle."""
    sh = SQL_SHINGLES.format(t="text")
    mins = ",\n           ".join(
        f"list_aggregate(list_transform(sh, s -> md5(s || '#{i}')), 'min') AS mh{i}"
        for i in range(NUM_PERM)
    )
    band_rows = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {b} AS band_idx, md5({concat}) AS band_hash FROM sig".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * _ROWS + r}" for r in range(_ROWS)),
        )
        for b in range(BANDS)
    )
    return f"""corpus AS ({SQL_NEAR_CORPUS}),
    shingled AS (SELECT doc_id, {sh} AS sh FROM corpus),
    sig AS (SELECT doc_id,
           {mins}
           FROM shingled),
    bands AS (
{band_rows}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
    )"""


def _minhash_oracle() -> str:
    return f"""
    WITH {minhash_pair_ctes()}
    SELECT id_a, id_b FROM pairs
    """


@register("q21_minhash_lsh", oracle=_minhash_oracle(), headline=True)
def q21_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs (operators.dedup.
    minhash_near_dups): 12 salted md5 min-hashes, 4 bands × 3 rows."""
    corpus = _spark_near_corpus(spark, sf_dir)
    return D.minhash_near_dups(
        corpus, "doc_id", "text", num_perm=NUM_PERM, bands=BANDS, shingle_n=3
    )


@register(
    "q22_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents
    ),
    th AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(w || '#simhash'), 1, 8) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, b.b AS b,
             sum(CASE WHEN (h >> CAST(b.b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           -- ::BIGINT: DuckDB's sum() over BIGINT yields HUGEINT (int128),
           -- which pandas surfaces as float64 and the driver hashes
           -- differently from Spark's int64 — cast back down (the value
           -- itself always fits: bits=32 → < 2^32).
           sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END)::BIGINT AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def q22_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash content sketch, 32 bits (operators.dedup.simhash)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    out = D.simhash(docs, "doc_id", "text", bits=32)
    # bits=32 → value < 2**32, always fits a signed 64-bit long; emit long so
    # the driver's value hash agrees with the oracle's BIGINT (round-1 verdict #1).
    return out.select("doc_id", F.col("simhash").cast("long").alias("simhash"))


@register(
    "q23_ngram_jaccard",
    oracle=f"""
    WITH corpus AS ({SQL_NEAR_CORPUS}),
    shingled AS (
      SELECT doc_id, lang, source, length(text) // 128 AS length_bucket,
             {SQL_SHINGLES.format(t="text")} AS sh
      FROM corpus
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(
             len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM shingled a JOIN shingled b
      ON a.lang = b.lang AND a.source = b.source
         AND a.length_bucket = b.length_bucket AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    """,
)
def q23_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked on (lang, source,
    length_bucket) (operators.dedup.ngram_jaccard_pairs).

    length_bucket (128-char buckets) bounds the largest block BY
    CONSTRUCTION: without it the pair stage is quadratic in the
    biggest (lang, source) group — at corpus scale the ('en','web')
    block IS the corpus (round-2 verdict #3). True near-dups have
    near-equal lengths, so same-bucket blocking keeps recall high;
    pairs straddling a bucket boundary are the known loss (mitigate
    by also probing the adjacent bucket — emit each doc into bucket
    and bucket+1, then distinct — when recall matters more than the
    extra shuffle). The oracle uses the identical key, so the check
    stays exact."""
    corpus = _spark_near_corpus(spark, sf_dir).withColumn(
        "length_bucket", F.floor(F.length("text") / 128)
    )
    return D.ngram_jaccard_pairs(
        corpus,
        "doc_id",
        "text",
        ["lang", "source", "length_bucket"],
        shingle_n=3,
        threshold=0.5,
    )


_COS = """
      sum(qv[d.i]::DOUBLE * cv[d.i]::DOUBLE)
      / (sqrt(sum(qv[d.i]::DOUBLE * qv[d.i]::DOUBLE))
         * sqrt(sum(cv[d.i]::DOUBLE * cv[d.i]::DOUBLE)))
"""


@register(
    "q24_embed_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, round({_COS}, 6) AS score
      FROM q JOIN c ON query_id != neighbor_id
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
      GROUP BY query_id, neighbor_id, qv, cv
    )
    SELECT query_id, rank, neighbor_id, score FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    headline=True,
)
def q24_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search
    (operators.similarity.brute_force_topk): queries broadcast,
    corpus streamed, per-query top-k window."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return S.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 8), "vec_id", "embedding", k=5
    )


_BUCKET = """
      (CASE WHEN {v}[1]  > 0 THEN 1   ELSE 0 END +
       CASE WHEN {v}[2]  > 0 THEN 2   ELSE 0 END +
       CASE WHEN {v}[3]  > 0 THEN 4   ELSE 0 END +
       CASE WHEN {v}[4]  > 0 THEN 8   ELSE 0 END +
       CASE WHEN {v}[5]  > 0 THEN 16  ELSE 0 END +
       CASE WHEN {v}[6]  > 0 THEN 32  ELSE 0 END +
       CASE WHEN {v}[7]  > 0 THEN 64  ELSE 0 END +
       CASE WHEN {v}[8]  > 0 THEN 128 ELSE 0 END)
"""


@register(
    "q25_ann_lsh",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                      {_BUCKET.format(v="embedding")} AS qb
               FROM embeddings WHERE vec_id < 50),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                 {_BUCKET.format(v="embedding")} AS cb
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, round({_COS}, 6) AS score
      FROM q JOIN c ON qb = cb AND query_id != neighbor_id
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
      GROUP BY query_id, neighbor_id, qv, cv
    )
    SELECT query_id, rank, neighbor_id, score FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q25_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors
    (operators.similarity.lsh_topk): sign-bit coarse quantizer (IVF
    pattern), search only the query's bucket."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return S.lsh_topk(
        emb, emb.where(F.col("vec_id") < 50), "vec_id", "embedding", k=3, bits=8
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def _lang_oracle() -> str:
    score = {
        lang: f"len(list_filter(toks, x -> list_contains({list(m)}, x)))"
        for lang, m in T.LANG_MARKERS.items()
    }
    selects = ",\n             ".join(f"{sql} AS s_{lang}" for lang, sql in score.items())
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in T.LANG_MARKERS) + ")"
    case = "\n             ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in T.LANG_MARKERS
    )
    return f"""
    WITH tok AS (
      SELECT doc_id,
             list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x)) AS toks
      FROM documents
    ),
    scored AS (
      SELECT doc_id, {selects}
      FROM tok
    )
    SELECT doc_id,
           CASE WHEN best = 0 THEN 'und'
             {case}
             ELSE 'und' END AS lang_guess
    FROM (SELECT *, {best} AS best FROM scored)
    """


def _text_metrics_oracle() -> str:
    fp_expr = (
        "array_to_string(list_sort(list_distinct("
        f"list_transform({SQL_SHINGLES.format(t='text')}, s -> md5(s))"
        "))[1:4], '|')"
    )
    return f"""
    WITH lang AS ({_lang_oracle()}),
    feat AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 x -> list_contains(['the','a','of','and','in','to','is','it','for','on'], lower(x))))::DOUBLE
               / len(regexp_split_to_array(trim(text), '\\s+')) AS stop_r,
             (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
               / length(text) AS punct_r,
             length(text) AS n_chars2,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS n_bpe_tokens,
             {fp_expr} AS fp
      FROM documents
    ),
    raw_doi AS (
      SELECT doc_id,
             CASE doc_id % 5
               WHEN 0 THEN 'https://doi.org/10.1234/' || doc_id
               WHEN 1 THEN 'DOI: 10.5678/ ' || doc_id
               WHEN 2 THEN 'arXiv:2202.0' || doc_id
               WHEN 3 THEN '10.1562/"' || doc_id
               ELSE 'no-doi-here-' || doc_id
             END AS rdoi
      FROM documents
    ),
    doi_c AS (
      SELECT doc_id, rdoi,
             regexp_extract(
               regexp_replace(
                 regexp_replace(lower(rdoi), '[ \\\\]', '', 'g'),
                 '^arxiv:', '10.48550/arxiv.'),
               '(10\\..+)', 1) AS extracted
      FROM raw_doi
    ),
    dois AS (
      SELECT doc_id,
             CASE
               WHEN rdoi IS NULL OR trim(rdoi) = '' THEN NULL
               WHEN strpos(rdoi, '"') > 0 THEN NULL
               WHEN extracted = '' THEN NULL
               ELSE extracted
             END AS doi
      FROM doi_c
    )
    SELECT l.doc_id AS doc_id, l.lang_guess,
           f.n_tokens,
           round(f.stop_r, 4) AS stop_ratio,
           round(f.punct_r, 4) AS punct_ratio,
           round(least(f.n_chars2 / 500.0, 1.0) * 0.4
                 + least(f.stop_r * 5.0, 1.0) * 0.4
                 + greatest(0.0, 1.0 - f.punct_r * 10.0) * 0.2, 4) AS quality,
           f.n_bpe_tokens, f.fp, d.doi
    FROM lang l
    JOIN feat f ON l.doc_id = f.doc_id
    JOIN dois d ON l.doc_id = d.doc_id
    """


@register("q26_text_metrics", oracle=_text_metrics_oracle())
def q26_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis, ONE scan: language-ID
    (operators.text.lang_id), quality scoring (quality_score +
    stopword/punct features), token counting (token_count /
    bpe_ish_token_count), and fingerprinting (fingerprint, k-smallest
    shingle hashes). Round 8 merged the former q26/q27/q28/q29 —
    every column family is row-wise over the same documents scan, so
    four registry slots were four redundant scans (the freed slots
    now gate profile/metric operators); each operator stays
    individually hash-gated because the driver hashes ALL columns.
    Round 9 folded the former q12_normalize_doi in the same way: N1
    normalize_doi (utils.py:88-119) over synthesized DOI-ish strings
    is row-wise over this exact scan — its slot freed for
    q54_heavy_hitters."""
    from rialto_airflow_spark.functions.normalize import normalize_doi
    from rialto_airflow_spark.functions.perf import ensure_parallelism

    docs = ensure_parallelism(load_tables(spark, sf_dir, "documents")["documents"])
    raw_doi = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("https://doi.org/10.1234/"), F.col("doc_id")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("DOI: 10.5678/ "), F.col("doc_id")))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("arXiv:2202.0"), F.col("doc_id")))
        .when(F.col("doc_id") % 5 == 3, F.concat(F.lit('10.1562/"'), F.col("doc_id")))
        .otherwise(F.concat(F.lit("no-doi-here-"), F.col("doc_id")))
    )
    return docs.select(
        "doc_id",
        T.lang_id("text").alias("lang_guess"),
        T.token_count("text").alias("n_tokens"),
        F.round(T.stopword_ratio("text"), 4).alias("stop_ratio"),
        F.round(T.punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(T.quality_score("text"), 4).alias("quality"),
        T.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        T.fingerprint("text", n=3, k=4).alias("fp"),
        normalize_doi(raw_doi).alias("doi"),
    )


@register(
    "q32_embed_neardup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding, label FROM embeddings
      -- mirror the operator's zero-norm exclusion: a zero vector's
      -- 0/0 cosine is NaN, which BOTH engines order above any number
      WHERE list_aggregate(list_transform(embedding, x -> x*x), 'sum') > 0
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS qv, b.embedding AS cv
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT id_a, id_b, round({_COS}, 6) AS cos_sim
      FROM pairs
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
      GROUP BY id_a, id_b, qv, cv
    )
    SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.4
    """,
)
def q32_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by cluster
    label (operators.dedup.embedding_near_dups) — the blocked-pair
    discipline that holds at corpus scale."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return D.embedding_near_dups(
        emb, "vec_id", "embedding", "label", threshold=0.4
    )


_MAGIC_INT = " + ".join(
    f"(ascii(substr(text, {i + 1}, 1)) * {256 ** (7 - i)}::BIGINT)" for i in range(8)
)


@register(
    "q30_multimodal_meta",
    oracle=f"""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           ({_MAGIC_INT}) >> 1 AS magic_int
    FROM documents
    """,
)
def q30_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary plumbing (operators.multimodal): text stands
    in for an opaque payload; metadata + the Arrow-batched
    mapInPandas 'decode' stub produce engine-verifiable values."""
    from rialto_airflow_spark.operators import multimodal as MM

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    media = MM.attach_binary(docs, "doc_id", "text", "image")
    return MM.extract_features(media).select(
        "media_id", "n_bytes", "content_md5", "magic_int"
    )


@register(
    "q31_streaming_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q31_streaming_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming availableNow ingest (streaming.events):
    tumbling 1-hour windowed counts drained through the streaming
    aggregation state store in COMPLETE mode, so every window is
    emitted and the result equals the batch group-by — which is the
    DuckDB oracle (epoch-aligned 1-hour buckets == date_trunc).
    The watermarked append-mode variant (whose emitted-window set
    depends on micro-batch boundaries, hence is not oracle-stable) is
    exercised in tests/test_multimodal_streaming.py instead."""
    import uuid

    from rialto_airflow_spark.streaming import events as SE

    name = f"q31_counts_{uuid.uuid4().hex[:8]}"
    inp = SE.stage_events_input(spark, sf_dir)
    # n=2, not the drain default 8: a COMPLETE-mode aggregate's state
    # IS its output, and this one's group space (hour windows ×
    # event types) is bounded small by construction at any event
    # volume — 8 state-store instances were over-partitioned at every
    # scale, and the memory sink re-emits all groups per trigger
    # anyway. Interleaved A/B (round 13): 0.98 s at 2 vs 1.57 s at 8.
    with SE.few_state_partitions(spark, n=2):
        stream = SE.read_event_stream(spark, inp)
        SE.run_available_now_memory(
            SE.windowed_counts(stream, late=None),
            scratch_dir("rspark_q31_") + "/ckpt",
            name,
            mode="complete",
        )
    return spark.table(name)


@register(
    "q49_pair_metrics",
    oracle=f"""
    WITH {minhash_pair_ctes()},
    tshingled AS (
      SELECT doc_id, lang, source, length(text) // 128 AS length_bucket,
             {SQL_SHINGLES.format(t="text")} AS sh
      FROM corpus
    ),
    truth_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM tshingled a JOIN tshingled b
        ON a.lang = b.lang AND a.source = b.source
           AND a.length_bucket = b.length_bucket AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    ),
    p AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b FROM pairs),
    t AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b FROM truth_pairs),
    c AS (
      SELECT (SELECT count(*) FROM p) AS n_predicted,
             (SELECT count(*) FROM t) AS n_truth,
             (SELECT count(*) FROM t
              WHERE EXISTS (SELECT 1 FROM p WHERE p.a = t.a AND p.b = t.b)) AS n_hit
    )
    SELECT n_predicted, n_truth, n_hit,
           round(CASE WHEN n_predicted > 0 THEN n_hit::DOUBLE / n_predicted ELSE 1.0 END, 6) AS "precision",
           round(CASE WHEN n_truth > 0 THEN n_hit::DOUBLE / n_truth ELSE 1.0 END, 6) AS recall,
           round(CASE WHEN (CASE WHEN n_predicted > 0 THEN n_hit::DOUBLE / n_predicted ELSE 1.0 END)
                         + (CASE WHEN n_truth > 0 THEN n_hit::DOUBLE / n_truth ELSE 1.0 END) > 0
                 THEN 2 * (CASE WHEN n_predicted > 0 THEN n_hit::DOUBLE / n_predicted ELSE 1.0 END)
                        * (CASE WHEN n_truth > 0 THEN n_hit::DOUBLE / n_truth ELSE 1.0 END)
                      / ((CASE WHEN n_predicted > 0 THEN n_hit::DOUBLE / n_predicted ELSE 1.0 END)
                         + (CASE WHEN n_truth > 0 THEN n_hit::DOUBLE / n_truth ELSE 1.0 END))
                 ELSE 0.0 END, 6) AS f1
    FROM c
    """,
)
def q49_pair_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pair evaluation (operators.dedup.pair_metrics, round-6
    operator): precision/recall/F1 of the MinHash-LSH candidate set
    (q21's operator) against exact n-gram-Jaccard≥0.5 pairs (q23's
    operator) as labeled truth — the parameter-sweep evaluation loop
    over REAL operator outputs, one row, all counts from one
    semi-join. The oracle recomputes both pair sets and the metric
    arithmetic in SQL."""
    corpus = _spark_near_corpus(spark, sf_dir)
    pred = D.minhash_near_dups(
        corpus, "doc_id", "text", num_perm=NUM_PERM, bands=BANDS, shingle_n=3
    )
    truth = D.ngram_jaccard_pairs(
        corpus.withColumn("length_bucket", F.floor(F.length("text") / 128)),
        "doc_id",
        "text",
        ["lang", "source", "length_bucket"],
        shingle_n=3,
        threshold=0.5,
    ).select("id_a", "id_b")
    # pair_metrics is LAZY and pred is release_on_gc-wrapped: letting
    # pred die at return would evict its banded cache before the
    # driver collects the metrics row (silent full recompute —
    # round-8 ADVICE #4). hold_alive chains pred's lifetime to the
    # returned plan the driver actually holds.
    return hold_alive(D.pair_metrics(pred, truth), pred)
