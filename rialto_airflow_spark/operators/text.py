"""Text-analysis operators for large-scale training-data pipelines.

All pure Column expressions (JVM-side, whole-stage codegen) — the
single exception is :func:`compression_ratio`, whose zlib call has no
Column form and runs as a documented Arrow-batched pandas UDF. The
per-row
operators (counts, ratios, lang-ID, fingerprints, char_ngrams) are
embarrassingly parallel with no shuffle at all; the corpus-statistics
operators (train_char_lm, bm25_scores) add exactly the
map-side-combinable aggregations their statistics require (gram
counts; one stats row).

Determinism contract: anything hash-based uses md5 over explicit
string encodings so results are reproducible across engines (the
DuckDB oracles compute the identical values).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny embedded stopword list — enough for ratio features; a real
# deployment would broadcast a bigger lexicon
STOPWORDS = ("the", "a", "of", "and", "in", "to", "is", "it", "for", "on")

# deterministic marker-token table for the n-gram language heuristic;
# the classifier is argmax of marker hits with first-marker tie-break
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "das"),
    "es": ("el", "los", "que"),
    "fr": ("le", "les", "des"),
    "zh": ("de", "shi", "bu"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish sub-token count: letter runs, single digits, and single
    punctuation marks each count as one token (a cheap proxy for a BPE
    vocab's behavior on ASCII text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+|[0-9]|[^a-z0-9\s]"), F.lit(0))
    )


def stopword_ratio(col: Column | str) -> Column:
    toks = tokens(col)
    stop = F.filter(
        toks, lambda x: F.lower(x).isin(*STOPWORDS)
    )
    return F.when(F.size(toks) > 0, F.size(stop) / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def mean_word_len(col: Column | str) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1]: rewards
    mid-length documents and typical stopword density, penalizes
    punctuation soup. Deterministic, branch-free, vectorized."""
    c = F.col(col) if isinstance(col, str) else col
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(c) * 5.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(c) * 10.0)
    return (len_score * 0.4 + stop_score * 0.4 + punct_pen * 0.2)


def lang_id(col: Column | str) -> Column:
    """N-gram-heuristic language ID: count marker-token hits per
    language over the whitespace tokens; argmax wins, ties broken by
    the LANG_MARKERS declaration order; zero hits → 'und'."""
    toks_lower = F.transform(tokens(col), F.lower)

    def marker_hits(markers: tuple[str, ...]):
        # factory keeps the filter lambda strictly 1-arg (2-arg HOF
        # lambdas receive the element index as the second parameter)
        return F.size(F.filter(toks_lower, lambda x: x.isin(*markers)))

    scores = [
        (lang, marker_hits(markers)) for lang, markers in LANG_MARKERS.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    for lang, s in reversed(scores):
        expr = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(expr)
    return expr


def ngram_strings(col: Column | str, n: int = 3) -> Column:
    """Word n-grams as space-joined strings (shingles). Documents
    shorter than ``n`` tokens yield an EMPTY array (guarded: an
    unguarded ``sequence(0, size-n)`` flips to a descending [0,-1]
    when size < n, and slice(toks, 0, n) then throws at runtime).

    The token array is bound once per row (bind_once); otherwise the
    split() would re-run for every n-gram position after Catalyst
    inlines it into the position lambda."""
    from rialto_airflow_spark.functions.perf import bind_once

    return bind_once(
        tokens(col),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def fingerprint(col: Column | str, n: int = 3, k: int = 4) -> Column:
    """Document fingerprint: the k lexicographically-smallest md5s of
    the word n-gram set, pipe-joined (a MinHash-style content sketch;
    stable under small edits, cheap to compare with equality)."""
    hashes = F.array_sort(
        F.array_distinct(F.transform(ngram_strings(col, n), F.md5))
    )
    return F.array_join(F.slice(hashes, 1, k), "|")


def winnow_fingerprint(
    col: Column | str, n: int = 3, window: int = 4, k: int = 8
) -> Column:
    """Winnowing fingerprint (Schleimer et al., MOSS): hash the word
    n-gram sequence, take the minimum hash in every sliding window of
    ``window`` consecutive shingle hashes, then keep the k smallest
    distinct window-minima, pipe-joined.

    Versus the k-min sketch (``fingerprint``), winnowing guarantees
    positional coverage: every ``window``-length stretch of the
    document contributes a hash, so a long document can't hide an
    inserted passage between sketch samples — the property plagiarism
    and near-dup detection at corpus scale rely on. Documents with
    fewer than ``window`` shingles collapse to one window (their
    global minimum). Pure Column expression, map-only."""
    from rialto_airflow_spark.functions.perf import bind_once

    hashes = F.transform(ngram_strings(col, n), F.md5)

    def body(h: Column) -> Column:
        mins = F.when(
            F.size(h) >= window,
            F.transform(
                F.sequence(F.lit(0), F.size(h) - window),
                lambda i: F.array_min(F.slice(h, i + 1, window)),
            ),
        ).otherwise(
            F.when(F.size(h) > 0, F.array(F.array_min(h))).otherwise(
                F.array().cast("array<string>")
            )
        )
        return F.array_join(
            F.slice(F.array_sort(F.array_distinct(mins)), 1, k), "|"
        )

    return bind_once(hashes, body)


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Sliding character n-grams as an array column — pure Column
    algebra (sequence + substr), no UDF. Texts shorter than ``n``
    yield an empty array."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def train_char_lm(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    top_k: int = 50_000,
) -> DataFrame:
    """Train a unigram-over-character-n-grams language model (the
    CCNet/KenLM-shaped quality signal, reduced to its Spark-friendly
    core): count every char n-gram across the corpus, keep the
    ``top_k`` most frequent, and attach ``logp = ln(count/total)``
    where total counts ALL grams (so the kept set is a proper
    sub-distribution and unseen/rare grams score below every kept
    one).

    Scale shape: gram counting is one map-side-combinable groupBy on
    the gram value (char-n-gram key space is bounded by charset^n, so
    the shuffle is small and dense regardless of corpus size); the
    ranked cut is deterministic (count desc, gram asc). The returned
    model is top_k rows — broadcastable by construction."""
    grams = docs.select(F.explode(char_ngrams(text_col, n)).alias("gram"))
    # persist: the corpus-wide explode+count lineage feeds BOTH the
    # driver-side total and the returned top-k cut — without it the
    # most expensive pass of the operator runs twice
    counts = (
        grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt")).persist()
    )
    total = counts.agg(F.sum("cnt")).first()[0] or 1
    # deterministic top-k via orderBy+limit: compiles to
    # TakeOrderedAndProject (per-partition heaps + driver merge), never
    # a single-partition sort of the gram table
    return (
        counts.orderBy(F.col("cnt").desc(), F.col("gram").asc())
        .limit(top_k)
        .select(
            "gram",
            F.round(F.log(F.col("cnt") / F.lit(float(total))), 6).alias(
                "logp"
            ),
        )
    )


def lm_score(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame,
    n: int = 3,
    unk_logp: float = -20.0,
) -> DataFrame:
    """Score documents by mean n-gram log-probability under a
    :func:`train_char_lm` model — higher = more fluent under the
    training distribution, the filter CCNet applies with a wiki-side
    LM. Returns (id, n_grams, avg_logp); documents shorter than ``n``
    get n_grams=0 and NULL avg_logp.

    Scale shape: the model broadcasts (top_k rows by construction),
    grams explode map-side, the only shuffle is the per-doc mean on
    ``id_col``. Unknown grams score ``unk_logp`` (a floor below any
    kept gram's logp)."""
    grams = docs.select(
        F.col(id_col), F.explode(char_ngrams(text_col, n)).alias("gram")
    )
    scored = grams.join(F.broadcast(model), "gram", "left")
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.round(
            F.avg(F.coalesce(F.col("logp"), F.lit(unk_logp))), 4
        ).alias("avg_logp"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            "avg_logp",
        )
    )


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a query string
    (Robertson/Okapi, the idf variant with the +1 floor so scores are
    never negative) — corpus search / labeling-set retrieval without
    building a posting-list index.

    Distributed shape: the query's terms are LITERALS, so per-term
    frequencies are map-side ``size(filter(tokens, = term))`` columns
    — no corpus-wide explode, no posting lists, no shuffle for tf.
    Document frequencies, N, and the average doc length reduce in ONE
    map-side-combinable aggregation (a single driver row); the final
    score is a second map-only pass over the same projection. Two
    corpus scans total, zero Python, zero joins.

    Returns (id, doc_len, score) for every document, score rounded to
    4 places (0.0 for documents matching no term). Blank and NULL
    documents both count as length 0 with score 0.0."""
    terms = list(dict.fromkeys(t for t in query.split() if t))
    if not terms:
        raise ValueError("query must contain at least one term")
    # NULL text must not poison the algebra: split(NULL) is NULL, so
    # both doc_len and every per-term size(filter(...)) would come out
    # NULL (trim(NULL) == '' is NULL, not true) — coalesce to an empty
    # token array so NULL behaves exactly like a blank document
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    dl = F.when(F.trim(F.coalesce(F.col(text_col), F.lit(""))) == "", F.lit(0)).otherwise(
        F.size(toks)
    )
    def _tf(term: str) -> Column:
        # factory keeps the filter lambda strictly 1-arg: a 2-arg HOF
        # lambda receives the element INDEX as its second parameter
        # (same pitfall lang_id documents)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = [_tf(t).alias(f"__tf{i}") for i, t in enumerate(terms)]
    # No ensure_parallelism spread here (round 12, session 2): the
    # repartition it inserts breaks this operator's pinned zero-shuffle
    # plan (tests/test_plan_shapes.py::test_q55_bm25_is_two_scans_no_joins)
    # and measured WORSE anyway (interleaved A/B: 1.00 s without vs
    # 1.10 s with — the literal-term tf filters are too cheap to repay
    # a corpus shuffle at any scale).
    base = docs.select(
        F.col(id_col), dl.cast("long").alias("doc_len"), *tf_cols
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("doc_len").alias("avgdl"),
        *[
            F.count(F.when(F.col(f"__tf{i}") > 0, 1)).alias(f"df{i}")
            for i in range(len(terms))
        ],
    ).first()  # one row — driver-small by construction
    n = stats["n"] or 0
    avgdl = float(stats["avgdl"] or 0.0) or 1.0

    import math

    score = F.lit(0.0)
    for i in range(len(terms)):
        dfi = stats[f"df{i}"]
        idf = math.log((n - dfi + 0.5) / (dfi + 0.5) + 1.0)
        tf = F.col(f"__tf{i}").cast("double")
        score = score + F.lit(idf) * (
            tf * (k1 + 1.0)
            / (tf + k1 * (1.0 - b + b * F.col("doc_len") / F.lit(avgdl)))
        )
    return base.select(
        id_col, "doc_len", F.round(score, 4).alias("score")
    )


def char_entropy(col: Column | str) -> Column:
    """Shannon entropy (bits) of the document's character
    distribution — the gibberish/low-diversity signal CCNet-family
    filters threshold (near-0 = one repeated character, ~4.2 = typical
    English prose).

    Identity used: H = log2(n) − (1/n)·Σ_c count(c)·log2(count(c)),
    so one sorted-run fold over the character array (the
    repetition_stats discipline, O(len·log len) per row, map-only)
    computes Σ c·log2(c) without materializing a per-document
    character histogram. Null and empty text both map to 0.0 (no
    characters, no information).
    """
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(c, "")

    def body(arr: Column) -> Column:
        n = F.size(arr)
        # fold sorted chars; on each run boundary add run·log2(run)
        acc0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("double").alias("run"),
            F.lit(0.0).alias("sum"),
        )
        folded = F.aggregate(
            F.array_sort(arr),
            acc0,
            lambda a, x: F.struct(
                x.alias("prev"),
                F.when(x.eqNullSafe(a["prev"]), a["run"] + 1)
                .otherwise(F.lit(1.0))
                .alias("run"),
                (
                    a["sum"]
                    + F.when(
                        x.eqNullSafe(a["prev"]), F.lit(0.0)
                    ).otherwise(
                        F.when(
                            a["run"] > 0, a["run"] * F.log2(a["run"])
                        ).otherwise(F.lit(0.0))
                    )
                ).alias("sum"),
            ),
            # close the final run
            lambda a: a["sum"]
            + F.when(a["run"] > 0, a["run"] * F.log2(a["run"])).otherwise(
                F.lit(0.0)
            ),
        )
        return F.when(
            n > 0,
            F.round(F.log2(n.cast("double")) - folded / n, 6),
        ).otherwise(F.lit(0.0))

    from rialto_airflow_spark.functions.perf import bind_once as _bind

    return _bind(chars, body)


def compression_ratio(col: Column | str, level: int = 6) -> Column:
    """zlib compressed-size / raw-size per document (RefinedWeb /
    CCNet-style redundancy signal: highly repetitive or templated
    text compresses far below prose's ~0.4–0.6; near-1.0 is random
    bytes). Empty text → 1.0.

    zlib has no Column-algebra form, so this is the documented
    Arrow-batched pandas UDF path — one Python crossing, vectorized
    per batch, no shuffle.
    """
    import zlib

    @F.pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        def one(t):
            if not t:
                return 1.0
            raw = t.encode("utf-8", "ignore")
            return round(len(zlib.compress(raw, level)) / len(raw), 6)

        return texts.map(one)

    c = F.col(col) if isinstance(col, str) else col
    return ratio(c)


# control chars except \t \n \r (kept: they carry document structure)
_CONTROL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def clean_text(
    col: Column | str,
    form: str | None = "NFC",
    strip_control: bool = True,
    collapse_spaces: bool = False,
) -> Column:
    """Unicode hygiene for crawled text (the ftfy-lite pass every
    pipeline runs before hashing/dedup — decomposed accents and stray
    control bytes otherwise make IDENTICAL prose hash differently):

      * optional Unicode normalization to ``form`` (NFC/NFKC/...) —
        no Column-algebra form exists, so this part is a pandas UDF
        riding pandas' vectorized ``str.normalize``;
      * control-character strip (JVM regexp, tab/newline/CR kept);
      * optional space-run collapse (JVM regexp).

    With ``form=None`` the whole expression stays Column algebra.
    Order: normalize → strip → collapse, so normalization can't
    reintroduce stripped bytes.
    """
    c = F.col(col) if isinstance(col, str) else col
    if form is not None:
        f = form

        @F.pandas_udf("string")
        def normalize(texts: pd.Series) -> pd.Series:
            return texts.str.normalize(f)

        c = normalize(c)
    if strip_control:
        c = F.regexp_replace(c, _CONTROL_RE, "")
    if collapse_spaces:
        c = F.regexp_replace(c, r" {2,}", " ")
    return c
