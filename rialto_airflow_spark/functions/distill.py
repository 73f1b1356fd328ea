"""The distiller library — SURVEY.md §2.8 (D1-D18) as Column
expressions over the parsed per-source payload structs.

Each distiller cites the reference file that specifies its precedence
order (all paths relative to /root/reference/rialto_airflow/). The
precedence cascade (`first`) is coalesce; list-union rules (`all`)
are array concatenation; JSONPath filter expressions are higher-order
F.filter; dict-or-list XML nodes are normalized by
functions.rules.dict_or_list. No Python UDFs anywhere.

Entry point: ``distill(df, apc_dim=None, issn_source_dim=None)``
expects the six raw JSON string columns (openalex_json, dim_json,
sulpub_json, wos_json, pubmed_json, crossref_json) and returns the
frame with every distilled column added. Column dependency order
(apc needs types/pub_year/open_access — harvest_incremental/
distill.py:42-55) is honored inside.

Shared nodes are parsed once: the WoS name list and the PubMed author
list (each author's ORCID extracted with it) are private columns of one
projection that every distiller reads, and ``types``, the author names
and the ISSN union are computed once in the tier before the outputs.
A dict-or-list node written inline in N expressions would otherwise be
parsed N times per row: CollapseProject keeps a projected column only
when its consumers reference it more than once, and inlines it
everywhere else.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rialto_airflow_spark.functions.normalize import normalize_orcid, piped
from rialto_airflow_spark.functions.perf import bind_once
from rialto_airflow_spark.functions.rules import (
    capitalize,
    dict_or_list,
    first_of,
    nonempty,
    positive_number,
    scalar_or_first,
    string_or_list,
    valid_year,
)
from rialto_airflow_spark.schemas import PAYLOAD_DDL

SRC = ("openalex", "dim", "sulpub", "wos", "pubmed", "crossref")

# private columns distill() adds and drops again: the shared XML nodes
# (parsed once, read by every distiller) and the tier-2 values that
# later columns depend on
_WOS_NAMES = "__wos_names"
_PUBMED_AUTHORS = "__pubmed_authors"
_TYPES = "__types"
_NAMES = "__names"
_ISSNS = "__issns"


def parse_payloads(df: DataFrame) -> DataFrame:
    """Parse the six raw JSON payload columns into typed structs
    (schemas.PAYLOAD_DDL). Raw columns are preserved losslessly."""
    return df.withColumns(
        {src: F.from_json(F.col(f"{src}_json"), PAYLOAD_DDL[src]) for src in SRC}
    )


# --- payload fragment helpers ----------------------------------------------


def _wos_names() -> Column:
    """WoS static_data.summary.names.name normalized to an array
    (handles both the list and singleton payload shapes, covering the
    reference's paired rules — distiller/author_names.py:22-33)."""
    return dict_or_list(
        F.col("wos.static_data.summary.names.name"),
        "display_name: string, orcid_id: string",
    )


def _pubmed_authors() -> Column:
    """PubMed AuthorList.Author normalized to an array of (ForeName,
    LastName, orcid): each author's ORCID is extracted from its
    dict-or-list Identifier node here, once."""
    authors = dict_or_list(
        F.col("pubmed.MedlineCitation.Article.AuthorList.Author"),
        "ForeName: string, LastName: string, Identifier: string",
    )
    return F.transform(
        authors,
        lambda a: F.struct(
            a["ForeName"].alias("ForeName"),
            a["LastName"].alias("LastName"),
            _pubmed_author_orcid(a).alias("orcid"),
        ),
    )


def _pubmed_author_orcid(author: Column) -> Column:
    """First Identifier with @Source == 'ORCID'
    (distiller/author_orcids.py:82-98)."""
    ids = dict_or_list(author["Identifier"], "`@Source`: string, `#text`: string")
    return F.get(
        F.filter(ids, lambda i: i["@Source"] == "ORCID"), 0
    )["#text"]


# --- D1 title ---------------------------------------------------------------


def title() -> Column:
    """D1 — distiller/title.py:4-26: sulpub title → sulpub booktitle →
    dim → openalex → WoS titles[*].title[*] where type=='item'."""
    titles = dict_or_list(
        F.col("wos.static_data.summary.titles"), "title: string"
    )
    flat = F.flatten(
        F.transform(
            titles, lambda t: dict_or_list(t["title"], "type: string, content: string")
        )
    )
    wos_title = F.get(F.filter(flat, lambda t: t["type"] == "item"), 0)["content"]
    return first_of(
        F.col("sulpub.title"),
        F.col("sulpub.booktitle"),
        F.col("dim.title"),
        F.col("openalex.title"),
        wos_title,
    )


# --- D2 pub_year -------------------------------------------------------------


def pub_year() -> Column:
    """D2 — distiller/pub_year.py:4-19: dim → openalex → wos → sulpub
    → sulpub journal; every leg guarded 'not a future year'."""
    return first_of(
        valid_year(F.col("dim.year")),
        valid_year(F.col("openalex.publication_year")),
        valid_year(F.col("wos.static_data.summary.pub_info.pubyear")),
        valid_year(F.col("sulpub.year")),
        valid_year(F.col("sulpub.journal.year")),
    )


# --- D4 types ----------------------------------------------------------------

# Normalized type vocabulary (distiller/types.py:49-169). Keys are the
# 119 lowercase source labels; grouped here by target category. Note
# 'Editorial Material ' carries a trailing space in the reference
# (types.py:136-137) — preserved verbatim for parity.
_TYPE_GROUPS: dict[str, tuple[str, ...]] = {
    "Article": (
        "article", "data paper", "early access", "historical article",
        "inproceedings", "journal article", "journal-article",
        "meta-analysis", "network meta-analysis", "proceeding",
        "proceedings-article", "review", "scoping review",
        "systematic review",
    ),
    "Book": (
        "autobiography", "biography", "book", "edited-book",
        "festschrift", "monograph",
    ),
    "Chapter": ("book-chapter", "book-part", "book-section", "chapter", "inbook"),
    "Correction/Retraction": (
        "correction", "erratum", "expression of concern", "item withdrawal",
        "publication with expression of concern", "published erratum",
        "retracted publication", "retraction", "retraction notice",
        "withdrawn publication",
    ),
    "Dataset": ("data set", "dataset"),
    "Dissertation": ("dissertation",),
    "Editorial Material ": ("editorial", "editorial material"),
    "Preprint": ("preprint",),
    "Other": (
        "abstract", "address", "art and literature", "bibliography",
        "book-series", "book-set", "case reports", "casestudy",
        "clinical conference", "clinical study", "clinical trial",
        "clinical trial protocol", "clinical trial, phase i",
        "clinical trial, phase ii", "clinical trial, phase iii",
        "clinical trial, phase iv", "comment", "comparative study",
        "component", "congress", "consensus development conference",
        "consensus development conference, nih",
        "controlled clinical trial", "data study", "database",
        "dictionary", "english abstract", "equivalence trial",
        "evaluation study", "guideline", "interactive tutorial",
        "interview", "introductory journal article", "journal",
        "journal-issue", "lecture", "legal case", "letter", "libguides",
        "meeting", "multicenter study", "news", "observational study",
        "other", "otherpaper", "overall", "paratext",
        "patient education handout", "peer-review", "personal narrative",
        "portrait", "posted-content", "practice guideline",
        "pragmatic clinical trial", "proceedings",
        "randomized controlled trial", "reference-book",
        "reference-entry", "report", "report-component", "report-series",
        "research support, american recovery and reinvestment act",
        "research support, n.i.h., extramural",
        "research support, n.i.h., intramural",
        "research support, non-u.s. gov't",
        "research support, u.s. gov't, non-p.h.s.",
        "research support, u.s. gov't, p.h.s.", "seminar", "standard",
        "supplementary-materials", "technical report", "technicalreport",
        "twin study", "validation study", "video-audio media", "webcast",
        "workingpaper",
    ),
}

TYPE_MAPPING: dict[str, str] = {
    key: target for target, keys in _TYPE_GROUPS.items() for key in keys
}


def _type_map_expr() -> Column:
    pairs: list[Column] = []
    for k, v in TYPE_MAPPING.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    return F.create_map(*pairs)


def types() -> Column:
    """D4 — distiller/types.py:4-46: first of dim/openalex/pubmed/wos/
    crossref/sulpub type labels (scalar wrapped to list); normalize
    each through the 119-entry mapping (default: Python capitalize);
    sorted distinct."""
    pubmed_types = F.transform(
        dict_or_list(
            F.col("pubmed.MedlineCitation.Article.PublicationTypeList.PublicationType"),
            "`#text`: string",
        ),
        lambda t: t["#text"],
    )
    wos_types = string_or_list(
        F.col("wos.static_data.fullrecord_metadata.normalized_doctypes.doctype")
    )
    raw = first_of(
        F.when(F.col("dim.type").isNotNull(), F.array(F.col("dim.type"))),
        F.when(F.col("openalex.type").isNotNull(), F.array(F.col("openalex.type"))),
        nonempty(pubmed_types),
        nonempty(wos_types),
        F.when(F.col("crossref.type").isNotNull(), F.array(F.col("crossref.type"))),
        F.when(F.col("sulpub.type").isNotNull(), F.array(F.col("sulpub.type"))),
    )
    m = _type_map_expr()
    normalized = F.transform(
        F.filter(raw, lambda s: s.isNotNull()),
        lambda s: F.coalesce(
            F.try_element_at(m, F.lower(s)), capitalize(s)
        ),
    )
    return F.coalesce(
        F.array_sort(F.array_distinct(normalized)), F.array().cast("array<string>")
    )


# --- D3 open_access ----------------------------------------------------------


def open_access(types_col: Column) -> Column:
    """D3 — distiller/open_access.py:5-32: Preprint → 'preprint';
    else dim open_access[*] first truthy value != 'oa_all'; else
    openalex oa_status."""
    dim_oa = F.get(
        F.filter(
            F.col("dim.open_access"),
            lambda x: x.isNotNull() & (x != "") & (x != "oa_all"),
        ),
        0,
    )
    return F.when(
        F.array_contains(types_col, "Preprint"), F.lit("preprint")
    ).otherwise(first_of(dim_oa, F.col("openalex.open_access.oa_status")))


# --- D7 journal_issn ---------------------------------------------------------


def _valid_issn(c: Column) -> Column:
    """distiller/journal_issn.py:33-48: 9 chars; chars 1-4 digits;
    chars 6-8 digits; char 9 digit or X. (Char 5 is unchecked in the
    reference — preserved.)"""
    return (
        (F.length(c) == 9)
        & F.substring(c, 1, 4).rlike(r"^[0-9]{4}$")
        & F.substring(c, 6, 3).rlike(r"^[0-9]{3}$")
        & F.substring(c, 9, 1).rlike(r"^[0-9X]$")
    )


def journal_issns() -> Column:
    """D7 (array form) — distiller/journal_issn.py:5-31: union of
    openalex issn_l + issn[], sulpub issn (string or list), dim
    issn[], crossref ISSN[], pubmed Journal.ISSN.#text; validated,
    distinct, sorted."""
    arr = F.array().cast("array<string>")

    def add(e: Column) -> Column:
        return F.coalesce(e, F.array().cast("array<string>"))

    pubmed_issn = dict_or_list(
        F.col("pubmed.MedlineCitation.Article.Journal.ISSN"), "`#text`: string"
    )
    legs = [
        F.when(
            F.col("openalex.primary_location.source.issn_l").isNotNull(),
            F.array(F.col("openalex.primary_location.source.issn_l")),
        ),
        F.col("openalex.primary_location.source.issn"),
        string_or_list(F.col("sulpub.issn")),
        F.col("dim.issn"),
        F.col("crossref.ISSN"),
        F.transform(pubmed_issn, lambda i: i["#text"]),
    ]
    for leg in legs:
        arr = F.concat(arr, add(leg))
    valid = F.filter(arr, lambda x: x.isNotNull() & _valid_issn(x))
    return F.array_sort(F.array_distinct(valid))


def journal_issn() -> Column:
    """D7 — pipe-joined, empty union → null
    (journal_issn.py:27-31); reads the union distill() computes once."""
    issns = F.col(_ISSNS)
    return F.when(F.size(issns) > 0, piped(issns))


# --- D9 abstract -------------------------------------------------------------


def _openalex_abstract() -> Column:
    """Inverted-index rebuild (distiller/abstract.py:64-94): place
    each word at its positions (later entries overwrite earlier),
    unset positions are empty strings, space-join.

    One sort of the (pos, entry_order, word) triples puts each slot's
    entries side by side, the highest entry order last: the last
    entry of a slot is its word, and the first entry of a slot
    carries the separator, one space per position since the previous
    slot (a gap of k positions is k spaces, as joining k-1 empty
    strings gives). Negative and NULL positions are dropped; an index
    with no position left is NULL, like an empty or missing one."""
    idx = F.col("openalex.abstract_inverted_index")
    triples = F.flatten(
        F.transform(
            F.map_entries(idx),
            lambda e, i: F.transform(
                e["value"], lambda p: F.struct(p.alias("pos"), i.alias("ord"), e["key"].alias("word"))
            ),
        )
    )
    placed = F.array_sort(F.filter(triples, lambda t: t["pos"] >= 0))

    def rebuild(s: Column) -> Column:
        def piece(t: Column, j: Column) -> Column:
            prev, nxt = F.get(s, j - 1)["pos"], F.get(s, j + 1)["pos"]
            gap = t["pos"] - F.coalesce(prev, F.lit(0))
            return F.concat(
                F.when(F.coalesce(prev != t["pos"], F.lit(True)), F.repeat(F.lit(" "), gap))
                .otherwise(F.lit("")),
                F.when(F.coalesce(nxt != t["pos"], F.lit(True)), t["word"])
                .otherwise(F.lit("")),
            )

        return F.when(F.size(s) > 0, F.array_join(F.transform(s, piece), ""))

    return bind_once(placed, rebuild)


def _pubmed_abstract() -> Column:
    """distiller/abstract.py:20-44: AbstractText segments (strings or
    {'#text'} dicts), drop empty, space-join."""
    raw = F.col("pubmed.MedlineCitation.Article.Abstract.AbstractText")
    segs = string_or_list(raw)
    texts = F.transform(
        segs,
        lambda s: F.when(
            s.startswith("{"), F.from_json(s, "struct<`#text`: string>")["#text"]
        ).otherwise(s),
    )
    kept = F.filter(texts, lambda t: t.isNotNull() & (F.trim(t) != ""))
    return F.when(segs.isNotNull() & (F.size(segs) > 0), F.array_join(kept, " "))


def _crossref_abstract() -> Column:
    """distiller/abstract.py:47-61: drop everything through the last
    'title>' marker, strip tags, trim."""
    a = F.col("crossref.abstract")
    tail = F.try_element_at(F.split(a, "title>"), F.lit(-1))
    return F.when(a.isNotNull(), F.trim(F.regexp_replace(tail, r"<[^>]*>", "")))


def abstract() -> Column:
    """D9 — distiller/abstract.py:5-17: openalex rebuild → dim →
    pubmed → crossref."""
    return first_of(
        _openalex_abstract(),
        F.col("dim.abstract"),
        _pubmed_abstract(),
        _crossref_abstract(),
    )


# --- D10 citation_count ------------------------------------------------------


def citation_count() -> Column:
    """D10 — distiller/citation_count.py:4-21: max int of openalex
    cited_by_count, dim recent_citations, wos silo_tc[coll_id=='WOS']
    .local_count."""
    silo = dict_or_list(
        F.col("wos.dynamic_data.citation_related.tc_list.silo_tc"),
        "coll_id: string, local_count: int",
    )
    wos_count = F.get(F.filter(silo, lambda s: s["coll_id"] == "WOS"), 0)[
        "local_count"
    ]
    return F.greatest(
        F.col("openalex.cited_by_count"),
        F.col("dim.recent_citations"),
        wos_count,
    )


# --- D11/D12 author names ----------------------------------------------------


def author_list_names() -> Column:
    """D11 — distiller/author_names.py:7-42 precedence; always an
    array (empty when no source matches)."""
    openalex = F.transform(
        F.col("openalex.authorships"), lambda a: a["author"]["display_name"]
    )
    dim = F.transform(
        F.col("dim.authors"),
        lambda a: F.concat(a["first_name"], F.lit(" "), a["last_name"]),
    )
    pubmed = F.transform(
        F.col(_PUBMED_AUTHORS), lambda a: F.concat_ws(" ", a["ForeName"], a["LastName"])
    )
    wos = F.transform(F.col(_WOS_NAMES), lambda n: n["display_name"])
    crossref = F.transform(
        F.col("crossref.author"), lambda a: F.concat_ws(" ", a["given"], a["family"])
    )
    sulpub_authors = dict_or_list(F.col("sulpub.author"), "name: string")

    def reorder(name: Column) -> Column:
        # "Stanford, L. D." -> "L. D. Stanford" (author_names.py:85-97)
        # NB: not `F.transform(..., F.trim)` — F.trim has an optional
        # second parameter, so pyspark would pass the element index
        # as the trim characters
        parts = F.transform(F.split(name, ","), lambda p: F.trim(p))
        rest = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))
        return F.array_join(F.concat(rest, F.slice(parts, 1, 1)), " ")

    sulpub = F.transform(sulpub_authors, lambda a: reorder(a["name"]))
    return F.coalesce(
        first_of(
            nonempty(openalex),
            nonempty(dim),
            nonempty(pubmed),
            nonempty(wos),
            nonempty(crossref),
            nonempty(sulpub),
        ),
        F.array().cast("array<string>"),
    )


def first_author_name(names: Column) -> Column:
    """D12 — author_names.py:45-48."""
    return F.get(names, 0)


def last_author_name(names: Column) -> Column:
    """D12 — author_names.py:50-52."""
    return F.try_element_at(names, F.lit(-1))


# --- D13/D14 author orcids ---------------------------------------------------


def author_list_orcids() -> Column:
    """D13 — distiller/author_orcids.py:7-41: union across all five
    sources, flattened, normalized, distinct, sorted."""
    openalex = F.transform(
        F.col("openalex.authorships"), lambda a: a["author"]["orcid"]
    )
    dim = F.flatten(F.transform(F.col("dim.authors"), lambda a: a["orcid"]))
    pubmed = F.transform(F.col(_PUBMED_AUTHORS), lambda a: a["orcid"])
    wos = F.transform(F.col(_WOS_NAMES), lambda n: n["orcid_id"])
    crossref = F.transform(F.col("crossref.author"), lambda a: a["ORCID"])
    arr = F.array().cast("array<string>")
    for leg in (openalex, dim, pubmed, wos, crossref):
        arr = F.concat(arr, F.coalesce(leg, F.array().cast("array<string>")))
    cleaned = F.transform(
        F.filter(arr, lambda o: o.isNotNull()), normalize_orcid
    )
    return F.array_sort(F.array_distinct(cleaned))


def _positional_orcid(pos: int) -> Column:
    """D14 — author_orcids.py:44-79: per-source positional coalesce
    (pos=1 first author, pos=-1 last), normalized."""
    openalex = F.try_element_at(F.col("openalex.authorships"), F.lit(pos))["author"]["orcid"]
    dim = F.get(F.try_element_at(F.col("dim.authors"), F.lit(pos))["orcid"], 0)
    pubmed = F.try_element_at(F.col(_PUBMED_AUTHORS), F.lit(pos))["orcid"]
    wos = F.try_element_at(F.col(_WOS_NAMES), F.lit(pos))["orcid_id"]
    crossref = F.try_element_at(F.col("crossref.author"), F.lit(pos))["ORCID"]
    raw = first_of(openalex, dim, pubmed, wos, crossref)
    return F.when(raw.isNotNull(), normalize_orcid(raw))


def first_author_orcid() -> Column:
    return _positional_orcid(1)


def last_author_orcid() -> Column:
    return _positional_orcid(-1)


# --- D15-D17 pages / issue / volume ------------------------------------------


def pages() -> Column:
    """D15 — distiller/pages.py:4-36: openalex first-last (either
    alone passes through) → dim pages → sulpub journal.pages."""
    fp = F.col("openalex.biblio.first_page")
    lp = F.col("openalex.biblio.last_page")
    openalex = (
        F.when(fp.isNotNull() & (fp != "") & lp.isNotNull() & (lp != ""),
               F.concat(fp, F.lit("-"), lp))
        .when(fp.isNotNull() & (fp != ""), fp)
        .otherwise(lp)
    )
    return first_of(openalex, F.col("dim.pages"), F.col("sulpub.journal.pages"))


def issue() -> Column:
    """D16 — distiller/issue.py:4-23."""
    raw = first_of(
        F.col("openalex.biblio.issue"),
        F.col("dim.issue"),
        F.col("pubmed.MedlineCitation.Article.Journal.JournalIssue.Issue"),
        F.col("sulpub.journal.issue"),
    )
    return scalar_or_first(raw)


def volume() -> Column:
    """D17 — distiller/volume.py:4-23."""
    raw = first_of(
        F.col("openalex.biblio.volume"),
        F.col("dim.volume"),
        F.col("pubmed.MedlineCitation.Article.Journal.JournalIssue.Volume"),
        F.col("sulpub.journal.volume"),
    )
    return scalar_or_first(raw)


# --- D5/D6 publisher & journal name (ISSN-dim fallback) ----------------------


def _openalex_publisher() -> Column:
    p = F.col("openalex.primary_location.source.host_organization_name")
    return F.when(p.isNotNull() & (p != ""), p)


def _openalex_journal_name() -> Column:
    """locations[?@.source.type=='journal'].source.display_name
    (distiller/journal_name.py:6-26), falsy treated as no-match."""
    n = F.get(
        F.filter(
            F.col("openalex.locations"), lambda l: l["source"]["type"] == "journal"
        ),
        0,
    )["source"]["display_name"]
    return F.when(n.isNotNull() & (n != ""), n)


# --- D8 apc ------------------------------------------------------------------


def apc_final(
    first_match: Column, types_col: Column, open_access_col: Column
) -> Column:
    """D8 post-rule ladder (distiller/apc.py:5-42). first_match is
    the coalesce of openalex apc_paid (positive) → APC-dataset lookup
    → openalex apc_list (positive); depends on already-computed
    types/pub_year/open_access (distill.py:42-55)."""
    oa = F.lower(F.coalesce(open_access_col, F.lit("")))
    return F.when(
        types_col == F.array(F.lit("Preprint")), F.lit(0)
    ).otherwise(
        F.when(first_match.isNotNull() & (oa == "closed"), F.lit(0))
        .when(first_match.isNotNull(), first_match)
        .when(oa == "diamond", F.lit(0))
        .when(oa == "gold", F.lit(2450))
        .when(oa == "hybrid", F.lit(3600))
    )


# --- pipeline ----------------------------------------------------------------


def distill(
    df: DataFrame,
    apc_dim: DataFrame | None = None,
    issn_source_dim: DataFrame | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Distill every canonical column (harvest_incremental/distill.py
    :36-70) in one declarative plan.

    apc_dim: (issn, apc_year, apc_usd, ds_idx) — pre-unpivoted APC
        dataset (sources.dims.apc_lookup); broadcast-joined.
    issn_source_dim: (issn, display_name, host_organization_name) —
        materialized ISSN→OpenAlex-Source lookup (S10); broadcast-
        joined for the publisher/journal_name fallbacks.

    One ``withColumns`` per dependency tier: the six payload structs;
    the shared XML nodes (WoS names, PubMed authors with their
    ORCIDs); ``types``, the author names and the ISSN union, which
    later columns read; then the sixteen outputs in their column
    order. A column already in ``df`` keeps its position.
    """
    out = parse_payloads(df).withColumns(
        {_WOS_NAMES: _wos_names(), _PUBMED_AUTHORS: _pubmed_authors()}
    )
    out = out.withColumns(
        {_TYPES: types(), _NAMES: author_list_names(), _ISSNS: journal_issns()}
    )
    names = F.col(_NAMES)
    out = out.withColumns({
        "types": F.col(_TYPES),
        "title": title(),
        "pub_year": pub_year(),
        "open_access": open_access(F.col(_TYPES)),
        "journal_issn": journal_issn(),
        "abstract": abstract(),
        "citation_count": citation_count(),
        "author_list_names": names,
        "first_author_name": first_author_name(names),
        "last_author_name": last_author_name(names),
        "author_list_orcids": author_list_orcids(),
        "first_author_orcid": first_author_orcid(),
        "last_author_orcid": last_author_orcid(),
        "pages": pages(),
        "issue": issue(),
        "volume": volume(),
    })

    # --- ISSN→source fallback for publisher / journal_name (S10) ---
    if issn_source_dim is not None:
        # deterministic stand-in for "first source the API returns":
        # the first ISSN (in sorted piped order) that has a dim entry
        exploded = out.select(
            F.col(id_col).alias("__pid"),
            F.posexplode_outer(F.col(_ISSNS)).alias("__pos", "__issn"),
        )
        hit = (
            exploded.join(F.broadcast(issn_source_dim), F.col("__issn") == F.col("issn"))
            .groupBy("__pid")
            .agg(
                F.min(
                    F.struct(
                        F.col("__pos"),
                        F.col("display_name"),
                        F.col("host_organization_name"),
                    )
                ).alias("__best")
            )
            .select(
                F.col("__pid"),
                F.col("__best.display_name").alias("__issn_journal"),
                F.col("__best.host_organization_name").alias("__issn_publisher"),
            )
        )
        out = out.join(hit, out[id_col] == hit["__pid"], "left").drop("__pid")
    else:
        out = out.withColumns({
            "__issn_journal": F.lit(None).cast("string"),
            "__issn_publisher": F.lit(None).cast("string"),
        })

    out = out.withColumns({
        "publisher": first_of(_openalex_publisher(), F.col("__issn_publisher")),
        "journal_name": first_of(_openalex_journal_name(), F.col("__issn_journal")),
    }).drop("__issn_journal", "__issn_publisher")

    # --- APC (D8): dataset lookup keyed by each dim ISSN in payload
    # order, first dataset row in dataset order (apc/__init__.py:14-27)
    if apc_dim is not None:
        cand = (
            out.select(
                F.col(id_col).alias("__pid"),
                F.col("pub_year").alias("__year"),
                F.posexplode_outer(F.col("dim.issn")).alias("__pos", "__issn"),
            )
            .join(
                F.broadcast(apc_dim),
                (F.col("__issn") == F.col("issn"))
                & (F.col("__year") == F.col("apc_year")),
            )
            .groupBy("__pid")
            .agg(F.min(F.struct("__pos", "ds_idx", "apc_usd")).alias("__best"))
            .select(
                F.col("__pid"),
                F.when(F.col("__best.apc_usd") >= 0, F.col("__best.apc_usd"))
                .cast("int")
                .alias("__apc_dataset"),
            )
        )
        out = out.join(cand, out[id_col] == cand["__pid"], "left").drop("__pid")
    else:
        out = out.withColumn("__apc_dataset", F.lit(None).cast("int"))

    apc_first = first_of(
        positive_number(F.col("openalex.apc_paid.value_usd")),
        F.col("__apc_dataset"),
        positive_number(F.col("openalex.apc_list.value_usd")),
    )
    out = out.withColumn(
        "apc", apc_final(apc_first, F.col("types"), F.col("open_access"))
    ).drop("__apc_dataset")

    return out.drop(*SRC, _WOS_NAMES, _PUBMED_AUTHORS, _TYPES, _NAMES, _ISSNS)
