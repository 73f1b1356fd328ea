"""Seeded publication corpus for the weekly_pipeline workload, with its
ground truth built in.

A corpus is the input of a full harvest: publications with the five
harvest sources' JSON payloads partly present, authors with
Zipf-skewed productivity, author edges, and a federal-funder dimension.
Every fact the benchmark checks is known by construction, not by running
the program:

* ``survivors`` - ids left after the harvest: every id minus the
  platform-key duplicate losers and the author-less orphans;
* ``losers`` - loser id -> survivor id, one group per shared platform key
  (the newest ``updated_at`` wins, as the dedupe task specifies);
* ``orphans`` - ids with no author edge;
* ``author_pubs`` - each author's surviving publication ids (loser edges
  re-pointed to their survivor);
* ``mart_doi_rows`` - rows with a non-null DOI in each of the four
  report marts.
"""

from __future__ import annotations

import datetime
import json
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

SOURCES = ("openalex", "dim", "wos", "sulpub", "pubmed")
# marts keep a publication only when one of these was harvested
COVERAGE_SOURCES = ("dim", "wos", "sulpub", "pubmed")
_SOURCE_P = {"openalex": 0.8, "dim": 0.55, "wos": 0.45, "sulpub": 0.35, "pubmed": 0.3}
_KEY_KINDS = ("openalex", "dim", "sulpub", "wos_id", "pubmed_id")
_ROLES = ["faculty", "staff", "postdoc", "phdstudent", "fellow", "affiliate"]
_ROLE_P = [0.3, 0.2, 0.15, 0.2, 0.1, 0.05]
_SCHOOLS = [f"School {c}" for c in "ABCDEFGH"]
_WORDS = (
    "analysis cell climate data design energy gene health learning "
    "model network neural policy protein quantum risk signal social "
    "stanford study system theory water"
).split()
_FUNDERS = [
    ("National Science Foundation (NSF)", "grid.431093.c", True),
    ("National Institutes of Health (NIH)", "grid.94365.3d", True),
    ("Department of Energy (DOE)", "grid.85084.31", True),
    ("NASA", "grid.238252.c", True),
    ("Department of Defense", "grid.420391.d", True),
    ("Wellcome Trust", "grid.52788.30", False),
    ("Gates Foundation", "grid.418309.7", False),
    ("Simons Foundation", "grid.452951.e", False),
    ("Howard Hughes Medical Institute", "grid.413575.1", False),
    ("Sloan Foundation", "grid.453264.4", False),
]
BASE_TIME = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


@dataclass
class Corpus:
    pubs: list[dict]
    authors: list[dict]
    edges: list[tuple[int, int]]
    federal: list[tuple[str, str]]
    survivors: set[int]
    losers: dict[int, int]
    orphans: set[int]
    author_pubs: dict[int, set[int]]
    mart_doi_rows: dict[str, int]
    lookup_weights: np.ndarray = field(repr=False)

    def doi_counter(self, author_id: int) -> Counter:
        """Multiset of DOIs (None for null-DOI pubs) the author's
        lookup must return after the harvest."""
        return Counter(
            self.pubs[p - 1]["doi"] for p in self.author_pubs.get(author_id, ())
        )

    def check_lookup(self, author_id: int, dois: list) -> str | None:
        """None when a lookup returned exactly the author's DOIs."""
        want = self.doi_counter(author_id)
        if Counter(dois) == want:
            return None
        return (f"lookup au{author_id:05d}: {len(dois)} pubs, "
                f"expected {sum(want.values())}")

    def check_ids(self, ids: set[int]) -> list[str]:
        """Failures of the stored publication id set."""
        bad = []
        if ids != self.survivors:
            bad.append(f"stored ids: {len(ids - self.survivors)} unexpected, "
                       f"{len(self.survivors - ids)} missing")
        if ids & set(self.losers) or ids & self.orphans:
            bad.append("a dedup loser or an orphan survived")
        return bad


def _ts(seconds: float) -> datetime.datetime:
    return BASE_TIME + datetime.timedelta(seconds=float(seconds))


def _text(rng, k: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), k))


def _payload(src: str, rng, pid: int, doi, title: str, year: int,
             names: list[tuple[str, str, str | None]], keys: dict,
             funders: list[tuple[str, str]]) -> str:
    """One source's JSON payload in the shape FIXTURES.md section 3
    gives (only the fields the engine reads, plus realistic bulk)."""
    journal = f"Journal of {_WORDS[pid % len(_WORDS)].title()}"
    issn = f"{1000 + pid % 9000:04d}-{pid % 997:04d}"
    abstract = _text(rng, 40)
    cites = int(rng.integers(0, 500))
    vol, iss = str(1 + pid % 60), str(1 + pid % 12)
    if src == "openalex":
        inv: dict[str, list[int]] = {}
        for i, w in enumerate(abstract.split()):
            inv.setdefault(w, []).append(i)
        p = {
            "id": f"https://openalex.org/W{keys['openalex']}",
            "doi": f"https://doi.org/{doi}" if doi else None,
            "ids": {"doi": doi, "pmid": keys.get("pubmed_id")},
            "title": title,
            "type": "article",
            "publication_year": year,
            "biblio": {"issue": iss, "first_page": "1", "last_page": "12",
                       "volume": vol},
            "primary_location": {"source": {
                "type": "journal", "display_name": journal,
                "host_organization_name": "Stanford Press",
                "issn_l": issn, "issn": [issn]}},
            "locations": [{"is_oa": bool(pid % 3 == 0), "source": {
                "id": f"https://openalex.org/S{pid % 500}",
                "display_name": journal, "issn_l": issn, "issn": [issn],
                "type": "journal"}}],
            "authorships": [{"author": {"display_name": f"{fn} {ln}",
                                        "orcid": oc}} for fn, ln, oc in names],
            "abstract_inverted_index": inv,
            "cited_by_count": cites,
            "apc_paid": {"value_usd": int(rng.integers(0, 4000))},
            "apc_list": {"value_usd": 3000},
            "open_access": {"oa_status": ["gold", "green", "hybrid",
                                          "bronze", "closed"][pid % 5]},
            "grants": [{"funder": f"https://openalex.org/F{pid % 40}"}],
        }
    elif src == "dim":
        p = {
            "id": f"pub.{keys['dim']}",
            "doi": doi,
            "type": "article",
            "title": title,
            "year": year,
            "journal": {"title": journal},
            "issue": iss,
            "pages": "1-12",
            "volume": vol,
            "issn": [issn],
            "abstract": abstract,
            "recent_citations": cites,
            "pmid": keys.get("pubmed_id"),
            "open_access": ["oa_all", "green"],
            "authors": [{"first_name": fn, "last_name": ln,
                         "orcid": [oc] if oc else []} for fn, ln, oc in names],
            "funders": [{"id": g, "name": n} for n, g in funders],
        }
    elif src == "wos":
        ids = [{"type": "doi", "value": doi}] if doi else []
        if keys.get("pubmed_id"):
            ids.append({"type": "pmid", "value": keys["pubmed_id"]})
        p = {
            "UID": f"WOS:{keys['wos_id']}",
            "static_data": {
                "summary": {
                    "pub_info": {"pubyear": str(year), "issue": iss,
                                 "vol": vol, "page": {"begin": "1", "end": "12"}},
                    "titles": {"title": [{"type": "item", "content": title},
                                         {"type": "source", "content": journal}]},
                    "names": {"name": [{"display_name": f"{ln}, {fn}",
                                        "orcid_id": oc} for fn, ln, oc in names]},
                },
                "fullrecord_metadata": {
                    "normalized_doctypes": {"doctype": ["Article"]}},
            },
            "dynamic_data": {
                "cluster_related": {"identifiers": {"identifier": ids}},
                "citation_related": {"tc_list": {"silo_tc": [
                    {"coll_id": "WOS", "local_count": cites}]}},
            },
        }
    elif src == "pubmed":
        art_ids = [{"@IdType": "pubmed", "#text": keys["pubmed_id"]}]
        if doi:
            art_ids.append({"@IdType": "doi", "#text": doi})
        p = {
            "MedlineCitation": {
                "PMID": {"#text": keys["pubmed_id"]},
                "Article": {
                    "ArticleTitle": title,
                    "Journal": {"Title": journal, "ISSN": {"#text": issn},
                                "JournalIssue": {"Volume": vol, "Issue": iss}},
                    "Abstract": {"AbstractText": abstract},
                    "PublicationTypeList": {"PublicationType": {
                        "#text": "Journal Article"}},
                    "AuthorList": {"Author": [
                        {"ForeName": fn, "LastName": ln} for fn, ln, _ in names]},
                },
            },
            "PubmedData": {"ArticleIdList": {"ArticleId": art_ids}},
        }
    elif src == "sulpub":
        ident = [{"type": "doi", "id": doi}] if doi else []
        p = {
            "sulpubid": str(keys["sulpub"]),
            "title": title,
            "type": "article",
            "year": str(year),
            "doi": doi,
            "journal": {"name": journal, "issue": iss, "pages": "1-12",
                        "volume": vol, "year": str(year)},
            "identifier": ident,
            "authorship": [{"cap_profile_id": f"cap{pid % 997}",
                            "status": "approved"}],
            "author": [{"name": f"{ln}, {fn[0]}."} for fn, ln, _ in names],
        }
    else:  # pragma: no cover - guarded by SOURCES
        raise ValueError(src)
    return json.dumps(p, sort_keys=True)


def _zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / (np.arange(n) + 10.0)
    return w / w.sum()


def generate(n_pubs: int, seed: int) -> Corpus:
    """Build the corpus and its ground truth."""
    rng = np.random.default_rng(seed)
    n_auth = max(20, n_pubs // 10)

    # --- authors: productivity rank r has weight 1/(r+10) ------------
    weights = _zipf_weights(n_auth)
    order = rng.permutation(n_auth)  # author id of productivity rank r
    author_weight = np.empty(n_auth)
    author_weight[order] = weights
    authors = []
    for a in range(n_auth):
        school = int(rng.integers(0, len(_SCHOOLS)))
        authors.append({
            "id": a + 1,
            "sunet": f"au{a + 1:05d}",
            "cap_profile_id": f"cap{a + 1}",
            "orcid": f"0000-0002-{a + 1:04d}-{a % 10}" if rng.random() < 0.7 else None,
            "first_name": f"F{a + 1}",
            "last_name": f"L{a + 1}",
            "status": True,
            "academic_council": bool(rng.random() < 0.2),
            "role": str(rng.choice(_ROLES, p=_ROLE_P)),
            "schools": [_SCHOOLS[school]],
            "departments": [f"Dept {school}.{a % 5}"],
            "primary_school": _SCHOOLS[school],
            "primary_dept": f"Dept {school}.{int(rng.integers(0, 5))}",
            "primary_division": None,
            "created_at": BASE_TIME,
            "updated_at": BASE_TIME,
        })

    # --- publications ------------------------------------------------
    cum = np.cumsum(author_weight)
    draws = np.searchsorted(cum, rng.random((n_pubs, 10)) * cum[-1])
    n_auth_per = 1 + np.minimum(rng.poisson(2.0, n_pubs), 9)
    orphan_mask = rng.random(n_pubs) < 0.01
    null_doi = rng.random(n_pubs) < 0.10
    # platform-key duplicate groups among null-DOI pubs: a group shares
    # exactly one key; every other key of its members stays unique
    nd_ids = [i for i in range(n_pubs) if null_doi[i] and not orphan_mask[i]]
    rng.shuffle(nd_ids)
    groups: list[tuple[str, list[int]]] = []
    pos = 0
    while pos + 3 <= len(nd_ids) // 2:
        size = int(rng.integers(2, 4))
        groups.append((_KEY_KINDS[len(groups) % len(_KEY_KINDS)],
                       nd_ids[pos:pos + size]))
        pos += size
    shared_key: dict[int, tuple[str, int]] = {}
    for g, (kind, members) in enumerate(groups):
        for m in members:
            shared_key[m] = (kind, 10_000_000 + g)

    updated_sec = rng.permutation(n_pubs) * 60 + 3600
    pubs: list[dict] = []
    edges: list[tuple[int, int]] = []
    pub_authors: dict[int, list[int]] = {}
    pub_sources: dict[int, set[str]] = {}
    all_funders = [(n, g) for n, g, _f in _FUNDERS]
    for i in range(n_pubs):
        pid = i + 1
        doi = None if null_doi[i] else f"10.{5000 + pid % 400}/rs.{pid}"
        srcs = {s for s in SOURCES if rng.random() < _SOURCE_P[s]}
        if not srcs & {"openalex", "dim", "sulpub"}:
            srcs.add("openalex")
        keys = _keys(pid)
        if pid - 1 in shared_key:
            kind, val = shared_key[pid - 1]
            keys[kind] = val if kind in ("openalex", "dim", "sulpub") else (
                f"{val:015d}" if kind == "wos_id" else str(val))
            srcs.add({"wos_id": "wos", "pubmed_id": "pubmed"}.get(kind, kind))
        pub_sources[pid] = srcs
        if orphan_mask[i]:
            aids: list[int] = []
        else:
            aids = list(dict.fromkeys(int(a) + 1 for a in draws[i, : n_auth_per[i]]))
        pub_authors[pid] = aids
        edges.extend((pid, a) for a in aids)
        names = [(authors[a - 1]["first_name"], authors[a - 1]["last_name"],
                  authors[a - 1]["orcid"]) for a in aids] or [("Anon", "Ymous", None)]
        title = f"{_text(rng, 6).capitalize()} {pid}"
        year = 2000 + pid % 24
        nf = int(rng.integers(0, 3))
        funders = [all_funders[j]
                   for j in rng.choice(len(all_funders), nf, replace=False)]
        row = {"id": pid, "doi": doi, "created_at": BASE_TIME,
               "updated_at": _ts(updated_sec[i]), "crossref_json": None,
               "wos_id": keys["wos_id"] if "wos" in srcs else None,
               "pubmed_id": keys["pubmed_id"] if "pubmed" in srcs else None}
        for s in SOURCES:
            row[f"{s}_json"] = (
                _payload(s, rng, pid, doi, title, year, names, keys, funders)
                if s in srcs else None
            )
            row[f"{s}_harvested"] = BASE_TIME if s in srcs else None
        pubs.append(row)

    losers: dict[int, int] = {}
    for _kind, members in groups:
        ids = [m + 1 for m in members]
        win = max(ids, key=lambda p: (pubs[p - 1]["updated_at"], -p))
        for p in ids:
            if p != win:
                losers[p] = win
    orphans = {i + 1 for i in range(n_pubs) if orphan_mask[i]}
    survivors = set(range(1, n_pubs + 1)) - set(losers) - orphans

    # --- ground truth after the harvest --------------------------------
    final_authors: dict[int, set[int]] = {}
    for pid, aids in pub_authors.items():
        owner = losers.get(pid, pid)
        if owner in survivors:
            final_authors.setdefault(owner, set()).update(aids)
    author_pubs: dict[int, set[int]] = {}
    for pid, aids in final_authors.items():
        for a in aids:
            author_pubs.setdefault(a, set()).add(pid)
    mart_doi_rows = {"publications": 0, "by_school": 0,
                     "by_department": 0, "by_author": 0}
    for p in survivors:
        if pubs[p - 1]["doi"] is None or not pub_sources[p] & set(COVERAGE_SOURCES):
            continue
        auth = [authors[a - 1] for a in final_authors.get(p, ())]
        mart_doi_rows["publications"] += 1
        mart_doi_rows["by_school"] += len({a["primary_school"] for a in auth})
        mart_doi_rows["by_department"] += len(
            {(a["primary_school"], a["primary_dept"]) for a in auth})
        mart_doi_rows["by_author"] += len({a["sunet"] for a in auth})

    return Corpus(
        pubs=pubs, authors=authors, edges=edges,
        federal=[(n, g) for n, g, f in _FUNDERS if f],
        survivors=survivors,
        losers=losers, orphans=orphans, author_pubs=author_pubs,
        mart_doi_rows=mart_doi_rows,
        lookup_weights=author_weight,
    )


def _keys(pid: int) -> dict:
    return {"openalex": pid, "dim": pid, "sulpub": pid,
            "wos_id": f"{pid:015d}", "pubmed_id": str(30_000_000 + pid)}


def lookup_schedule(corpus: Corpus, n: int, seed: int, block: int) -> list[int]:
    """Author ids for ``n`` closed-loop lookups, drawn by productivity
    (Zipf-like), so a read ranges from a few keys to hundreds.

    The draw is stratified: each run of ``block`` consecutive lookups
    takes one author from each of ``block`` equally likely slices of
    the distribution, in a seeded order, so every seed reads the same
    mix of small and large authors and the median lookup is always one
    from the middle slice."""
    rng = np.random.default_rng([seed, 7])
    w = corpus.lookup_weights
    cdf = np.cumsum(w / w.sum())
    out: list[int] = []
    while len(out) < n:
        u = (rng.permutation(block) + rng.random(block)) / block
        idx = np.minimum(np.searchsorted(cdf, u, side="right"), len(w) - 1)
        out += [int(a) + 1 for a in idx]
    return out[:n]
