"""Seeded generator for the weekly-cycle inputs: a harvest corpus
(publications carrying the six source JSON payloads, authors with
schools and departments, Zipf-skewed author edges, funders) and the
fixed-shape delta one weekly harvest brings: connector landings
(JSONL payload batches), an authors-CSV refresh and newly discovered
publication-author links.

Everything is plain Python driven by one ``random.Random(seed)`` and
written with pyarrow, so the same seed gives byte-identical inputs
and the engine only ever sees the generated files.

Shape rules that make the expected report rows predictable without
re-implementing the pipeline:

* every publication that has a DOI has a unique DOI, at least one
  author edge, and at least one non-OpenAlex source, so it is covered
  by all four report marts;
* publications without a DOI carry only an OpenAlex payload (the
  marts drop OpenAlex-only rows), some share a platform id so the
  dedupe passes have work, and a few have no author edge (orphans);
* the weekly delta lands an OpenAlex batch that re-harvests ~1% of
  the DOI publications under a revised publisher (OpenAlex's
  publisher wins distillation, so the publications mart must show
  it), ~0.5% brand-new DOIs that no author is linked to (orphans:
  removed before publish) and one null-DOI record whose OpenAlex id
  collides with an existing publication's (a dedupe group; null-DOI
  rows never reach the marts);
* the delta also flips the council/role flags of ~3% of the authors
  (every publication they wrote must be re-flagged and re-persisted)
  and links ~1% of the DOI publications to one more author; the new
  (DOI, author) pairs are known, so the marts' new row counts are
  too.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

SCHOOLS = (
    "Engineering", "Medicine", "Humanities", "Business", "Law",
    "Education", "Earth Sciences",
)
ROLES = ("faculty", "staff", "student", "postdoc")
WORDS = (
    "spark", "graph", "protein", "signal", "climate", "neural", "market",
    "policy", "quantum", "cell", "learning", "network", "energy", "model",
    "ocean", "language", "imaging", "theory", "sensor", "genome",
)
T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

PUB_FIELDS = [
    ("id", pa.int64()), ("doi", pa.string()), ("title", pa.string()),
    ("pub_year", pa.int32()), ("open_access", pa.string()),
    ("apc", pa.int32()), ("publisher", pa.string()),
    ("journal_name", pa.string()), ("types", pa.list_(pa.string())),
    ("journal_issn", pa.string()), ("abstract", pa.string()),
    ("citation_count", pa.int32()),
    ("author_list_names", pa.list_(pa.string())),
    ("author_list_orcids", pa.list_(pa.string())),
    ("first_author_name", pa.string()), ("first_author_orcid", pa.string()),
    ("last_author_name", pa.string()), ("last_author_orcid", pa.string()),
    ("pages", pa.string()), ("issue", pa.string()), ("volume", pa.string()),
    ("academic_council_authored", pa.bool_()), ("faculty_authored", pa.bool_()),
    ("dim_json", pa.string()), ("openalex_json", pa.string()),
    ("sulpub_json", pa.string()), ("wos_json", pa.string()),
    ("pubmed_json", pa.string()), ("crossref_json", pa.string()),
    ("wos_id", pa.string()), ("pubmed_id", pa.string()),
    ("openalex_harvested", pa.timestamp("us", tz="UTC")),
    ("dim_harvested", pa.timestamp("us", tz="UTC")),
    ("sulpub_harvested", pa.timestamp("us", tz="UTC")),
    ("wos_harvested", pa.timestamp("us", tz="UTC")),
    ("pubmed_harvested", pa.timestamp("us", tz="UTC")),
    ("distilled_at", pa.timestamp("us", tz="UTC")),
    ("created_at", pa.timestamp("us", tz="UTC")),
    ("updated_at", pa.timestamp("us", tz="UTC")),
]
AUTHOR_FIELDS = [
    ("id", pa.int64()), ("sunet", pa.string()), ("cap_profile_id", pa.string()),
    ("orcid", pa.string()), ("first_name", pa.string()),
    ("last_name", pa.string()), ("status", pa.bool_()),
    ("academic_council", pa.bool_()), ("role", pa.string()),
    ("schools", pa.list_(pa.string())), ("departments", pa.list_(pa.string())),
    ("primary_school", pa.string()), ("primary_dept", pa.string()),
    ("primary_division", pa.string()),
    ("created_at", pa.timestamp("us", tz="UTC")),
    ("updated_at", pa.timestamp("us", tz="UTC")),
]


@dataclass
class Corpus:
    """File locations of one generated corpus plus the row counts the
    bootstrap and every weekly cycle must reproduce."""

    root: str
    n_pubs: int
    n_null_doi: int
    author_weights: list[float]
    authors: list[dict]
    covered_edges: set = field(default_factory=set)  # (doi, author index)
    # per publication id: what a re-harvest of it needs
    # (title, year, author indexes, funders, issn, has wos, has pubmed)
    meta: dict = field(default_factory=dict)
    # OpenAlex ids carried by null-DOI publications
    null_doi_openalex: list = field(default_factory=list)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def doi(self, i: int) -> str | None:
        return f"10.{5000 + i % 97}/bench.{i}" if i > self.n_null_doi else None

    def expected_marts(self, new_edges=()) -> dict[str, int]:
        """Row counts of the four marts once ``new_edges`` ((pub id,
        author index) pairs) are linked."""
        edges = self.covered_edges | {(self.doi(p), a) for p, a in new_edges}
        a = self.authors
        return {
            "publications": self.n_pubs - self.n_null_doi,
            "publications_by_school": len({(d, a[k]["primary_school"]) for d, k in edges}),
            "publications_by_department": len({
                (d, a[k]["primary_school"], a[k]["primary_dept"]) for d, k in edges}),
            "publications_by_author": len(edges),
        }


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k**s
        out.append(acc)
    return [c / acc for c in out]


def _draw(rng: random.Random, cdf: list[float]) -> int:
    return min(bisect.bisect_left(cdf, rng.random()), len(cdf) - 1)


def _orcid(n: int) -> str:
    d = f"{n:016d}"
    return f"{d[0:4]}-{d[4:8]}-{d[8:12]}-{d[12:16]}"


def _title(rng: random.Random, i: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(5)) + f" {i}"


def _payloads(rng, i, doi, title, year, authors, funders, issn, sources):
    """Source JSON payloads for one publication; ``authors`` is a list
    of (name, orcid, cap_profile_id)."""
    out = {}
    first = rng.randint(1, 400)
    first, last = str(first), str(first + rng.randint(2, 30))
    vol, iss = str(rng.randint(1, 60)), str(rng.randint(1, 12))
    journal = f"Journal of {rng.choice(WORDS).title()}"
    if "openalex" in sources:
        out["openalex"] = {
            "id": f"https://openalex.org/W{i}",
            "doi": f"https://doi.org/{doi}" if doi else None,
            "title": title,
            "type": "article",
            "publication_year": str(year),
            "biblio": {"issue": iss, "first_page": first, "last_page": last,
                       "volume": vol},
            "primary_location": {"source": {
                "type": "journal", "display_name": journal,
                "host_organization_name": "Acme Press",
                "issn_l": issn, "issn": [issn]}},
            "authorships": [
                {"author": {"display_name": n, "orcid": f"https://orcid.org/{o}"}}
                for n, o, _c in authors
            ],
            "cited_by_count": rng.randint(0, 300),
            "open_access": {"oa_status": rng.choice(("gold", "green", "closed"))},
            "grants": [{"funder": f"https://openalex.org/F{f}"} for f in funders],
        }
    if "dim" in sources:
        out["dim"] = {
            "id": f"pub.{i}", "doi": doi, "type": "article", "title": title,
            "year": str(year), "journal": {"title": journal}, "issue": iss,
            "pages": f"{first}-{last}", "volume": vol, "issn": [issn],
            "abstract": f"Abstract of {title}.",
            "recent_citations": rng.randint(0, 50),
            "open_access": ["oa_all"] if rng.random() < 0.5 else [],
            "authors": [
                {"first_name": n.split()[0], "last_name": n.split()[-1],
                 "orcid": [o]} for n, o, _c in authors
            ],
            "funders": [{"id": f"grid.{f}", "name": f"Funder {f}"} for f in funders],
        }
    if "sulpub" in sources:
        out["sulpub"] = {
            "sulpubid": str(i), "title": title, "type": "article",
            "year": str(year), "doi": doi,
            "journal": {"name": journal, "issue": iss, "pages": f"{first}-{last}",
                        "volume": vol, "year": str(year)},
            "authorship": [
                {"cap_profile_id": c, "status": "approved"} for _n, _o, c in authors
            ],
        }
    if "wos" in sources:
        out["wos"] = {
            "UID": f"WOS:{i:015d}",
            "static_data": {
                "summary": {
                    "pub_info": {"pubyear": str(year), "issue": iss, "vol": vol,
                                 "page": {"begin": first, "end": last}},
                    "titles": {"title": [{"type": "item", "content": title}]},
                    "names": {"name": [
                        {"display_name": n, "orcid_id": o} for n, o, _c in authors
                    ]},
                },
                "fullrecord_metadata": {
                    "normalized_doctypes": {"doctype": "Article"}},
            },
            "dynamic_data": {
                "cluster_related": {"identifiers": {"identifier": [
                    {"type": "doi", "value": doi}]}},
                "citation_related": {"tc_list": {"silo_tc": {
                    "coll_id": "WOS", "local_count": rng.randint(0, 90)}}},
            },
        }
    if "pubmed" in sources:
        out["pubmed"] = {
            "MedlineCitation": {
                "PMID": {"#text": str(30_000_000 + i)},
                "Article": {
                    "ArticleTitle": title,
                    "Journal": {"Title": journal, "ISSN": {"#text": issn},
                                "JournalIssue": {"Volume": vol, "Issue": iss}},
                    "Abstract": {"AbstractText": f"PubMed abstract {i}."},
                    "PublicationTypeList": {
                        "PublicationType": {"#text": "Journal Article"}},
                    "AuthorList": {"Author": [
                        {"ForeName": n.split()[0], "LastName": n.split()[-1]}
                        for n, _o, _c in authors
                    ]},
                },
            },
            "PubmedData": {"ArticleIdList": {"ArticleId": [
                {"@IdType": "doi", "#text": doi},
                {"@IdType": "pubmed", "#text": str(30_000_000 + i)},
            ]}},
        }
    if "crossref" in sources:
        out["crossref"] = {
            "DOI": doi, "type": "journal-article", "title": [title],
            "author": [
                {"given": n.split()[0], "family": n.split()[-1],
                 "ORCID": f"https://orcid.org/{o}"} for n, o, _c in authors
            ],
            "container-title": [journal], "ISSN": [issn],
            "issued": {"date-parts": [[year, 1, 1]]},
        }
    return out


def _write(rows: list[dict], fields, path: str) -> None:
    schema = pa.schema(fields)
    cols = {name: [r.get(name) for r in rows] for name, _t in fields}
    pq.write_table(pa.table(cols, schema=schema), path)


def generate_corpus(root: str, seed: int, n_pubs: int, n_authors: int,
                    n_funders: int = 40) -> Corpus:
    """Write the bootstrap inputs under ``root`` and return their
    :class:`Corpus` with predicted mart row counts."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    authors = []
    for a in range(1, n_authors + 1):
        school = rng.choice(SCHOOLS)
        dept = f"{school} Dept {rng.randrange(3)}"
        authors.append({
            "id": a, "sunet": f"s{a:05d}", "cap_profile_id": f"cap{a}",
            "orcid": _orcid(a), "first_name": f"First{a}", "last_name": f"Last{a}",
            "status": True, "academic_council": rng.random() < 0.3,
            "role": rng.choice(ROLES),
            "schools": [school], "departments": [dept],
            "primary_school": school, "primary_dept": dept,
            "primary_division": None, "created_at": T0, "updated_at": T0,
        })
    # author index 0 is the most prolific (Zipf rank 1); shuffle which
    # author id holds each rank so hot authors spread over the id space
    rank_to_author = list(range(n_authors))
    rng.shuffle(rank_to_author)
    cdf = _zipf_cdf(n_authors, 1.1)
    weights = [cdf[0]] + [cdf[k] - cdf[k - 1] for k in range(1, n_authors)]
    author_weights = [0.0] * n_authors
    for rank, a in enumerate(rank_to_author):
        author_weights[a] = weights[rank]

    pubs, edges = [], []
    n_null_doi = max(4, n_pubs // 20)
    n_orphan = max(2, n_pubs // 200)
    corpus = Corpus(root=root, n_pubs=n_pubs, n_null_doi=n_null_doi,
                    author_weights=author_weights, authors=authors)
    for i in range(1, n_pubs + 1):
        doi = corpus.doi(i)
        has_doi = doi is not None
        year = 2015 + rng.randrange(10)
        title = _title(rng, i)
        k = 1 + (rng.random() < 0.5) + (rng.random() < 0.25)
        picks = sorted({rank_to_author[_draw(rng, cdf)] for _ in range(k)})
        alist = [
            (f"{authors[a]['first_name']} {authors[a]['last_name']}",
             authors[a]["orcid"], authors[a]["cap_profile_id"])
            for a in picks
        ]
        funders = sorted(rng.sample(range(n_funders), rng.randint(0, 2)))
        if has_doi:
            sources = {s for s in ("openalex", "dim", "wos", "pubmed", "crossref")
                       if rng.random() < 0.6}
            sources.add(rng.choice(("sulpub", "dim", "wos")))
            oa_id = i
        else:
            sources = {"openalex"}
            # every fourth null-DOI pub shares its OpenAlex id with the
            # previous one: a dedupe group of two
            oa_id = i - 1 if i % 4 == 0 else i
        issn = f"{1000 + i % 500:04d}-{i % 9000 + 1000:04d}"
        pl = _payloads(rng, oa_id if not has_doi else i, doi, title, year,
                       alist, funders, issn, sources)
        corpus.meta[i] = (title, year, picks, funders, issn, "wos" in pl,
                          "pubmed" in pl)
        if not has_doi:
            corpus.null_doi_openalex.append(oa_id)
        updated = T0 + dt.timedelta(days=rng.randrange(30), seconds=i)
        row = {f"{s}_json": json.dumps(p) for s, p in pl.items()}
        row.update({f"{s}_harvested": updated for s in pl if s != "crossref"})
        row.update(
            id=i, doi=doi, title=title, types=["Article"],
            wos_id=f"WOS:{i:015d}" if "wos" in pl else None,
            pubmed_id=str(30_000_000 + i) if "pubmed" in pl else None,
            created_at=T0, updated_at=updated,
        )
        pubs.append(row)
        orphan = (not has_doi) and i % 4 == 1 and n_orphan > 0
        if orphan:
            n_orphan -= 1
            continue
        for a in picks:
            edges.append({"publication_id": i, "author_id": a + 1})
            if has_doi:
                corpus.covered_edges.add((doi, a))
    _write(pubs, PUB_FIELDS, os.path.join(root, "pubs.parquet"))
    _write(authors, AUTHOR_FIELDS, os.path.join(root, "authors.parquet"))
    _write(edges, [("publication_id", pa.int64()), ("author_id", pa.int64())],
           os.path.join(root, "author_edges.parquet"))
    _write(
        [{"name": f"Funder {f}", "id": f"grid.{f}"} for f in range(0, n_funders, 3)],
        [("name", pa.string()), ("id", pa.string())],
        os.path.join(root, "federal.parquet"),
    )
    return corpus


@dataclass
class Delta:
    """One weekly delta: DAG context entries (parquet paths and
    landing dirs) and what the cycle must produce from it."""

    ctx: dict
    new_edges: list  # (pub id, author index) pairs linked this week
    revised: dict  # doi -> publisher the publications mart must show
    new_dois: list  # landed DOIs no author is linked to (orphans)
    payload_rows: int  # JSONL records landed


def _jsonl(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in records:
            fh.write(json.dumps(r) + "\n")


def write_delta(corpus: Corpus, out: str, seed: int, cycle: int) -> Delta:
    """Write one weekly delta under ``out``: an OpenAlex connector
    landing (``landing/openalex/batch.jsonl``),
    ``incoming_authors.parquet`` (~3% of the authors with flipped
    council/role flags) and ``incoming_edges.parquet`` (~1% of the DOI
    publications linked to one more author, drawn from the skewed
    author distribution)."""
    rng = random.Random(seed * 1_000_003 + cycle)
    os.makedirs(out, exist_ok=True)
    n_doi = corpus.n_pubs - corpus.n_null_doi
    doi_ids = range(corpus.n_null_doi + 1, corpus.n_pubs + 1)

    def triples(picks):
        return [(f"{corpus.authors[a]['first_name']} {corpus.authors[a]['last_name']}",
                 corpus.authors[a]["orcid"], corpus.authors[a]["cap_profile_id"])
                for a in picks]

    records, revised = [], {}
    for i in sorted(rng.sample(doi_ids, max(2, n_doi // 100))):
        title, year, picks, funders, issn, _w, _p = corpus.meta[i]
        pl = _payloads(rng, i, corpus.doi(i), title, year, triples(picks),
                       funders, issn, {"openalex"})["openalex"]
        # OpenAlex's publisher wins distillation: the publications
        # mart must show the revised one
        publisher = f"Acme Press (revised {cycle})"
        pl["primary_location"]["source"]["host_organization_name"] = publisher
        records.append(pl)
        revised[corpus.doi(i)] = publisher
    new_dois = []
    for j in range(max(1, n_doi // 200)):
        doi = f"10.9999/bench.new.{cycle}.{j}"
        picks = [rng.randrange(len(corpus.authors))]
        records.append(_payloads(rng, corpus.n_pubs + 1 + j, doi, _title(rng, j),
                                 2024, triples(picks), [], "0000-0000",
                                 {"openalex"})["openalex"])
        new_dois.append(doi)
    # a null-DOI record re-harvested under an OpenAlex id an existing
    # publication already carries: the dedupe passes merge the two
    oa = rng.choice(corpus.null_doi_openalex)
    title, year, picks, funders, issn, _w, _p = corpus.meta[oa]
    records.append(_payloads(rng, oa, None, title, year, triples(picks), funders,
                             issn, {"openalex"})["openalex"])
    ctx = {
        "landing_dirs": {"openalex": os.path.join(out, "landing", "openalex")},
        "incoming_authors": os.path.join(out, "incoming_authors.parquet"),
        "incoming_edges": os.path.join(out, "incoming_edges.parquet"),
    }
    _jsonl(os.path.join(ctx["landing_dirs"]["openalex"], "batch.jsonl"), records)

    changed = []
    for a in rng.sample(corpus.authors, max(1, len(corpus.authors) * 3 // 100)):
        a = dict(a, academic_council=not a["academic_council"],
                 role=rng.choice([r for r in ROLES if r != a["role"]]))
        changed.append(a)
    cdf = _zipf_cdf(len(corpus.authors), 1.1)
    order = sorted(range(len(corpus.authors)),
                   key=lambda k: -corpus.author_weights[k])
    new = sorted(
        (p, order[_draw(rng, cdf)])
        for p in rng.sample(doi_ids, max(1, corpus.n_pubs // 100))
    )
    _write(changed, AUTHOR_FIELDS, ctx["incoming_authors"])
    _write([{"publication_id": p, "author_id": k + 1} for p, k in new],
           [("publication_id", pa.int64()), ("author_id", pa.int64())],
           ctx["incoming_edges"])
    return Delta(ctx, new, revised, new_dois, len(records))


def draw_authors(corpus: Corpus, k: int) -> list[str]:
    """``k`` sunets drawn from the corpus's skewed author distribution
    by systematic sampling: the midpoints of ``k`` equal slices of the
    cumulative weight, heaviest first. Prolific authors are looked up
    more often, and every run looks up the same ranks of the
    distribution, so the median lookup does the same share of the work
    whatever the seed."""
    order = sorted(range(len(corpus.authors)), key=lambda a: -corpus.author_weights[a])
    cum, acc = [], 0.0
    for a in order:
        acc += corpus.author_weights[a]
        cum.append(acc)
    return [
        corpus.authors[order[min(bisect.bisect_left(cum, (j + 0.5) / k * acc),
                                 len(order) - 1)]]["sunet"]
        for j in range(k)
    ]
