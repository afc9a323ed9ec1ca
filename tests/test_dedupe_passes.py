"""remove_duplicates against a pure-Python fold of the five
platform-key passes in reference order (deduplicate.py:38-184).

The fixture covers the cases where a set-based rewrite of the passes
can drift from the row-at-a-time reference: a pass-1 survivor that
loses a later pass, ties on ``updated_at`` (broken by id), NULL keys
and a NULL ``updated_at``, a DOI'd row carrying platform keys (out of
scope), and edges that collide once re-pointed.
"""

from __future__ import annotations

import datetime as dt
import json
import re
from collections import defaultdict

from rialto_airflow_spark.plans import harvest as H

PUBS_DDL = (
    "id bigint, doi string, updated_at timestamp, openalex_json string, "
    "dim_json string, sulpub_json string, wos_id string, pubmed_id string"
)


def ts(day):
    return None if day is None else dt.datetime(2024, 1, day)


def pub(id_, day, doi=None, oa=None, dim=None, sul=None, wos=None, pmid=None):
    return (
        id_,
        doi,
        ts(day),
        None if oa is None else json.dumps(oa),
        None if dim is None else json.dumps(dim),
        None if sul is None else json.dumps(sul),
        wos,
        pmid,
    )


PUBS = [
    # pass 1 (openalex W1): 1 beats 2; pass 2 (dim D1): 3 beats 1
    pub(1, 5, oa={"id": "W1"}, dim={"id": "D1"}),
    pub(2, 3, oa={"id": "W1"}, pmid="P2"),
    pub(3, 7, dim={"id": "D1"}),
    # DOI'd row with the newest W1 stamp: out of scope, neither
    # deleted nor chosen as a survivor
    pub(11, 9, doi="10.1/x", oa={"id": "W1"}, dim={"id": "D1"}),
    # pass 3 (sulpub S1): updated_at tie, lower id survives
    pub(5, 4, sul={"sulpubid": "S1"}),
    pub(4, 4, sul={"sulpubid": "S1"}),
    # pass 4 (wos X1): a NULL updated_at sorts last
    pub(6, None, wos="X1"),
    pub(7, 2, wos="X1"),
    # NULL keys: no payload at all, an OpenAlex payload without an
    # id, a Dimensions payload whose id is null
    pub(8, 1),
    pub(9, 1, oa={"display_name": "no id"}),
    pub(10, 1, dim={"id": None}),
    # pass 5 (pubmed P1): tie at day 1 plus a NULL stamp
    pub(12, 1, pmid="P1"),
    pub(13, None, pmid="P1"),
    pub(14, 1, pmid="P1"),
    # 2 left in pass 1, so 15 has no P2 partner by pass 5
    pub(15, 1, pmid="P2"),
]

AUTHOR_EDGES = [
    (2, "a1"), (1, "a1"), (3, "a2"),  # 2 -> 1 -> 3: collide on (3, a1)
    (5, "a3"), (4, "a3"),
    (99, "a4"),  # no such publication
    (None, "a9"),  # NULL publication id never matches a loser
]

FUNDER_EDGES = [
    (6, 10), (7, 10),
    (14, 20), (13, 20), (12, 30),
    (15, 40),
]

KEY_FNS = (
    lambda r: _json_get(r[3], "id"),
    lambda r: _json_get(r[4], "id"),
    lambda r: _json_get(r[5], "sulpubid"),
    lambda r: r[6],
    lambda r: r[7],
)


def _json_get(doc, field):
    return None if doc is None else json.loads(doc).get(field)


def _rank(r):
    # updated_at DESC NULLS LAST, then id ASC
    u = r[2]
    return (u is None, -u.timestamp() if u is not None else 0, r[0])


def fold(pubs, author_edges, funder_edges):
    """The reference loop: each pass groups the rows the earlier
    passes left, deletes the losers and re-points their edges."""
    live = list(pubs)
    ae, fe = set(author_edges), set(funder_edges)
    pairs = set()
    for key in KEY_FNS:
        groups = defaultdict(list)
        for r in live:
            if r[1] is None and key(r) is not None:
                groups[key(r)].append(r)
        to = {}
        for g in groups.values():
            g.sort(key=_rank)
            for r in g[1:]:
                to[r[0]] = g[0][0]
        pairs |= set(to.items())
        live = [r for r in live if r[0] not in to]
        ae = {(to.get(p, p), a) for p, a in ae}
        fe = {(to.get(p, p), f) for p, f in fe}
    return {r[0] for r in live}, ae, fe, pairs


def _run(spark, tmp_path):
    path = str(tmp_path / "pubs.parquet")
    spark.createDataFrame(PUBS, PUBS_DDL).write.parquet(path)
    pubs = spark.read.parquet(path)
    ae = spark.createDataFrame(
        AUTHOR_EDGES, "publication_id bigint, author_id string"
    )
    fe = spark.createDataFrame(
        FUNDER_EDGES, "publication_id bigint, funder_id bigint"
    )
    return H.remove_duplicates(pubs, ae, fe, return_losers=True)


def test_remove_duplicates_matches_reference_fold(spark, tmp_path):
    out_pubs, out_ae, out_fe, losers = _run(spark, tmp_path)
    want_ids, want_ae, want_fe, want_pairs = fold(
        PUBS, AUTHOR_EDGES, FUNDER_EDGES
    )
    ids = [r["id"] for r in out_pubs.collect()]
    assert len(ids) == len(set(ids))
    assert set(ids) == want_ids
    # the fixture exercises every case it claims to
    assert {(2, 1), (1, 3), (5, 4), (6, 7), (14, 12), (13, 12)} == want_pairs
    assert {11, 15} <= want_ids
    ae_rows = [tuple(r) for r in out_ae.collect()]
    assert len(ae_rows) == len(set(ae_rows))
    assert set(ae_rows) == want_ae
    fe_rows = [tuple(r) for r in out_fe.collect()]
    assert len(fe_rows) == len(set(fe_rows))
    assert set(fe_rows) == want_fe
    assert {tuple(r) for r in losers.collect()} == want_pairs
    assert out_ae.columns == ["publication_id", "author_id"]
    assert out_fe.columns == ["publication_id", "funder_id"]


def test_remove_duplicates_plan_scans_input_at_most_twice(spark, tmp_path):
    """Chaining five whole-table passes, each referencing its input
    2-3 times, grows a 2^5 plan tree over the publications scan."""
    out_pubs, _, _, _ = _run(spark, tmp_path)
    plan = out_pubs._jdf.queryExecution().optimizedPlan().toString()
    scans = re.findall(r"Relation \S*\[[^\]]*\] parquet", plan)
    assert 1 <= len(scans) <= 2, plan
