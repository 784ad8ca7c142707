"""J6/A5/W4 differential — our generated WDQS enrichment queries must be
token-identical to what the reference's `config_sparql` sends
(script/sparql.py:167-364). Captured by stubbing `launch_sparql`; compared
whitespace-normalized (SPARQL is whitespace-insensitive; the reference's
indentation is an f-string artifact)."""

import os
import re
import sys

import pytest

from wde_spark.sources.wdqs import config_queries

REF = "/root/reference"

needs_reference = pytest.mark.skipif(
    not os.path.isdir(os.path.join(REF, "script")),
    reason="reference tree not available")


def _norm(q: str) -> str:
    return re.sub(r"\s+", " ", q).strip()


@pytest.fixture(scope="module")
def ref_sparql():
    from conftest import stub_reference_deps

    stub_reference_deps()
    sys.path.insert(0, REF)
    import script.sparql as ref_sparql

    yield ref_sparql
    sys.path.remove(REF)


@needs_reference
def test_config_queries_match_reference(ref_sparql):
    for qid in ("Q535", "Q42"):
        captured: list[str] = []
        orig = ref_sparql.launch_sparql
        ref_sparql.launch_sparql = lambda q, w_id: captured.append(q) or {}
        try:
            ref_sparql.config_sparql(qid)
        finally:
            ref_sparql.launch_sparql = orig
        ours = config_queries(qid)
        assert len(captured) == 4
        for i, (ref_q, our_q) in enumerate(zip(captured, ours)):
            assert _norm(our_q) == _norm(ref_q), f"query {i + 1} diverges"


def test_reference_bugs_reproduced():
    q1 = config_queries("Q1")[0]
    assert "wdt:119 ?burialplace" in q1       # missing 'P' kept
    assert "wdt:P570 ?deathplace" in q1       # death-date property kept


def test_enrich_live_offline_replay(spark, tmp_path):
    """enrich_live over a canned fetcher: the 4-query grid is fetched per
    QID, resume-filtered, and normalized into the enrichment store. Each
    query is sent exactly once: 4 fetcher calls per new QID, counted
    through a log file (the fetcher runs in Python worker processes)."""
    from wde_spark.sources.wdqs import enrich_live

    log_path = str(tmp_path / "sparql.log")

    def fake_fetch(query: str) -> dict:
        with open(log_path, "a", encoding="utf-8") as fh:
            fh.write(" ".join(query.split()) + "\n")
        # echo a single binding naming which query index ran, derived from a
        # var unique to each query text
        marker = ("instance" if "?instance" in query else
                  "educ" if "?educ" in query else
                  "title" if "?title" in query else "viafID")
        return {"head": {"vars": [marker]},
                "results": {"bindings": [
                    {marker: {"type": "literal", "value": f"v-{marker}"}}]}}

    qids = spark.createDataFrame([("Q1",), ("Q2",), ("Q3",)], "qid string")
    done = spark.createDataFrame([("Q3",)], "qid string")
    out = enrich_live(qids, fake_fetch, done=done, n_workers=2).collect()
    assert sorted(r.qid for r in out) == ["Q1", "Q2"]
    for r in out:
        m = dict(r.enrichment)
        assert m == {"instance": ["v-instance"], "educ": ["v-educ"],
                     "title": ["v-title"], "viafID": ["v-viafID"]}
    with open(log_path, encoding="utf-8") as fh:
        sent = fh.read().splitlines()
    want = [" ".join(q.split()) for qid in ("Q1", "Q2")
            for q in config_queries(qid)]
    assert sorted(sent) == sorted(want)


def test_enrich_offline_edge_cases(spark):
    """`result_tojson` per (qid, var): a document with zero bindings adds
    no var (and a QID with only such documents no entry); a var bound
    only to missing values gives []; case and punctuation variants keep
    the first-seen cleaned form, in binding order; entity-URI prefixes
    and the time of day are stripped."""
    import json

    from wde_spark.plans.enrich import enrich_offline

    ent = "http://www.wikidata.org/entity/"

    def doc(variables, bindings):
        return json.dumps({"head": {"vars": variables}, "results": {
            "bindings": [{k: {"type": "literal", "value": v}
                          for k, v in b.items()} for b in bindings]}})

    raw = spark.createDataFrame([
        ("Q1", 0, doc(["unseen", "unseenL"], [])),
        ("Q1", 1, doc(["occ", "occL", "never"], [
            {"occ": f"{ent}Q36180", "occL": "paris"},
            {"occ": f"{ent}Q36180", "occL": "Paris."},
            {"occ": f"{ent}Q49757", "occL": "Lyon"},
            {"occL": "PARIS"},
        ])),
        ("Q1", 2, doc(["birth"], [{"birth": "1802-07-24T00:00:00Z"},
                                  {"birth": "1802-07-24"}])),
        ("Q2", 0, doc(["occ"], [])),
    ], "qid string, query_idx int, json string")
    store = {r.qid: dict(r.enrichment) for r in enrich_offline(raw).collect()}
    assert store == {"Q1": {
        "occ": ["Q36180", "Q49757"],
        "occL": ["paris", "Lyon"],
        "never": [],
        "birth": ["1802-07-24"],
    }}
