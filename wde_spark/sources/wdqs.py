"""WDQS enrichment query surface — SURVEY.md §2.3 J6, §2.4 A5, §2.5 W4.

The reference's stage `-s` issues four fixed SPARQL queries per QID
(script/sparql.py:96-364): chained OPTIONAL graph patterns (left outer
joins entity → property value → EN label), two COUNT-per-entity subqueries
(works authored, conflicts fought) and a LIMIT 1 external-identifier probe.

Here the four texts are *generated* from a declarative property-spec table
— the spec is the data model, the renderer is ~40 lines — and proven
token-identical to the reference's strings by a differential test that
captures what `config_sparql` would send (tests/test_wdqs_queries.py).

Two reference quirks are reproduced deliberately (they change WDQS results,
so byte-level fidelity of the *query* is part of behavioral parity):
  - `burialplace` is probed with `wdt:119` — the reference omits the `P`
    (sparql.py:112), so the triple never matches and burialplace is always
    empty;
  - `deathplace` is probed with `wdt:P570` (the death *date* property,
    sparql.py:104) instead of P20.

Live execution: `fetch_enrichment` fans the (qid × 4 queries) grid over
`n_workers` partitions via mapPartitions (S9 client, one session + delay
per partition), yielding raw SPARQL-JSON rows that feed the declarative
`plans.enrich.enrich_offline` normalization — the network is the only
non-DataFrame step.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row
from pyspark.sql import types as T

from .http import FetchFn

# block kinds: labeled = value + EN rdfs:label; labeled_inv = inverse
# property path; plain = value only; count/count_inv = COUNT subquery.
_Q1 = [
    ("labeled_inv", "instance", "P31", None),
    ("labeled", "gender", "P21", None),
    ("labeled", "citizenship", "P27", None),
    ("labeled", "lang", "P103", None),
    ("labeled", "deathmanner", "P1196", None),
    ("labeled", "birthplace", "P19", None),
    ("labeled", "deathplace", "P570", None),  # ref bug: death DATE property
    ("labeled", "residplace", "P551", None),
    ("labeled", "burialplace", "119", None),  # ref bug: missing 'P'
]
_Q2 = [
    ("labeled", "educ", "P69", None),
    ("labeled", "religion", "P140", None),
    ("labeled", "occupation", "P106", None),
    ("labeled", "award", "P166", None),
    ("labeled", "position", "P39", None),
    ("labeled", "member", "P463", None),
    ("labeled", "nobility", "P97", None),
    ("plain", "birth", "P569", None),
    ("plain", "death", "P570", None),
    ("plain", "img", "P18", None),
    ("plain", "signature", "P109", None),
    ("count_inv", "work", "P50", "number of notable works"),
    ("count", "conflict", "P607", "number of conflicts participated in"),
]
_Q3 = [
    ("plain", "title", "P1476", None),
    ("plain", "inception", "P571", None),
    ("labeled", "author", "P50", None),
    ("labeled", "pub", "P123", None),
    ("labeled", "pubplace", "P291", None),
    ("plain", "pubdate", "P577", None),
    ("labeled", "creator", "P170", None),
    ("labeled", "material", "P186", None),
    ("plain", "height", "P2048", None),
    ("labeled", "genre", "P136", None),
    ("labeled", "movement", "P135", None),
    ("labeled", "creaplace", "P1071", None),
]
_Q4 = [
    ("plain", "viafID", "P214", None),
    ("plain", "bnfID", "P268", None),
    ("plain", "isniID", "P213", None),
    ("plain", "congressID", "P244", None),
    ("plain", "idrefID", "P269", None),
]

# SELECT lists are ordered independently of the WHERE blocks in the
# reference (query2 lists the counts before the plain vars).
_SELECT = {
    1: [v for _, v, _, _ in _Q1 for v in (v, f"{v}L")],
    2: ([v for k, v, _, _ in _Q2 if k == "labeled" for v in (v, f"{v}L")]
        + ["workcount", "conflictcount", "img", "signature", "birth", "death"]),
    3: [v if k == "plain" else vv
        for k, v, _, _ in _Q3
        for vv in ((v,) if k == "plain" else (v, f"{v}L"))],
    4: [v for _, v, _, _ in _Q4],
}

_PREFIXES = (
    "PREFIX wd: <http://www.wikidata.org/entity/>\n"
    "PREFIX wdt: <http://www.wikidata.org/prop/direct/>\n"
)
_RDFS = "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>\n"


def _block(kind: str, var: str, prop: str, comment: str | None) -> str:
    if kind == "plain":
        return f"OPTIONAL {{?id wdt:{prop} ?{var} .}}"
    if kind in ("labeled", "labeled_inv"):
        triple = (f"?{var} ^wdt:{prop} ?id ." if kind == "labeled_inv"
                  else f"?id wdt:{prop} ?{var} .")
        return (f"OPTIONAL {{\n  {triple}\n"
                f"  ?{var} rdfs:label ?{var}L .\n"
                f"  FILTER (langMatches(lang(?{var}L), \"EN\"))\n}}")
    # COUNT-per-entity subquery (A5): a GROUP BY ?id hash aggregation
    # pushed to the remote graph store.
    triple = (f"?{var} wdt:{prop} ?id." if kind == "count_inv"
              else f"?id wdt:{prop} ?{var}.")
    return (f"OPTIONAL {{\n"
            f"  SELECT ?id (COUNT(?{var}) AS ?{var}count)  # {comment}\n"
            f"  WHERE {{{triple}}} GROUP BY ?id\n}}")


def _render(n: int, spec: list, qid: str, limit1: bool = False) -> str:
    head = _PREFIXES + ("" if n == 4 else _RDFS)
    select = "SELECT DISTINCT " + " ".join(f"?{v}" for v in _SELECT[n])
    blocks = "\n".join(_block(*b) for b in spec)
    where = f"WHERE {{\nBIND (wd:{qid} AS ?id)\n{blocks}\n}}"
    tail = " LIMIT 1" if limit1 else ""
    return f"{head}\n{select}\n\n{where}{tail}\n"


def config_queries(qid: str) -> list[str]:
    """The four enrichment queries for one QID, in the reference's order —
    token-identical to what `config_sparql(w_id)` sends (sparql.py:167-364;
    whitespace differs, SPARQL is whitespace-insensitive)."""
    return [
        _render(1, _Q1, qid),
        _render(2, _Q2, qid),
        _render(3, _Q3, qid),
        _render(4, _Q4, qid, limit1=True),
    ]


RAW_RESULT_SCHEMA = T.StructType([
    T.StructField("qid", T.StringType()),
    T.StructField("query_idx", T.IntegerType()),
    T.StructField("json", T.StringType()),
])


def fetch_enrichment(qids: DataFrame, fetch_fn: FetchFn,
                     n_workers: int = 4) -> DataFrame:
    """Fetch the 4-query grid for every distinct QID from `n_workers`
    partitions (the politeness/parallelism knob, S9). Returns raw
    (qid, query_idx, json) rows ready for `plans.enrich.enrich_offline`."""
    distinct = qids.select("qid").distinct().repartition(n_workers)

    def work(rows: Iterator[Row]) -> Iterator[Row]:
        for r in rows:
            for i, q in enumerate(config_queries(r.qid)):
                doc = fetch_fn(q)
                yield Row(qid=r.qid, query_idx=i, json=json.dumps(doc))

    return qids.sparkSession.createDataFrame(
        distinct.rdd.mapPartitions(work), RAW_RESULT_SCHEMA)


def enrich_live(qids: DataFrame, fetch_fn: FetchFn,
                done: DataFrame | None = None,
                n_workers: int = 4) -> DataFrame:
    """Full live stage `-s`: resume-filter (P1 anti-join vs the already-
    enriched store), fetch the query grid, normalize declaratively.
    Returns the (qid, enrichment map) store rows for the NEW qids."""
    from ..plans.enrich import enrich_offline

    todo = qids.select("qid").distinct()
    if done is not None:
        todo = todo.join(done.select("qid"), "qid", "left_anti")
    # materialized, so a second action on the store (a count, then a
    # write) reads the fetched documents instead of sending the queries again
    raw = fetch_enrichment(todo, fetch_fn, n_workers=n_workers) \
        .localCheckpoint(eager=True)
    return enrich_offline(raw)
