"""The paper's stages `-n`, `-i`, `-s` and `-w` against their plain-Python
oracles (`perfbench/checks.py`), on a seeded 3-catalogue corpus written by
`perfbench.corpus.write_corpus`: TEI in the `Catalogues/<batch>/` layout,
a recorded query cache and recorded SPARQL-JSON documents. Needs no
reference tree. The benchmark modules are imported, never changed."""

from __future__ import annotations

import os

import pytest

from perfbench import checks
from perfbench.corpus import write_corpus

SEED = 5
KEY = ["catalogue_id", "item_pos", "row_pos"]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("corpus"))
    manifest = write_corpus(root, SEED, 3, with_cache=True)
    assert manifest["catalogues"] == 3 and manifest["cache_entries"] > 0
    return {
        "cats": os.path.join(root, "Catalogues", "*", "CAT_*_tagged.xml"),
        "cache": os.path.join(root, "script", "logs", "idqueried_*.json"),
        "docs": os.path.join(root, "sparql", "docs_*.jsonl"),
    }


@pytest.fixture(scope="module")
def stages(spark, corpus):
    """The nametable, the query cache and the offline resolution, cached
    for the module; and the serial `-i` oracle over the oracle nametable."""
    from wde_spark.plans.nametable import nametable_rows
    from wde_spark.plans.resolve import resolve_offline
    from wde_spark.sources.cache import read_query_cache
    from wde_spark.sources.tei import read_tei_items

    nt = nametable_rows(read_tei_items(spark, corpus["cats"])).cache()
    cache = read_query_cache(spark, corpus["cache"]).cache()
    resolved = resolve_offline(nt, cache).cache()
    rows = checks.nametable(corpus["cats"])
    serial = checks.serial_classify(rows, checks.read_cache_files(corpus["cache"]))
    yield {"nt": nt, "cache": cache, "resolved": resolved, "rows": rows,
           "expected": serial["expected"]}
    for df in (nt, cache, resolved):
        df.unpersist()


def _by_key(df, *cols) -> dict:
    return {tuple(r[:3]): tuple(r[3:])
            for r in df.select(*KEY, *cols).collect()}


def test_nametable_matches_oracle(stages):
    got = [tuple(r) for r in stages["nt"].select(
        *KEY, "xml_id", "name", "trait").orderBy(*KEY).collect()]
    assert got == stages["rows"]
    assert any(r[4].lower().startswith(("le même", "la même"))
               for r in stages["rows"]), "the corpus must carry `le même` rows"


def test_resolve_offline_matches_serial_classify(stages):
    """wd_id and the recorded certitude of `resolve_offline`, and the
    computed certitude of its `computed` mode, equal the serial loop's."""
    from wde_spark.plans.resolve import resolve_offline

    want = stages["expected"]
    got = _by_key(stages["resolved"], "wd_id", "wd_certitude")
    assert got == {k: v[:2] for k, v in want.items()}
    computed = _by_key(resolve_offline(
        stages["nt"], stages["cache"], certitude_source="computed"),
        "wd_id", "wd_certitude")
    assert computed == {k: (v[0], v[2]) for k, v in want.items()}
    hits = [v for v in want.values() if v[0]]
    assert hits and len(hits) < len(want)
    assert any(v[1] != v[2] for v in hits), \
        "recorded and computed certitude must differ somewhere"


def test_enrich_offline_matches_result_tojson(spark, corpus, stages):
    import json

    from pyspark.sql import functions as F

    from wde_spark.plans.enrich import enrich_offline
    from wde_spark.plans.resolve import build_idset
    from wde_spark.sources.wdqs import RAW_RESULT_SCHEMA

    idset = build_idset(stages["resolved"])
    qids = {r.qid for r in idset.collect()}
    raw = (spark.read.schema(RAW_RESULT_SCHEMA).json(corpus["docs"])
           .join(idset, "qid", "left_semi"))
    got = {r.qid: json.loads(r.j) for r in enrich_offline(raw).select(
        "qid", F.to_json("enrichment").alias("j")).collect()}
    want, n_docs, bound = checks.enrichments(
        checks.recorded_docs(corpus["docs"], qids))
    assert got == want
    assert n_docs == 4 * len(qids)
    kept = sum(len(v) for e in want.values() for v in e.values())
    assert 0 < kept < bound
    assert any(v == [] for e in want.values() for v in e.values())


def test_reinject_matches_mapper(spark, corpus, stages, tmp_path):
    from wde_spark.plans.reinject import reinject

    resolved = stages["resolved"].select(*KEY, "tei_name", "wd_id")
    out = str(tmp_path / "catalogues_wd")
    assert reinject(spark, resolved, corpus["cats"], out) == 3
    bad, refs = checks.reinject_mismatches(
        corpus["cats"], [tuple(r) for r in resolved.collect()], out)
    assert bad == [] and refs > 0


def test_resolve_live_matches_offline_computed(spark, stages):
    """resolve_live from an empty cache, replaying the recorded cache,
    equals resolve_offline over that cache with computed certitude."""
    from wde_spark.plans.resolve import resolve_offline
    from wde_spark.sources.cache import CACHE_SCHEMA
    from wde_spark.sources.http import offline_fetcher, resolve_live

    cache = stages["cache"]
    table = {r.qstr: (r.qid, r.title, r.snippet) for r in cache.collect()}
    empty = spark.createDataFrame([], CACHE_SCHEMA)
    live, _ = resolve_live(stages["nt"], empty, offline_fetcher(table))
    cols = ["tei_xml_id", "wd_id", "wd_name", "wd_snippet", "wd_certitude"]
    assert _by_key(live, *cols) == _by_key(resolve_offline(
        stages["nt"], cache, certitude_source="computed"), *cols)
