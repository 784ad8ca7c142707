"""End-to-end offline stage `-i`: golden 200-row set × the reference's real
65k-entry query cache, fully inside Spark. Also exercises the TEI source +
nametable plan against the reference's own csvbuilder logic.
"""

from __future__ import annotations

import csv
import os

import pytest

REF = "/root/reference"
GOLDEN_WITHID = os.path.join(REF, "script", "tables", "nametable_test_withid.tsv")
CACHE_GLOB = os.path.join(REF, "script", "logs", "idqueried_*.json")
CATS = os.path.join(REF, "Catalogues", "1-100")

pytestmark = pytest.mark.skipif(
    not os.path.isfile(GOLDEN_WITHID), reason="reference tree not available")


@pytest.fixture(scope="module")
def golden_df(spark):
    rows = []
    with open(GOLDEN_WITHID, encoding="utf-8") as f:
        for i, r in enumerate(csv.reader(f, delimiter="\t", quotechar='"')):
            rows.append(("TEST", 0, i, r[0], r[1], r[2], r[3]))
    return spark.createDataFrame(
        rows,
        "catalogue_id string, item_pos int, row_pos int, xml_id string,"
        "truth_id string, name string, trait string",
    )


@pytest.fixture(scope="module")
def cache_df(spark):
    from wde_spark.sources.cache import read_query_cache

    df = read_query_cache(spark, CACHE_GLOB).cache()
    assert df.count() > 60_000
    return df


def test_resolve_offline_golden(spark, golden_df, cache_df):
    """Pipeline result must equal the reference algorithm run in-process
    (same cache, same ladder) on every one of the 200 golden rows."""
    from wde_spark.functions.classify import ladder_candidates, prep_query
    from wde_spark.plans.resolve import resolve_offline

    resolved = resolve_offline(golden_df, cache_df).orderBy("row_pos")
    got = [(r.wd_id, r.wd_certitude) for r in resolved.collect()]

    # independent, non-Spark replay of the reference semantics
    cache = {r.qstr: (r.qid, r.cert) for r in cache_df.collect()}
    expected = []
    prev = None
    rows = [(r.name, r.trait) for r in golden_df.orderBy("row_pos")
            .select("name", "trait").collect()]
    for name, trait in rows:
        q = prep_query(name or "", trait or "")
        if q is None:
            q = prev
        prev = q
        hit = ("", False)
        for cand in (ladder_candidates(q) if q is not None else []):
            if cand in cache and cache[cand][0] != "":
                hit = cache[cand]
                break
        expected.append(hit)
    assert len(got) == 200
    mismatches = [
        (i, rows[i][0], e, g) for i, (e, g) in enumerate(zip(expected, got))
        if e != g
    ]
    assert not mismatches, f"{len(mismatches)} mismatches; first: {mismatches[0]}"
    n_found = sum(1 for g, _ in got if g != "")
    assert n_found > 100  # the cache covers the golden set well


def test_quality_metrics_vs_published(spark, golden_df, cache_df):
    """Offline replay against the published numbers
    (out/wikidata/itemtoid_test_out.json): the shipped cache was built by
    the very runs that produced them, so offline metrics should land close.
    Wide tolerance — the cache postdates some API drift."""
    from wde_spark.plans.metrics import quality_metrics
    from wde_spark.plans.resolve import resolve_offline

    resolved = resolve_offline(golden_df, cache_df)
    scored = resolved.join(golden_df.select("row_pos", "truth_id"), "row_pos")
    m = quality_metrics(scored).collect()[0]
    assert m.total == 200
    assert 0.4 <= m.success <= 0.9, m
    assert 0.4 <= m.f1_result <= 0.9, m


def test_computed_certitude_agrees_with_cached(spark, golden_df, cache_df):
    """Q3 rescoring vs the certitude the reference recorded at fetch time.
    Not exact by construction: a cache entry's recorded certitude belongs
    to whichever qdict FIRST issued that query string; rows sharing a
    string can legitimately score differently. Expect high agreement."""
    from wde_spark.plans.resolve import resolve_offline

    cached = resolve_offline(golden_df, cache_df, certitude_source="cache")
    computed = resolve_offline(golden_df, cache_df, certitude_source="computed")
    a = {r.row_pos: (r.wd_id, r.wd_certitude) for r in cached.collect()}
    b = {r.row_pos: (r.wd_id, r.wd_certitude) for r in computed.collect()}
    assert {k: v[0] for k, v in a.items()} == {k: v[0] for k, v in b.items()}
    hits = [k for k, v in a.items() if v[0] != ""]
    agree = sum(1 for k in hits if a[k][1] == b[k][1])
    assert agree / len(hits) >= 0.85, f"{agree}/{len(hits)}"


def test_nametable_vs_reference_csvbuilder(spark):
    """TEI scan + 5-case nametable plan vs the reference's csvbuilder run
    in-process over the first catalogue batch (409 files is slow in
    ElementTree×2; 100 files is plenty of case coverage)."""
    import sys
    import types

    for name in ("requests", "tqdm"):
        sys.modules.setdefault(name, types.ModuleType(name))

    from wde_spark.plans.nametable import nametable_rows
    from wde_spark.sources.tei import parse_items

    # reference logic, reimplemented inline from nametable.py:44-109 via the
    # real lxml-free parse (the reference's own module needs lxml):
    import glob
    import re

    def ref_rows(path):
        out = []
        with open(path, "rb") as f:
            items = list(parse_items(f.read(), path))
        for it in items:
            name, trait = it.names, it.traits
            xmlid = it.xml_id
            nrm = lambda s: re.sub(r"\s+", " ", s.replace("\n", ""))
            if len(trait) == 0:
                if len(name) == 1:
                    out.append((xmlid, nrm(name[0]), ""))
                else:
                    out.append((xmlid, "; ".join(nrm(n) for n in name), ""))
            elif len(trait) != len(name) and len(trait) > 1:
                out.append((xmlid, "; ".join(nrm(n) for n in name),
                            "; ".join(nrm(t) for t in trait)))
            elif len(trait) != len(name) and len(trait) == 1:
                for i, n_ in enumerate(name):
                    out.append((xmlid, n_, trait[0] if i == 0 else ""))
            elif len(trait) == len(name) and len(name) > 1:
                for n_, t_ in zip(name, trait):
                    out.append((xmlid, nrm(n_), nrm(t_)))
            else:
                out.append((xmlid, nrm(name[0]), nrm(trait[0])))
        return out

    files = sorted(glob.glob(os.path.join(CATS, "CAT_*.xml")))
    expected = []
    for p in files:
        expected.extend(ref_rows(p))

    from wde_spark.sources.tei import read_tei_items

    items = read_tei_items(spark, os.path.join(CATS, "*.xml"))
    got = [
        (r.xml_id, r.name, r.trait)
        for r in nametable_rows(items)
        .orderBy("catalogue_id", "item_pos", "row_pos").collect()
    ]
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert g == e, (g, e)
