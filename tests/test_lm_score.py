"""Corpus-trained bigram-LM quality scoring (`operators/lm_score.py`) —
hand-computed smoothing values, the full back-off ladder, short-doc NULL
routing, CCNet-style banding, and a fluency sanity check on the real
documents table. Tests-first: the module is built for next-round registry
registration (fully relational, ANSI-replayable)."""

from __future__ import annotations

import math

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from wde_spark.operators import lm_score as LM

CORPUS = [(1, "a b a b"), (2, "a b"), (3, "z q")]
SCHEMA = "doc_id long, text string"


@pytest.fixture(scope="module")
def lm(spark):
    return LM.train_bigram_lm(
        spark.createDataFrame(CORPUS, SCHEMA)).cache()


def test_trained_logp_values_exact(spark, lm):
    """c12: (a,b)=3, (b,a)=1, (z,q)=1; c1: a=3, b=1, z=1; V=4; k=0.5 →
    logP(b|a)=ln(3.5/5.5), logP(a|b)=ln(1.5/3.5), floor(a)=ln(0.5/5.5)."""
    seen = {(r.w1, r.w2): r.logp
            for r in lm.filter(F.col("w2").isNotNull()).collect()}
    floor = {r.w1: r.logp for r in lm.filter(F.col("w2").isNull()).collect()}
    assert set(seen) == {("a", "b"), ("b", "a"), ("z", "q")}
    assert seen[("a", "b")] == pytest.approx(math.log(3.5 / 5.5), abs=1e-12)
    assert seen[("b", "a")] == pytest.approx(math.log(1.5 / 3.5), abs=1e-12)
    assert seen[("z", "q")] == pytest.approx(math.log(1.5 / 3.5), abs=1e-12)
    assert floor["a"] == pytest.approx(math.log(0.5 / 5.5), abs=1e-12)
    assert floor["b"] == pytest.approx(math.log(0.5 / 3.5), abs=1e-12)


def test_scoring_backoff_ladder(spark, lm):
    """Observed bigram → trained logp; unseen bigram in a seen context →
    that context's smoothed floor; unseen context → uniform -ln(V+1);
    <2-token docs → NULL score with n_bigrams=0."""
    docs = spark.createDataFrame(
        [(10, "a b a b"),   # all observed
         (11, "a q"),       # unseen bigram, seen context 'a'
         (12, "m n"),       # unseen context entirely
         (13, "solo"),      # 1 token: no bigrams
         (14, "")],         # empty
        SCHEMA)
    got = {r.doc_id: (r.n_bigrams, r.avg_logp)
           for r in LM.lm_quality(docs, lm).collect()}
    exp_10 = (2 * math.log(3.5 / 5.5) + math.log(1.5 / 3.5)) / 3
    assert got[10][0] == 3
    assert got[10][1] == pytest.approx(round(exp_10, 6), abs=1e-6)
    assert got[11][1] == pytest.approx(round(math.log(0.5 / 5.5), 6), abs=1e-6)
    assert got[12][1] == pytest.approx(round(-math.log(5), 6), abs=1e-6)
    assert got[13] == (0, None)
    assert got[14] == (0, None)


def test_quality_bands_head_tail(spark, lm):
    docs = spark.createDataFrame(
        [(10, "a b a b"), (11, "a q"), (12, "m n"), (13, "x")], SCHEMA)
    scores = LM.lm_quality(docs, lm)
    bands = {r.doc_id: r.band
             for r in LM.lm_quality_bands(scores).collect()}
    # most fluent = band 1; least = band 3 (doc 11's context-'a' floor
    # ln(0.5/5.5) ≈ -2.40 sits BELOW doc 12's uniform unseen-context
    # floor -ln(5) ≈ -1.61 — a context with much observed mass leaves
    # less smoothed probability for an unseen continuation); unscorable
    # short docs get band NULL
    assert bands[10] == 1 and bands[12] == 2 and bands[11] == 3
    assert bands[13] is None


def test_real_corpus_ranks_gibberish_low(spark):
    """Train on the documents table; a gibberish doc must score below the
    corpus median — the CCNet quality-cut property the operator exists
    for."""
    from wde_spark.core.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    lm = LM.train_bigram_lm(docs)
    probe = docs.unionByName(spark.createDataFrame(
        [(10_000_000, "zq qx vv kjw qqq zx mth wqp zzz xq plv mm")], SCHEMA))
    scores = LM.lm_quality(probe, lm).cache()
    gib = scores.filter(F.col("doc_id") == 10_000_000).first().avg_logp
    med = scores.filter(F.col("doc_id") != 10_000_000) \
        .agg(F.expr("percentile_approx(avg_logp, 0.5)")).first()[0]
    assert gib is not None and med is not None and gib < med
