"""Naive-Bayes corpus classifier (`operators/classifier.py`) and the
cross-slice overlap matrix (`dedup.corpus_overlap`) — hand-computed
smoothed log-odds, the unseen-token algebra, argmax/margin semantics,
held-out accuracy on the real documents table, and exact Jaccard /
containment values on crafted slices."""

from __future__ import annotations

import math

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from wde_spark.operators import classifier as C
from wde_spark.operators import dedup as D

SCHEMA = "doc_id long, lang string, text string"
TRAIN = [
    (1, "en", "the cat sat"),
    (2, "en", "the dog sat"),
    (3, "fr", "le chat noir"),
]


@pytest.fixture(scope="module")
def nb(spark):
    model, priors = C.train_naive_bayes(
        spark.createDataFrame(TRAIN, SCHEMA))
    return model.cache(), priors.cache()


def test_trained_model_values_exact(nb):
    """en: c(the)=2, c(cat)=c(dog)=1, c(sat)=2, c_l=6; fr: c_l=3; V=7
    (the cat sat dog le chat noir); k=0.5 → logP(the|en)=ln(2.5/10),
    floor(en)=ln(0.5/10), floor(fr)=ln(0.5/7)."""
    model, priors = nb
    m = {(r.label, r.token): r.logp for r in model.collect()}
    assert math.isclose(m[("en", "the")], math.log(2.5 / 10.0))
    assert math.isclose(m[("en", "cat")], math.log(1.5 / 10.0))
    assert math.isclose(m[("fr", "le")], math.log(1.5 / 7.0))
    assert ("fr", "the") not in m
    p = {r.label: (r.logprior, r.lp_floor) for r in priors.collect()}
    assert math.isclose(p["en"][0], math.log(2.0 / 3.0))
    assert math.isclose(p["fr"][0], math.log(1.0 / 3.0))
    assert math.isclose(p["en"][1], math.log(0.5 / 10.0))
    assert math.isclose(p["fr"][1], math.log(0.5 / 7.0))


def test_classify_obvious_docs(spark, nb):
    model, priors = nb
    docs = spark.createDataFrame(
        [(10, None, "the cat"), (11, None, "le chat"),
         (12, None, "zz qq")], SCHEMA)
    got = {r.doc_id: r for r in
           C.nb_classify(docs, model, priors).collect()}
    assert got[10].pred_label == "en" and got[11].pred_label == "fr"
    # out-of-vocabulary doc: all-floor score; fr's smaller denominator
    # (c_l=3) gives the larger floor, prior can't overcome 2 tokens of it
    assert got[12].pred_label == "fr"
    assert all(got[i].margin >= 0 for i in got)


def test_unseen_algebra_matches_direct_sum(spark, nb):
    """score = prior + Σ seen + (n−n_seen)·floor must equal the direct
    per-token sum with floor fallback — hand-check doc 'the zz'."""
    model, priors = nb
    docs = spark.createDataFrame([(20, None, "the zz")], SCHEMA)
    row = [r for r in C.nb_classify(docs, model, priors).collect()][0]
    en = (math.log(2 / 3) + math.log(2.5 / 10) + math.log(0.5 / 10))
    fr = (math.log(1 / 3) + 2 * math.log(0.5 / 7))
    want = max(en, fr)
    assert math.isclose(row.score, round(want, 6), abs_tol=1e-6)
    assert math.isclose(row.margin, round(abs(en - fr), 6), abs_tol=1e-6)


def test_empty_doc_scores_prior_only(spark, nb):
    model, priors = nb
    docs = spark.createDataFrame([(30, None, "")], SCHEMA)
    row = C.nb_classify(docs, model, priors).collect()[0]
    # split("") -> [""] which is filtered: n_tok=0 → score = prior
    assert row.pred_label == "en"
    assert math.isclose(row.score, round(math.log(2 / 3), 6), abs_tol=1e-6)


def test_heldout_accuracy_on_real_corpus(spark):
    """Train on even doc_ids of the real documents table, measure
    held-out accuracy on odd ids. The synthetic corpus draws every
    language from ONE shared vocabulary (only the draw frequencies
    differ), so the ceiling is low by construction — the gate is
    above-chance (1/5 = 0.2; measured 0.33–0.37 across sf), which proves
    the end-to-end composition extracts the real frequency signal, plus
    structural invariants: every doc classified exactly once, labels
    from the training set, margins non-negative."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    test = docs.filter(F.col("doc_id") % 2 == 1)
    model, priors = C.train_naive_bayes(docs.filter(F.col("doc_id") % 2 == 0))
    preds = C.nb_classify(test, model, priors).cache()
    acc = C.nb_accuracy(preds, docs).collect()[0]
    assert acc.n_docs == test.count() == preds.count()
    assert acc.accuracy > 0.25
    labels = {r.label for r in priors.select("label").collect()}
    rows = preds.collect()
    assert all(r.pred_label in labels and r.margin >= 0 for r in rows)


# ---------------------------------------------------------------------------
# corpus_overlap
# ---------------------------------------------------------------------------


def test_overlap_exact_values(spark):
    """Slices: A = two docs sharing nothing, B = copy of one A doc plus
    fresh text, C = disjoint. 3-token shingles, hand-counted."""
    rows = [
        (1, "A", "a b c d"),        # shingles {a b c, b c d}
        (2, "A", "p q r"),          # {p q r}
        (3, "B", "a b c d"),        # {a b c, b c d}
        (4, "B", "x y z w"),        # {x y z, y z w}
        (5, "C", "m n o"),          # {m n o}
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {(r.grp_a, r.grp_b): r
           for r in D.corpus_overlap(docs).collect()}
    ab = got[("A", "B")]
    assert (ab.n_a, ab.n_b, ab.n_inter) == (3, 4, 2)
    assert math.isclose(ab.jaccard, round(2 / 5, 6))
    assert math.isclose(ab.contain_a_in_b, round(2 / 3, 6))
    assert math.isclose(ab.contain_b_in_a, round(2 / 4, 6))
    ac = got[("A", "C")]
    assert ac.n_inter == 0 and ac.jaccard == 0.0
    assert len(got) == 3  # all pairs present, disjoint ones included


def test_overlap_short_docs_use_whole_text_shingle(spark):
    rows = [(1, "A", "hi there"), (2, "B", "hi there")]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    r = D.corpus_overlap(docs).collect()[0]
    assert (r.n_a, r.n_b, r.n_inter, r.jaccard) == (1, 1, 1, 1.0)


# ---------------------------------------------------------------------------
# dedup_weights (soft dedup)
# ---------------------------------------------------------------------------


def test_dedup_weights_clusters_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    got = {r.doc_id: (r.component, r.cluster_size, r.weight)
           for r in D.dedup_weights(docs, edges).collect()}
    assert got[1] == (1, 3, round(1 / 3, 6))
    assert got[2] == (1, 3, round(1 / 3, 6))
    assert got[3] == (1, 3, round(1 / 3, 6))
    assert got[4] == (4, 2, 0.5)
    assert got[5] == (4, 2, 0.5)
    assert got[6] == (6, 1, 1.0)   # edge-free doc: own cluster, weight 1
    # weights over a cluster sum to ~1 -> corpus mass preserved per class
    assert abs(sum(w for _, _, w in got.values()) - 3.0) < 1e-5


# ---------------------------------------------------------------------------
# bloom semi-join
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_prunes(spark):
    """Pre-filter must pass EVERY true match (else the semi-join would
    lose rows) while pruning most non-matches even at a small m."""
    from wde_spark.operators import bloom as B

    big = spark.range(0, 5000).select(F.col("id").alias("k"))
    small = spark.range(0, 5000, 50).select(F.col("id").alias("k"))  # 100 keys
    bits = B.bloom_build(small, "k", m=4096)
    cand = B.bloom_prefilter(big, bits, "k", m=4096)
    n_cand = cand.count()
    truth = {r.k for r in big.join(small, "k", "left_semi").collect()}
    got_cand = {r.k for r in cand.collect()}
    assert truth <= got_cand            # no false negatives, ever
    assert n_cand < 1000                # pruned >80% of the big side
    exact = {r.k for r in
             B.bloom_semi_join(big, small, "k", m=4096).collect()}
    assert exact == truth               # end result == plain semi-join


def test_bloom_empty_small_side(spark):
    from wde_spark.operators import bloom as B

    big = spark.range(100).select(F.col("id").alias("k"))
    small = big.filter(F.col("k") < 0)
    assert B.bloom_semi_join(big, small, "k").count() == 0
