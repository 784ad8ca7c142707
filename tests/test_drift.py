"""Corpus drift monitoring (`operators/drift.py`): hand-computed JSD and
the identical/disjoint bounds. The ledger composition is the drift
maintainer's (`tests/test_incremental_dedup.py`)."""

from __future__ import annotations

import math

import pytest

from wde_spark.operators import drift as DR

SCHEMA = "doc_id long, text string"


def test_identical_distributions_zero(spark):
    docs = spark.createDataFrame([(1, "a b c a"), (2, "b c")], SCHEMA)
    d = DR.term_distribution(docs)
    row = DR.corpus_divergence(d, d).first()
    assert row.jsd == 0.0 and row.l1 == 0.0
    assert row.n_terms_a == row.n_terms_b == row.n_terms_common == 3


def test_disjoint_supports_hit_ln2(spark):
    a = DR.term_distribution(spark.createDataFrame([(1, "a b")], SCHEMA))
    b = DR.term_distribution(spark.createDataFrame([(1, "x y")], SCHEMA))
    row = DR.corpus_divergence(a, b).first()
    assert row.jsd == pytest.approx(round(math.log(2), 6), abs=1e-6)
    assert row.l1 == pytest.approx(2.0, abs=1e-9)
    assert row.n_terms_common == 0


def test_jsd_hand_computed(spark):
    """P = {a:1/2, b:1/2}, Q = {a:1/4, b:3/4}: JSD = 1/2 KL(P||M) +
    1/2 KL(Q||M) with M = {a:3/8, b:5/8} — computed by hand below."""
    a = DR.term_distribution(spark.createDataFrame([(1, "a b")], SCHEMA))
    b = DR.term_distribution(
        spark.createDataFrame([(1, "a b b b")], SCHEMA))
    row = DR.corpus_divergence(a, b).first()
    m_a, m_b = 3 / 8, 5 / 8
    kl_p = 0.5 * math.log(0.5 / m_a) + 0.5 * math.log(0.5 / m_b)
    kl_q = 0.25 * math.log(0.25 / m_a) + 0.75 * math.log(0.75 / m_b)
    assert row.jsd == pytest.approx(round((kl_p + kl_q) / 2, 6), abs=1e-6)
    assert row.l1 == pytest.approx(0.5, abs=1e-9)

