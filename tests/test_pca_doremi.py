"""Unit/differential tests for the round-7 additions: distributed PCA by
power iteration (vs an in-process numpy replay of the SAME pinned
iteration) and DoReMi-style mixture reweighting (EG-step invariants)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_CORRECT


def test_pca_scores_match_numpy_replay(spark):
    """The distributed trainer must agree with a single-node numpy replay
    of the identical algorithm (same md5 init, same 3 iterations) to
    float tolerance — the differential proof that the two-pass
    aggregation IS power iteration, independent of the SQL oracle."""
    from wde_spark.core.catalog import load_table
    from wde_spark.operators import pca as P
    from wde_spark.operators.similarity import hyperplanes

    emb = load_table(spark, SF_CORRECT, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([list(r.embedding) for r in rows], dtype=np.float64)

    v = np.array(hyperplanes(64, 1, "pca")[0])
    v = v / math.sqrt(float(v @ v))
    mu = X.mean(axis=0)
    C = X - mu
    for _ in range(3):
        w = C.T @ (C @ v)
        v = w / math.sqrt(float(w @ w))
    want = dict(zip(ids.tolist(), (C @ v).tolist()))

    mu_s, v_s = P.power_iteration_pc1(emb)
    got = {r.vec_id: r.pc1_score
           for r in P.pca_project(emb, mu_s, v_s).collect()}
    assert set(got) == set(want)
    for vid, s in got.items():
        assert abs(s - want[vid]) < 1e-5, (vid, s, want[vid])


def test_pca_empty_corpus_returns_init(spark):
    from wde_spark.operators import pca as P

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    mu, v = P.power_iteration_pc1(empty)
    assert mu == [0.0] * 64
    assert abs(sum(c * c for c in v) - 1.0) < 1e-12
    assert P.pca_project(empty, mu, v).count() == 0


def test_doremi_weights_invariants(spark):
    """EG-step invariants: weights are a distribution, a domain with
    higher clipped excess than another of equal size gets MORE than its
    baseline share, zero-excess domains get exactly share/Z' scaling
    (relative order of equal-excess domains preserved)."""
    from wde_spark.operators.dsir import doremi_weights

    ratios = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 5.0),       # domA: excess 0.5
         (3, 10, 0.0), (4, 10, -3.0),      # domB: excess 0 (clipped)
         (5, 20, 2.0)],                    # domC: excess 0.1
        "doc_id long, n_bigrams long, log_ratio double")
    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")],
        "doc_id long, source string")
    out = {r.source: r for r in
           doremi_weights(ratios, docs).collect()}
    assert set(out) == {"a", "b", "c"}
    assert abs(sum(r.weight for r in out.values()) - 1.0) < 2e-6
    # a and b have equal token mass (20 bigrams each) but a has excess
    assert out["a"].baseline_share == out["b"].baseline_share
    assert out["a"].weight > out["a"].baseline_share
    assert out["b"].weight < out["b"].baseline_share
    assert out["a"].avg_excess == pytest.approx(0.5)
    assert out["b"].avg_excess == 0.0
    assert out["c"].avg_excess == pytest.approx(0.1)


def test_doremi_skips_unscored_docs(spark):
    from wde_spark.operators.dsir import doremi_weights

    ratios = spark.createDataFrame(
        [(1, 10, 1.0), (2, 0, None)],
        "doc_id long, n_bigrams long, log_ratio double")
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, source string")
    out = doremi_weights(ratios, docs).collect()
    assert {r.source for r in out} == {"a"}
    assert out[0].weight == pytest.approx(1.0)


def test_pca2_matches_numpy_deflated_replay(spark):
    """Deflated 2-component trainer vs the numpy replay of the identical
    algorithm (same init family, 3 iterations per component, deflation
    with the FINAL first component)."""
    from wde_spark.core.catalog import load_table
    from wde_spark.operators import pca as P
    from wde_spark.operators.similarity import hyperplanes

    emb = load_table(spark, SF_CORRECT, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    X = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    C = X - X.mean(axis=0)

    inits = hyperplanes(64, 2, "pca")
    want = {}
    for j, v0 in enumerate(inits, start=1):
        v = np.array(v0)
        v = v / math.sqrt(float(v @ v))
        for _ in range(3):
            w = C.T @ (C @ v)
            v = w / math.sqrt(float(w @ w))
        t = C @ v
        want[f"pc{j}_score"] = dict(zip(ids, t.tolist()))
        C = C - np.outer(t, v)

    mu_s, comps = P.power_iteration_components(emb)
    got = P.pca_project_components(emb, mu_s, comps).collect()
    for r in got:
        for j in (1, 2):
            w = want[f"pc{j}_score"][r.vec_id]
            assert abs(r[f"pc{j}_score"] - w) < 1e-5, (r.vec_id, j)


def test_moment_merge_equals_single_pass(spark):
    """Moment state is associative: accumulating per-half and merging
    must equal numpy's single-pass moments, and the derived PC1 must
    match a numpy replay of the same covariance power iteration."""
    from wde_spark.core.catalog import load_table
    from wde_spark.operators import pca as P
    from wde_spark.operators.similarity import hyperplanes

    emb = load_table(spark, SF_CORRECT, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([list(r.embedding) for r in rows], dtype=np.float64)

    n, s, m = P.merge_moments(
        P.second_moments(emb.filter(F.col("vec_id") % 2 == 0)),
        P.second_moments(emb.filter(F.col("vec_id") % 2 != 0)))
    assert n == X.shape[0]
    np.testing.assert_allclose(np.array(s), X.sum(axis=0),
                               rtol=1e-9, atol=1e-9)
    np.testing.assert_allclose(np.array(m).reshape(64, 64), X.T @ X,
                               rtol=1e-9, atol=1e-9)

    mu, v = P.pc1_from_moments(n, s, m)
    C = (X.T @ X) / n - np.outer(X.mean(axis=0), X.mean(axis=0))
    vr = np.array(hyperplanes(64, 1, "pcacov")[0])
    vr = vr / math.sqrt(float(vr @ vr))
    for _ in range(3):
        w = C @ vr
        vr = w / math.sqrt(float(w @ w))
    np.testing.assert_allclose(np.array(v), vr, atol=1e-9)


def test_moments_empty_and_invalid_rows(spark):
    from wde_spark.operators import pca as P

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    n, s, m = P.merge_moments(P.second_moments(empty))
    assert n == 0
    mu, v = P.pc1_from_moments(n, s, m)
    assert mu == [0.0] * 64 and abs(sum(c * c for c in v) - 1.0) < 1e-12

    bad = spark.createDataFrame(
        [(1, None), (2, [1.0] * 3)], "vec_id long, embedding array<float>")
    n, _, _ = P.merge_moments(P.second_moments(bad))
    assert n == 0
