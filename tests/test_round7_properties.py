"""Property tests for the round-7 operators: invariants that must hold on
ANY corpus (seeded-random inputs), complementing the oracle hash checks
(exact on the shipped corpus) and the numpy differentials."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from conftest import SF_CORRECT


def test_substr_leakage_matrix_invariants(spark):
    """On a random corpus: n_inter <= min(n_a, n_b), containments and
    jaccard in [0,1], jaccard <= both containments, exactly L*(L-1)/2
    rows, and a slice that is a verbatim copy of another has containment
    1.0 in both directions."""
    from wde_spark.operators.dedup import substr_leakage_matrix

    rng = np.random.default_rng(7)
    words = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(60):
        grp = f"s{i % 3}"
        text = " ".join(rng.choice(words, size=30))
        rows.append((i, grp, text))
    # slice s3 = verbatim copy of s0's docs (ids shifted)
    rows += [(1000 + i, "s3", t) for (i, g, t) in rows if g == "s0"]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    out = substr_leakage_matrix(docs, k=8).collect()
    assert len(out) == 4 * 3 // 2
    for r in out:
        assert 0 <= r.n_inter <= min(r.n_a, r.n_b)
        assert 0.0 <= r.jaccard <= 1.0
        assert 0.0 <= r.contain_a_in_b <= 1.0
        assert 0.0 <= r.contain_b_in_a <= 1.0
        assert r.jaccard <= min(r.contain_a_in_b, r.contain_b_in_a) + 1e-9
    copy_row = next(r for r in out
                    if {r.grp_a, r.grp_b} == {"s0", "s3"})
    assert copy_row.contain_a_in_b == 1.0
    assert copy_row.contain_b_in_a == 1.0
    assert copy_row.jaccard == 1.0


def test_knn_label_propagation_invariants(spark):
    """Every unlabeled vector gets exactly ONE prediction with
    1 <= votes <= k, the prediction agrees with a numpy brute-force
    replay (same rounding and tie-breaks), and a seed whose labels are
    all identical propagates that label to everyone."""
    from wde_spark.operators.similarity import knn_label_propagation

    rng = np.random.default_rng(11)
    X = rng.normal(size=(80, 8)).astype(np.float32)
    labels = (np.arange(80) % 4).astype(int)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]], int(labels[i]))
         for i in range(80)],
        "vec_id long, embedding array<float>, label int")
    seed = emb.filter(F.col("vec_id") % 5 == 0)
    rest = emb.filter(F.col("vec_id") % 5 != 0)
    k = 5
    got = {r.vec_id: r for r in
           knn_label_propagation(seed, rest, k=k, dim=8).collect()}
    assert set(got) == {i for i in range(80) if i % 5 != 0}
    for r in got.values():
        assert 1 <= r.votes <= k

    # numpy replay with the operator's exact rounding + tie-breaks
    seed_ids = [i for i in range(80) if i % 5 == 0]
    Xd = X.astype(np.float64)
    norms = np.sqrt((Xd * Xd).sum(axis=1))
    for qid in list(got)[:20]:
        sims = [(round(float(Xd[qid] @ Xd[s])
                       / float(norms[qid] * norms[s]), 6), s)
                for s in seed_ids if s != qid]
        sims.sort(key=lambda t: (-t[0], t[1]))
        top = [labels[s] for _, s in sims[:k]]
        counts = {}
        for lb in top:
            counts[lb] = counts.get(lb, 0) + 1
        want = sorted(counts.items(), key=lambda t: (-t[1], t[0]))[0]
        assert (got[qid].pred_label, got[qid].votes) == want, qid

    # degenerate seed: one label everywhere
    mono = seed.withColumn("label", F.lit(9))
    out = knn_label_propagation(mono, rest, k=k, dim=8).collect()
    assert all(r.pred_label == 9 for r in out)


def test_pca_balanced_shards_are_balanced(spark):
    """NTILE invariant: shard sizes differ by at most 1 and every vector
    is assigned exactly once."""
    from wde_spark.queries import QUERIES

    out = QUERIES["pca_balanced_shards_embeddings"](
        spark, SF_CORRECT).collect()
    sizes = {}
    seen = set()
    for r in out:
        sizes[r.shard] = sizes.get(r.shard, 0) + 1
        assert r.vec_id not in seen
        seen.add(r.vec_id)
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert set(sizes) == set(range(1, 17))


def test_doremi_query_weights_are_distribution(spark):
    from wde_spark.queries import QUERIES

    rows = QUERIES["doremi_mixture_documents"](spark, SF_CORRECT).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 2e-5
    assert abs(sum(r.baseline_share for r in rows) - 1.0) < 2e-5
    assert all(r.weight > 0 for r in rows)
