"""The shared verification primitives of the near-dup and ANN operators:
the typed empty ANN result, the exact-Jaccard step with and without
candidates, and the broadcast-model UDF factory's names and broadcasts."""

from __future__ import annotations

from pyspark.sql import types as T

from wde_spark.operators import dedup as D
from wde_spark.operators import similarity as SIM


def test_empty_ann_results_type_query_id_from_queries(spark):
    """With no trainable item vector there is no model, and the empty
    result must type query_id from `queries`, as the non-empty path does
    (it used to take the items' id type)."""
    items = spark.createDataFrame(
        [], "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id int, embedding array<float>")
    for op in (lambda: SIM.ivf_ann(items, queries, k=2, n_cells=2),
               lambda: SIM.pq_ann(items, queries, k=2, m=2, k_codes=2),
               lambda: SIM.ivfpq_ann(items, queries, k=2, n_cells=2, m=2,
                                     k_codes=2)):
        out = op()
        assert out.count() == 0
        assert out.schema["query_id"].dataType == T.IntegerType()
        assert out.schema["item_id"].dataType == T.LongType()
        assert out.columns == ["query_id", "item_id", "cos_sim", "rnk"]


def test_jaccard_verify_with_and_without_candidates_agree(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "a b x y z"),
         (4, "q r s t u"), (5, "a b c d e"), (6, None)],
        "doc_id long, text string")
    sh = D.distinct_shingle_table(docs, shingle_k=2)
    ids = range(1, 7)
    every = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long")
    for t in (0.0, 0.2):
        free = sorted(D._jaccard_verify(sh, t).collect())
        cand = sorted(D._jaccard_verify(sh, t, every).collect())
        assert free == cand
    got = {(r.id_a, r.id_b): r.jaccard for r in free}
    # shingles {ab, bc, cd, de} vs {ab, bc, cd, df}: 3 shared of 5
    assert got[(1, 2)] == 0.6 and got[(1, 5)] == 1.0
    assert (1, 3) not in got  # 1 shared of 7: below 0.2


def test_model_udfs_keep_kernel_names_and_share_broadcasts(spark):
    planes = SIM.hyperplanes(4, 4)
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    books = [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 0.0], [0.0, 1.0]]]
    udfs = {
        "bucket": SIM._lsh_bucket_udf(spark, planes),
        "sigs": SIM._lsh_multi_sig_udf(spark, planes, 2, 2),
        "probe": SIM._probe_cells_udf(spark, cents, nprobe=1),
        "assign": SIM._pq_assign_udf(spark, books),
    }
    for name, udf in udfs.items():
        assert udf.__name__ == name
        assert udf.bc is not None
    shared = SIM._probe_cells_udf(spark, cents, nprobe=2,
                                  bc=udfs["probe"].bc)
    assert shared.bc is udfs["probe"].bc
    v = spark.createDataFrame(
        [(1, [0.9, 0.1, 0.0, 0.0]), (2, None), (3, [1.0, 0.0]),
         (4, [float("nan"), 0.0, 0.0, 0.0])],
        "id int, v array<double>")
    got = {r.id: r for r in v.select(
        "id", *[udfs[n](v.v).alias(n) for n in udfs],
        shared(v.v).alias("shared")).collect()}
    assert list(got[1].probe) == [0] and list(got[1].shared) == [0, 1]
    assert list(got[1].assign) == [0, 0]
    assert len(got[1].bucket) == 4 and len(got[1].sigs) == 2
    for i in (2, 3, 4):  # NULL, mis-sized and non-finite rows NULL-route
        assert all(got[i][n] is None for n in (*udfs, "shared"))
