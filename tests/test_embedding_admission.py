"""Streaming PQ-index maintenance (`streaming/embedding_admission.py`):
the maintained codes table must be bit-identical to a one-shot batch
encode of every vector (frozen codebook ⇒ order- and batching-invariant),
ADC queries against it must equal the batch ADC path, and replay must
write nothing new.
"""

from __future__ import annotations

import os


from wde_spark.operators import similarity as SIM
from wde_spark.streaming.embedding_admission import (
    ann_query, read_codes, streaming_pq_index_maintain)

SCHEMA = "vec_id long, embedding array<float>"


def _vecs(ids):
    # deterministic synthetic vectors, 8-dim, full rank-ish spread
    return [(i, [float((i * 7 + j * 3) % 13) - 6.0 for j in range(8)])
            for i in ids]


def test_streaming_pq_index_matches_batch_encode(spark, tmp_path):
    init = spark.createDataFrame(_vecs(range(40)), SCHEMA)
    b0, b1 = _vecs(range(100, 110)), _vecs(range(200, 212))
    src = tmp_path / "vecs"
    for i, rows in enumerate((b0, b1)):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / f"f{i}.parquet"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    target, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    streaming_pq_index_maintain(stream, init, target, ckpt,
                                m=4, k_codes=8)

    # maintained codes == one-shot encode of everything with the SAME books
    from wde_spark.streaming.embedding_admission import read_codebooks
    books = read_codebooks(target)
    everything = spark.createDataFrame(
        _vecs(range(40)) + b0 + b1, SCHEMA)
    batch_codes = SIM.pq_encode(everything, books)
    got = read_codes(spark, target)
    sym = got.exceptAll(batch_codes).unionAll(batch_codes.exceptAll(got))
    assert sym.count() == 0
    assert got.count() == 62

    # ADC query path: maintained index == batch ADC over the same codes
    q = spark.createDataFrame(_vecs([0, 5]), SCHEMA)
    from_index = {(r.query_id, r.item_id, r.approx_sim, r.rnk)
                  for r in ann_query(spark, target, q, k=3).collect()}
    from_batch = {(r.query_id, r.item_id, r.approx_sim, r.rnk)
                  for r in SIM.pq_adc_topk(batch_codes, q, books, k=3).collect()}
    assert from_index == from_batch and len(from_index) == 6

    # replay: same ledger, same content
    versions = sorted(os.listdir(target))
    streaming_pq_index_maintain(stream, init, target, ckpt, m=4, k_codes=8)
    assert sorted(os.listdir(target)) == versions
    got2 = read_codes(spark, target)
    assert got2.exceptAll(got).unionAll(got.exceptAll(got2)).count() == 0


def test_pq_adc_topk_agrees_with_pq_ann_candidates(spark):
    """The ADC-only ranking must agree with pq_ann's candidate ordering:
    pq_ann with refine=1 returns the exact-rescored top-k of the ADC
    top-k, so the ITEM SETS coincide for k'=k (same codes, same LUTs)."""
    items = spark.createDataFrame(_vecs(range(60)), SCHEMA)
    q = spark.createDataFrame(_vecs([0]), SCHEMA)
    books = SIM.train_pq_codebooks(items, m=4, k_codes=8)
    adc = {r.item_id
           for r in SIM.pq_adc_topk(SIM.pq_encode(items, books), q, books,
                                    k=5).collect()}
    viaann = {r.item_id
              for r in SIM.pq_ann(items, q, k=5, m=4, k_codes=8,
                                  refine=1).collect()}
    assert adc == viaann and len(adc) == 5


def test_pq_query_luts_raises_on_oversized_query_side(spark):
    """`_pq_query_luts` materializes the probe set on the driver; that is
    bounded by contract (probe sets are model-sized). A corpus-sized query
    frame must raise, not silently become a driver bottleneck — the same
    limit(n+1)+raise idiom as `plans/reinject.py`."""
    import pytest

    items = spark.createDataFrame(_vecs(range(40)), SCHEMA)
    books = SIM.train_pq_codebooks(items, m=4, k_codes=8)
    big = spark.createDataFrame(_vecs(range(25)), SCHEMA)
    with pytest.raises(ValueError, match="max_queries"):
        SIM._pq_query_luts(spark, big, books,
                           max_queries=10)
    # within the cap: works exactly as before
    qrows, q_lut = SIM._pq_query_luts(spark, big, books, max_queries=25)
    assert len(qrows) == 25 and q_lut.count() == 25


def test_delta_ledger_pq_index_matches_cow_and_compacts(spark, tmp_path):
    """The delta-ledger PQ maintainer (pure O(batch) code appends, no
    ledger read) lands on exactly a one-shot encode of every vector with
    its frozen books; ADC queries agree with the batch ADC path before
    and after compaction; replay appends nothing."""
    import time

    from wde_spark.streaming.compaction import compact, ledger_entries
    from wde_spark.streaming.embedding_admission import read_codebooks

    init = spark.createDataFrame(_vecs(range(40)), SCHEMA)
    b0, b1 = _vecs(range(100, 110)), _vecs(range(200, 212))
    src = tmp_path / "vecsd"
    now = time.time()
    for i, rows in enumerate((b0, b1)):
        fdir = str(src / f"f{i}.parquet")
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(fdir)
        for name in os.listdir(fdir):
            os.utime(os.path.join(fdir, name),
                     (now - 600 + i * 60, now - 600 + i * 60))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    dl_t, dl_c = str(tmp_path / "dl"), str(tmp_path / "dlck")
    streaming_pq_index_maintain(stream, init, dl_t, dl_c,
                                m=4, k_codes=8)

    books = read_codebooks(dl_t)
    want = SIM.pq_encode(
        spark.createDataFrame(_vecs(range(40)) + b0 + b1, SCHEMA), books)
    got = read_codes(spark, dl_t)
    assert got.exceptAll(want).unionAll(want.exceptAll(got)).count() == 0
    ledger = os.path.join(dl_t, "codes")
    assert ledger_entries(ledger) == [(0, "b"), (1, "d"), (2, "d")]

    q = spark.createDataFrame(_vecs([0, 5]), SCHEMA)
    pre = {(r.query_id, r.item_id, r.approx_sim, r.rnk)
           for r in ann_query(spark, dl_t, q, k=3).collect()}
    compact(spark, ledger, ["vec_id"])
    assert ledger_entries(ledger) == [(2, "b")]
    post = {(r.query_id, r.item_id, r.approx_sim, r.rnk)
            for r in ann_query(spark, dl_t, q, k=3).collect()}
    flat = {(r.query_id, r.item_id, r.approx_sim, r.rnk)
            for r in SIM.pq_adc_topk(want, q, books, k=3).collect()}
    assert pre == post == flat and len(post) == 6

    # replay: the compacted ledger gains nothing (checkpoint committed)
    streaming_pq_index_maintain(stream, init, dl_t, dl_c,
                                m=4, k_codes=8)
    assert ledger_entries(ledger) == [(2, "b")]
