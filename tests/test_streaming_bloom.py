"""Streaming Bloom-set maintenance ≡ one-shot: the maintained bit table
after all micro-batches must be ROW-IDENTICAL to the one-shot bit set of
the whole benchmark (UNION-DISTINCT is an exact OR algebra), admission
against it must agree with `decontaminate_bloom`'s candidate stage, and
re-merging a batch must be a no-op (x OR x = x — replay-idempotent by
algebra, not just by version naming).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")


def _run_maintain(spark, docs, tmp_path, n_files: int):
    from wde_spark.streaming.bloom_admission import streaming_bloom_maintain

    bench = docs.filter(F.col("doc_id") % 17 == 0)
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    bench.repartition(n_files).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.format("parquet")
        .schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    streaming_bloom_maintain(
        stream, str(tmp_path / "bits"), str(tmp_path / "ckpt"))
    return str(tmp_path / "bits")


def test_maintained_bits_equal_one_shot(spark, tmp_path):
    from wde_spark.streaming.bloom_admission import (batch_bloom_bits,
                                                     read_bloom_bits)
    from wde_spark.streaming.compaction import ledger_entries

    docs = _docs(spark)
    bits_dir = _run_maintain(spark, docs, tmp_path, n_files=4)
    maintained = sorted(
        r["bit"] for r in read_bloom_bits(spark, bits_dir).collect())
    one_shot = sorted(
        r["bit"]
        for r in batch_bloom_bits(
            docs.filter(F.col("doc_id") % 17 == 0)).collect())
    assert maintained == one_shot
    # the stream really ran incrementally: one base per batch
    entries = ledger_entries(bits_dir)
    assert len(entries) >= 2, entries


def test_admission_matches_decontaminate_bloom(spark, tmp_path):
    """admitted == (n_bloom_candidates == 0) with candidate counts equal
    to the one-shot `decontaminate_bloom` prefilter's — the maintained
    set changes WHERE the bits come from, never what they admit."""
    from wde_spark.operators.curation import decontaminate_bloom
    from wde_spark.streaming.bloom_admission import (bloom_admission,
                                                     read_bloom_bits)

    docs = _docs(spark)
    bits_dir = _run_maintain(spark, docs, tmp_path, n_files=3)
    got = {
        r["doc_id"]: (r["n_bloom_candidates"], r["admitted"])
        for r in bloom_admission(
            docs, read_bloom_bits(spark, bits_dir)).collect()
    }
    ref = {
        r["doc_id"]: r["n_bloom_candidates"]
        for r in decontaminate_bloom(
            docs, docs.filter(F.col("doc_id") % 17 == 0)).collect()
    }
    assert set(got) == set(ref)
    for doc_id, n in ref.items():
        assert got[doc_id] == (n, n == 0)
    # the gate must actually split the corpus both ways at this SF
    admitted = {d for d, (_, a) in got.items() if a}
    assert admitted and admitted != set(got)


def test_replay_merge_is_noop(spark):
    """UNION DISTINCT of a bit batch with itself == the batch — the
    idempotence that makes foreachBatch replay strictly safe here."""
    from wde_spark.streaming.bloom_admission import batch_bloom_bits

    bench = _docs(spark).filter(F.col("doc_id") % 17 == 0)
    bits = batch_bloom_bits(bench)
    once = sorted(r["bit"] for r in bits.collect())
    twice = sorted(
        r["bit"] for r in bits.unionByName(bits).distinct().collect())
    assert once == twice
