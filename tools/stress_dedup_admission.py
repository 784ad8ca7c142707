"""Streaming dedup-admission ingest-cost receipt.

`streaming/dedup_admission.py`'s 100 TB claim: admitting a micro-batch
into the continuously-deduplicated corpus costs `dedup_increment`'s
contract — one pass over the BATCH plus a stream past state tables ~10³×
smaller than the corpus text — while the alternative (re-running the
batch cleaner `dedup_corpus` over everything arrived so far) re-reads
and re-shingles the WHOLE corpus every batch. `stress_incremental.py`
receipts one admission at a fixed corpus/batch ratio; this driver
receipts the MAINTAINED trajectory: K consecutive batches through the
same `_admit_batch` step the foreachBatch sink runs, with the corpus
growing under it, against the full rebuild at each step.

Per batch it records:

  * admit_sec — read every ledger as of sequence i-1, `dedup_increment`,
    append the O(batch) upsert + tombstone deltas at sequence i (corpus +
    fp + bands, `streaming/compaction.py`): the maintainer's true
    per-batch cost;
  * compact_sec / folded — the `maybe_compact` cadence between batches
    (entry budget 3), charged separately;
  * rebuild_sec — `dedup_corpus` over ALL raw docs arrived so far
    (read back from parquet, as a re-run would), counted;
  * corpus_rows — admitted corpus size after the batch (asserted equal
    to the rebuild).

Batches are 30% exact clones of existing corpus texts (dropped or
dethroning) and 70% novel md5-salad texts (admitted), so both dedup
decisions exercise every batch. Expected shape: admit_sec stays flat
(batch-sized work + state stream) while rebuild_sec grows with the
corpus — the gap IS the rescanned text.

Usage: python tools/stress_dedup_admission.py [init_rows] [batch_rows] [n_batches] [rebuild_every]
Prints one JSON line (pipe to measurements/). `rebuild_every` (default 1)
runs the O(corpus) full-rebuild comparator only on every k-th batch —
the 10x-corpus variant sets it to n_batches so the receipt pays the
rebuild once, at the end, where it is largest.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from wde_spark.core.session import get_session
from wde_spark.operators.dedup import dedup_corpus
from wde_spark.streaming.compaction import maybe_compact
from wde_spark.streaming.dedup_admission import (_admit_batch, bootstrap,
                                                 read_corpus)


def _salad(key, tag: str, words: int = 40):
    return F.concat_ws(" ", *[
        F.substring(F.md5(F.concat(key.cast("string"),
                                   F.lit(f"|{tag}|{i}"))), 1, 8)
        for i in range(words)])


def main() -> None:
    init_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    batch_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 6
    rebuild_every = int(sys.argv[4]) if len(sys.argv) > 4 else 1

    spark = get_session("stress_dedup_admission")
    par = spark.sparkContext.defaultParallelism
    work = tempfile.mkdtemp(prefix="wde_stress_adm_")
    target = os.path.join(work, "corpus")
    raw_dir = os.path.join(work, "raw")
    try:
        init = (spark.range(init_rows).repartition(par)
                .select(F.col("id").alias("doc_id"),
                        _salad(F.col("id"), "c").alias("text")))
        init.write.mode("overwrite").parquet(
            os.path.join(raw_dir, "b0.parquet"))
        init = spark.read.parquet(os.path.join(raw_dir, "b0.parquet"))
        bootstrap(init, target)

        rows = []
        for i in range(1, n_batches + 1):
            nb = batch_rows
            n_clone = nb * 3 // 10
            clones = spark.range(n_clone).select(
                ((F.col("id") * 7919 + i) % init_rows).alias("src"),
                (F.col("id") + init_rows + i * nb).alias("doc_id"))
            clones = clones.select(
                "doc_id", _salad(F.col("src"), "c").alias("text"))
            fresh = spark.range(nb - n_clone).select(
                (F.col("id") + init_rows + i * nb + n_clone)
                .alias("doc_id"))
            fresh = fresh.select(
                "doc_id",
                _salad(F.col("doc_id"), f"fresh{i}").alias("text"))
            batch = clones.unionByName(fresh).repartition(par)
            batch.write.mode("overwrite").parquet(
                os.path.join(raw_dir, f"b{i}.parquet"))
            batch = spark.read.parquet(
                os.path.join(raw_dir, f"b{i}.parquet"))

            t0 = time.time()
            _admit_batch(batch, i - 1, target, 64)
            admit_sec = time.time() - t0
            # compaction cadence between committed batches: bounds the
            # ledger length every merged read (incl. the NEXT batch's
            # as_of read) must union — amortized O(table) folds, charged
            # separately from the per-batch admit cost
            t0 = time.time()
            folded = [sub for sub, keys in
                      (("corpus", ["doc_id"]), ("fp", ["doc_id"]),
                       ("bands", ["doc_id", "band_idx"]))
                      if maybe_compact(
                          spark, os.path.join(target, sub), keys,
                          max_entries=3) is not None]
            compact_sec = time.time() - t0
            corpus_rows = read_corpus(spark, target).count()

            rebuild_sec = None
            rebuilt_rows = None
            if i % rebuild_every == 0:
                all_raw = spark.read.parquet(
                    os.path.join(raw_dir, "*.parquet"))
                t0 = time.time()
                rebuilt_rows = dedup_corpus(all_raw).count()
                rebuild_sec = time.time() - t0
                assert corpus_rows == rebuilt_rows, (
                    corpus_rows, rebuilt_rows)
            rows.append({
                "batch": i, "corpus_rows": corpus_rows,
                "rebuilt_rows": rebuilt_rows,
                "admit_sec": round(admit_sec, 3),
                "compact_sec": round(compact_sec, 3),
                "folded": folded,
                "rebuild_sec": (round(rebuild_sec, 3)
                                if rebuild_sec is not None else None),
            })

        print(json.dumps({
            "metric": "dedup_admission_ingest_cost",
            "init_rows": init_rows, "batch_rows": batch_rows,
            "batches": rows,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
