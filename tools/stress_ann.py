"""ANN scale stress: exact float-scan top-k vs PQ ADC code-scan at
millions of vectors — the measurement behind the PQ tier's design claim
(ADC "attacks memory bandwidth": the query path reads M-byte codes, not
4·dim-byte floats, so a billion-vector index is a seconds-scale scan).

Setup: N deterministic synthetic 64-dim vectors (murmur3-derived
components — no RNG, reruns identical) written to parquet as
array<float>; a PQ codebook (16 sub-spaces × 16 codes) trained on a 2%
sample and the whole table encoded ONCE to a codes parquet (16 bytes +
id per vector — this is the index a production pipeline persists; its
build cost is reported separately, like the incremental-dedup state
bootstrap). Then, for 8 query vectors, min-of-2 wall times for:

  exact   — cosine_topk over the float parquet (reads every float)
  adc     — pq_adc_topk over the codes parquet (reads codes only)

plus recall@5 of the ADC ranking against the exact top-5, so the speed
claim is never quoted without its accuracy cost.

Usage: python tools/stress_ann.py [n_vectors]   (default 2,000,000)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

DIM = 64


def main() -> None:
    load0 = round(os.getloadavg()[0], 2)
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000

    from wde_spark.core.session import get_session
    from wde_spark.operators import similarity as SIM

    spark = get_session("stress_ann")
    base = os.path.join(tempfile.gettempdir(), f"stress_ann_{n}")

    # deterministic synthetic vectors: component j of vector i is a
    # murmur3 hash of (i, j) scaled to [-1, 1] — full-spread, no RNG
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (F.hash(F.col("id"), j) % 10007).cast("double") / 5003.5,
    )
    items_path = os.path.join(base, "items")
    if not os.path.exists(os.path.join(items_path, "_SUCCESS")):
        spark.range(n).repartition(spark.sparkContext.defaultParallelism) \
            .select(F.col("id").alias("vec_id"),
                    vec.cast("array<float>").alias("embedding")) \
            .write.mode("overwrite").parquet(items_path)
    items = spark.read.parquet(items_path)

    # one-time index build: train on a 2% sample, encode everything.
    # Cached on disk (codebook json + codes parquet) so kernel-variant
    # re-runs measure the scan, not the rebuild.
    codes_path = os.path.join(base, "codes")
    books_path = os.path.join(base, "codebooks.json")
    if os.path.exists(books_path) \
            and os.path.exists(os.path.join(codes_path, "_SUCCESS")):
        with open(books_path) as fh:
            books = json.load(fh)
        t_build = 0.0
    else:
        t0 = time.time()
        books = SIM.train_pq_codebooks(
            items.filter(F.col("vec_id") % 50 == 0), m=16, k_codes=16)
        SIM.pq_encode(items, books).write.mode("overwrite") \
            .parquet(codes_path)
        with open(books_path, "w") as fh:
            json.dump(books, fh)
        t_build = round(time.time() - t0, 2)
    codes = spark.read.parquet(codes_path)

    queries = items.filter(F.col("vec_id") < 8)

    def _timed(mk):
        best = None
        for _ in range(2):
            t0 = time.time()
            mk().write.format("noop").mode("overwrite").save()
            best = min(best or 9e9, round(time.time() - t0, 2))
        return best

    t_exact = _timed(lambda: SIM.cosine_topk(items, queries, k=5))
    t_adc = _timed(lambda: SIM.pq_adc_topk(codes, queries, books, k=5))

    # recall@5 of the ADC ranking vs exact (honesty gate for the speedup)
    exact = {(r.query_id, r.item_id)
             for r in SIM.cosine_topk(items, queries, k=5).collect()}
    adc = {(r.query_id, r.item_id)
           for r in SIM.pq_adc_topk(codes, queries, books, k=5).collect()}
    recall = round(len(exact & adc) / len(exact), 3) if exact else None

    def _du(p):
        total = 0
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
        return total

    print(json.dumps({
        "n_vectors": n,
        "dim": DIM,
        "float_parquet_mb": round(_du(items_path) / 1e6, 1),
        "codes_parquet_mb": round(_du(codes_path) / 1e6, 1),
        "index_build_sec": t_build,
        "exact_scan_sec": t_exact,
        "adc_scan_sec": t_adc,
        "scan_speedup": round(t_exact / t_adc, 2) if t_adc else None,
        "adc_recall_at_5": recall,
        "loadavg_start": load0,
        "loadavg_end": round(os.getloadavg()[0], 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
