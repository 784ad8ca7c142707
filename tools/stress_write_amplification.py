"""Per-batch write-amplification receipt of the four per-row streaming sinks.

The 100 TB claim of a per-row maintained table (`streaming/compaction.py`):
a micro-batch writes what it changed, so the bytes a batch writes track
the BATCH, not the table. This driver runs each sink's streaming entry
point once per batch over a feed that gains one parquet file per call
(the checkpoint carries the stream from call to call, so every call is
exactly one new micro-batch), and records after each batch the bytes
added under the sink's target directory and the table's row count:

  * `cdc` — `streaming_cdc_apply` over an initial snapshot of
    `batch_rows` keys; each batch inserts 0.8 x batch_rows new keys,
    updates 0.15 x and deletes 0.05 x existing ones;
  * `curriculum` — `streaming_curriculum_maintain`, (doc_id, bucket);
  * `budget` — `streaming_budget_maintain`, budgets large enough that
    every document is admitted, so the ledger grows by one batch;
  * `shard` — `streaming_shard_maintain`; the map grows by one shard per
    batch, so about 1/size of the table moves.

Expected shape: bytes per batch flat while the table grows linearly (a
full table rewrite per batch would instead grow with the row count).
Batch 0 of `cdc` also writes the initial snapshot.

Usage: python tools/stress_write_amplification.py [batch_rows] [n_batches]
Prints one JSON line (pipe to measurements/).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from wde_spark.core.session import get_session
from wde_spark.streaming.budget_admission import (read_admitted,
                                                  streaming_budget_maintain)
from wde_spark.streaming.cdc import read_snapshot, streaming_cdc_apply
from wde_spark.streaming.curriculum import (read_curriculum,
                                            streaming_curriculum_maintain)
from wde_spark.streaming.shard_migration import (read_routing,
                                                 streaming_shard_maintain)

CDC = "k long, op string, name string, val double"


def _bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(p, f))
               for p, _, fs in os.walk(d) for f in fs)


def _docs(spark, b: int, n: int):
    return spark.range(b * n, (b + 1) * n).withColumnRenamed("id", "doc_id")


def _cdc_batch(spark, b: int, n: int):
    """Keys 0..n-1 are the snapshot; batch b inserts n*0.8 fresh keys and
    updates / deletes keys that batch b-1 inserted (or the snapshot)."""
    n_ins, n_upd = n * 8 // 10, n * 15 // 100
    lo = n + b * n_ins
    prev = n + (b - 1) * n_ins if b else 0
    ins = spark.range(lo, lo + n_ins).select(
        F.col("id").alias("k"), F.lit("I").alias("op"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("name"),
        F.col("id").cast("double").alias("val"))
    upd = spark.range(prev, prev + n_upd).select(
        F.col("id").alias("k"), F.lit("U").alias("op"),
        F.lit(None).cast("string").alias("name"),
        (F.col("id") * 2).cast("double").alias("val"))
    dele = spark.range(prev + n_upd, prev + n_upd + n - n_ins - n_upd).select(
        F.col("id").alias("k"), F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("double").alias("val"))
    return ins.unionByName(upd).unionByName(dele)


def _sinks(spark, n: int):
    big = {"a": 1 << 60, "b": 1 << 60}
    snap = spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("name"),
        F.col("id").cast("double").alias("val"))
    return {
        "cdc": (CDC, lambda b: _cdc_batch(spark, b, n),
                lambda s, t, c: streaming_cdc_apply(s, snap, "k", t, c),
                read_snapshot),
        "curriculum": ("doc_id long, bucket long",
                       lambda b: _docs(spark, b, n).withColumn(
                           "bucket", F.col("doc_id") % 3),
                       streaming_curriculum_maintain, read_curriculum),
        "budget": ("doc_id long, source string, n_tok long",
                   lambda b: _docs(spark, b, n).select(
                       "doc_id",
                       F.when(F.col("doc_id") % 2 == 0, "a")
                       .otherwise("b").alias("source"),
                       (F.col("doc_id") % 97 + 1).alias("n_tok")),
                   lambda s, t, c: streaming_budget_maintain(
                       s, t, c, big, 1 << 60),
                   read_admitted),
        "shard": ("doc_id long", lambda b: _docs(spark, b, n),
                  streaming_shard_maintain, read_routing),
    }


def main() -> None:
    batch_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_session("stress-write-amp")
    work = tempfile.mkdtemp(prefix="wde_wamp_")
    out = {"batch_rows": batch_rows, "n_batches": n_batches, "sinks": {}}
    try:
        for name, (schema, batch, run, read) in _sinks(spark,
                                                       batch_rows).items():
            feed, target, ckpt = (os.path.join(work, name, d)
                                  for d in ("feed", "t", "ckpt"))
            runs = []
            for b in range(n_batches):
                batch(b).coalesce(1).write.parquet(
                    os.path.join(feed, f"b{b:03d}.parquet"))
                stream = (spark.readStream.schema(schema)
                          .option("maxFilesPerTrigger", "1")
                          .parquet(os.path.join(feed, "*.parquet")))
                before = _bytes(target)
                run(stream, target, ckpt)
                runs.append({"batch": b,
                             "bytes_written": _bytes(target) - before,
                             "table_rows": read(spark, target).count()})
                print(json.dumps({"sink": name, **runs[-1]}),
                      file=sys.stderr)
            out["sinks"][name] = runs
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
