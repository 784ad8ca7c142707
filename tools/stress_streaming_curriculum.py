"""Maintained-curriculum ingest-cost receipt.

The maintained family's 100 TB claim: a corpus refresh costs one pass
over the NEW documents plus arithmetic on the ledger — the existing
corpus's text is never rescanned. This driver stages K parquet batch
files of synthetic documents and records, per arriving batch:

  * maintain+read — read ONLY the new batch's parquet, bucket its text
    (`floor(octet_length/64)`), append the ledger
    (`apply_curriculum_batch`), and materialize the refreshed schedule
    from the text-free ledger (`read_curriculum`);
  * full rebuild — the alternative: read ALL batches arrived so far,
    re-bucket every document's text, and restage with one-shot
    `curriculum_order`.

Both sides produce the same row count (asserted). The receipt shows the
maintained cost tracking the BATCH size while the rebuild cost tracks
the CORPUS size — the gap is exactly the rescanned text.

Usage: python tools/stress_streaming_curriculum.py [batch_rows] [n_batches]
Prints one JSON line (pipe to measurements/).
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
from wde_spark.operators.sampling import curriculum_order
from wde_spark.streaming.curriculum import (apply_curriculum_batch,
                                            read_curriculum)


def _drop_entry(ledger: str, seq: int) -> None:
    """Undo delta `d{seq}`: remove the manifest commit that adds it and
    its directory (nothing when it was never written)."""
    mdir = os.path.join(ledger, "_manifest")
    for name in os.listdir(mdir) if os.path.isdir(mdir) else ():
        with open(os.path.join(mdir, name)) as fh:
            if ["d", seq] in json.load(fh).get("add", []):
                os.remove(os.path.join(mdir, name))
    shutil.rmtree(os.path.join(ledger, f"d{seq}"), ignore_errors=True)


def main() -> None:
    batch_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_session("stress-stream-curric")
    BUCKET = F.coalesce(F.floor(F.octet_length("text") / 64), F.lit(-1))
    work = tempfile.mkdtemp(prefix="wde_scur_")
    feed = os.path.join(work, "feed")
    target = os.path.join(work, "ledger")
    for b in range(n_batches):
        (spark.range(b * batch_rows, (b + 1) * batch_rows)
         .withColumnRenamed("id", "doc_id")
         .withColumn("text", F.expr(
             "repeat('x', cast((doc_id * 7919) % 6400 as int))"))
         .write.mode("overwrite")
         .parquet(os.path.join(feed, f"b{b}.parquet")))
    runs = []
    for b in range(n_batches):
        # min over 2 reps per side: one-off GC/AQE jitter at these sizes
        # is larger than the signal. A step whose delta landed is a
        # no-op, so each rep first drops the ledger entry d{b+1} to time
        # a real step.
        sec_maint, sec_rebuild, n_sched, n_rebuild = 1e9, 1e9, -1, -2
        for _ in range(2):
            _drop_entry(target, b + 1)
            t0 = time.time()
            batch = (spark.read
                     .parquet(os.path.join(feed, f"b{b}.parquet"))
                     .select("doc_id", BUCKET.alias("bucket")))
            apply_curriculum_batch(batch, b, target)
            n_sched = read_curriculum(spark, target).count()
            sec_maint = min(sec_maint, time.time() - t0)
        for _ in range(2):
            t0 = time.time()
            full = (spark.read.parquet(
                *[os.path.join(feed, f"b{i}.parquet")
                  for i in range(b + 1)]))
            n_rebuild = curriculum_order(full, BUCKET).count()
            sec_rebuild = min(sec_rebuild, time.time() - t0)
        assert n_sched == n_rebuild == (b + 1) * batch_rows
        runs.append({
            "batch": b,
            "corpus_rows": (b + 1) * batch_rows,
            "sec_maintain_plus_read": round(sec_maint, 2),
            "sec_full_rebuild": round(sec_rebuild, 2),
        })
        print(json.dumps(runs[-1]), file=sys.stderr)
    print(json.dumps({"batch_rows": batch_rows, "runs": runs}))


if __name__ == "__main__":
    main()
