"""Delta-ledger compaction read-amplification receipt.

The ledger's 100 TB claim (`streaming/compaction.py`): per-batch writes
are O(batch) delta appends, but every merge-on-read pays for the whole
live ledger — one base plus every delta since it — so read cost climbs
with version count until `compact` folds the ledger back to one base.

This driver builds a base of `base_rows` keyed rows, then appends
`n_deltas` upsert deltas of `delta_rows` rows each (10% overwriting
existing keys, 90% new — the admission-sink shape). After every delta
it records the merged read's wall time and what it touched (ledger
entries + parquet part-files); at the end it compacts and re-measures.
The merged row multiset is asserted identical before/after compaction.

Expected shape: entries/files grow linearly with delta count and the
read time climbs with them; post-compaction both collapse to one base
and the read time returns to the base-only cost.

Usage: python tools/stress_compaction.py [base_rows] [delta_rows] [n_deltas]
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
from wde_spark.streaming.compaction import (compact, read_amplification,
                                            read_merged, write_base,
                                            write_delta)


def _snapshot_hash(df) -> tuple:
    row = df.select(
        F.count("*").alias("n"),
        F.sum(F.conv(F.substring(F.md5(F.concat_ws(
            "|", F.col("k"), F.col("payload"))), 1, 8), 16, 10)
            .cast("long")).alias("h")).first()
    return int(row["n"]), int(row["h"])


def main() -> None:
    base_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    delta_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    n_deltas = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    spark = get_session()
    ledger = tempfile.mkdtemp(prefix="wde_stress_compact_")
    try:
        base = spark.range(base_rows).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"))
        write_base(base.repartition(8), ledger, 0)

        reads = []
        next_key = base_rows
        for i in range(1, n_deltas + 1):
            n_over = delta_rows // 10
            over = spark.range(n_over).select(
                ((F.col("id") * 7919 + i) % base_rows).alias("k"))
            fresh = spark.range(delta_rows - n_over).select(
                (F.col("id") + next_key).alias("k"))
            next_key += delta_rows - n_over
            delta = over.unionByName(fresh).select(
                "k", F.md5(F.concat_ws("@", F.lit(i),
                                       F.col("k").cast("string")))
                .alias("payload"))
            write_delta(delta.repartition(1), ledger, i)
            amp = read_amplification(ledger)
            t0 = time.time()
            n = read_merged(spark, ledger, ["k"]).count()
            dt = time.time() - t0
            reads.append({"deltas": i, "entries": amp["entries"],
                          "files": amp["files"], "rows": n,
                          "read_sec": round(dt, 3)})

        pre_hash = _snapshot_hash(read_merged(spark, ledger, ["k"]))
        t0 = time.time()
        compact(spark, ledger, ["k"])
        compact_sec = time.time() - t0
        post_amp = read_amplification(ledger)
        t0 = time.time()
        post_n = read_merged(spark, ledger, ["k"]).count()
        post_read = time.time() - t0
        post_hash = _snapshot_hash(read_merged(spark, ledger, ["k"]))
        assert pre_hash == post_hash, (pre_hash, post_hash)

        # phase 2 — SIZE-TARGETED folds keep part-file count flat across
        # repeated append-then-fold cycles (the r11 receipt accreted
        # 24 -> 41 files through ONE unsized fold); the unsized twin on
        # a copied ledger shows the accretion the targeting removes
        import subprocess

        unsized = ledger + "_unsized"
        shutil.rmtree(unsized, ignore_errors=True)
        subprocess.run(["cp", "-r", ledger, unsized], check=True)
        cycles = {"sized": [], "unsized": []}
        seq0 = n_deltas
        for cycle in range(3):
            for j in range(1, 5):
                seq = seq0 + cycle * 4 + j
                n_over = delta_rows // 10
                over = spark.range(n_over).select(
                    ((F.col("id") * 104729 + seq) % base_rows).alias("k"))
                fresh = spark.range(delta_rows - n_over).select(
                    (F.col("id") + next_key).alias("k"))
                next_key += delta_rows - n_over
                delta = over.unionByName(fresh).select(
                    "k", F.md5(F.concat_ws("@", F.lit(seq),
                                           F.col("k").cast("string")))
                    .alias("payload"))
                for tgt in (ledger, unsized):
                    write_delta(delta.repartition(1), tgt, seq)
            for tag, tgt, tfb in (("sized", ledger, 128 * 1024 * 1024),
                                  ("unsized", unsized, None)):
                t0 = time.time()
                compact(spark, tgt, ["k"], target_file_bytes=tfb)
                csec = time.time() - t0
                amp = read_amplification(tgt)
                t0 = time.time()
                rows = read_merged(spark, tgt, ["k"]).count()
                rsec = time.time() - t0
                cycles[tag].append({
                    "cycle": cycle + 1, "files": amp["files"],
                    "rows": rows, "compact_sec": round(csec, 3),
                    "read_sec": round(rsec, 3)})
        assert _snapshot_hash(read_merged(spark, ledger, ["k"])) == \
            _snapshot_hash(read_merged(spark, unsized, ["k"]))
        shutil.rmtree(unsized, ignore_errors=True)

        print(json.dumps({
            "metric": "compaction_read_amplification",
            "base_rows": base_rows, "delta_rows": delta_rows,
            "reads": reads,
            "compact_sec": round(compact_sec, 3),
            "post": {"entries": post_amp["entries"],
                     "files": post_amp["files"], "rows": post_n,
                     "read_sec": round(post_read, 3)},
            "fold_cycles": cycles,
            "snapshot_equal": True,
        }))
    finally:
        shutil.rmtree(ledger, ignore_errors=True)
        shutil.rmtree(ledger + "_unsized", ignore_errors=True)


if __name__ == "__main__":
    main()
