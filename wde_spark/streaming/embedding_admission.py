"""Streaming PQ-index maintenance — a continuously-growing compressed
ANN index over an embedding stream.

The embeddings twin of `streaming/dedup_admission.py`: new vectors are
ENCODED on arrival against a FROZEN codebook (the production pattern —
quantizers are retrained offline on a schedule, never per batch, so codes
stay mutually comparable) and appended to the codes table, a
merge-on-read delta ledger (`streaming/compaction.py`) under
`target_dir/codes`. Queries run ADC-only against the maintained codes
(`operators/similarity.pq_adc_topk`) — they never touch float vectors, so
the float column can be cold storage.

The codes table is APPEND-ONLY (vectors admitted under a frozen codebook
are never revoked), so a micro-batch is the ledger's best case: encode
the batch and append it as delta `d{batch_id+1}` — NO ledger read at
all, so per-batch cost is independent of index size. Encoding with a
frozen codebook is deterministic and row-local, and
`compaction.ledger_step` makes a replayed batch whose delta landed run
nothing.

Index size arithmetic at scale: 1024-dim float32 = 4 KB/vector; PQ-64
codes = 64 B/vector — a 10-billion-vector index is ~640 GB of codes, a
table one rack scans in seconds, vs 40 TB of floats, and a micro-batch
appends ~64 B x batch instead of rewriting it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from ..operators.similarity import pq_adc_topk, pq_encode, train_pq_codebooks
from .compaction import ledger_step, read_merged, write_base, write_delta
from .versions import run_foreach_batch


def _codebook_path(target_dir: str) -> str:
    return os.path.join(target_dir, "codebooks.json")


def read_codebooks(target_dir: str) -> list[list[list[float]]]:
    with open(_codebook_path(target_dir)) as f:
        return json.load(f)


def read_codes(spark, target_dir: str) -> DataFrame:
    """Current PQ codes (merge-on-read; a plain base scan once
    compacted)."""
    return read_merged(spark, os.path.join(target_dir, "codes"),
                       ["vec_id"])


def ann_query(spark, target_dir: str, queries: DataFrame,
              k: int = 5) -> DataFrame:
    """ADC top-k against the maintained index — codes only, no vectors."""
    return pq_adc_topk(read_codes(spark, target_dir), queries,
                       read_codebooks(target_dir), k)


def streaming_pq_index_maintain(
    vec_stream: DataFrame,
    init_items: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    m: int = 8,
    k_codes: int = 16,
) -> None:
    """Run the vector stream to completion (availableNow — static test
    input), maintaining the PQ codes ledger under `target_dir`. The
    bootstrap trains the codebook tensor on `init_items` once
    (deterministic per-sub-space k-means) and writes their codes as base
    `b0`; every micro-batch is encoded with that frozen codebook and
    appended as a delta. The codebook file is written before `b0`
    commits, so a committed entry implies it; a bootstrap that crashed
    before that commit is redone whole."""
    ledger = os.path.join(target_dir, "codes")

    def bootstrap() -> None:
        books = train_pq_codebooks(init_items, m, k_codes)
        os.makedirs(target_dir, exist_ok=True)
        with open(_codebook_path(target_dir), "w") as f:
            json.dump(books, f)
        write_base(pq_encode(init_items, books), ledger, 0,
                   stats_col="vec_id")

    ledger_step([ledger], -1, bootstrap)
    books = read_codebooks(target_dir)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        ledger_step([ledger], batch_id, lambda: write_delta(
            pq_encode(batch, books), ledger, batch_id + 1,
            stats_col="vec_id", key_cols=["vec_id"]))

    run_foreach_batch(vec_stream, _apply, checkpoint_dir)
