"""LM-scored admission gating — the CCNet production shape (Wenzek et
al., LREC 2020) as a stream: a bigram LM trained on a TRUSTED reference
slice scores every incoming micro-batch, documents below the fluency
cutoff are QUARANTINED at admission (written to an append-only ledger
with their scores, for audit/reprocessing — never silently dropped), and
the survivors flow into the standard deduplicating corpus admission
(`dedup_admission._admit_batch`: same delta ledgers, same
`dedup_increment` semantics). The gate runs only for a batch that has
not landed and before its first delta commit, so a batch's quarantine
ledger is complete whenever its corpus delta is.

The LM is FROZEN at bootstrap (trained once on the init corpus and
persisted as base 0 of its own ledger, `lm/`) — scoring is then a pure per-document
function, so the gate is batching-invariant and the whole composition
keeps the admission path's replay contract. Streaming ≡ batch is pinned
in tests: the final corpus equals a flat `dedup_corpus` re-run over
init ∪ {docs scoring >= cutoff}.

At 100 TB: scoring a batch is one bigram explode + one join against the
LM (broadcast while the LM fits, shuffle on w1 otherwise — see
`operators/lm_score`), strictly cheaper than the dedup verification it
gates; quarantining BEFORE dedup means the expensive stages never see
documents the quality bar already rejects — the CCNet ordering.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.lm_score import lm_quality, train_bigram_lm
from .compaction import read_merged, write_base
from .dedup_admission import _admit_batch, bootstrap
from .versions import read_batch_ledger, run_foreach_batch


def streaming_lm_dedup_admission(
    docs_stream: DataFrame,
    init_corpus: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    quarantine_dir: str,
    cutoff: float,
    max_bucket: int | None = 64,
) -> None:
    """Run the document stream to completion (availableNow — static test
    input), maintaining the LM-gated deduplicated corpus under
    `target_dir`. Documents whose `avg_logp` (frozen-LM bigram score) is
    NULL (<2 tokens: no evidence) or < `cutoff` land in
    `quarantine_dir/b{batch_id}` as (id, n_bigrams, avg_logp) rows; the
    rest are admitted through `dedup_increment`."""
    bootstrap(init_corpus, target_dir)
    lm_dir = os.path.join(target_dir, "lm")
    write_base(train_bigram_lm(init_corpus), lm_dir, 0)

    def gate(batch: DataFrame, batch_id: int) -> DataFrame:
        lm = read_merged(batch.sparkSession, lm_dir, ["w1", "w2"])
        scores = lm_quality(batch, lm)
        ok_ids = scores.filter(F.col("avg_logp") >= cutoff).select("doc_id")
        scores.join(ok_ids, "doc_id", "left_anti") \
            .write.mode("overwrite").parquet(
                os.path.join(quarantine_dir, f"b{batch_id}"))
        return batch.join(ok_ids, "doc_id", "left_semi")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        _admit_batch(batch, batch_id, target_dir, max_bucket, gate=gate)

    run_foreach_batch(docs_stream, _apply, checkpoint_dir)


def read_quarantine(spark, quarantine_dir: str) -> DataFrame:
    """The quarantine ledger: (id, n_bigrams, avg_logp) per rejected
    document, one immutable directory per batch."""
    return read_batch_ledger(
        spark, quarantine_dir,
        "doc_id long, n_bigrams long, avg_logp double", None)
