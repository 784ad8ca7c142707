"""DSIR-gated admission — importance-ratio gating at ingest, the
streaming form of DSIR data selection (Xie et al., NeurIPS 2023; see
`operators/dsir.py`): two bigram LMs are FROZEN at bootstrap — the
TARGET model on a trusted reference slice, the RAW model on the init
corpus — and every incoming micro-batch is scored by the per-document
log importance ratio ln p_target − ln p_raw. Documents whose ratio is
NULL (<2 tokens: no evidence) or below the cutoff are QUARANTINED to an
append-only ledger WITH their scores (audit/reprocessing, never a silent
drop); survivors flow into the standard deduplicating admission
(`dedup_admission._admit_batch` — same delta ledgers, same
`dedup_increment` semantics).

The batch query form (`queries_ext.dsir_sample_documents`) does Gumbel
TOP-K — a global budget, which does not compose over unbounded streams;
the streaming form gates on the RATIO THRESHOLD instead (keep what is at
least `cutoff` nats more target-like than raw), which is per-document
and therefore batching-invariant: the gate runs inside the admission
step, before its first delta commit, so the composition keeps the
admission path's replay contract, and streaming ≡ batch is pinnable —
the final corpus equals a flat dedup over init ∪ {docs with ratio >=
cutoff}.

At 100 TB: scoring is one bigram explode + four broadcast LM joins per
batch (`dsir_logratio`), strictly cheaper than the dedup verification it
gates — rejecting off-distribution crawl before the expensive stages see
it, the same ordering argument as the CCNet gate (`lm_admission.py`)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dsir import dsir_logratio, shared_vocab
from ..operators.lm_score import train_bigram_lm
from .compaction import read_merged, write_base
from .dedup_admission import _admit_batch, bootstrap
from .versions import read_batch_ledger, run_foreach_batch


def streaming_dsir_dedup_admission(
    docs_stream: DataFrame,
    init_corpus: DataFrame,
    target_slice: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    quarantine_dir: str,
    cutoff: float,
    max_bucket: int | None = 64,
) -> None:
    """Run the document stream to completion (availableNow — static test
    input), maintaining the DSIR-gated deduplicated corpus under
    `target_dir`. `target_slice` is the trusted reference distribution
    (what you want MORE of); `init_corpus` doubles as the raw model's
    training set. Rejected docs land in `quarantine_dir/b{batch_id}` as
    (id, n_bigrams, log_ratio) rows."""
    bootstrap(init_corpus, target_dir)
    t_dir = os.path.join(target_dir, "lm_target")
    r_dir = os.path.join(target_dir, "lm_raw")
    v_dir = os.path.join(target_dir, "lm_vocab")
    # each frozen model is base 0 of its own ledger. SHARED vocabulary
    # (see dsir.shared_vocab): both frozen models smooth over the same
    # event space, so the ratio measures distribution preference, not
    # model-size bias
    write_base(shared_vocab(target_slice, init_corpus), v_dir, 0)
    spark = target_slice.sparkSession
    for lm_dir, corpus in ((t_dir, target_slice), (r_dir, init_corpus)):
        write_base(train_bigram_lm(
            corpus, vocab=read_merged(spark, v_dir, ["v"])), lm_dir, 0)

    def gate(batch: DataFrame, batch_id: int) -> DataFrame:
        ratios = dsir_logratio(batch, read_merged(spark, t_dir, ["w1", "w2"]),
                               read_merged(spark, r_dir, ["w1", "w2"]),
                               vocab=read_merged(spark, v_dir, ["v"]))
        ok_ids = ratios.filter(F.col("log_ratio") >= cutoff).select("doc_id")
        ratios.join(ok_ids, "doc_id", "left_anti") \
            .write.mode("overwrite").parquet(
                os.path.join(quarantine_dir, f"b{batch_id}"))
        return batch.join(ok_ids, "doc_id", "left_semi")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        _admit_batch(batch, batch_id, target_dir, max_bucket, gate=gate)

    run_foreach_batch(docs_stream, _apply, checkpoint_dir)


def read_quarantine(spark, quarantine_dir: str) -> DataFrame:
    """The quarantine ledger: (id, n_bigrams, log_ratio) per rejected
    document, one immutable directory per batch."""
    return read_batch_ledger(
        spark, quarantine_dir,
        "doc_id long, n_bigrams long, log_ratio double", None)
