"""Classifier-gated admission with a per-batch prediction ledger — the
GPT-3 production shape (Brown et al. 2020, Appendix A: a linear
classifier trained on a trusted corpus scores every crawled document;
only documents predicted in-domain are kept): a naive-Bayes model
(`operators/classifier`) is FROZEN at bootstrap on a labeled trusted
slice, every incoming micro-batch is argmax-classified, predictions for
ALL batch documents are appended to an immutable per-batch PREDICTION
LEDGER (audit/threshold-retuning without re-scoring), documents whose
predicted label is outside the keep-set are QUARANTINED, and the
survivors flow into the standard deduplicating corpus admission
(`dedup_admission._admit_batch`: same delta ledgers, same
`dedup_increment` semantics).

Because the model is frozen, classification is a pure per-document
function — the gate is batching-invariant; it runs inside the
admission step, before its first delta commit, so the composition keeps
the admission path's replay contract, and streaming ≡ batch is
pinnable: the final corpus equals a flat `dedup_corpus` re-run over
init ∪ {batch docs predicted in keep_labels}.

At 100 TB: scoring a batch is one token explode + one equi-join against
a vocabulary-sized model (broadcast while it fits) + one O(n·L) grid —
strictly cheaper than the dedup verification it gates, and quarantining
BEFORE dedup means the expensive stages never see documents the
classifier already rejects. The ledger is append-only one-directory-per-
batch, the same audit discipline as the LM/DSIR quarantine ledgers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.classifier import nb_classify, train_naive_bayes
from .compaction import read_merged, write_base
from .dedup_admission import _admit_batch, bootstrap
from .versions import read_batch_ledger, run_foreach_batch


def streaming_nb_dedup_admission(
    docs_stream: DataFrame,
    init_corpus: DataFrame,
    train_docs: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    quarantine_dir: str,
    keep_labels: list[str],
    max_bucket: int | None = 64,
) -> None:
    """Run the document stream to completion (availableNow — static test
    input), maintaining the classifier-gated deduplicated corpus under
    `target_dir`. `train_docs` is the labeled trusted slice the NB model
    freezes on (persisted as base 0 of two ledgers under `target_dir`,
    the same frozen-model-state discipline as the LM/DSIR gates). Every
    batch document's prediction lands in
    `target_dir/predictions/b{batch_id}` as (id, pred_label, score,
    margin); documents predicted OUTSIDE `keep_labels` additionally land
    in `quarantine_dir/b{batch_id}`; the rest are admitted through
    `dedup_increment`."""
    bootstrap(init_corpus, target_dir)
    m_dir = os.path.join(target_dir, "nb_model")
    p_dir = os.path.join(target_dir, "nb_priors")
    model, priors = train_naive_bayes(train_docs)
    write_base(model, m_dir, 0)
    write_base(priors, p_dir, 0)
    ledger_dir = os.path.join(target_dir, "predictions")

    def gate(batch: DataFrame, batch_id: int) -> DataFrame:
        spark = batch.sparkSession
        preds = nb_classify(batch, read_merged(spark, m_dir,
                                               ["label", "token"]),
                            read_merged(spark, p_dir, ["label"]))
        preds.write.mode("overwrite").parquet(
            os.path.join(ledger_dir, f"b{batch_id}"))
        ok_ids = preds.filter(F.col("pred_label").isin(keep_labels)) \
            .select("doc_id")
        preds.join(ok_ids, "doc_id", "left_anti") \
            .write.mode("overwrite").parquet(
                os.path.join(quarantine_dir, f"b{batch_id}"))
        return batch.join(ok_ids, "doc_id", "left_semi")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        _admit_batch(batch, batch_id, target_dir, max_bucket, gate=gate)

    run_foreach_batch(docs_stream, _apply, checkpoint_dir)


def read_predictions(spark, target_dir: str) -> DataFrame:
    """The prediction ledger: (id, pred_label, score, margin) per scored
    document, one immutable directory per batch."""
    return read_batch_ledger(
        spark, os.path.join(target_dir, "predictions"),
        "doc_id long, pred_label string, score double, margin double",
        None)
