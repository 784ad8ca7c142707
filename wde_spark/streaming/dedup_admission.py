"""Streaming corpus admission — a continuously-deduplicated document
corpus maintained from a document stream.

This is the ingest path of a training-data pipeline run as a stream: each
micro-batch of freshly-crawled documents is admitted against the current
corpus via `operators/incremental.dedup_increment` — exact dups dropped
(or dethroning their corpus twin on smaller id), near-dups clustered with
the corpus classes they touch, novel docs appended. The corpus AND both
dedup-state tables are merge-on-read delta ledgers
(`streaming/compaction.py`) under `target_dir/{corpus,fp,bands}`, so a
micro-batch writes O(batch) rows:

  * corpus delta: admitted rows as upserts + revoked ids as tombstones
    (key: doc_id);
  * fingerprint delta: admitted fps + revoked tombstones (doc_id);
  * band delta: admitted band rows + revoked tombstones, one per
    (id, band_idx) — enumerable because every doc has exactly `bands`
    band rows, so a revocation's keys are known without reading the
    state.

Admission is not algebraically idempotent — re-admitting admitted docs
would collide with their own ids — so replay safety rests on the
ledger's replay contract (`compaction.ledger_step`): batch `b` reads
every ledger `as_of=b` and writes sequence `b+1`; a batch all three
ledgers hold has landed and its replay runs nothing, and a batch killed
between two ledger commits recomputes from the same reads and writes
only the missing deltas. The
LM/DSIR/NB gates (`lm_`, `dsir_`, `nb_admission.py`) compose in FRONT of
`_admit_batch` through its `gate` hook.

At 100 TB: the per-batch work is `dedup_increment`'s contract — state
tables stream past broadcast batch keys, corpus text is read only for
verification candidates — plus three O(batch) delta appends;
`compaction.maybe_compact` restores read amplification on a cadence.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.incremental import (DedupState, _resolve_bands,
                                     dedup_increment, dedup_state)
from .compaction import (ledger_step, maybe_compact, read_merged,
                         write_base, write_delta)
from .versions import read_batch_ledger, run_foreach_batch

# The one banding every admission ledger runs with (`dedup_corpus`'s
# defaults): 16 hashes, S-curve bands, 2-token shingles, Jaccard 0.2.
_NUM_HASHES, _BANDS, _SHINGLE_K, _THRESHOLD = 16, "auto", 2, 0.2
# the three ledgers under target_dir and their keys
_LEDGERS = (("corpus", ["doc_id"]), ("fp", ["doc_id"]),
            ("bands", ["doc_id", "band_idx"]))
_PARAMS_FILE = "_dedup_params.json"


def _params() -> dict:
    return {"num_hashes": _NUM_HASHES,
            "n_bands": _resolve_bands(_BANDS, _NUM_HASHES),
            "shingle_k": _SHINGLE_K}


def _check_params(target_dir: str) -> None:
    """Assert the banding this module runs matches what the ledger was
    bootstrapped with — a ledger driven with different num_hashes/bands
    would enumerate tombstones for band_idx keys that don't exist (or
    miss ones that do) with no error. Mirrors the 'parameters must
    match' precondition `dedup_state` documents."""
    with open(os.path.join(target_dir, _PARAMS_FILE)) as fh:
        want = json.load(fh)
    got = _params()
    if got != want:
        raise ValueError(
            f"dedup-admission ledger at {target_dir} was bootstrapped "
            f"with {want} but is being driven with {got}; banding "
            f"parameters are frozen at bootstrap time")


def read_corpus(spark, target_dir: str) -> DataFrame:
    """The admitted corpus (merge-on-read; a plain base scan once
    compacted)."""
    return read_merged(spark, os.path.join(target_dir, "corpus"),
                       ["doc_id"])


def bootstrap(init_corpus: DataFrame, target_dir: str) -> None:
    """Land the (already-deduplicated) init corpus and its dedup state
    as ledger bases `{target_dir}/{corpus,fp,bands}/b0`, shared by all
    admission entry points. A restart after a crash between two base
    commits writes only the bases still missing; a ledger with any entry
    is live (compaction may have folded b0 away) and is left alone. The
    resolved banding parameters are persisted next to the ledgers and
    asserted on every admission — tombstone enumeration depends on them
    (see `_check_params`)."""

    def run() -> None:
        os.makedirs(target_dir, exist_ok=True)
        with open(os.path.join(target_dir, _PARAMS_FILE), "w") as fh:
            json.dump(_params(), fh)
        st = dedup_state(init_corpus, _NUM_HASHES, _BANDS, _SHINGLE_K)
        tables = {"corpus": init_corpus, "fp": st.fingerprints,
                  "bands": st.bands}
        for sub, keys in _LEDGERS:
            write_base(tables[sub], os.path.join(target_dir, sub), 0,
                       stats_col="doc_id", key_cols=keys)

    ledger_step(_dirs(target_dir), -1, run)


def _dirs(target_dir: str) -> list:
    return [os.path.join(target_dir, sub) for sub, _keys in _LEDGERS]


def streaming_dedup_admission(
    docs_stream: DataFrame,
    init_corpus: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    max_bucket: int | None = 64,
    auto_compact: int | None = None,
    drift_dir: str | None = None,
) -> None:
    """Run the document stream to completion (availableNow — static test
    input), maintaining the deduplicated corpus + state ledgers under
    `target_dir`. `init_corpus` must already be deduplicated with the
    same parameters (the bootstrap builds its state with one full scan).
    The final corpus is pinned equal to a flat `dedup_corpus` rerun in
    tests and oracled as `dedup_admission_compaction_documents`.

    `auto_compact` (an entry budget) runs `maybe_compact` on all three
    ledgers after each admission — the in-stream OPTIMIZE with the
    deferred-vacuum cadence, safe inside an uncommitted foreachBatch
    (see `codebook_maintenance.streaming_codebook_maintain`): the
    `as_of=b` entries a replay of the current batch would read survive
    until the NEXT fold, by which point the batch is committed.

    `drift_dir` attaches the DRIFT MAINTAINER: each admission appends
    one `operators/drift.corpus_divergence` row (merged corpus
    `as_of=b` → `as_of=b+1`, term-distribution JSD/L1) to an append-only
    ledger under `drift_dir/b{batch_id}` — the per-batch "did this
    admission shift what the corpus is made of?" number a quality
    dashboard plots live. The row is written before the batch's last
    ledger commit, so it is complete whenever the batch has landed."""
    bootstrap(init_corpus, target_dir)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        _admit_batch(batch, batch_id, target_dir, max_bucket, drift_dir)
        if auto_compact is not None:
            for sub, keys in _LEDGERS:
                maybe_compact(batch.sparkSession,
                              os.path.join(target_dir, sub), keys,
                              max_entries=auto_compact)

    run_foreach_batch(docs_stream, _apply, checkpoint_dir)


def _admit_batch(batch: DataFrame, batch_id: int, target_dir: str,
                 max_bucket: int | None,
                 drift_dir: str | None = None, gate=None) -> None:
    """One admission step: read every ledger `as_of` batch_id,
    `dedup_increment`, append ledger deltas at seq batch_id+1 (admitted
    upserts + revoked tombstones for corpus/fp/bands), optional drift
    row — shared by `streaming_dedup_admission` and the LM/DSIR/NB-gated
    admissions, so a gating policy composes in FRONT of admission
    instead of forking the ledger discipline. `gate(batch, batch_id)`
    writes the gate's own ledgers and returns the documents to admit;
    it runs only for a batch that has not landed, before any delta is
    committed, so its ledgers are complete whenever the batch is."""
    ledger_step(_dirs(target_dir), batch_id, lambda: _admit(
        batch, batch_id, target_dir, max_bucket, drift_dir, gate))


def _admit(batch: DataFrame, batch_id: int, target_dir: str,
           max_bucket: int | None, drift_dir: str | None, gate) -> None:
    seq = batch_id + 1
    _check_params(target_dir)
    sp = batch.sparkSession
    docs = batch if gate is None else gate(batch, batch_id)
    corpus, fps, bands = (
        read_merged(sp, os.path.join(target_dir, sub), keys, as_of=batch_id)
        for sub, keys in _LEDGERS)
    n_bands = _params()["n_bands"]
    res = dedup_increment(corpus, docs, DedupState(fingerprints=fps, bands=bands),
                          _NUM_HASHES, n_bands, _SHINGLE_K, _THRESHOLD,
                          max_bucket)
    kept = res.kept.localCheckpoint()  # reused by all three deltas
    revoked = res.revoked.localCheckpoint()
    other = [f.name for f in docs.schema.fields if f.name != "doc_id"]
    corpus_delta = kept.withColumn("_op", F.lit("U")).unionByName(
        revoked.select(
            "doc_id", *[F.lit(None).cast(docs.schema[c].dataType)
                      .alias(c) for c in other],
            F.lit("D").alias("_op")))
    write_delta(corpus_delta, os.path.join(target_dir, "corpus"), seq,
                stats_col="doc_id", key_cols=["doc_id"])
    if drift_dir is not None:
        from ..operators.drift import corpus_divergence, term_distribution

        # the merged corpus before and after this batch's committed
        # delta: a pure function of two ledger snapshots
        corpus_divergence(
            term_distribution(corpus),
            term_distribution(read_merged(
                sp, os.path.join(target_dir, "corpus"), ["doc_id"],
                as_of=seq)),
        ).select(
            F.lit(batch_id).cast("long").alias("from_version"),
            F.lit(seq).cast("long").alias("to_version"),
            "jsd", "l1", "n_terms_a", "n_terms_b", "n_terms_common",
        ).write.mode("overwrite").parquet(
            os.path.join(drift_dir, f"b{batch_id}"))
    kept_ids = kept.select("doc_id")
    # the increment already computed and checkpointed the batch's fp and
    # band tables — subset by kept ids instead of re-deriving shingles
    fp_delta = (res.batch_fp.select("doc_id", "fp")
                .join(kept_ids, "doc_id", "left_semi")
                .withColumn("_op", F.lit("U"))
                .unionByName(revoked.select(
                    "doc_id", F.lit(None).cast("string").alias("fp"),
                    F.lit("D").alias("_op"))))
    write_delta(fp_delta, os.path.join(target_dir, "fp"), seq,
                stats_col="doc_id", key_cols=["doc_id"])
    band_tombs = revoked.crossJoin(
        sp.range(n_bands).select(F.col("id").cast("int")
                                 .alias("band_idx"))) \
        .select("doc_id", "band_idx",
                F.lit(None).cast("string").alias("band_hash"),
                F.lit("D").alias("_op"))
    band_delta = (res.batch_bands
                  .join(kept_ids, "doc_id", "left_semi")
                  .withColumn("_op", F.lit("U"))
                  .unionByName(band_tombs))
    write_delta(band_delta, os.path.join(target_dir, "bands"), seq,
                stats_col="doc_id", key_cols=["doc_id", "band_idx"])


def read_drift(spark, drift_dir: str) -> DataFrame:
    """The drift ledger written by the maintainer: (from_version,
    to_version, jsd, l1, n_terms_a, n_terms_b, n_terms_common), one row
    per admission batch."""
    return read_batch_ledger(
        spark, drift_dir,
        "from_version long, to_version long, jsd double, l1 double, "
        "n_terms_a long, n_terms_b long, n_terms_common long", None)
