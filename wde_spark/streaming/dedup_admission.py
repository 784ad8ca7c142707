"""Streaming corpus admission — a continuously-deduplicated document
corpus maintained from a document stream.

This is the ingest path of a training-data pipeline run as a stream: each
micro-batch of freshly-crawled documents is admitted against the current
corpus via `operators/incremental.dedup_increment` — exact dups dropped
(or dethroning their corpus twin on smaller id), near-dups clustered with
the corpus classes they touch, novel docs appended — and the corpus plus
its dedup state (fingerprint + LSH band tables) roll forward together as
copy-on-write versions through `versions.versioned_step` (admission is
not algebraically idempotent — re-admitting admitted docs would collide
with their own ids — so replay safety rests on that step's commit rule).

At 100 TB: the per-batch work is `dedup_increment`'s contract — state
tables stream past broadcast batch keys, corpus text is read only for
verification candidates — plus one write of corpus/state deltas. (The
copy-on-write layout here rewrites full snapshots for test-scale clarity;
a production deployment would write the kept/revoked DELTAS per version
and compact, exactly like the table formats do.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.incremental import DedupState, dedup_increment
from .versions import (bootstrap, latest_version_dir, read_batch_ledger,
                       run_foreach_batch, versioned_step)

# The one banding every admission ledger runs with (`dedup_corpus`'s
# defaults): 16 hashes, S-curve bands, 2-token shingles, Jaccard 0.2.
_NUM_HASHES, _BANDS, _SHINGLE_K, _THRESHOLD = 16, "auto", 2, 0.2


def read_corpus(spark, target_dir: str) -> DataFrame:
    """Current admitted corpus (latest version)."""
    return spark.read.parquet(
        os.path.join(latest_version_dir(target_dir), "corpus"))


def streaming_dedup_admission(
    docs_stream: DataFrame,
    init_corpus: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    drift_dir: str | None = None,
) -> None:
    """Run the document stream to completion (availableNow — static test
    input), maintaining the deduplicated corpus + state under
    `target_dir` (bucket cap 64). `init_corpus` must already be
    deduplicated with the same parameters (v0 bootstrap builds its state
    with one full scan).

    `drift_dir` attaches the DRIFT MAINTAINER: after each admission
    writes version n+1, one `operators/drift.corpus_divergence` row
    (v_n → v_{n+1} term-distribution JSD/L1) is appended to an
    append-only ledger under `drift_dir/b{batch_id}` — the per-batch
    "did this admission shift what the corpus is made of?" number a
    quality dashboard plots live, instead of recomputing
    `drift_history` from scratch. The row is written inside the batch's
    versioned step, so it is complete whenever version n+1 is. The rows
    are pinned equal to `drift_history` over the finished ledger in
    tests."""
    bootstrap_v0(init_corpus, target_dir)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        _admit_batch(batch, batch_id, target_dir, 64, drift_dir)

    run_foreach_batch(docs_stream, _apply, checkpoint_dir)


def _admit_batch(batch: DataFrame, batch_id: int, target_dir: str,
                 max_bucket: int | None,
                 drift_dir: str | None = None, gate=None) -> None:
    """One admission step v{batch_id} → v{batch_id+1} (read previous
    version, `dedup_increment`, write next version, optional drift row)
    — shared by `streaming_dedup_admission` and the LM/DSIR/NB-gated
    admissions, so a gating policy composes in FRONT of admission
    instead of forking the version-ledger discipline. `gate(batch,
    batch_id)`
    writes the gate's own ledgers and returns the documents to admit;
    it runs inside the versioned step, so its ledgers are complete
    whenever the version is."""
    spark = batch.sparkSession

    def step(prev: str, out: str) -> None:
        docs = batch if gate is None else gate(batch, batch_id)
        corpus = spark.read.parquet(os.path.join(prev, "corpus"))
        state = DedupState(
            fingerprints=spark.read.parquet(os.path.join(prev, "fp")),
            bands=spark.read.parquet(os.path.join(prev, "bands")),
        )
        res = dedup_increment(corpus, docs, state,
                              _NUM_HASHES, _BANDS, _SHINGLE_K, _THRESHOLD,
                              max_bucket)
        corpus.join(res.revoked, "doc_id", "left_anti") \
            .unionByName(res.kept) \
            .write.mode("overwrite").parquet(os.path.join(out, "corpus"))
        res.state.fingerprints.write.mode("overwrite").parquet(
            os.path.join(out, "fp"))
        res.state.bands.write.mode("overwrite").parquet(
            os.path.join(out, "bands"))
        if drift_dir is not None:
            from pyspark.sql import functions as F

            from ..operators.drift import corpus_divergence, term_distribution

            # read the version just WRITTEN (not res.kept) so the row is
            # a pure function of two immutable snapshots
            new_corpus = spark.read.parquet(os.path.join(out, "corpus"))
            corpus_divergence(
                term_distribution(corpus),
                term_distribution(new_corpus),
            ).select(
                F.lit(batch_id).cast("long").alias("from_version"),
                F.lit(batch_id + 1).cast("long").alias("to_version"),
                "jsd", "l1", "n_terms_a", "n_terms_b", "n_terms_common",
            ).write.mode("overwrite").parquet(
                os.path.join(drift_dir, f"b{batch_id}"))

    versioned_step(target_dir, batch_id, step)


def bootstrap_v0(init_corpus: DataFrame, target_dir: str) -> None:
    """v0 bootstrap (corpus + dedup state), shared by all admission entry
    points; a crash before its commit leaves no v0, and the next start
    rebuilds all of it."""
    from ..operators.incremental import dedup_state

    def write_v0(out: str) -> None:
        init_corpus.write.mode("overwrite").parquet(
            os.path.join(out, "corpus"))
        st = dedup_state(init_corpus, _NUM_HASHES, _BANDS, _SHINGLE_K)
        st.fingerprints.write.mode("overwrite").parquet(
            os.path.join(out, "fp"))
        st.bands.write.mode("overwrite").parquet(os.path.join(out, "bands"))

    bootstrap(target_dir, write_v0)


_PARAMS_FILE = "_dedup_params.json"


def _params_path(target_dir: str) -> str:
    return os.path.join(target_dir, _PARAMS_FILE)


def _check_params(target_dir: str, num_hashes: int, n_bands: int,
                  shingle_k: int) -> None:
    """Assert the banding the caller resolved matches what the ledger
    was bootstrapped with — a ledger driven with different
    num_hashes/bands would enumerate tombstones for band_idx keys that
    don't exist (or miss ones that do) with no error. Mirrors the
    'parameters must match' precondition `dedup_state` documents.
    Ledgers that predate the sidecar (no params file) stay unguarded."""
    import json

    p = _params_path(target_dir)
    if not os.path.exists(p):
        return
    with open(p) as fh:
        want = json.load(fh)
    got = {"num_hashes": num_hashes, "n_bands": n_bands,
           "shingle_k": shingle_k}
    if got != want:
        raise ValueError(
            f"dedup-admission ledger at {target_dir} was bootstrapped "
            f"with {want} but is being driven with {got}; banding "
            f"parameters are frozen at bootstrap_delta time")


def bootstrap_delta(init_corpus: DataFrame, target_dir: str) -> None:
    """DELTA-LEDGER twin of `bootstrap_v0`: the (already-deduplicated)
    init corpus and its dedup state land as ledger bases
    (`{target_dir}/{corpus,fp,bands}/b0`, `streaming/compaction.py`
    layout) instead of a `v0` snapshot. The resolved banding parameters
    are persisted next to the ledgers and asserted on every admission —
    tombstone enumeration depends on them (see `_check_params`)."""
    import json

    from ..operators.incremental import _resolve_bands, dedup_state
    from .compaction import ledger_entries, write_base

    # any entry means the ledger is live — compaction may have folded
    # b0 away, so "b0 exists" is NOT the bootstrapped test
    if ledger_entries(os.path.join(target_dir, "corpus")):
        return
    st = dedup_state(init_corpus, _NUM_HASHES, _BANDS, _SHINGLE_K)
    os.makedirs(target_dir, exist_ok=True)
    with open(_params_path(target_dir), "w") as fh:
        json.dump({"num_hashes": _NUM_HASHES,
                   "n_bands": _resolve_bands(_BANDS, _NUM_HASHES),
                   "shingle_k": _SHINGLE_K}, fh)
    write_base(init_corpus, os.path.join(target_dir, "corpus"), 0,
               stats_col="doc_id", key_cols=["doc_id"])
    write_base(st.fingerprints, os.path.join(target_dir, "fp"), 0,
               stats_col="doc_id", key_cols=["doc_id"])
    write_base(st.bands, os.path.join(target_dir, "bands"), 0,
               stats_col="doc_id", key_cols=["doc_id", "band_idx"])


def streaming_dedup_admission_delta(
    docs_stream: DataFrame,
    init_corpus: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    max_bucket: int | None = 64,
    auto_compact: int | None = None,
) -> None:
    """DELTA-LEDGER twin of `streaming_dedup_admission` — the corpus AND
    both dedup-state tables are maintained as merge-on-read ledgers
    (`streaming/compaction.py`), so a micro-batch writes O(batch) rows:

      * corpus delta: admitted rows as upserts + revoked ids as
        tombstones (key: doc_id);
      * fingerprint delta: admitted fps + revoked tombstones (doc_id);
      * band delta: admitted band rows + revoked tombstones, one per
        (id, band_idx) — enumerable because every doc has exactly
        `bands` band rows, so a revocation's keys are known without
        reading the state.

    This is the production write path the COW module docstring promises
    ("a production deployment would write the kept/revoked DELTAS per
    version and compact"): the snapshot rewrite that dominates
    `_admit_batch`'s cost at test scale (see
    measurements/stress_dedup_admission_r11.json) disappears, and
    `compaction.compact` restores read amplification on a cadence.
    Semantics are UNCHANGED — same `dedup_increment`, same
    frozen-at-arrival ledger; the final merged corpus is pinned equal
    to the COW maintainer's in tests and oracled as
    `dedup_admission_compaction_documents`.

    Replay contract: batch `b` reads every ledger `as_of=b` (its own
    deltas at b+1 excluded), so a foreachBatch re-run rewrites the same
    deltas with the same bytes.

    `auto_compact` (an entry budget) runs `maybe_compact` on all three
    ledgers after each admission — the in-stream OPTIMIZE with the
    deferred-vacuum cadence, safe inside an uncommitted foreachBatch
    (see `streaming_codebook_maintain_delta`): the `as_of=b` entries a
    replay of the current batch would read survive until the NEXT
    fold, by which point the batch is committed."""
    bootstrap_delta(init_corpus, target_dir)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        _admit_batch_delta(batch, batch_id, target_dir, max_bucket)
        if auto_compact is not None:
            from .compaction import maybe_compact

            for sub, keys in (("corpus", ["doc_id"]), ("fp", ["doc_id"]),
                              ("bands", ["doc_id", "band_idx"])):
                maybe_compact(batch.sparkSession,
                              os.path.join(target_dir, sub), keys,
                              max_entries=auto_compact)

    run_foreach_batch(docs_stream, _apply, checkpoint_dir)


def _admit_batch_delta(batch: DataFrame, batch_id: int, target_dir: str,
                       max_bucket: int | None) -> None:
    """One delta-ledger admission step: read every ledger `as_of`
    batch_id, `dedup_increment`, append ledger deltas seq batch_id+1
    (admitted upserts + revoked tombstones for corpus/fp/bands) —
    `streaming_dedup_admission_delta`'s foreachBatch body, callable
    directly (tools/stress_dedup_admission.py times it against the COW
    `_admit_batch`)."""
    from pyspark.sql import functions as F

    from ..operators.incremental import _resolve_bands, dedup_increment
    from .compaction import read_merged, write_delta

    sp = batch.sparkSession
    n_bands = _resolve_bands(_BANDS, _NUM_HASHES)
    _check_params(target_dir, _NUM_HASHES, n_bands, _SHINGLE_K)
    corpus = read_merged(sp, os.path.join(target_dir, "corpus"),
                         ["doc_id"], as_of=batch_id)
    state = DedupState(
        fingerprints=read_merged(sp, os.path.join(target_dir, "fp"),
                                 ["doc_id"], as_of=batch_id),
        bands=read_merged(sp, os.path.join(target_dir, "bands"),
                          ["doc_id", "band_idx"], as_of=batch_id),
    )
    res = dedup_increment(corpus, batch, state,
                          _NUM_HASHES, n_bands, _SHINGLE_K, _THRESHOLD,
                          max_bucket)
    kept = res.kept.localCheckpoint()  # reused by all three deltas
    revoked = res.revoked.localCheckpoint()
    seq = batch_id + 1
    other = [f.name for f in batch.schema.fields if f.name != "doc_id"]
    corpus_delta = kept.withColumn("_op", F.lit("U")).unionByName(
        revoked.select(
            "doc_id", *[F.lit(None).cast(batch.schema[c].dataType)
                      .alias(c) for c in other],
            F.lit("D").alias("_op")))
    write_delta(corpus_delta, os.path.join(target_dir, "corpus"), seq,
                stats_col="doc_id", key_cols=["doc_id"])
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


def read_corpus_merged(spark, target_dir: str) -> DataFrame:
    """Current admitted corpus out of the delta ledger (merge-on-read;
    a plain base scan once compacted)."""
    from .compaction import read_merged

    return read_merged(spark, os.path.join(target_dir, "corpus"),
                       ["doc_id"])


def read_drift(spark, drift_dir: str) -> DataFrame:
    """The drift ledger written by the maintainer: (from_version,
    to_version, jsd, l1, n_terms_a, n_terms_b, n_terms_common), one row
    per admission batch."""
    return read_batch_ledger(
        spark, drift_dir,
        "from_version long, to_version long, jsd double, l1 double, "
        "n_terms_a long, n_terms_b long, n_terms_common long")
