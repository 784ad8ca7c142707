"""Incremental corpus deduplication — dedup a NEW batch of documents
against an already-deduplicated corpus WITHOUT rescanning the corpus text.

This is the shape a production training-data pipeline actually runs: the
100 TB corpus was cleaned once (`dedup.dedup_corpus`); every day a few GB
of new documents arrive. Re-running the full pipeline over corpus ∪ batch
would rescan 100 TB to admit 0.001% new rows. Instead the corpus is
represented by compact STATE:

  - fingerprints  (doc_id, fp)                     — exact-dup tier state
  - bands         (doc_id, band_idx, band_hash)    — LSH near-dup tier state

(both a few dozen bytes/doc vs ~KB of text — ~1000× smaller than the
corpus, and both partitionable by their join key). An increment touches:

  1. the state fingerprint table ONCE, semi-joined to the batch's
     (broadcast-small) fingerprint set — exact dups resolved by global
     min-id, so a batch doc with a smaller id than its corpus twin WINS
     and the twin is revoked (identical semantics to a full re-run);
  2. the state band table ONCE, semi-joined to the batch's (broadcast-
     small) band-key set — only buckets that contain at least one batch
     doc can produce a new candidate pair, so the state side never
     shuffles: it streams past a broadcast hash of batch band keys;
  3. the corpus TEXT only for the handful of state docs that landed in a
     candidate pair (semi-join on candidate ids) — exact-Jaccard
     verification needs their shingles, and re-shingling only candidates
     is O(candidates), not O(corpus);
  4. connected components over the (tiny) verified edge set — batch-batch
     and batch-state edges together, so a new doc that BRIDGES two
     existing corpus classes merges them exactly as a full re-run would
     (the losing corpus representative is revoked).

Equivalence contract (pinned by tests/test_incremental_dedup.py): for a
deduplicated corpus `kept` (i.e. `kept = dedup_corpus(kept)`),

    (kept − revoked) ∪ admitted  ==  dedup_corpus(kept ∪ batch)

with the same parameters, whenever no LSH band bucket exceeds
`max_bucket` in either run (bucket capping is population-dependent, so an
increment that pushes a bucket over the cap is the one case where the two
runs may legitimately propose different candidate sets; pass
max_bucket=None for unconditional equivalence). The union is over the
KEPT corpus, not the raw pre-dedup history: near-duplicate similarity is
not transitive, so documents dropped by earlier runs carry no bridging
information by construction — which is also why `dedup_increment` never
needs them.

Reference scope note: the reference system (katabase/3_WikidataEnrichment)
has no incremental-dedup surface; this module is part of the
training-data-pipeline tier this repo adds beyond the reference.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.strings import norm_compare
from . import graph as G
from .dedup import (_jaccard_verify, distinct_shingle_table, lsh_band_table,
                    lsh_params_for)


class DedupState(NamedTuple):
    """Compact corpus-side dedup state. Both members are plain DataFrames —
    write them with `partitionBy`/`bucketBy` on their join keys (fp /
    band_hash) and read them back for the next increment."""

    fingerprints: DataFrame  # (id_col, fp)
    bands: DataFrame         # (id_col, band_idx, band_hash)


class IncrementResult(NamedTuple):
    kept: DataFrame     # batch rows admitted to the corpus (original schema)
    revoked: DataFrame  # single-column: corpus ids dethroned by this batch
    state: DedupState   # state for corpus' = (corpus − revoked) ∪ kept
    # the batch's OWN fp/band tables (localCheckpointed inside the
    # increment) — delta-ledger writers subset these by kept ids instead
    # of re-deriving shingles/minhashes (reuse, don't re-derive)
    batch_fp: DataFrame | None = None
    batch_bands: DataFrame | None = None


def _fingerprints(docs: DataFrame) -> DataFrame:
    # NULL text → sentinel, not NULL: `exact_dedup`'s groupBy(fp) puts all
    # NULL-text docs in ONE group, but an equi-join on fp can never match
    # NULL to NULL — without the sentinel a batch NULL-text doc would miss
    # its corpus NULL-text twin and the full-rerun equivalence would break
    # on exactly that row. The sentinel is used consistently on both sides
    # of the increment (state build + batch), never by `exact_dedup` itself.
    return docs.select(
        F.col("doc_id"),
        F.coalesce(F.md5(norm_compare(F.col("text"))),
                   F.lit("__wde_null_text__")).alias("fp"))


def _resolve_bands(bands: int | str, num_hashes: int) -> int:
    """`bands="auto"` → the S-curve chooser (`dedup.lsh_params_for`), the
    same default resolution `dedup_corpus` uses — state built here and a
    corpus deduped there agree on banding by construction."""
    if bands == "auto":
        bands, _ = lsh_params_for(0.7, num_hashes)
    return bands


def dedup_state(kept: DataFrame, num_hashes: int = 16,
                bands: int | str = "auto", shingle_k: int = 2) -> DedupState:
    """Build dedup state from an already-KEPT corpus (one full scan — run
    once at bootstrap; afterwards `dedup_increment` maintains it without
    touching corpus text). Parameters must match the `dedup_corpus` run
    that produced `kept` — both default banding to the S-curve chooser,
    so the defaults agree by construction."""
    bands = _resolve_bands(bands, num_hashes)
    return DedupState(
        fingerprints=_fingerprints(kept),
        bands=lsh_band_table(kept, num_hashes, bands, shingle_k),
    )


def dedup_increment(corpus: DataFrame, batch: DataFrame,
                    state: DedupState | None = None, num_hashes: int = 16,
                    bands: int | str = "auto", shingle_k: int = 2,
                    threshold: float = 0.2,
                    max_bucket: int | None = 64) -> IncrementResult:
    """Admit `batch` into the deduplicated `corpus`.

    `corpus` is the current KEPT document table (text is consulted only
    for candidate verification, via a semi-join on candidate ids);
    `state` is its dedup state (derived from `corpus` here if omitted —
    fine for tests, but the 100 TB path passes the persisted state so the
    corpus is never re-hashed). Returns (kept, revoked, state') — see the
    module docstring for the full-rerun equivalence contract.

    Preconditions: ids are unique within `batch` and disjoint from the
    corpus (min-id winner selection is undefined under collisions), and
    `corpus`/`state` were produced with the same parameters.
    """
    bands = _resolve_bands(bands, num_hashes)
    if state is None:
        state = dedup_state(corpus, num_hashes, bands, shingle_k)

    # ---- tier 1: exact. One semi-join pass over state fingerprints against
    # the batch's fp set; winners are global min-ids, exactly as the full
    # pipeline's groupBy(fp).min(id) would pick them.
    # Every intermediate below is BATCH-BOUNDED (that is the design point),
    # so they are eagerly localCheckpoint-ed rather than persisted: each is
    # referenced several times downstream, and Catalyst plans are trees —
    # without lineage truncation every reference would re-expand the whole
    # upstream subtree and driver-side ANALYSIS, not execution, would
    # dominate an increment (measured 10×+ on tools/stress_incremental.py).
    b_fp = _fingerprints(batch).localCheckpoint()
    s_hits = state.fingerprints.join(
        F.broadcast(b_fp.select("fp").distinct()), "fp", "left_semi")
    all_fp = b_fp.withColumn("__src", F.lit("b")).unionByName(
        s_hits.withColumn("__src", F.lit("s")))
    fp_groups = all_fp.groupBy("fp").agg(
        F.min("doc_id").alias("win_id"),
        F.min_by("__src", F.struct(F.col("doc_id"), F.col("__src")))
        .alias("win_src"),
    )
    # corpus docs whose fp group is won by a smaller-id batch doc
    exact_revoked = (
        s_hits.join(fp_groups.filter(F.col("win_src") == "b"), "fp", "inner")
        .select(F.col("doc_id"))
        .localCheckpoint()  # reused 3×
    )
    # batch docs that win their fp group (vs both corpus twins and
    # intra-batch clones) survive to the near-dup tier
    b_surv_ids = (
        b_fp.join(fp_groups.filter(F.col("win_src") == "b")
                  .select("fp", "win_id"), "fp")
        .filter(F.col("doc_id") == F.col("win_id"))
        .select(F.col("doc_id"))
    )
    survivors = batch.join(b_surv_ids, "doc_id", "left_semi").localCheckpoint()

    # ---- tier 2: LSH candidates. Batch bands are computed fresh; the state
    # band table is reduced FIRST to buckets the batch touches (broadcast
    # semi-join on band keys — the state side never shuffles), minus docs
    # the exact tier just revoked.
    sh_b = distinct_shingle_table(survivors, shingle_k) \
        .localCheckpoint()
    bands_b = lsh_band_table(survivors, num_hashes, bands,
                             shingle_k, shingle_table=sh_b) \
        .localCheckpoint()
    s_bands_hit = (
        state.bands
        .join(exact_revoked, "doc_id", "left_anti")
        .join(F.broadcast(bands_b.select("band_idx", "band_hash").distinct()),
              ["band_idx", "band_hash"], "left_semi")
    )
    stacked = (
        bands_b.withColumn("__src", F.lit("b"))
        .unionByName(s_bands_hit.withColumn("__src", F.lit("s")))
        .localCheckpoint()  # self-joined below: without truncation the
    )                       # subtree would be squared
    if max_bucket is not None:
        # Population-true cap: counts include the corpus members of each
        # touched bucket, so the cap decision matches what a full re-run
        # over corpus ∪ batch would make for every bucket a pair can come
        # from. (Buckets with no batch member produce no new pairs and are
        # corpus-internal — already resolved when the corpus was built.)
        stacked = stacked.withColumn(
            "__bsz",
            F.count("*").over(Window.partitionBy("band_idx", "band_hash")),
        ).filter(F.col("__bsz") <= max_bucket).drop("__bsz")
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               # at least one batch side: corpus-corpus pairs were already
               # adjudicated when the corpus was deduplicated
               & ((F.col("a.__src") == "b") | (F.col("b.__src") == "b")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct()
        .localCheckpoint()  # feeds ids, inter, edges
    )

    # ---- tier 3: exact-Jaccard verification. Corpus text is consulted only
    # for docs that actually appear in a candidate pair.
    cand_ids = cand.select(F.col("id_a").alias("doc_id")).unionByName(
        cand.select(F.col("id_b").alias("doc_id"))).distinct()
    s_cand_docs = corpus.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    sh_all = sh_b.unionByName(
        distinct_shingle_table(s_cand_docs, shingle_k))
    edges = _jaccard_verify(sh_all, threshold, cand) \
        .select("id_a", "id_b")

    # ---- tier 4: components over the verified edges. A batch doc adjacent
    # to two corpus docs merges their classes — min-id representative wins
    # across the whole component, as in the full pipeline.
    comps = G.connected_components(edges)
    losers = comps.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias("doc_id")) \
        .localCheckpoint()  # reused by revoke + keep
    near_revoked = losers.join(
        corpus.select("doc_id"), "doc_id", "left_semi")
    kept = survivors.join(losers, "doc_id", "left_anti")

    revoked = exact_revoked.unionByName(near_revoked).distinct()

    # ---- state': drop revoked corpus rows, append the admitted batch rows
    # (their fp/band rows are already computed — reuse, don't re-derive).
    kept_ids = kept.select("doc_id")
    new_state = DedupState(
        fingerprints=state.fingerprints
        .join(revoked, "doc_id", "left_anti")
        .unionByName(b_fp.select("doc_id", "fp")
                     .join(kept_ids, "doc_id", "left_semi")),
        bands=state.bands
        .join(revoked, "doc_id", "left_anti")
        .unionByName(bands_b.join(kept_ids, "doc_id", "left_semi")),
    )
    return IncrementResult(kept=kept, revoked=revoked, state=new_state,
                           batch_fp=b_fp, batch_bands=bands_b)
