"""Corpus-trained n-gram language-model quality scoring — the CCNet-style
perplexity filter (Wenzek et al., "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data", LREC 2020) re-expressed
relationally: train a bigram LM ON the corpus (or on a trusted reference
slice of it), score every document by its average bigram log-probability,
and band the corpus by score — the head band is the training-quality cut
a 100-TB pipeline keeps, the tail is boilerplate/noise/gibberish.

No model binary, no Python in the hot path: the LM IS a DataFrame of
(w1, w2, logp) rows, training is two hash aggregations over an exploded
bigram table, and scoring is one join + one aggregation. Everything is
deterministic and ANSI-replayable, so a DuckDB oracle can hash-check
scores end-to-end (intended registry entry for the next round; this
module ships tests-first so registration adds no rotation debt).

Scale shape:
- training: explode bigrams (row-local `arrays_zip(tok, slice(tok,2))`)
  → ONE shuffle for bigram counts, one for unigram counts; vocabulary V
  is a scalar aggregate. Counts tables are corpus-state-sized (distinct
  bigrams ≪ corpus text) and partitionable by w1 — the same
  state-vs-text separation as `incremental.dedup_state`.
- scoring: explode the candidate set's bigrams, join the LM on (w1, w2)
  — broadcast when the LM is small, shuffle on w1-prefixed keys
  otherwise — then one per-doc average. Unseen bigrams back off to the
  smoothed unigram floor, so scoring never drops rows.

Smoothing: add-k (k configurable) over the training vocabulary —
logP(w2 | w1) = ln((c(w1,w2) + k) / (c(w1) + k·(V+1))) with one extra
vocabulary slot for unseen continuations; an unseen (w1, ·) context
scores the uniform floor ln(k / (k·(V+1))) = -ln(V+1). Simple, exact,
reproducible on both engines (DuckDB `ln`)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.strings import tokens


def _bigram_table(docs: DataFrame) -> DataFrame:
    """(id, w1, w2) — one row per bigram occurrence, row-local build:
    zip the token array with itself shifted by one (slice(2..)), explode.
    Documents with <2 tokens contribute no rows (and score NULL)."""
    tok = tokens(F.col("text"))
    pairs = F.arrays_zip(
        F.slice(tok, 1, F.greatest(F.size(tok) - 1, F.lit(0))).alias("w1"),
        F.slice(tok, 2, F.greatest(F.size(tok) - 1, F.lit(0))).alias("w2"),
    )
    return (
        docs.select(F.col("doc_id"), F.explode(pairs).alias("bg"))
        .select(F.col("doc_id"), F.col("bg.w1").alias("w1"),
                F.col("bg.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )


def train_bigram_lm(docs: DataFrame,
                    vocab: DataFrame | None = None) -> DataFrame:
    """Train the LM: returns (w1, w2, logp) for every OBSERVED bigram,
    plus the per-context floor as (w1, NULL, logp_floor) rows so scoring
    can back off with one left join. The uniform unseen-context floor
    -ln(V+1) is a property of (V, k) and is recomputed by `lm_quality`;
    it is not stored per row.

    `vocab` (a 1-row (v) DataFrame) overrides the model's OWN vocabulary
    size in the smoothing denominators — two models trained with the
    same `vocab` are smoothed over the same event space, which is what
    makes their per-document scores comparable (the DSIR log-ratio
    requirement: same feature-space dimension for both models; a
    smaller-V model otherwise assigns higher probability to EVERYTHING
    and the ratio picks up a per-token bias — see `operators/dsir.py`)."""
    k = 0.5
    bg = _bigram_table(docs)
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vdf = vocab if vocab is not None else \
        c12.select("w2").union(c12.select("w1")).distinct() \
        .agg(F.count("*").alias("v"))
    seen = (
        c12.join(c1, "w1").crossJoin(F.broadcast(vdf))
        .select(
            "w1", "w2",
            F.log((F.col("c12") + F.lit(k))
                  / (F.col("c1") + F.lit(k) * (F.col("v") + 1))).alias("logp"),
        )
    )
    floor = (
        c1.crossJoin(F.broadcast(vdf))
        .select(
            "w1", F.lit(None).cast("string").alias("w2"),
            F.log(F.lit(k)
                  / (F.col("c1") + F.lit(k) * (F.col("v") + 1))).alias("logp"),
        )
    )
    return seen.unionByName(floor)


def lm_vocab_size(lm: DataFrame) -> Column:
    """V as a 1-row DataFrame-agg column source (observed bigram rows
    only; the floor rows have NULL w2 and are excluded)."""
    return lm.filter(F.col("w2").isNotNull()) \
        .select("w2").union(lm.filter(F.col("w2").isNotNull()).select("w1")) \
        .distinct().agg(F.count("*").alias("v"))


def lm_quality(docs: DataFrame, lm: DataFrame) -> DataFrame:
    """Score every document: (id, n_bigrams, avg_logp) where avg_logp is
    the mean ln P(w2|w1) under the trained LM — higher (less negative) is
    more fluent/typical of the training slice; CCNet keeps the head band
    and drops/buckets the tail. Documents with <2 tokens score NULL (no
    evidence ≠ fluent). Back-off ladder per bigram: observed (w1,w2) →
    per-context smoothed floor (w1, NULL) → uniform unseen-context floor
    -ln(V+1)."""
    bg = _bigram_table(docs)
    seen = lm.filter(F.col("w2").isNotNull()) \
        .select("w1", "w2", F.col("logp").alias("lp_seen"))
    floor = lm.filter(F.col("w2").isNull()) \
        .select("w1", F.col("logp").alias("lp_floor"))
    vdf = lm_vocab_size(lm)
    seen, floor = F.broadcast(seen), F.broadcast(floor)
    scored = (
        bg.join(seen, ["w1", "w2"], "left")
        .join(floor, ["w1"], "left")
        .crossJoin(F.broadcast(vdf))
        .select(
            F.col("doc_id"),
            F.coalesce(
                F.col("lp_seen"), F.col("lp_floor"),
                -F.log(F.col("v") + 1)).alias("lp"),
        )
    )
    return (
        docs.select("doc_id")
        .join(
            scored.groupBy("doc_id").agg(
                F.count("*").alias("n_bigrams"),
                F.avg("lp").alias("avg_logp"),
            ),
            "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.round("avg_logp", 6).alias("avg_logp"),
        )
    )


def lm_quality_bands(scores: DataFrame) -> DataFrame:
    """CCNet-style head/middle/tail banding by avg_logp: band 1 = most
    fluent. NULL scores (too-short docs) get band NULL — route them to a
    length filter, not a fluency judgment. ntile over a global order is a
    single-partition sort at scale — fine for the score table (one row
    per doc, no text), the usual CCNet corpus-stats shape."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("avg_logp"), F.asc("doc_id"))
    scored = scores.filter(F.col("avg_logp").isNotNull()) \
        .withColumn("band", F.ntile(3).over(w).cast("int"))
    unscored = scores.filter(F.col("avg_logp").isNull()) \
        .withColumn("band", F.lit(None).cast("int"))
    return scored.unionByName(unscored)
