"""Corpus-trained naive-Bayes text classifier — the linear
bag-of-words classifier (the role fastText plays in the GPT-3/CCNet
data pipelines: score every crawled document against a curated target
class, filter/reweight by the score) re-expressed as pure aggregations,
so training AND inference are DataFrame plans a DuckDB oracle can replay
end-to-end.

Multinomial NB with add-k smoothing. The model is two DataFrames:
  model:  (label, token, logp)        — observed per-class token odds
          + per-class floor rows (token NULL) for unseen tokens
  priors: (label, logprior, lp_floor) — class prior + its unseen floor

Inference never explodes docs × labels over TOKENS: for each document
token we join only the classes that OBSERVED it (one equi-join), and the
unseen remainder contributes (n_tokens − n_seen) · floor_label — an
algebraic rearrangement, not an approximation. The docs × labels GRID
(one row per document per class, L rows each — L is the label count,
single digits in practice) carries the per-class totals; argmax is a
per-document window on the ROUNDED score with a label tiebreak, so the
predicted class is reproducible across engines and libm ulps.

Scale shape: one token explode (the same factor every text op here
pays), one equi-join on token against a vocabulary-sized model
(broadcast when small), two hash aggregations, one O(n·L) grid. No
iteration — NB's closed-form training is what makes the 100-TB version
a two-scan job where logistic regression would be a multi-pass one."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.strings import tokens


def train_naive_bayes(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(model, priors) trained on labeled docs. Smoothing mirrors
    `lm_score.train_bigram_lm`: logP(t|l) = ln((c_lt + k) / (c_l +
    k·(V+1))) over the GLOBAL training vocabulary V, one extra slot for
    unseen tokens; floor(l) = ln(k / (c_l + k·(V+1)))."""
    k = 0.5
    tok = (
        docs.select(F.col("lang").alias("label"),
                    F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
    )
    c_lt = tok.groupBy("label", "token").agg(F.count("*").alias("c_lt"))
    c_l = c_lt.groupBy("label").agg(F.sum("c_lt").alias("c_l"))
    vdf = c_lt.select("token").distinct().agg(F.count("*").alias("v"))
    seen = (
        c_lt.join(c_l, "label").crossJoin(F.broadcast(vdf))
        .select(
            "label", "token",
            F.log((F.col("c_lt") + F.lit(k))
                  / (F.col("c_l") + F.lit(k) * (F.col("v") + 1)))
            .alias("logp"),
        )
    )
    n_docs = docs.groupBy(F.col("lang").alias("label")) \
        .agg(F.count("*").alias("n_l"))
    total = n_docs.agg(F.sum("n_l").alias("n"))
    priors = (
        n_docs.crossJoin(F.broadcast(total))
        .join(c_l, "label").crossJoin(F.broadcast(vdf))
        .select(
            "label",
            F.log(F.col("n_l") / F.col("n")).alias("logprior"),
            F.log(F.lit(k) / (F.col("c_l") + F.lit(k) * (F.col("v") + 1)))
            .alias("lp_floor"),
        )
    )
    return seen, priors


def nb_classify(docs: DataFrame, model: DataFrame,
                priors: DataFrame) -> DataFrame:
    """(id, pred_label, score, margin): per-document argmax class, its
    rounded total log-probability, and the gap to the runner-up (the
    filter threshold the GPT-3-style pipelines cut on). Ties break on
    label order. Documents with no tokens in the model's vocabulary are
    still scored (all-floor) — every doc gets a prediction."""
    tok = (
        docs.select(F.col("doc_id"),
                    F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
    )
    m = F.broadcast(model)
    p = F.broadcast(priors)
    seen_agg = (
        tok.join(m, "token")
        .groupBy("doc_id", "label")
        .agg(F.sum("logp").alias("s_seen"), F.count("*").alias("n_seen"))
    )
    n_tok = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    grid = (
        docs.select("doc_id").join(n_tok, "doc_id", "left")
        .select("doc_id", F.coalesce("n_tok", F.lit(0)).alias("n_tok"))
        .crossJoin(p)
    )
    scored = (
        grid.join(seen_agg, ["doc_id", "label"], "left")
        .select(
            F.col("doc_id"), "label",
            F.round(
                F.col("logprior")
                + F.coalesce(F.col("s_seen"), F.lit(0.0))
                + (F.col("n_tok") - F.coalesce(F.col("n_seen"), F.lit(0)))
                * F.col("lp_floor"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("label"))
    return (
        scored.withColumn("_rnk", F.row_number().over(w))
        .withColumn("_next", F.lead("score").over(w))
        .filter(F.col("_rnk") == 1)
        .select(
            F.col("doc_id"), F.col("label").alias("pred_label"), "score",
            F.round(F.col("score") - F.coalesce("_next", F.col("score")), 6)
            .alias("margin"),
        )
    )


def nb_accuracy(predictions: DataFrame, truth: DataFrame) -> DataFrame:
    """One-row accuracy summary of `nb_classify` output against labeled
    truth — the held-out gate a production classifier ships with."""
    joined = predictions.join(
        truth.select(F.col("doc_id"), F.col("lang").alias("_truth")),
        "doc_id")
    return joined.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("pred_label") == F.col("_truth"), 1)
              .otherwise(0)).cast("long").alias("n_correct"),
        F.round(F.avg(F.when(F.col("pred_label") == F.col("_truth"), 1.0)
                      .otherwise(0.0)), 6).alias("accuracy"),
    )
