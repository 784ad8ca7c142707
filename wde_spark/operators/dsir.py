"""DSIR-style data selection via importance resampling (Xie et al.,
"Data Selection for Language Models via Importance Resampling", NeurIPS
2023) — the modern pretraining-corpus selection op: given a small TARGET
slice (the distribution you want more of) and the RAW corpus, score every
raw document by the log importance ratio ln p_target(x) − ln p_raw(x)
under cheap bag-of-n-gram language models, then sample by Gumbel top-k so
selection is importance-WEIGHTED rather than a hard threshold.

Re-expressed on the engine's existing LM machinery (`operators/lm_score`:
the LM is a DataFrame of (w1, w2, logp) rows, CCNet-style): both models
are add-k bigram LMs, so the ratio needs ONE bigram explode of the corpus,
two LM joins (broadcast when the LMs are small — they are vocabulary-
sized, not corpus-sized), and one per-document sum. The paper's hashed
n-gram buckets are an efficiency device for a single-node scorer; on a
cluster the exact bigram tables ARE the hashed representation (hash
aggregation), so no bucketing approximation is needed.

Gumbel top-k (Kim et al./Vieira's "Gumbel-max trick" form used by DSIR):
keep the k documents maximizing logw(x) + G_x with G_x ~ Gumbel(0,1).
G_x here is DERIVED FROM A SALTED HASH of the document id — deterministic
across engines, runs, and cluster sizes (the same reproducibility
discipline as `stratified_sample_documents`' md5 buckets), so the sampled
set is replayable and oracle-checkable while keeping the distributional
guarantee (md5 bits are uniform).

Scale shape: scoring is explode + broadcast joins + one hash aggregation
(shuffle on doc id); the top-k rank is a window over the SCORE table (one
row per doc, no text — the standard corpus-stats sort, same note as
`lm_score.lm_quality_bands`); at extreme n, replace with a per-partition
top-k + merge, which the deterministic key makes exact."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .lm_score import _bigram_table, lm_vocab_size


def shared_vocab(target_docs: DataFrame, raw_docs: DataFrame) -> DataFrame:
    """The union bigram-word vocabulary of both training sets as a 1-row
    (v) DataFrame — the event space BOTH models must be smoothed over
    for their scores to be comparable (DSIR's equal-dimension hashed
    feature space, exactly): with per-model vocabularies, the smaller
    model's smaller denominators inflate every probability it assigns,
    and the log-ratio degenerates into ~n_bigrams · (V_raw/V_target
    bias) — a LENGTH preference, not a distribution preference. Train
    both models with this via `train_bigram_lm(..., vocab=...)` and pass
    it to `dsir_logratio(..., vocab=...)` so the unseen-context floors
    cancel too."""
    def words(docs: DataFrame) -> DataFrame:
        bg = _bigram_table(docs)
        return bg.select(F.col("w1").alias("w")) \
            .union(bg.select(F.col("w2").alias("w")))

    return words(target_docs).union(words(raw_docs)).distinct() \
        .agg(F.count("*").alias("v"))


def _lm_sides(lm: DataFrame,
              tag: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(seen, floor, vocab) join sides of a trained LM, tagged to keep the
    two models' columns apart in one plan."""
    seen = lm.filter(F.col("w2").isNotNull()) \
        .select("w1", "w2", F.col("logp").alias(f"lp_{tag}"))
    floor = lm.filter(F.col("w2").isNull()) \
        .select("w1", F.col("logp").alias(f"fl_{tag}"))
    vdf = lm_vocab_size(lm).select(F.col("v").alias(f"v_{tag}"))
    seen, floor = F.broadcast(seen), F.broadcast(floor)
    return seen, floor, vdf


def dsir_logratio(docs: DataFrame, target_lm: DataFrame, raw_lm: DataFrame,
                  vocab: DataFrame | None = None) -> DataFrame:
    """(id, n_bigrams, log_ratio): log_ratio = Σ_bigrams [ln p_target −
    ln p_raw] with each model's two-step back-off (observed bigram →
    per-context floor → uniform −ln(V+1)); the per-bigram DIFFERENCE is
    summed (not two separate totals) so the magnitudes stay small and the
    sum is engine-reproducible at 6 dp. Documents with <2 tokens get
    n_bigrams 0 and NULL ratio — no evidence is not a preference.

    `vocab`: the SHARED vocabulary the models were trained with
    (`shared_vocab` + `train_bigram_lm(..., vocab=...)`) — used for both
    unseen-context floors, so a bigram unseen by BOTH models contributes
    exactly 0 to the ratio. Without it each model falls back to its own
    vocabulary size and a smaller target model biases the ratio upward
    per token (see `shared_vocab`); the production composition always
    passes it."""
    bg = _bigram_table(docs)
    seen_t, floor_t, v_t = _lm_sides(target_lm, "t")
    seen_r, floor_r, v_r = _lm_sides(raw_lm, "r")
    if vocab is not None:
        v_t = vocab.select(F.col("v").alias("v_t"))
        v_r = vocab.select(F.col("v").alias("v_r"))
    scored = (
        bg.join(seen_t, ["w1", "w2"], "left")
        .join(floor_t, ["w1"], "left")
        .join(seen_r, ["w1", "w2"], "left")
        .join(floor_r, ["w1"], "left")
        .crossJoin(F.broadcast(v_t))
        .crossJoin(F.broadcast(v_r))
        .select(
            F.col("doc_id"),
            (F.coalesce(F.col("lp_t"), F.col("fl_t"),
                        -F.log(F.col("v_t") + 1))
             - F.coalesce(F.col("lp_r"), F.col("fl_r"),
                          -F.log(F.col("v_r") + 1))).alias("d"),
        )
    )
    return (
        docs.select("doc_id")
        .join(
            scored.groupBy("doc_id").agg(
                F.count("*").alias("n_bigrams"),
                F.round(F.sum("d"), 6).alias("log_ratio"),
            ),
            "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "log_ratio",
        )
    )


def gumbel_noise(id_expr: Column, salt: str = "dsir") -> Column:
    """Deterministic Gumbel(0,1) draw per id: u from the first 8 hex
    digits of a salted md5 (exact in a double, uniform on (0,1) via the
    half-integer offset), then −ln(−ln u). Replayable bit-for-bit by any
    engine with md5 + ln — randomness without a random number generator."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"),
                                   id_expr.cast("string"))), 1, 8),
        16, 10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    return -F.log(-F.log(u))


def dsir_sample(ratios: DataFrame, k: int = 100,
                temperature: float = 1.0) -> DataFrame:
    """Gumbel top-k selection over `dsir_logratio` output: keep the k
    docs maximizing sel_key = log_ratio + temperature·G_id. temperature
    scales exploration (0 → hard top-k by ratio; 1 → exact importance
    resampling). Ranking uses the ROUNDED key with an id tiebreak so the
    selected set is identical across engines (same discipline as
    `tfidf_topk`). Unscored docs (NULL ratio) are excluded — route them
    to a length filter, not a preference judgment."""
    key = F.round(
        F.col("log_ratio")
        + F.lit(temperature) * gumbel_noise(F.col("doc_id"), "dsir"), 6)
    w = Window.orderBy(F.desc("sel_key"), F.asc("doc_id"))
    return (
        ratios.filter(F.col("log_ratio").isNotNull())
        .withColumn("sel_key", key)
        .withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= k)
        .drop("_rnk")
    )


def _doremi_domain_stats(ratios: DataFrame, docs: DataFrame):
    """(per, tot): per-domain doc/bigram counts + mean clipped per-bigram
    excess (rounded 6 dp so both engines exp the same double), and the
    one-row bigram grand total. One corpus join + one per-domain agg —
    everything downstream of `per` is single-digit-row model state.
    `per` is localCheckpoint-ed (domain-count rows — trivially small):
    the EG normalizer aggregations and the final projection each
    reference it, and Catalyst does not share common subplans across
    joins, so without the checkpoint every normalizer would re-run the
    corpus-sized ratio join (1 + steps corpus passes instead of one)."""
    scored = ratios.filter(F.col("n_bigrams") > 0).join(
        docs.select("doc_id", "source"), "doc_id")
    per = scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bigrams").alias("nb_dom"),
        F.round(F.avg(F.greatest(
            F.col("log_ratio") / F.col("n_bigrams"), F.lit(0.0))), 6)
        .alias("avg_excess"),
    ).localCheckpoint()
    tot = per.agg(F.sum("nb_dom").alias("nb_tot"))
    return per, tot


def doremi_schedule(ratios: DataFrame, docs: DataFrame) -> DataFrame:
    """DoReMi's FULL exponentiated-gradient schedule (Xie et al. NeurIPS
    2023, Algorithm 1), pinned to `steps` unrolled updates — the same
    pinned-iteration discipline as the k-means / PCA / BPE trainers. The
    single-step form (`doremi_weights`) is the schedule's first iterate;
    the paper's output is the AVERAGE of the iterates, which is NOT
    collapsible into one step because each step renormalizes:
    λ_0 = baseline token share, λ_t ∝ λ_{t-1} · exp(η · excess_dom),
    each λ_t rounded to 6 dp BEFORE feeding the next step (the rounding
    pin that keeps the Spark and oracle float trajectories identical),
    final weight = mean(λ_1..λ_T). Returns one row per domain with the
    whole trajectory (w1..wT) plus the averaged mixture weight.

    Scale shape: identical to the one-step form — one corpus join + one
    per-domain agg, then `steps` one-row normalizer broadcasts over a
    domain-count-sized frame (single digits); the unroll costs no extra
    corpus passes."""
    steps = 3
    per, tot = _doremi_domain_stats(ratios, docs)
    # per/tot are domain-count-sized (single-digit rows) but their plans
    # embed the whole corpus join + LM-ratio scoring; every unrolled
    # step references them on BOTH sides of a broadcast normalizer, so
    # without lineage truncation the corpus pipeline executes ~2×steps
    # times (r12 §2 shape). One eager checkpoint each collapses the step
    # algebra to in-memory single-row frames.
    per = per.localCheckpoint(eager=True)
    tot = tot.localCheckpoint(eager=True)
    cur = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("share",
                    F.col("nb_dom").cast("double") / F.col("nb_tot"))
        .withColumn("w0", F.round("share", 6))
    )
    for t in range(1, steps + 1):
        u = cur.withColumn(
            "_u", F.col(f"w{t - 1}") * F.exp(F.lit(1.0)
                                             * F.col("avg_excess")))
        z = u.agg(F.sum("_u").alias("_z"))
        cur = (
            u.crossJoin(F.broadcast(z))
            .withColumn(f"w{t}", F.round(F.col("_u") / F.col("_z"), 6))
            .drop("_u", "_z")
        )
    step_cols = [F.col(f"w{t}") for t in range(1, steps + 1)]
    avg = sum(step_cols[1:], step_cols[0]) / float(steps)
    return cur.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "avg_excess",
        F.col("w0").alias("baseline_share"),
        *[F.col(f"w{t}") for t in range(1, steps + 1)],
        F.round(avg, 6).alias("weight"),
    )


def doremi_weights(ratios: DataFrame, docs: DataFrame) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al., "DoReMi: Optimizing
    Data Mixtures Speeds Up Language Model Pretraining", NeurIPS 2023),
    relationalized to ONE exponentiated-gradient step over the DSIR
    importance ratios (the pinned-iteration discipline the k-means and
    BPE oracles use): the paper's per-domain EXCESS LOSS of a proxy vs a
    reference model becomes each domain's mean clipped per-bigram log
    importance ratio max(0, log_ratio / n_bigrams) — how much MORE the
    target distribution likes the domain's text than the raw corpus
    does, zero-floored exactly like the paper clips negative excess.
    The EG update reweights the baseline token share:
    w_dom ∝ share_dom · exp(η · excess_dom), normalized to sum 1.

    Scale shape: one corpus-sized join (ratios ⋈ domains on id), one
    per-domain aggregation, then two ONE-ROW totals (token mass,
    normalizer) broadcast back — domain count is single digits, so
    everything after the first agg is bounded model state. The excess is
    rounded to 6 dp BEFORE the exp so the weights are engine-replayable
    (both engines exp the same double)."""
    per, tot = _doremi_domain_stats(ratios, docs)
    u = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("share",
                    F.col("nb_dom").cast("double") / F.col("nb_tot"))
        .withColumn("u",
                    F.col("share") * F.exp(F.lit(1.0)
                                           * F.col("avg_excess")))
    )
    z = u.agg(F.sum("u").alias("z"))
    return (
        u.crossJoin(F.broadcast(z))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "avg_excess",
            F.round("share", 6).alias("baseline_share"),
            F.round(F.col("u") / F.col("z"), 6).alias("weight"),
        )
    )
