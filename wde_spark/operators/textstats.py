"""Text-analysis operators over the `documents` table.

Generalizes the reference's word-frequency utility (A1,
script/utils/traitcounter.py:27-60 — an O(n²) Python loop) into distributed
column-expression pipelines, and adds the text-quality operators a
large-scale training-data pipeline needs: language ID, quality scoring,
token counting, document fingerprinting. Everything is built-in
`pyspark.sql.functions` — no Python UDFs — so the hot path stays inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.strings import norm_compare, tokens

# The reference strips 50 French stop words (script/utils/traitcounter.py:39-48).
# For the generic engine we keep small per-language stopword profiles; they
# double as the language-ID discriminators.
STOPWORDS = {
    "fr": ["le", "la", "les", "de", "des", "du", "un", "une", "et", "à", "au",
           "aux", "ce", "ces", "dans", "en", "par", "pour", "sur", "qui", "que"],
    "en": ["the", "a", "an", "and", "of", "to", "in", "is", "it", "that",
           "for", "on", "with", "as", "was", "at", "by", "this"],
    "es": ["el", "la", "los", "las", "de", "del", "un", "una", "y", "en",
           "que", "por", "para", "con", "es"],
    "de": ["der", "die", "das", "und", "von", "zu", "mit", "ist", "den",
           "dem", "ein", "eine", "auf", "für"],
}


def word_count(docs: DataFrame,
               stopwords: list[str] | None = None) -> DataFrame:
    """A1 + P3 + P4 + W3 — token frequency, stop-words and pattern-matched
    tokens removed, sorted descending.

    Plan shape: scan → explode (no shuffle) → partial hash agg → shuffle on
    word → final agg → sort. The map-side partial aggregation means the
    shuffle carries one row per distinct word per partition, not per token —
    this is what makes it viable at 100 TB of text.
    """
    words = docs.select(F.explode(tokens(F.col("text"))).alias("word"))
    words = words.filter(F.col("word") != "")
    if stopwords:
        words = words.filter(~F.col("word").isin(stopwords))
    words = words.filter(~F.col("word").rlike(r"^(\d+|[A-Z]+)$"))
    return words.groupBy("word").count().orderBy(F.desc("count"), "word")


def _lang_score(tok: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of `lang` (duplicates count)."""
    wordset = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tok, lambda x: F.array_contains(wordset, x)))


def lang_id(docs: DataFrame) -> DataFrame:
    """Language ID via stopword-profile scoring: the language whose stopword
    list overlaps the token stream most wins; 'und' when nothing matches.
    Purely row-local (no shuffle); ties broken by fixed language order."""
    tok = tokens(F.col("text"))
    df = docs.select(
        F.col("doc_id"),
        *[_lang_score(tok, lg).alias(f"score_{lg}") for lg in STOPWORDS],
    )
    best = F.greatest(*[F.col(f"score_{lg}") for lg in STOPWORDS])
    pred = F.when(best <= 0, F.lit("und"))
    for lg in STOPWORDS:  # first language reaching the max wins
        pred = pred.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return df.select("doc_id", pred.alias("pred_lang"),
                     best.cast("int").alias("best_score"))


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality: length, mean word length, punctuation
    ratio, stopword ratio, alpha ratio — the standard pre-training filters.
    All row-local column math."""
    t = F.col("text")
    tok = tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(tok)
    all_stop = F.array(*[F.lit(w) for lst in STOPWORDS.values() for w in lst])
    n_stop = F.size(F.filter(tok, lambda x: F.array_contains(all_stop, x)))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    mean_wlen = (F.length(F.regexp_replace(t, r"\s+", "")) / n_tokens)
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_q"),
        n_tokens.alias("n_tokens"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        # try_divide: an empty document (n_chars=0) gets NULL ratios — the
        # same as DuckDB's x/0 — instead of an ANSI DIVIDE_BY_ZERO error
        F.round(F.try_divide(n_punct, n_chars), 4).alias("punct_ratio"),
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
        F.round(F.try_divide(n_alpha, n_chars), 4).alias("alpha_ratio"),
        (
            (n_tokens >= 10)
            & (mean_wlen >= 2) & (mean_wlen <= 12)
            & ((n_stop / n_tokens) >= 0.01)
        ).alias("passes_quality"),
    )


def token_stats(docs: DataFrame,
                merges: "list[tuple[str, str]] | None" = None) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE token count.

    Default: the BPE count is the pretoken approximation (word pieces +
    digits + punctuation as separate tokens) — pure column expressions,
    SQL-oracle-able, right for packing heuristics. With `merges` (a BPE
    merges list, see `operators.bpe.load_merges`) the count is EXACT
    byte-pair encoding under that vocabulary, computed once per distinct
    word and joined back (see `operators/bpe.py` for the plan shape)."""
    t = F.col("text")
    ws = F.size(tokens(t))
    if merges is not None:
        from . import bpe as B

        exact = B.bpe_token_counts(docs, merges)
        return (
            docs.select(F.col("doc_id"), ws.cast("long").alias("ws_tokens"),
                        F.length(t).alias("_n_chars"))
            .join(exact, "doc_id")
            .select(
                "doc_id", "ws_tokens", "bpe_tokens",
                F.round(F.col("_n_chars")
                        / F.greatest("bpe_tokens", F.lit(1)), 4)
                .alias("chars_per_token"),
            )
        )
    bpe = F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|\d+|[^\w\s]"), 0))
    return docs.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
        F.round(F.length(t) / F.greatest(bpe, F.lit(1)), 4).alias("chars_per_token"),
    )


def winnowing_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03): hash
    every k-char gram of the text, slide a w-gram window, keep each
    window's minimum hash — the guarantee is that any match of length
    >= w+k-1 chars between two documents shares at least one fingerprint.

    Engine-portable form: the gram hash is md5 of the substring (the
    rolling-polynomial hash is an optimization of the same function family;
    md5 keeps the DuckDB oracle byte-identical). Fingerprinting is capped
    to the first 256 chars — the standard head-window practice.

    Shape: positions EXPLODE to rows first, so each gram is hashed exactly
    once inside whole-stage codegen, and the per-window minimum is a SQL
    window (ROWS BETWEEN CURRENT AND w-1 FOLLOWING) partitioned by doc —
    one shuffle on the doc id. The first-draft nested higher-order-function
    form (array_min over slice inside transform) re-evaluated the gram
    array per window element: measured 32 s for 500 docs vs ~2 s for this
    form. Same lesson as minhash_signatures: explode beats interpreted
    array expressions for anything super-linear per row.

    Returns (id, fp) — one row per distinct selected fingerprint."""
    k = 8
    w = 16
    t = F.substring(F.trim(F.lower(F.col("text"))), 1, 256)
    n = F.length(t) - (k - 1)  # number of k-grams (<=0 for short texts)
    base = docs.select(F.col("doc_id"), t.alias("tl"), n.alias("n"))
    grams = base.select(
        "doc_id", "n",
        F.posexplode(F.sequence(F.lit(1), F.greatest(F.col("n"), F.lit(1))))
        .alias("_i", "pos"),
        "tl",
    ).select(
        "doc_id", "n", "pos",
        F.md5(F.col("tl").substr(F.col("pos"), F.lit(k))).alias("gh"),
    )
    win = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    return (
        grams.withColumn("fp", F.min("gh").over(win))
        # window start positions: 1..n-w+1 (a single window when n < w;
        # rowsBetween clamps at the partition end so its min spans all)
        .filter(F.col("pos") <= F.greatest(F.col("n") - (w - 1), F.lit(1)))
        .select("doc_id", "fp").distinct()
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprints: md5 of the canonical (norm_compare) form for
    exact-dup detection, plus the min/max md5 over 3-token shingles — a
    1-permutation minhash usable as a cheap near-dup prefilter.

    Explode + agg shape (same rationale as minhash_signatures: each shingle
    materialized once, tiny partial-min/max shuffle)."""
    from .dedup import shingles

    canon_fp = F.md5(norm_compare(F.col("text")))
    sh = docs.select(
        F.col("doc_id"),
        canon_fp.alias("exact_fp"),
        F.explode(shingles(tokens(F.col("text")), 3)).alias("sh"),
    )
    return sh.groupBy("doc_id", "exact_fp").agg(
        F.min(F.md5(F.col("sh"))).alias("min_shingle_fp"),
        F.max(F.md5(F.col("sh"))).alias("max_shingle_fp"),
    ).select("doc_id", "exact_fp", "min_shingle_fp", "max_shingle_fp")


def tfidf_topk(docs: DataFrame) -> DataFrame:
    """Top-k terms per document by smoothed tf-idf.

    Plan: ONE tokenize+explode feeds both the per-(doc,term) tf aggregate
    and the document-frequency aggregate (via an explicit persist of the
    tf table — exchange reuse does not fire across the df broadcast);
    idf = ln((N+1)/(df+1)) + 1 from exact integer counts; rank on the
    ROUNDED score (6 dp) with a term tiebreak so ordering is reproducible
    across engines and libm implementations (raw doubles from different
    ln() implementations can differ in the last ulp). Shuffles: terms agg,
    df agg, rank window — all on bounded-cardinality keys."""
    from pyspark.sql import Window

    from pyspark import StorageLevel

    tok = docs.select(
        F.col("doc_id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    ).filter(F.col("term") != "")
    # Persist the (doc, term, tf) aggregate (r12, guide §1.2): it feeds
    # both the df aggregate (a broadcast side) and the scored join, and
    # exchange reuse does not fire across that broadcast — without the
    # persist the tokenize+explode+agg pipeline executed twice (observed
    # in the sf0.1 plan: two full scan->Generate->HashAggregate subtrees).
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                "score", "rnk")
    )
