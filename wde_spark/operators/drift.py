"""Corpus drift monitoring — distribution divergence between two corpus
snapshots, the dashboard number a continuously-admitted 100-TB corpus
needs next to its quality metrics: "did yesterday's admissions shift what
the corpus is made of?".

Pairs with the corpus ledger (`streaming/dedup_admission.py`'s drift
maintainer compares the merged corpus `as_of=b` with `as_of=b+1`).
Everything is relational and deterministic — term counts are one hash agg
each, the divergence is one full-outer join + one scalar aggregate — so a
DuckDB oracle can hash-check the number end-to-end.

Measures reported (one row):
- `jsd`      — Jensen-Shannon divergence, natural log (0 = identical,
               ln 2 ≈ 0.6931 = disjoint supports). Symmetric, bounded,
               defined without smoothing because each side's terms are
               always in the mixture's support.
- `l1`       — total variation ×2: Σ|p−q|, the blunt instrument.
- `n_terms_a/b/common` — support sizes, the quick "what changed" look.

At scale: distributions are (term, p) tables ~vocabulary-sized (millions
of rows, not corpus-sized); the join keys are terms — broadcast the
smaller side or let AQE pick. Nothing here touches document text after
the one counting scan per side."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.strings import tokens


def term_distribution(docs: DataFrame) -> DataFrame:
    """(term, cnt, p) over whitespace tokens of the lowercased text —
    one explode + one hash agg + one scalar total."""
    t = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term").agg(F.count("*").alias("cnt"))
    )
    total = t.agg(F.sum("cnt").alias("n"))
    return t.crossJoin(F.broadcast(total)) \
        .select("term", "cnt", (F.col("cnt") / F.col("n")).alias("p"))


def categorical_distribution(df: DataFrame, cat_col: str) -> DataFrame:
    """(term, cnt, p) over any categorical column (k-means cell ids,
    sources, languages) — the non-text analogue of `term_distribution`,
    so `corpus_divergence` monitors ANY discrete corpus composition: one
    hash agg + one scalar total."""
    t = (
        df.select(F.col(cat_col).cast("string").alias("term"))
        .groupBy("term").agg(F.count("*").alias("cnt"))
    )
    total = t.agg(F.sum("cnt").alias("n"))
    return t.crossJoin(F.broadcast(total)) \
        .select("term", "cnt", (F.col("cnt") / F.col("n")).alias("p"))


def corpus_divergence(dist_a: DataFrame, dist_b: DataFrame) -> DataFrame:
    """One row: (jsd, l1, n_terms_a, n_terms_b, n_terms_common) between
    two `term_distribution` outputs. JSD in natural log, computed term
    by term over the union support with 0-extension (no smoothing
    needed: m = (p+q)/2 > 0 wherever either side has mass, and the
    0·ln(0/m) terms contribute 0 by limit, realized here by F.when
    guards)."""
    a = dist_a.select("term", F.col("p").alias("pa"))
    b = dist_b.select("term", F.col("p").alias("pb"))
    j = (
        a.join(b, "term", "full_outer")
        .select(
            F.col("term"),
            F.coalesce("pa", F.lit(0.0)).alias("pa"),
            F.coalesce("pb", F.lit(0.0)).alias("pb"),
        )
        .withColumn("m", (F.col("pa") + F.col("pb")) / 2)
        .select(
            "pa", "pb",
            (F.when(F.col("pa") > 0,
                    F.col("pa") * F.log(F.col("pa") / F.col("m")))
             .otherwise(0.0)
             + F.when(F.col("pb") > 0,
                      F.col("pb") * F.log(F.col("pb") / F.col("m")))
             .otherwise(0.0)).alias("js_term"),
            F.abs(F.col("pa") - F.col("pb")).alias("l1_term"),
        )
    )
    return j.agg(
        F.round(F.sum("js_term") / 2, 6).alias("jsd"),
        F.round(F.sum("l1_term"), 6).alias("l1"),
        F.sum(F.when(F.col("pa") > 0, 1).otherwise(0)).alias("n_terms_a"),
        F.sum(F.when(F.col("pb") > 0, 1).otherwise(0)).alias("n_terms_b"),
        F.sum(F.when((F.col("pa") > 0) & (F.col("pb") > 0), 1)
              .otherwise(0)).alias("n_terms_common"),
    )

