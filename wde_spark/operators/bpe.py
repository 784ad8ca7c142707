"""Exact byte-pair-encoding token counting behind a supplied merges list.

`token_stats`'s default `bpe_tokens` column is a regex approximation (word
pieces + digits + punctuation — fine for packing heuristics and oracled in
SQL). When a real vocabulary artifact is available, this module makes the
count BPE-exact: classic bottom-up merge encoding (Sennrich, Haddow &
Birch, "Neural Machine Translation of Rare Words with Subword Units",
ACL 2016) driven by a plain merges list — the same file shape every
GPT-2-style `merges.txt` uses (one `left right` pair per line, rank =
line number).

Scale shape (100 TB): BPE encoding is per-word dynamic programming — pure
Python, unavoidable — so the design keeps Python OFF the corpus axis:

  1. pretokenize + explode (JVM, codegen) → (doc_id, word) rows;
  2. count words per doc (shuffle 1, combiner-backed);
  3. DISTINCT words only (Heaps' law: vocabulary grows ~ sqrt of corpus,
     so this side is orders of magnitude smaller than the corpus and
     keeps shrinking relative to it) are encoded by an Arrow-batched
     pandas UDF with a per-batch memo;
  4. broadcast-join the per-word token length back and sum per doc
     (shuffle 2 on doc_id).

The merges table itself is bounded model state (50k pairs for GPT-2),
shipped to executors in the UDF closure — same class as IVF centroids.
"""

from __future__ import annotations

import os
from collections import Counter
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Must stay in sync with textstats.token_stats's approximate form: the
# exact count refines tokenization WITHIN pretokens, never across them.
PRETOKEN_RE = r"[A-Za-z]+|\d+|[^\w\s]"

DEMO_MERGES_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data", "bpe_merges_demo.txt")


# ---------------------------------------------------------------------------
# merges-list I/O
# ---------------------------------------------------------------------------

def load_merges(path: str) -> list[tuple[str, str]]:
    """Read a merges list: one `left right` pair per line, rank = line
    order. Lines starting with '#' (version headers) are skipped."""
    merges: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            left, sep, right = line.partition(" ")
            if not sep:
                raise ValueError(f"malformed merges line: {line!r}")
            merges.append((left, right))
    return merges


def save_merges(merges: Iterable[tuple[str, str]], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("# bpe merges v1 — rank = line order\n")
        for left, right in merges:
            fh.write(f"{left} {right}\n")


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------

def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first BPE merge of one pretoken. Reference
    algorithm — O(len²·merges-applied) worst case, run only on DISTINCT
    words and memoized at the UDF layer."""
    parts = list(word)
    while len(parts) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(parts) - 1):
            r = ranks.get((parts[i], parts[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        parts[best_i:best_i + 2] = [parts[best_i] + parts[best_i + 1]]
    return parts


def bpe_token_counts(docs: DataFrame,
                     merges: Sequence[tuple[str, str]]) -> DataFrame:
    """(id, bpe_tokens) with EXACT merge-list token counts. See module
    docstring for the distinct-word plan shape."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @F.pandas_udf("long")
    def n_bpe(words: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}

        def n(w: str) -> int:
            got = memo.get(w)
            if got is None:
                got = memo[w] = len(encode_word(w, ranks))
            return got

        return words.map(n)

    words = docs.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(PRETOKEN_RE), 0)
        ).alias("w"),
    )
    per_doc_word = words.groupBy("doc_id", "w").agg(F.count("*").alias("n_w"))
    vocab = per_doc_word.select("w").distinct() \
        .withColumn("n_tok", n_bpe("w"))
    # join strategy stays AQE's call: the vocab side is usually broadcast-
    # sized, but a 100-TB corpus's distinct-pretoken set can outgrow the
    # broadcast threshold, and a shuffle-hash join on `w` is still right.
    counted = (
        per_doc_word.join(vocab, "w")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n_w") * F.col("n_tok")).cast("long")
             .alias("bpe_tokens"))
    )
    # empty/whitespace-only docs emit no words — restore them with 0.
    # NULL text stays NULL (not 0) so the exact form agrees with the
    # default regex form on degenerate input: a downstream
    # `bpe_tokens < n` curation filter must drop/keep the same rows
    # whichever counting mode is active.
    return (
        docs.select("doc_id", F.col("text").isNull().alias("__null_text"))
        .join(counted, "doc_id", "left")
        .select("doc_id",
                F.when(F.col("__null_text"), F.lit(None))
                .otherwise(F.coalesce("bpe_tokens", F.lit(0)))
                .cast("long").alias("bpe_tokens"))
    )


# ---------------------------------------------------------------------------
# training (offline model fitting — NOT the corpus-scale path)
# ---------------------------------------------------------------------------

def train_bpe_merges(word_freqs: dict[str, int],
                     num_merges: int) -> list[tuple[str, str]]:
    """Classic BPE training (Sennrich et al. 2016, Algorithm 1) over a
    word-frequency table: repeatedly merge the most frequent adjacent
    symbol pair. Deterministic tie-break: highest count, then
    lexicographically smallest pair.

    This is driver-side model fitting over an already-aggregated
    vocabulary (the same word-frequency table `bpe_token_counts` builds
    distributed); for a 100-TB corpus the word-frequency aggregation runs
    in Spark and only the ~10⁵-entry vocab reaches this loop.
    """
    vocab: dict[tuple[str, ...], int] = {
        tuple(w): f for w, f in word_freqs.items() if w
    }
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for sym, freq in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, freq in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if (i < len(sym) - 1
                        and (sym[i], sym[i + 1]) == best):
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + freq
        vocab = new_vocab
    return merges


def learn_bpe_merges(docs: DataFrame, num_merges: int,
                     local_vocab_max: int = 1 << 17) -> list[tuple[str, str]]:
    """DISTRIBUTED BPE training — the same algorithm as
    `train_bpe_merges` with the corpus-scale halves kept in Spark: the
    word-frequency aggregation AND the per-iteration pair counting and
    re-segmentation run as DataFrame ops over the vocabulary table; the
    driver sees exactly ONE row per merge (the argmax pair — the k-means
    centroid-collect pattern, bounded by num_merges).

    Per iteration: pair counts explode adjacent symbol pairs weighted by
    word frequency (one hash agg over the vocabulary — which is
    corpus-STATE-sized by Heaps' law, not corpus-sized); the winning pair
    (highest count, then lexicographically smallest — `train_bpe_merges`'s
    exact tie-break) is folded back into every word ROW-LOCALLY with a
    left-to-right non-overlapping `aggregate` (the greedy semantics of
    the reference implementation). The segmentation table is
    localCheckpoint-ed each round so the n-deep fold lineage never
    reaches the analyzer (same rationale as `incremental.dedup_increment`).

    Differential contract (pinned in tests): identical merge sequence to
    `train_bpe_merges` over the same word frequencies.

    Size-adaptive execution (the broadcast-join-choice idiom): the
    word-frequency table is Heaps'-law sized, so it is often SMALL even
    when the corpus is not. After the one corpus pass builds it, a vocab
    of <= `local_vocab_max` rows is collected (bounded by the threshold
    — a few MB of (word, freq)) and trained with `train_bpe_merges`
    directly, replacing 2·num_merges scheduler round trips with one
    driver loop over in-memory state; a larger vocab takes the
    distributed per-iteration path unchanged. Identical merge sequence
    either way (the differential contract above covers both arms)."""
    wf = (
        docs.select(F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)))
    seg = wf.select(chars.alias("sym"), "freq").localCheckpoint()

    if seg.count() <= local_vocab_max:
        # bounded collect: at most local_vocab_max (word, freq) rows —
        # the "~10^5-entry vocab reaches this loop" regime of
        # `train_bpe_merges`, reached through the same one corpus pass.
        word_freqs = {
            "".join(r["sym"]): r["freq"] for r in seg.collect()
        }
        return train_bpe_merges(word_freqs, num_merges)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        n = F.size("sym")
        pairs = (
            seg.select(
                "freq",
                F.explode(F.arrays_zip(
                    F.slice("sym", 1, F.greatest(n - 1, F.lit(0)))
                    .alias("a"),
                    F.slice("sym", 2, F.greatest(n - 1, F.lit(0)))
                    .alias("b"),
                )).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
        )
        top = pairs.first()  # ONE row to the driver per merge
        if top is None:
            break
        a, b = top["a"], top["b"]
        merges.append((a, b))
        merged = a + b
        acc0 = F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("carry"),
        )

        def step(acc, x):
            # closure over (a, b, merged); the expression tree is built
            # eagerly inside this iteration, so capture is safe
            return (
                F.when(acc["carry"].isNull(),
                       F.struct(acc["out"].alias("out"), x.alias("carry")))
                .when((acc["carry"] == a) & (x == b),
                      F.struct(
                          F.concat(acc["out"], F.array(F.lit(merged)))
                          .alias("out"),
                          F.lit(None).cast("string").alias("carry")))
                .otherwise(
                    F.struct(
                        F.concat(acc["out"], F.array(acc["carry"]))
                        .alias("out"),
                        x.alias("carry")))
            )

        def fin(acc):
            return F.when(acc["carry"].isNull(), acc["out"]) \
                .otherwise(F.concat(acc["out"], F.array(acc["carry"])))

        seg = seg.select(
            F.aggregate("sym", acc0, step, fin).alias("sym"), "freq"
        ).localCheckpoint()
    return merges
