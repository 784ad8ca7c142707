"""Training-data curation operators — the filters a 100-TB pre-training
pipeline runs between raw ingest and tokenization. Not present in the
reference (a resolution pipeline); this is extension surface alongside
dedup/similarity/textstats.

All four operators are row-local column expressions (zero shuffle) except
`decontaminate`, which is one semi-join on the shingle key:

- `repetition_stats`   — Gopher-style repetition ratios: a document whose
                         lines / word n-grams are mostly repeats of
                         themselves is boilerplate or spam.
- `pii_redact`         — regex redaction of emails, phone numbers, IPv4
                         addresses, and long digit runs, with per-type
                         counts; patterns restricted to the regex subset
                         Java (Spark) and RE2-ish engines share.
- `decontaminate`      — flag documents sharing any k-token shingle with a
                         benchmark/eval set: the standard n-gram-overlap
                         decontamination step. Shuffles ONLY shingle keys —
                         never document payloads.
- `chunk_documents`    — split token streams into max_tokens windows with
                         overlap (context-window packing for training);
                         pure array arithmetic + one posexplode.

At scale: repetition/PII/chunking are embarrassingly parallel single-scan
transforms; decontamination's benchmark side is tiny (benchmarks are
thousands of documents) so its distinct-shingle set broadcasts, making the
whole step a broadcast semi-join — zero shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.strings import tokens
from .dedup import distinct_shingle_table, shingles

#: Shingle width of both decontamination paths.
_SHINGLE_K = 3


def bloom_bit(sh: Column, seed: int, m_bits: int) -> Column:
    """Bloom bit position of a shingle under one salted hash — the
    engine's md5 parity kernel (first 8 hex chars → BIGINT), replayable
    in DuckDB via the '0x' cast idiom. Shared by the one-shot
    `decontaminate_bloom` and the streaming maintained set
    (`streaming/bloom_admission.py`) so both derive the IDENTICAL
    filter."""
    h = F.md5(F.concat(F.lit(f"bf{seed}|"), sh))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") \
        % F.lit(m_bits)


def _dup_fraction(arr: Column) -> Column:
    """(len - distinct len) / len of an array — NULL for empty arrays (the
    same contract as DuckDB's x/0)."""
    return F.round(
        F.try_divide(F.size(arr) - F.size(F.array_distinct(arr)),
                     F.size(arr)), 4)


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition ratios, all row-local: duplicate-line
    fraction and duplicate word-2/3-gram fractions, plus a pass flag at the
    Gopher-ish thresholds (0.30 lines / 0.20 2-grams / 0.18 3-grams)."""
    t = F.col("text")
    lines = F.filter(F.split(t, "\n"), lambda x: F.trim(x) != "")
    tok = tokens(t)
    dl = _dup_fraction(lines)
    d2 = _dup_fraction(shingles(tok, 2))
    d3 = _dup_fraction(shingles(tok, 3))
    ok = (
        (F.coalesce(dl, F.lit(0.0)) <= 0.30)
        & (F.coalesce(d2, F.lit(0.0)) <= 0.20)
        & (F.coalesce(d3, F.lit(0.0)) <= 0.18)
    )
    return docs.select(
        "doc_id",
        dl.alias("dup_line_frac"),
        d2.alias("dup_2gram_frac"),
        d3.alias("dup_3gram_frac"),
        ok.alias("passes_repetition"),
    )


# Patterns shared verbatim by Java regex (Spark) and DuckDB's RE2: no
# backrefs, no lookaround, no \b-dependent edge semantics.
# ORDER MATTERS for redaction: specific classes first, because the loose
# phone pattern also matches dotted IPs and long digit runs — once those
# are replaced by their own placeholders, the phone pass can no longer
# claim them. (Counts are raw-text per class and unaffected by order.)
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"([0-9]{1,3}\.){3}[0-9]{1,3}",
    "digit_run": r"[0-9]{9,}",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


def pii_redact(docs: DataFrame) -> DataFrame:
    """Redact PII-shaped spans and count them per type. Redaction replaces
    each span with `[TYPE]`; counting happens BEFORE redaction on the raw
    text (so overlapping classes each report their own raw count —
    digit_run counts phone digits too; consumers filter on the redacted
    text, not the counts). Row-local; one regexp pass per class."""
    t = F.col("text")
    red = t
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"[{name.upper()}]")
    return docs.select(
        "doc_id",
        *[
            F.size(F.regexp_extract_all(t, F.lit(pat), 0)).alias(f"n_{name}")
            for name, pat in PII_PATTERNS.items()
        ],
        red.alias("redacted"),
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: per document, the number of distinct
    k-token shingles it shares with the benchmark set and a `contaminated`
    flag (>=1 shared shingle). Production pipelines drop or split flagged
    documents; returning the count keeps the policy decision out of the
    operator.

    Shape: distinct-shingle tables both sides; the benchmark side collapses
    to DISTINCT shingles (small → broadcast); one join + count + left join
    back to ids. The corpus never shuffles payloads, only (id, shingle)."""

    doc_sh = distinct_shingle_table(docs, _SHINGLE_K)
    bench_sh = (
        distinct_shingle_table(benchmark, _SHINGLE_K)
        .select("sh").distinct()
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_shingles", F.lit(0)).alias("n_shared_shingles"),
            (F.coalesce("n_shared_shingles", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_bloom(docs: DataFrame, benchmark: DataFrame,
                        m_bits: int = 1 << 20) -> DataFrame:
    """Bloom-prefiltered decontamination — the 100 TB form of
    `decontaminate`: instead of broadcasting the benchmark's full distinct
    SHINGLE STRINGS (megabytes of text), broadcast its Bloom BIT SET —
    each benchmark shingle sets `n_seeds` md5-derived positions in an
    `m_bits` filter, and a corpus shingle is a CANDIDATE iff all of its
    positions are present. Candidates (the only rows that ever touch the
    benchmark strings) are then EXACT-verified, so the output is
    bit-identical to exact decontamination — Bloom filters admit false
    positives but never false negatives — plus the filter telemetry:
    per-document candidate count and verified-false-positive count.

    All hashing is the engine's md5 parity kernel (`shingle_hash32`'s
    first-8-hex-chars idiom with a per-seed salt), so a SQL oracle can
    replay the filter bit-for-bit INCLUDING its false positives. Shape:
    the bit set is ≤ min(n_seeds·|bench|, m_bits) ints (broadcast), the
    corpus side explodes each distinct shingle into n_seeds (bit, i)
    rows, one broadcast join + a per-shingle counting HAVING recovers
    the all-bits-present test, and the exact verify join runs only over
    the surviving candidates."""

    n_seeds = 4
    doc_sh = distinct_shingle_table(docs, _SHINGLE_K)
    # bench_sh feeds BOTH the bit-set build and the exact verify, and
    # cand feeds BOTH rollups; Catalyst does not share common subplans
    # across joins, so each is localCheckpoint-ed (benchmark-sized /
    # candidate-sized — small by contract) to keep the corpus-side
    # shingle explode single-pass.
    bench_sh = (
        distinct_shingle_table(benchmark, _SHINGLE_K)
        .select("sh").distinct().localCheckpoint()
    )

    def bit(i: int) -> Column:
        return bloom_bit(F.col("sh"), i, m_bits)

    bench_bits = bench_sh.select(
        F.explode(F.array(*[bit(i) for i in range(n_seeds)])).alias("bit")
    ).distinct()
    sh_bits = doc_sh.select(
        "doc_id", "sh",
        F.posexplode(F.array(*[bit(i) for i in range(n_seeds)]))
        .alias("i", "bit"),
    )
    cand = (
        sh_bits.join(F.broadcast(bench_bits), "bit")
        .groupBy("doc_id", "sh")
        .agg(F.countDistinct("i").alias("_nb"))
        .filter(F.col("_nb") == n_seeds)
        .select("doc_id", "sh")
        .localCheckpoint()
    )
    bloom_hits = cand.groupBy("doc_id").agg(
        F.count("*").alias("n_bloom_candidates"))
    exact_hits = (
        cand.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )
    return (
        docs.select("doc_id")
        .join(bloom_hits, "doc_id", "left")
        .join(exact_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bloom_candidates", F.lit(0))
            .alias("n_bloom_candidates"),
            F.coalesce("n_shared_shingles", F.lit(0))
            .alias("n_shared_shingles"),
            (F.coalesce("n_bloom_candidates", F.lit(0))
             - F.coalesce("n_shared_shingles", F.lit(0)))
            .alias("n_bloom_fp"),
            (F.coalesce("n_shared_shingles", F.lit(0)) > 0)
            .alias("contaminated"),
        )
    )


def chunk_documents(docs: DataFrame, max_tokens: int = 64,
                    overlap: int = 8) -> DataFrame:
    """Context-window chunking: split each document's token stream into
    windows of `max_tokens` with `overlap` tokens carried between
    consecutive windows (stride = max_tokens - overlap). Returns
    (id, chunk_idx, n_tokens, chunk_text). Pure array arithmetic + ONE
    posexplode — no shuffle, no Python; a 100-TB corpus chunks in a single
    scan. Empty documents yield one empty chunk (training pipelines filter
    them with the quality tier, not here)."""
    assert 0 <= overlap < max_tokens
    stride = max_tokens - overlap
    tok = tokens(F.col("text"))
    n = F.size(tok)
    # chunk starts: 0, stride, 2*stride, ... < max(n, 1) — then drop any
    # non-first start whose chunk would hold ONLY carried-over tokens
    # (start + overlap >= n): a 64-token doc at 64/8 must be one chunk,
    # not a full chunk plus an 8-token chunk that is pure duplication.
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        lambda s: (s == 0) | (s + overlap < n),
    )
    chunks = F.transform(
        starts, lambda s: F.slice(tok, s + 1, max_tokens))
    return (
        docs.select(F.col("doc_id"),
                    F.posexplode(chunks).alias("chunk_idx", "ck"))
        .select(
            "doc_id",
            "chunk_idx",
            F.size("ck").alias("n_tokens"),
            F.array_join("ck", " ").alias("chunk_text"),
        )
    )
