"""Deduplication operators over the `documents` / `embeddings` tables.

Five tiers, cheapest to most precise:
  1. exact          — hash-groupBy on a canonical fingerprint
  2. simhash        — 64-bit locality-sensitive bit signature, hamming buckets
  3. minhash + LSH  — shingle → K minhashes → B bands → bucket join
  4. n-gram Jaccard — shingle-overlap join with exact Jaccard verification
  5. embedding      — cosine near-dup over vector columns (see similarity.py)

All built from column expressions + joins; hashes are md5/xxhash64 (both
deterministic across executors and across engines, which keeps the DuckDB
oracle exact). At 100 TB the critical properties are:
- signatures are computed row-locally in one scan (no shuffle);
- candidate generation shuffles on *bucket keys* (band hash / shingle), so
  only potential duplicates ever meet — never an all-pairs product;
- verification (exact Jaccard) runs per candidate pair, not per pair of rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.strings import norm_compare, tokens
from . import graph as G
from .similarity import embedding_neardup


def shingles(tok: Column, k: int = 3) -> Column:
    """k-token shingles of a token array (array of space-joined k-grams)."""
    n = F.size(tok)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.array_join(F.slice(tok, i + 1, k), " "),
        ),
    ).otherwise(F.array(F.array_join(tok, " ")))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Tier 1 — exact dedup on the canonical text form; keeps the lowest id
    per duplicate class (deterministic winner). One shuffle on the hash."""
    return (
        docs.select(F.col("doc_id"),
                    F.md5(norm_compare(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


def distinct_shingle_table(docs: DataFrame, shingle_k: int = 3) -> DataFrame:
    """(id, shingle) with per-document distinct shingles — the shared input
    of signature computation, candidate verification, and size counting.
    Build it ONCE per pipeline and reuse (persist if it fits): recomputing
    it is the dominant cost of a naive near-dup plan."""
    return docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(shingles(tokens(F.col("text")), shingle_k))
                  ).alias("sh"),
    )


# Affine minhash permutation family: perm_j(h) = (a_j*h + b_j) mod _MH_P
# over h = first 32 md5 bits of the shingle.  Fixed constants (seeded PRNG,
# generated once) so signatures are reproducible across runs, engines, and
# cluster sizes.  _MH_P is the first prime > 2^32; a < 2^30 and h < 2^32
# keep a*h + b < 2^63 — no BIGINT overflow on either engine.
_MH_P = 4294967311
_MH_PERM = [
    (152210628, 1750849617), (627555869, 2065146782),
    (660335778, 3469348000), (237379541, 1706964142),
    (487173515, 4080050443), (239994257, 3503532737),
    (369099107, 1197157113), (660397447, 1040608570),
    (400903031, 223404134), (119693795, 1666463566),
    (377508889, 3436832358), (821668668, 2912677003),
    (720385041, 3936700466), (114368187, 3317940406),
    (467460958, 3547970358), (141502641, 3643006315),
]


def shingle_hash32(sh: Column) -> Column:
    """First 32 md5 bits of a shingle as BIGINT — the ONE digest each
    shingle ever needs; every minhash permutation is integer math on it."""
    return F.conv(F.substring(F.md5(sh), 1, 8), 16, 10).cast("bigint")


def minhash_signatures(docs: DataFrame, num_hashes: int = 16,
                       shingle_k: int = 3,
                       shingle_table: DataFrame | None = None) -> DataFrame:
    """Tier 3 — K-permutation minhash signature per document.

    Each shingle is digested ONCE (32 md5 bits → BIGINT); permutation j is
    the affine map (a_j·h + b_j) mod p over that integer — so K permutations
    cost K integer mults, not K string digests (the earlier md5-per-
    permutation form burned 16× the hash CPU, the dominant scan cost at
    100 TB, and shuffled 32-char strings where this shuffles longs).  All
    constants are fixed/engine-portable, so the oracle reproduces
    signatures exactly.  Min over per-doc distinct shingles equals min over
    raw shingles, so the distinct table is used (fewer agg rows, and it is
    shareable with the verification stage).

    Shape: explode shingles → project the one digest → hash-agg K integer
    mins grouped by id. The explode materializes each shingle exactly once
    (an array-expression formulation re-evaluates the shingle-builder per
    element inside Catalyst's interpreted higher-order functions —
    quadratic per row and ~50× slower, measured); the groupBy shuffles only
    K partial mins per doc."""
    if num_hashes > len(_MH_PERM):
        raise ValueError(
            f"num_hashes={num_hashes} exceeds the fixed permutation family "
            f"({len(_MH_PERM)}); extend _MH_PERM (and the oracle generators) "
            f"to go wider")
    sh = shingle_table if shingle_table is not None else \
        distinct_shingle_table(docs, shingle_k)
    hashed = sh.select(F.col("doc_id"), shingle_hash32(F.col("sh")).alias("h"))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MH_P)
                  ).alias(f"mh_{j}")
            for j, (a, b) in enumerate(_MH_PERM[:num_hashes])
        ]
    )


def lsh_band_table(docs: DataFrame, num_hashes: int = 16, bands: int = 4,
                   shingle_k: int = 3,
                   shingle_table: DataFrame | None = None) -> DataFrame:
    """(id, band_idx, band_hash) — one row per document per band, the
    stacked LSH bucket table that `minhash_lsh_pairs` self-joins and that
    `incremental.dedup_state` persists as corpus state. Band hashes are
    md5 over '|'-joined per-band minhashes, so they are reproducible
    across runs, engines, and cluster sizes."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes, shingle_k, shingle_table)
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh_{b * rows_per_band + r}")
                                 for r in range(rows_per_band)])).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col("doc_id"), *band_cols)
    return banded.select(
        F.col("doc_id"),
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)]))
        .alias("band_idx", "band_hash"),
    )


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 16, bands: int = 4,
                      shingle_k: int = 3,
                      shingle_table: DataFrame | None = None,
                      max_bucket: int | None = 64) -> DataFrame:
    """Tier 3 — LSH banding: split the K minhashes into B bands, hash each
    band, self-join on (band_index, band_hash). Pairs sharing >=1 band are
    near-dup candidates. Shuffle key = band hash → only collisions meet.

    `max_bucket` is the hot-bucket guard: a band bucket of B docs yields
    B²/2 candidate pairs, so one boilerplate-heavy bucket can go quadratic
    at scale. Buckets larger than `max_bucket` are dropped entirely —
    standard LSH hygiene. The docs inside an oversized bucket are typically
    (a) exact duplicates, which tier 1 (`exact_dedup`) must collapse FIRST,
    or (b) boilerplate families still caught by their other B-1 bands.
    Observed bucket sizes on the synthetic corpus are <= 5, so the default
    cap of 64 changes nothing at test scale — it exists for the 100-TB run.
    Pass None to disable."""
    stacked = lsh_band_table(docs, num_hashes, bands, shingle_k,
                             shingle_table)
    if max_bucket is not None:
        # One extra hash-agg-shaped pass on the SAME key the join shuffles
        # on; AQE reuses the exchange. Never a window over the raw pairs.
        stacked = stacked.withColumn(
            "__bsz",
            F.count("*").over(Window.partitionBy("band_idx", "band_hash")),
        ).filter(F.col("__bsz") <= max_bucket).drop("__bsz")
    # Persist the (tiny: n_docs x bands rows) band table before the
    # self-join (r12, guide §1.2): the planner broadcasts one side, which
    # defeats exchange reuse — without the persist the ENTIRE minhash
    # pipeline (shingle explode -> digest -> 16-min agg -> band hash ->
    # bucket-cap window) executed once PER SIDE (observed in the sf0.1
    # plan: two full copies of the pipeline, the broadcast side built
    # from its own InMemoryTableScan of the shingle cache).
    stacked = stacked.persist(StorageLevel.MEMORY_AND_DISK)
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )


def _jaccard_verify(sh: DataFrame, threshold: float,
                    cand: DataFrame | None = None) -> DataFrame:
    """The exact-Jaccard verification step of every near-dup tier, over a
    distinct (id, sh) shingle table: (id_a, id_b, jaccard) for the pairs
    whose Jaccard, rounded to 6 places, reaches `threshold`. With `cand`
    (id_a, id_b) only the candidate pairs are verified; without it every
    pair sharing a shingle is, as a shingle self-join with id_a < id_b.
    The caller decides whether `sh` is persisted."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    if cand is None:
        a, b = sh.alias("a"), sh.alias("b")
        pairs = a.join(b, (F.col("a.sh") == F.col("b.sh"))
                       & (F.col("a.doc_id") < F.col("b.doc_id"))) \
            .groupBy(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"))
    else:
        a = sh.select(F.col("doc_id").alias("id_a"), "sh")
        b = sh.select(F.col("doc_id").alias("id_b"), "sh")
        pairs = cand.join(a, "id_a").join(b, ["id_b", "sh"]) \
            .groupBy("id_a", "id_b")
    sa = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("n_sh").alias("n_b"))
    return (
        pairs.agg(F.count("*").alias("n_inter"))
        .join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") /
                    (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def neardup_lsh_verified(docs: DataFrame, bands: int | str = 4,
                         max_bucket: int | None = 64) -> DataFrame:
    """Tier 3+4 — the 100-TB near-dup pipeline: LSH banding proposes
    candidate pairs (shuffle on band hash — no all-pairs product, no hot
    shingle blow-up), then exact n-gram Jaccard verifies ONLY the candidates.
    Returns (id_a, id_b, jaccard) for verified pairs. Recall is bounded by
    the LSH parameters; precision is exact.

    Parameter note: 16 hashes / 4 bands = 4-row band keys. The earlier
    8/4 form (2-row keys) was collision-heavy: measured at sf0.1 it
    produced 45,695 candidates vs 384 at 16/4 for an essentially identical
    verified output (258 vs 256 pairs, all deltas marginal sub-threshold
    collisions) — a 119× candidate reduction, which is the difference
    between a bounded and an unbounded verification stage at 100 TB.

    `bands="auto"` derives the banding from the S-curve instead
    (`lsh_params_for(0.7, 16)`): the cheapest banding that still catches
    a 0.7-similar pair with >=50% probability. 0.7 is the similarity
    regime the corpus's true duplicates live at (it yields the production
    16/4 setting), NOT the 0.2 verification threshold: banding tuned to
    the low verification threshold would shatter into tiny bands and flood
    verification with sub-threshold candidates."""
    num_hashes = 16
    shingle_k = 2
    if bands == "auto":
        bands, _ = lsh_params_for(0.7, num_hashes)

    # ONE shingle table feeds signatures, sizes, and verification — computed
    # once, spilled to disk if it outgrows memory. Without this the plan
    # recomputes tokenize+shingle 3× (measured ~5× slower end-to-end).
    sh = distinct_shingle_table(docs, shingle_k)
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    cand = minhash_lsh_pairs(docs, num_hashes, bands,
                             shingle_k, shingle_table=sh,
                             max_bucket=max_bucket)
    return _jaccard_verify(sh, 0.2, cand)


def sorted_neighborhood_pairs(docs: DataFrame,
                              threshold: float = 0.2) -> DataFrame:
    """Tier 3-alternative — blocked sorted-neighborhood method (SNM): block
    on the first token of the normalized text, sort each block, and compare
    every row only with its next 2 neighbors in sort order; exact
    n-gram Jaccard verifies the candidates. The classic entity-resolution
    counterpart to LSH banding: recall comes from sort locality instead of
    hash collisions, candidate count is ≤ 2·n by construction (LSH's
    depends on band-collision rates).

    Scale shape: the sort is PER BLOCK (window partitioned by the blocking
    key — never a global single-task sort); neighbor pairing is an
    equi-join on (block, rank+k) for k = 1..2, so it shuffles on the
    same key the window already partitioned by; verification joins only
    candidate shingles. 100 TB caveat a user must know: a hot block (many
    rows sharing the first token) serializes its block's sort into one
    task — pick a blocking key with bounded block size, or compose keys."""
    norm = F.trim(F.lower(F.col("text")))
    ranked = docs.select(
        F.col("doc_id"),
        F.split_part(norm, F.lit(" "), F.lit(1)).alias("blk"),
        norm.alias("norm_text"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("blk").orderBy("norm_text", "doc_id")),
    ).drop("norm_text")
    # Persist the (id, blk, rn) rank table before the neighbor equi-join
    # (r12, guide §1.2): the join's broadcast side defeats exchange
    # reuse, so without the persist the block-sort window (and the text
    # scan + two exchanges feeding it) executed once per join side.
    ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    a = ranked.select(
        F.col("doc_id").alias("id_a"), "blk", "rn",
        F.explode(F.array(*[F.lit(k) for k in range(1, 3)]))
        .alias("k"),
    ).withColumn("rn_b", F.col("rn") + F.col("k"))
    b = ranked.select(F.col("doc_id").alias("id_b"), "blk",
                      F.col("rn").alias("rn_b"))
    cand = a.join(b, ["blk", "rn_b"]).select("id_a", "id_b")

    # consumed 3x (verification both sides + size counts) — persist, same
    # hygiene as neardup_lsh_verified
    sh = distinct_shingle_table(docs, 2) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    return _jaccard_verify(sh, threshold, cand)


def simhash(docs: DataFrame) -> DataFrame:
    """Tier 2 — simhash: per token, a 64-bit hash votes +1/-1 on each bit
    position weighted by occurrence; sign of the per-position sum is the
    signature bit. Implemented as explode → groupBy(id, bit) is avoided:
    instead a single higher-order-function fold keeps it row-local.

    Returns (id, simhash BIGINT). Expressed in SQL because the SQL
    shiftright/shiftleft accept column shift amounts (the Python wrappers
    require literals)."""
    sig = F.expr(
        """
        aggregate(
          zip_with(
            aggregate(
              split(trim(lower(text)), '\\\\s+'),
              array_repeat(0L, 64),
              (acc, t) -> zip_with(
                acc,
                transform(sequence(0, 63),
                          i -> (shiftright(xxhash64(t), i) & 1L) * 2 - 1),
                (a, b) -> a + b)),
            sequence(0, 63),
            (v, i) -> IF(v > 0, shiftleft(1L, i), 0L)),
          0L, (acc, x) -> acc | x)
        """
    )
    return docs.select(F.col("doc_id"), sig.alias("simhash"))


def simhash_md5(docs: DataFrame) -> DataFrame:
    """Tier 2, engine-portable form — a 60-bit simhash whose per-token hash
    is the first 15 hex chars of md5 (60 bits fits a signed 64-bit int, and
    md5 is byte-identical in every engine, unlike xxhash64). Same row-local
    fold shape as `simhash`: zero shuffles, one scan. Use this form when a
    signature must be reproducible across engines (e.g. an external system
    verifies or extends the dedup index); use `simhash` (xxhash64) when
    speed matters more than portability.

    The token hash is hoisted into its own `transform` so md5 runs once per
    token, not inside the per-bit lambda — measured ~2.5× faster warm at
    sf0.1 (for the cheap xxhash64 in `simhash` the same hoist measures
    slower, so each form keeps its empirically faster shape)."""
    sig = F.expr(
        """
        aggregate(
          zip_with(
            aggregate(
              transform(split(trim(lower(text)), '\\\\s+'),
                        t -> cast(conv(substr(md5(t), 1, 15), 16, 10)
                                  as bigint)),
              array_repeat(0L, 60),
              (acc, h) -> zip_with(
                acc,
                transform(sequence(0, 59),
                          i -> (shiftright(h, i) & 1L) * 2 - 1),
                (a, b) -> a + b)),
            sequence(0, 59),
            (v, i) -> IF(v > 0, shiftleft(1L, i), 0L)),
          0L, (acc, x) -> acc | x)
        """
    )
    return docs.select(F.col("doc_id"), sig.alias("simhash"))


def simhash_agg(docs: DataFrame) -> DataFrame:
    """Tier 2, aggregation form — identical signatures to `simhash` but
    computed as explode(tokens) → 64 conditional-sum aggregates → one
    row-local bit-pack. Trades the row-local higher-order-function fold
    (interpreted per element) for a columnar whole-stage-codegen hash agg
    with map-side partial aggregation: the shuffle carries 64 longs per doc
    per partition regardless of document length.

    Measured at sf0.1 (50k short docs): the fold form wins ~5× warm — 64
    sum aggregates cost more than the per-row fold, and the fold needs no
    shuffle at all. This form exists for the regime where a single row's
    fold would dominate a task (pathologically long documents): the explode
    spreads one document's tokens across a partition's batches. Default to
    `simhash`. (Difference: a NULL text yields no output row here vs a NULL
    signature in the fold form — explode drops the row.)"""
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("t"),
    ).withColumn("h", F.xxhash64("t"))
    votes = toks.groupBy("doc_id").agg(*[
        F.sum(
            (F.shiftright("h", i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
        ).alias(f"v{i}")
        for i in range(64)
    ])
    sig = None
    for i in range(64):
        mask = (1 << i) if i < 63 else -(1 << 63)  # signed-64 wrap for bit 63
        bit = F.when(F.col(f"v{i}") > 0, F.lit(mask).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return votes.select(F.col("doc_id"), sig.alias("simhash"))


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Tier 2 pairing — near-duplicate candidates by simhash hamming
    distance. Pigeonhole: two 64-bit signatures within hamming distance
    d < n_bands must agree exactly on at least one of n_bands contiguous
    16-bit bands → self-join per band (shuffle on the band value, never
    all-pairs), then verify popcount(xor) <= max_hamming exactly.

    Requires max_hamming < n_bands for completeness (3 < 4 holds)."""
    max_hamming = 3
    n_bands = 4
    sig = simhash(docs)
    width = 64 // n_bands
    banded = sig.select(
        F.col("doc_id"), F.col("simhash"),
        F.posexplode(F.array(*[
            (F.shiftright("simhash", b * width)
             .bitwiseAND(F.lit((1 << width) - 1))).alias(f"b{b}")
            for b in range(n_bands)
        ])).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.col("a.simhash").alias("sig_a"),
                F.col("b.simhash").alias("sig_b"))
        .distinct()
    )
    return (
        cand.withColumn("hamming",
                        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(docs: DataFrame, shingle_k: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """Tier 4 — exact n-gram Jaccard similarity join.

    explode distinct shingles → self-join on shingle (equi, shuffles on the
    shingle hash) → per-pair intersection count → Jaccard from per-doc
    distinct-shingle counts. Exact but quadratic in bucket size; use after
    an LSH prefilter at scale."""
    # shingle table consumed 3x (self-join both sides + size counts) —
    # persist so tokenize+shingle runs once, same hygiene as
    # neardup_lsh_verified (the join sides alone get ReusedExchange, the
    # size agg's different shuffle shape would otherwise rescan)
    sh = distinct_shingle_table(docs, shingle_k) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    return _jaccard_verify(sh, threshold)


def dedup_corpus(docs: DataFrame, max_bucket: int | None = 64,
                 bands: int | str = "auto") -> DataFrame:
    """The end-to-end corpus cleaner — the tier composition a training-data
    pipeline actually runs (and `tools/stress_dedup.py` measures at 100×):

      1. exact dedup collapses verbatim clones to their min-id
         representative (one shuffle; keeps step 2 off the clone cliques
         that would otherwise go quadratic in candidate pairs);
      2. LSH-banded near-dup + exact Jaccard verification over the
         survivors proposes verified near-duplicate PAIRS;
      3. connected components turns pairs into dedup CLASSES;
      4. one representative (min id) per class survives.

    Returns the KEPT rows of `docs`, original schema unchanged — feed it
    straight into the next pipeline stage. Deterministic: winners are
    min-ids at both the exact and near-dup levels, so reruns and
    different cluster sizes produce the identical corpus.

    Banding defaults to the S-curve chooser (`bands="auto"` →
    `lsh_params_for(0.7, 16)`), so the declared similarity regime drives
    the LSH parameters rather than a hand-tuned constant; at 0.7 and 16
    hashes the chooser lands on the
    production 16/4 setting, so the default output is unchanged vs the
    historical constant (pinned by tests). The bucket-cap equivalence
    caveat (see `dedup_increment`) is parameterized on the RESOLVED
    banding and holds identically under chosen params."""
    reps = exact_dedup(docs)
    # survivors feeds the whole near-dup pipeline AND the final
    # anti-join base; without the persist the input pipeline (often a
    # gated/joined composition upstream) re-runs once per consumer
    # (r12 §2, the broadcast-defeats-reuse shape)
    survivors = docs.join(
        reps.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi") \
        .persist(StorageLevel.MEMORY_AND_DISK)

    pairs = neardup_lsh_verified(
        survivors, bands=bands, max_bucket=max_bucket,
    ).select("id_a", "id_b")

    comps = G.connected_components(pairs)
    # drop every clustered doc that is not its class representative
    losers = comps.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias("doc_id"))
    return survivors.join(losers, "doc_id", "left_anti")


def semantic_dedup(items: DataFrame, threshold: float = 0.95,
                   id_col: str = "vec_id", n_planes: int | str = "auto",
                   n_tables: int | None = None) -> DataFrame:
    """Tier-5 composition — SemDeDup-shaped semantic deduplication (Abbas
    et al., "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication", 2023): documents whose EMBEDDINGS are
    near-identical are duplicates even when their text is not (template
    rewrites, boilerplate paraphrases), so the cluster-and-keep-one pass
    runs on the vector column. Composition of existing oracled tiers:

      1. `similarity.embedding_neardup` — cosine >= threshold pairs from
         banded multi-table hyperplane LSH (signature equi-join with the
         corpus-size-derived bucket count and the `max_bucket` hot-bucket
         cap; no all-pairs — see `cosine_lsh_params` for how the bucket
         count scales with n, and `embedding_recall_audit` for the
         measured-recall instrument that ships with a production run);
      2. `graph.connected_components` — pairs → semantic classes;
      3. keep the min-id representative per class.

    Returns the KEPT rows of `items`, schema unchanged — same contract as
    `dedup_corpus`, so the two compose: run exact/text-LSH dedup first
    (cheaper, catches verbatim), then this over the survivors'
    embeddings. Deterministic (min-id winners, fixed hyperplanes)."""
    pairs = embedding_neardup(items, threshold, id_col,
                              n_planes, n_tables,
                              64).select("id_a", "id_b")
    comps = G.connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias(id_col))
    return items.join(losers, id_col, "left_anti")


def lsh_params_for(threshold: float, num_hashes: int = 16,
                   at_least: float = 0.5) -> tuple[int, int]:
    """(bands, rows_per_band) whose LSH S-curve catches a pair of Jaccard
    `threshold` with probability >= `at_least`, using the fewest bands
    (fewest candidate-generating join keys → cheapest shuffle) among the
    divisors of `num_hashes`.

    P(candidate | J=s) = 1 - (1 - s^r)^b  (Leskovec/Rajaraman/Ullman,
    "Mining of Massive Datasets" ch. 3). Fewer bands with longer rows push
    the S-curve right (fewer false candidates but worse recall at low s);
    this picks the cheapest banding that still meets the recall floor at
    the declared verification threshold — so the knob the pipeline already
    exposes (`threshold`) drives the banding instead of a hand-tuned
    constant. Raises if no divisor meets the floor (caller must raise
    num_hashes)."""
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        p = 1.0 - (1.0 - threshold ** r) ** b
        if p >= at_least and (best is None or b < best[0]):
            best = (b, r, p)
    if best is None:
        raise ValueError(
            f"no banding of {num_hashes} hashes reaches "
            f"P(candidate)>={at_least} at J={threshold}; increase num_hashes")
    return best[0], best[1]


def dedup_recall_audit(docs: DataFrame, pipeline_pairs: DataFrame,
                       sample: int = 200) -> DataFrame:
    """Measured recall of a near-dup pipeline, from ground truth on a
    deterministic sample — the audit a production dedup run ships with
    its output, because LSH recall is a *parameter promise*, not a
    certainty, and silent recall collapse (bad banding for the corpus's
    similarity profile, an over-aggressive bucket cap) looks exactly like
    a clean corpus.

    Method: md5-order-sample `sample` docs (deterministic — reruns audit
    the same docs), compute EXACT all-pairs Jaccard within the sample
    (bounded: sample² pairs, the only all-pairs product here, by declared
    design), take pairs >= 0.2 as ground truth, and compare with
    `pipeline_pairs` restricted to the sample. Returns one row:
    (sample_docs, true_pairs, found_pairs, recall) — recall is NULL when
    the sample holds no true pair (nothing to measure, not recall 1.0)."""
    ids = (
        docs.select(F.col("doc_id"))
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .limit(sample)
    )
    sub = docs.join(F.broadcast(ids), "doc_id", "left_semi")
    sh = distinct_shingle_table(sub, 2)
    truth = _jaccard_verify(sh, 0.2).select("id_a", "id_b")
    found = truth.join(
        pipeline_pairs.select("id_a", "id_b").distinct(), ["id_a", "id_b"],
        "left_semi")
    return (
        ids.agg(F.count("*").alias("sample_docs"))
        .crossJoin(truth.agg(F.count("*").alias("true_pairs")))
        .crossJoin(found.agg(F.count("*").alias("found_pairs")))
        .select(
            "sample_docs", "true_pairs", "found_pairs",
            F.when(F.col("true_pairs") > 0,
                   F.round(F.col("found_pairs") / F.col("true_pairs"), 6))
            .alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Tier 6: exact-substring span dedup (Lee et al., "Deduplicating Training
# Data Makes Language Models Better", ACL 2022 — the ExactSubstr tool).
# The reference implementation builds a corpus-wide suffix array to find
# byte spans repeated anywhere in the corpus; a suffix array is a global,
# memory-resident index that does not shard. The Spark-first re-expression
# keeps the *guarantee* (every repeated run of >= 2k-1 tokens is found, any
# repeated run of >= k tokens is found in full) while staying in hash
# aggregations: hash every k-token window, a window repeated anywhere in
# the corpus (across OR within documents) marks its k tokens as duplicated,
# and overlapping marked windows merge into maximal spans per document.
# ---------------------------------------------------------------------------


def _window_hashes(docs: DataFrame, k: int) -> DataFrame:
    """(id, p, wh): md5 of the k-token window starting at 1-based token
    position p, one row per window. Positions EXPLODE to rows so each
    window is hashed exactly once inside whole-stage codegen (same lesson
    as `winnowing_fingerprints`: explode beats nested array expressions
    for anything super-linear per row). Docs shorter than k tokens emit
    no windows."""
    tok = tokens(F.col("text"))
    base = docs.select(
        F.col("doc_id"), tok.alias("t"),
        (F.size(tok) - (k - 1)).alias("nw"),
    )
    return (
        base.select(
            "doc_id", "nw", "t",
            # sequence(1, max(nw,1)): Spark sequence DESCENDS when start >
            # stop, so clamp then filter (winnowing does the same).
            F.posexplode(
                F.sequence(F.lit(1), F.greatest(F.col("nw"), F.lit(1)))
            ).alias("_i", "p"),
        )
        .filter(F.col("p") <= F.col("nw"))
        .select(
            "doc_id", "p",
            F.md5(F.array_join(F.slice("t", F.col("p"), F.lit(k)), " "))
            .alias("wh"),
        )
    )


def duplicate_spans(docs: DataFrame, k: int = 16,
                    min_count: int = 2) -> DataFrame:
    """Maximal duplicated token spans per document: every k-token window
    whose hash occurs >= min_count times corpus-wide (within-doc repeats
    count, as in ExactSubstr) marks tokens [p, p+k-1]; overlapping or
    adjacent marked windows (gap <= k) merge into one span via the
    gaps-and-islands pattern.

    Returns (id, span_start, span_end, n_windows) — 1-based inclusive
    token positions, one row per maximal span.

    Scale shape: windows explode ~n_tokens rows per doc (the same factor
    as `winnowing_fingerprints` / minhash shingles), duplicate detection
    is ONE hash aggregation on the window hash — never a self-join, so a
    boilerplate window shared by millions of docs costs one counter, not
    a candidate-pair explosion — and the island merge is a per-document
    SQL window (one shuffle on the doc id)."""
    win = _window_hashes(docs, k)
    dup = (
        win.groupBy("wh").agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count).select("wh")
    )
    dwin = win.join(dup, "wh").select("doc_id", "p")
    return _merge_islands(dwin, k, "doc_id")


def _merge_islands(dwin: DataFrame, k: int, id_col: str) -> DataFrame:
    """Gaps-and-islands over duplicated window positions: consecutive
    positions with gap <= k cover overlapping/adjacent k-token runs and
    merge into one maximal span."""
    w = Window.partitionBy(id_col).orderBy("p")
    isl = (
        dwin.withColumn("prev", F.lag("p").over(w))
        .withColumn(
            "brk",
            F.when(F.col("prev").isNull()
                   | (F.col("p") - F.col("prev") > k), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        isl.groupBy(id_col, "island")
        .agg(
            F.min("p").cast("long").alias("span_start"),
            (F.max("p") + (k - 1)).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def substr_state(corpus: DataFrame, k: int = 16) -> DataFrame:
    """Window-hash frequency state (wh, c) of a corpus — the compact
    representation `substr_increment` dedups new batches against without
    rescanning corpus text (same state-vs-text separation as
    `incremental.dedup_state`: the counts table is corpus-STATE-sized —
    distinct windows — and partitionable by the hash). Build once at
    bootstrap; `substr_increment` returns the merged state."""
    return (
        _window_hashes(corpus, k)
        .groupBy("wh").agg(F.count("*").alias("c"))
    )


def substr_increment(state: DataFrame, batch: DataFrame,
                     k: int = 16) -> tuple[DataFrame, DataFrame]:
    """Incremental ExactSubstr: duplicated spans of a NEW batch against
    corpus-so-far ∪ batch, touching only the batch's text and the state
    counts — never prior corpus text. Returns (spans_of_batch, state').

    Exact-equivalence contract (pinned in tests and by the registry
    oracle): when `state = substr_state(corpus)`, the returned spans
    equal `duplicate_spans(corpus ∪ batch)` restricted to batch docs —
    a batch window is duplicated iff its corpus-wide count (state +
    batch occurrences) reaches 2. The asymmetry is declared:
    spans of PRIOR docs whose windows only now became duplicated are not
    re-emitted (the production shape — admitted history is immutable;
    re-running the batch query over any later state recovers them).

    Scale shape: batch windows explode batch-sized rows; the state joins
    ONCE on the window hash restricted to the batch's hash set (semi
    side broadcast when the batch is small); the merge is one
    full-outer-shaped aggregation on the hash key."""
    bwin = _window_hashes(batch, k)
    bc = bwin.groupBy("wh").agg(F.count("*").alias("bc"))
    s_hits = state.join(F.broadcast(bc.select("wh")), "wh", "left_semi")
    dup = (
        bc.join(s_hits, "wh", "left")
        .filter(F.col("bc") + F.coalesce("c", F.lit(0)) >= 2)
        .select("wh")
    )
    spans = _merge_islands(
        bwin.join(dup, "wh").select("doc_id", "p"), k, "doc_id")
    new_state = (
        state.withColumnRenamed("c", "n").unionByName(
            bc.withColumnRenamed("bc", "n"))
        .groupBy("wh").agg(F.sum("n").cast("long").alias("c"))
    )
    return spans, new_state


def strip_duplicate_spans(docs: DataFrame, k: int = 16) -> DataFrame:
    """ExactSubstr's removal step: drop every token covered by a
    duplicated span and rebuild the text. Returns
    (id, n_tokens, n_kept, text_clean) — ExactSubstr likewise cuts the
    duplicated bytes and concatenates the remainder.

    Shape: spans per doc collect into ONE small array (a doc has at most
    n_tokens/k maximal spans), the rebuild is row-local higher-order
    functions over the token array — no second explode, no join back per
    token."""
    spans = duplicate_spans(docs, k, 2)
    span_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"))
    tok = tokens(F.col("text"))
    joined = docs.join(span_arr, "doc_id", "left")
    pos = F.transform(tok, lambda x, i: F.struct(x.alias("w"),
                                                 (i + 1).alias("p")))
    kept = F.when(F.col("_spans").isNull(), tok).otherwise(
        F.transform(
            F.filter(
                pos,
                lambda s: ~F.exists(
                    F.col("_spans"),
                    lambda sp: (s["p"] >= sp["span_start"])
                    & (s["p"] <= sp["span_end"]),
                ),
            ),
            lambda s: s["w"],
        )
    )
    return joined.select(
        F.col("doc_id"),
        F.size(tok).cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("text_clean"),
    )


def corpus_overlap(docs: DataFrame) -> DataFrame:
    """Cross-slice content overlap matrix — the corpus-analytics query a
    100-TB ingest answers before mixing sources ("how much of source B is
    already inside source A?"): for every pair of corpus slices, the
    EXACT Jaccard and directional containments of their distinct
    k-token-shingle sets.

    Returns (grp_a, grp_b, n_a, n_b, n_inter, jaccard, contain_a_in_b,
    contain_b_in_a) for grp_a < grp_b.

    Scale shape: ONE shingle explode → distinct (group, shingle) pairs
    (corpus-state-sized, not corpus-sized) → self-equi-join on the
    shingle key. Per-shingle fan-out is bounded by the number of slices
    CONTAINING that shingle (≤ L², with L the slice count — single/double
    digits), never by document count, so a boilerplate shingle in every
    slice costs L² counter bumps, not a pair product over docs. The
    result is L²/2 rows however large the corpus."""
    sh = (
        docs.select(
            F.col("source").alias("grp"),
            F.explode(shingles(tokens(F.col("text")), 3))
            .alias("sh"),
        )
        .distinct()
    )
    return _slice_overlap_matrix(sh)


def _slice_overlap_matrix(sh: DataFrame) -> DataFrame:
    """Overlap matrix over any distinct (grp, sh) membership table —
    the shared tail of `corpus_overlap` (shingle keys) and
    `substr_leakage_matrix` (k-token window-hash keys)."""
    sizes = sh.groupBy("grp").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.select(F.col("grp").alias("grp_a"), "sh")
        .join(sh.select(F.col("grp").alias("grp_b"), "sh"), "sh")
        .filter(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b").agg(F.count("*").alias("n_inter"))
    )
    # all slice pairs, so disjoint slices still get a (0-overlap) row
    pairs = (
        sizes.select(F.col("grp").alias("grp_a"), F.col("n_sh").alias("n_a"))
        .join(sizes.select(F.col("grp").alias("grp_b"),
                           F.col("n_sh").alias("n_b")))
        .filter(F.col("grp_a") < F.col("grp_b"))
    )
    return (
        pairs.join(inter, ["grp_a", "grp_b"], "left")
        .select(
            "grp_a", "grp_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.coalesce("n_inter", F.lit(0)).cast("long").alias("n_inter"),
            F.round(F.coalesce("n_inter", F.lit(0))
                    / (F.col("n_a") + F.col("n_b")
                       - F.coalesce("n_inter", F.lit(0))), 6)
            .alias("jaccard"),
            F.round(F.coalesce("n_inter", F.lit(0)) / F.col("n_a"), 6)
            .alias("contain_a_in_b"),
            F.round(F.coalesce("n_inter", F.lit(0)) / F.col("n_b"), 6)
            .alias("contain_b_in_a"),
        )
    )


def substr_leakage_matrix(docs: DataFrame, k: int = 16) -> DataFrame:
    """Cross-slice EXACT-SUBSTRING leakage matrix — `corpus_overlap` at
    ExactSubstr granularity: for every slice pair, the Jaccard and
    directional containments of their distinct k-token WINDOW-HASH sets
    (`_window_hashes`, the same windows `duplicate_spans` marks). This
    is the train/test-contamination reading of the span machinery
    ("which fraction of benchmark slice B's verbatim k-grams already
    appear in training slice A?" — the leakage Lee et al.'s ExactSubstr
    dedup exists to remove), where the 3-shingle `corpus_overlap` reads
    topical overlap.

    Scale shape identical to `corpus_overlap`: the window explode is the
    ~n_tokens-rows-per-doc factor every span query pays, then distinct
    (slice, hash) membership is corpus-STATE-sized and the equi-join
    fans out by slices-containing-the-hash (≤ L²), never by document
    count. Output is L²/2 rows however large the corpus."""
    sh = (
        _window_hashes(docs, k)
        .join(docs.select("doc_id", F.col("source").alias("grp")), "doc_id")
        .select("grp", F.col("wh").alias("sh"))
        .distinct()
    )
    return _slice_overlap_matrix(sh)


def dedup_weights(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Soft deduplication — the keep-but-downweight alternative to hard
    removal (the SoftDeDup idea: duplicates carry signal about data
    distribution; dropping them shifts the mixture, so train on all of
    them at weight 1/cluster instead): every document gets
    (component, cluster_size, weight = 1/cluster_size) from the near-dup
    pair graph; documents in no pair are their own cluster at weight 1.

    Composes `graph.connected_components` over any pair generator
    (`neardup_lsh_verified`, `semantic_dedup`'s candidate tier, ...).
    Cost beyond the components fixpoint: one cluster-size aggregation
    and two left joins on the doc id."""
    comps = G.connected_components(edges) \
        .withColumnRenamed("node", "doc_id")
    sizes = comps.groupBy("component").agg(F.count("*").alias("_cs"))
    return (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .join(sizes, "component", "left")
        .select(
            F.col("doc_id"),
            F.coalesce("component", F.col("doc_id")).alias("component"),
            F.coalesce("_cs", F.lit(1)).cast("long").alias("cluster_size"),
            F.round(F.lit(1.0) / F.coalesce("_cs", F.lit(1)), 6)
            .alias("weight"),
        )
    )
