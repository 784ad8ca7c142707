from __future__ import annotations

from pyspark.sql import functions as F

from wde_spark.operators import dedup as D
from wde_spark.operators import relational as R
from wde_spark.operators import resolve as RS
from wde_spark.operators import similarity as SIM


def test_carry_forward(spark):
    df = spark.createDataFrame(
        [("c1", 0, "a"), ("c1", 1, None), ("c1", 2, "b"), ("c1", 3, None),
         ("c2", 0, None)],
        "cat string, pos int, val string",
    )
    out = {(r.cat, r.pos): r.val
           for r in R.carry_forward(df, ["cat"], "pos", "val").collect()}
    assert out[("c1", 1)] == "a"
    assert out[("c1", 3)] == "b"
    assert out[("c2", 0)] is None


def test_last_write_wins(spark):
    df = spark.createDataFrame(
        [("x", 1, "old"), ("x", 2, "new"), ("y", 5, "only")],
        "k string, ord int, v string",
    )
    out = {r.k: r.v for r in R.last_write_wins(df, ["k"], F.col("ord")).collect()}
    assert out == {"x": "new", "y": "only"}


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
         (1, "2024-01-01 02:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sorted(
        (r.ts, r.session_id)
        for r in R.sessionize(df, "user_id", "ts", 1800).collect()
    )
    # third event is >30min after the second → new session
    assert [s for _, s in out] == [1, 1, 2]


def test_positional_join(spark):
    df = spark.createDataFrame(
        [("i1", ["a", "b"], ["t1", "t2"])],
        "id string, names array<string>, traits array<string>",
    )
    rows = R.positional_join(df, "names", "traits", ["id"]).collect()
    assert [(r.pos, r.names, r.traits) for r in rows] == [
        (0, "a", "t1"), (1, "b", "t2")]


def test_resolve_ladder_rank_order(spark):
    rows = spark.createDataFrame(
        [("r1", ["miss", "hit_b", "hit_a"]), ("r2", ["nohit", "nope", "zilch"])],
        "id string, cands array<string>",
    )
    cache = spark.createDataFrame(
        [("hit_a", "A"), ("hit_b", "B")], "qstr string, res string"
    )
    out = RS.resolve_ladder(rows, F.col("cands"), cache, "id")
    got = {r.id: (r.rank, r.res) for r in out.collect()}
    # first hit by ladder rank wins: hit_b (rank 1) beats hit_a (rank 2)
    assert got == {"r1": (1, "B")}


def test_exact_dedup_groups_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello   world"), (3, "different")],
        "doc_id long, text string",
    )
    out = {r.keep_id: r.dup_count for r in D.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_identical_docs_identical_sigs(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w v u t")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: tuple(r[f"mh_{j}"] for j in range(8))
            for r in D.minhash_signatures(docs, num_hashes=8).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_lsh_finds_neardups(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog tonight"),
         (3, "completely unrelated text about spark query engines")],
        "doc_id long, text string",
    )
    # shingle_k=2 is the production near-dup config (neardup_lsh_verified);
    # the hash family is fixed, so this collision is deterministic — but a
    # ~0.6-Jaccard pair through 4-row bands is a coin-toss PROPERTY of any
    # LSH family (p ≈ 1-(1-j^4)^4), so the assertion pins the family+params
    # actually shipped, not a universal recall guarantee.
    pairs = {(r.id_a, r.id_b)
             for r in D.minhash_lsh_pairs(docs, shingle_k=2).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_lsh_hot_bucket_cap(spark):
    """The hot-bucket guard must drop buckets above max_bucket (bounding
    candidate pairs at B²/2 per bucket) while keeping small clusters.
    100 identical docs share every band → one bucket of 100 per band →
    with cap 50 the bucket is dropped and no candidate survives; the
    distinct small near-dup pair is unaffected."""
    rows = [(i, "common boilerplate text repeated verbatim everywhere")
            for i in range(100)]
    rows += [(200, "a distinct document about spark adaptive execution"),
             (201, "a distinct document about spark adaptive executions")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r.id_a, r.id_b)
              for r in D.minhash_lsh_pairs(docs, shingle_k=2,
                                           max_bucket=50).collect()}
    assert (200, 201) in capped
    assert not any(a < 100 and b < 100 for a, b in capped), \
        "oversized bucket must contribute zero candidate pairs"
    uncapped = {(r.id_a, r.id_b)
                for r in D.minhash_lsh_pairs(docs, shingle_k=2,
                                             max_bucket=None).collect()}
    assert sum(1 for a, b in uncapped if a < 100 and b < 100) == 100 * 99 / 2


def test_ngram_jaccard_exact_value(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")],
        "doc_id long, text string",
    )
    # 2-gram shingles: {ab,bc,cd} vs {ab,bc,ce} → J = 2/4 = 0.5
    rows = D.ngram_jaccard_pairs(docs, shingle_k=2, threshold=0.4).collect()
    assert len(rows) == 1 and abs(rows[0].jaccard - 0.5) < 1e-9


def test_simhash_similar_docs_close(spark):
    docs = spark.createDataFrame(
        [(1, "spark query engine fast distributed columnar"),
         (2, "spark query engine fast distributed columnar extra"),
         (3, "violets are blue roses are red entirely other")],
        "doc_id long, text string",
    )
    sh = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])


def test_sorted_neighborhood_finds_adjacent_neardups(spark):
    """SNM pairs near-identical docs that sort adjacently within a block,
    and ignores docs in other blocks (different first token) even when the
    window would otherwise reach them."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta zeta"),     # near-dup of 1, same block
         (3, "alpha completely different text here now"),  # same block, far
         (4, "omega beta gamma delta epsilon")],  # near text, other block
        "doc_id long, text string",
    )
    rows = D.sorted_neighborhood_pairs(docs, threshold=0.3).collect()
    pairs = {tuple(sorted((r.id_a, r.id_b))) for r in rows}
    assert (1, 2) in pairs
    assert all(4 not in p for p in pairs)


def test_merge_changeset_verbs(spark):
    """All three MERGE verbs plus the NULL-cell rule: a 'U' cell left NULL
    keeps the snapshot's value; 'D' removes; 'I' appends; untouched rows
    pass through."""
    from wde_spark.operators.relational import merge_changeset

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, name string, val double",
    )
    ch = spark.createDataFrame(
        [(2, "U", None, 99.0),   # update val, keep name (NULL cell)
         (3, "D", None, None),   # delete
         (5, "I", "e", 50.0)],   # insert
        "k long, op string, name string, val double",
    )
    out = {r.k: (r.name, r.val) for r in merge_changeset(snap, ch, "k").collect()}
    assert out == {1: ("a", 10.0), 2: ("b", 99.0), 4: ("d", 40.0),
                   5: ("e", 50.0)}


def test_simhash_md5_portable_form(spark):
    """The md5-portable 60-bit form: signatures fit in 60 bits, are
    locality-sensitive like the xxhash64 form, and reproduce the reference
    hash of a known token (first 15 md5 hex chars of 'hello')."""
    docs = spark.createDataFrame(
        [(1, "spark query engine fast distributed columnar"),
         (2, "spark query engine fast distributed columnar extra"),
         (3, "violets are blue roses are red entirely other"),
         (4, "hello")],
        "doc_id long, text string",
    )
    sh = {r.doc_id: r.simhash for r in D.simhash_md5(docs).collect()}
    assert all(0 <= v < 2**60 for v in sh.values())
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])
    # single token: signature == the token's own 60-bit hash
    assert sh[4] == int("5d41402abc4b2a7", 16)


def test_cosine_topk_self_similarity(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = SIM.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2)
    rows = sorted((r.rnk, r.item_id, r.cos_sim) for r in out.collect())
    assert rows[0][1] == 1 and abs(rows[0][2] - 1.0) < 1e-9
    assert rows[1][1] == 2 and abs(rows[1][2]) < 1e-9


def test_ivf_ann_recall_vs_bruteforce(spark):
    """IVF with nprobe=4/8 cells on the real sf0.001 embeddings: recall@5
    must be high, and nprobe=n_cells must equal exact brute force."""
    from wde_spark.core.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings",
                     spread=True)
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.item_id)
             for r in SIM.cosine_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.item_id)
              for r in SIM.ivf_ann(emb, queries, k=5, n_cells=8,
                                   nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.55, f"IVF recall@5 too low: {recall:.2f}"

    full = {(r.query_id, r.item_id)
            for r in SIM.ivf_ann(emb, queries, k=5, n_cells=8,
                                 nprobe=8).collect()}
    assert full == exact, "nprobe=n_cells must degenerate to exact search"


def test_lsh_multi_table_recall_dominates_single(spark):
    """Multi-table LSH (union of L tables) must recover at least as many
    true top-5 neighbors as the single-table form with the same bit width,
    and the L=1 multi-table case must equal the single-table form."""
    from wde_spark.core.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings",
                     spread=True)
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.item_id)
             for r in SIM.cosine_topk(emb, queries, k=5).collect()}
    single = {(r.query_id, r.item_id)
              for r in SIM.lsh_ann(emb, queries).collect()}
    multi = {(r.query_id, r.item_id)
             for r in SIM.lsh_ann_multi(emb, queries,
                                        n_tables=48).collect()}
    assert len(multi & exact) >= len(single & exact)
    assert len(multi & exact) / len(exact) >= 0.6

    one = {(r.query_id, r.item_id)
           for r in SIM.lsh_ann_multi(emb, queries,
                                      n_tables=1).collect()}
    assert one == single


def test_topk_recall_gate_boolean(spark):
    """The gate row flips FALSE when the threshold exceeds actual recall."""
    from wde_spark.core.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings",
                     spread=True)
    queries = emb.filter(F.col("vec_id") < 8)
    exact = SIM.cosine_topk(emb, queries, k=5)
    ok = SIM.topk_recall_gate(exact, exact, 8, 5, 1.0).collect()[0]
    assert ok.recall_ok and ok.n_queries == 8 and ok.k == 5
    approx = SIM.lsh_ann_multi(emb, queries, n_tables=2)
    bad = SIM.topk_recall_gate(approx, exact, 8, 5, 1.01).collect()[0]
    assert not bad.recall_ok


def test_lsh_params_for_s_curve():
    """The banding chooser obeys the S-curve: cheapest banding (fewest
    bands) that still meets the recall floor at the threshold; monotone in
    threshold; explicit failure when no banding can reach the floor."""
    import pytest as _pytest

    # high threshold → long rows suffice (few bands, cheap)
    b_hi, r_hi = D.lsh_params_for(0.9, num_hashes=16)
    # low threshold → must split into more bands to keep recall
    b_lo, r_lo = D.lsh_params_for(0.4, num_hashes=16)
    assert b_hi <= b_lo and b_hi * r_hi == 16 and b_lo * r_lo == 16
    # the promised probability actually holds at each pick
    for th, (b, r) in ((0.9, (b_hi, r_hi)), (0.4, (b_lo, r_lo))):
        assert 1 - (1 - th ** r) ** b >= 0.5
    # the repo's production setting (16/4) is exactly what the chooser
    # picks for the similarity regime the 0.2-threshold pipeline verifies
    assert D.lsh_params_for(0.7, num_hashes=16) == (4, 4)
    with _pytest.raises(ValueError):
        D.lsh_params_for(0.05, num_hashes=16, at_least=0.9)


def test_neardup_auto_banding_matches_production_setting(spark):
    """bands='auto' at the default 0.7 target similarity must derive the
    production 16/4 banding and therefore produce the identical verified
    pair set."""
    from wde_spark.core.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents",
                      spread=True)
    explicit = {(r.id_a, r.id_b, r.jaccard)
                for r in D.neardup_lsh_verified(docs).collect()}
    auto = {(r.id_a, r.id_b, r.jaccard)
            for r in D.neardup_lsh_verified(docs, bands="auto").collect()}
    assert auto == explicit and explicit


def test_default_paths_use_s_curve_banding(spark):
    """Round-5 wiring pin: `dedup_corpus` and `dedup_increment` now derive
    banding from the S-curve chooser BY DEFAULT (bands='auto'), and at the
    default (0.7 target, 16 hashes) the chooser resolves to the historical
    production constant 4 — so the default corpus is byte-identical to the
    explicit bands=4 run, and incremental state built under defaults joins
    against corpus state built under defaults."""
    from wde_spark.core.catalog import load_table
    from wde_spark.operators.incremental import _resolve_bands

    assert _resolve_bands("auto", 16) == 4
    assert _resolve_bands(8, 16) == 8  # explicit ints pass through

    docs = load_table(spark, "/root/testdata/sf0.001", "documents",
                      spread=True)
    default_kept = {r.doc_id for r in D.dedup_corpus(docs).collect()}
    explicit_kept = {r.doc_id
                     for r in D.dedup_corpus(docs, bands=4).collect()}
    assert default_kept == explicit_kept and default_kept


def test_dedup_recall_audit(spark):
    """The audit's ground truth is exact all-pairs Jaccard on an md5-
    deterministic sample: the production LSH pipeline must score measured
    recall on real documents, a deliberately crippled pipeline (1 band of
    16 rows ≈ exact-dup-only) must score lower, and an empty pipeline
    scores 0 — the audit detects silent recall collapse."""
    from wde_spark.core.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents",
                      spread=True)
    good = D.neardup_lsh_verified(docs)
    row = D.dedup_recall_audit(docs, good, sample=150).collect()[0]
    assert row.true_pairs > 0, "sample must contain true near-dup pairs"
    assert row.recall is not None and row.recall >= 0.5

    crippled = D.neardup_lsh_verified(docs, bands=1)
    row_bad = D.dedup_recall_audit(docs, crippled, sample=150).collect()[0]
    assert row_bad.recall <= row.recall

    empty = good.filter(F.lit(False))
    row_none = D.dedup_recall_audit(docs, empty, sample=150).collect()[0]
    assert row_none.found_pairs == 0 and row_none.recall == 0.0

    # determinism: same sample, same numbers
    row2 = D.dedup_recall_audit(docs, good, sample=150).collect()[0]
    assert (row.true_pairs, row.found_pairs) == (row2.true_pairs,
                                                 row2.found_pairs)


def test_pq_ann_recall_and_refine_limit(spark):
    """PQ ADC scan on the real sf0.001 embeddings: recall@5 must clear the
    gate threshold, and refine=n_items must degenerate to exact search
    (every item becomes a re-rank candidate)."""
    from wde_spark.core.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings",
                     spread=True)
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.item_id)
             for r in SIM.cosine_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.item_id)
              for r in SIM.pq_ann(emb, queries, k=5, m=16, k_codes=16,
                                  refine=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"PQ recall@5 too low: {recall:.2f}"

    n = emb.count()
    full = {(r.query_id, r.item_id)
            for r in SIM.pq_ann(emb, queries, k=5, m=16, k_codes=16,
                                refine=n).collect()}
    assert full == exact, "refine=n_items must degenerate to exact search"


def test_ivfpq_ann_recall_and_degeneration(spark):
    """IVF+PQ composed (IVFADC shape): pruned-and-compressed search must
    clear a recall floor, and nprobe=n_cells with refine=n_items must
    degenerate to exact search (all cells probed, every item re-ranked)."""
    from wde_spark.core.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings",
                     spread=True)
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.item_id)
             for r in SIM.cosine_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.item_id)
              for r in SIM.ivfpq_ann(emb, queries, k=5, n_cells=8, nprobe=4,
                                     m=16, k_codes=16, refine=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF+PQ recall@5 too low: {recall:.2f}"

    n = emb.count()
    full = {(r.query_id, r.item_id)
            for r in SIM.ivfpq_ann(emb, queries, k=5, n_cells=8, nprobe=8,
                                   m=16, k_codes=16, refine=n).collect()}
    assert full == exact, "nprobe=n_cells + refine=n must be exact search"


def test_pq_codebooks_deterministic_and_shaped(spark):
    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 13) for j in range(8)])
         for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    b1 = SIM.train_pq_codebooks(vecs, m=4, k_codes=8)
    b2 = SIM.train_pq_codebooks(vecs, m=4, k_codes=8)
    assert b1 == b2
    assert len(b1) == 4                      # m sub-spaces
    assert all(len(s) == 8 for s in b1)      # k codes each
    assert all(len(c) == 2 for s in b1 for c in s)  # dim/m values per code


def test_pq_ann_null_and_empty_robustness(spark):
    """NULL / non-finite vectors degrade (fall out of the candidate set);
    an empty item table yields an empty result, not a crash."""
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0, 0.0]),
         (2, None), (3, [float("nan")] * 4), (4, [0.0, 1.0, 0.0, 0.0]),
         (5, [0.1, 0.95, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = SIM.pq_ann(vecs, vecs.filter(F.col("vec_id") == 0), k=2,
                     m=2, k_codes=2, refine=6).collect()
    ids = {r.item_id for r in out}
    assert 2 not in ids and 3 not in ids
    assert out and out[0].item_id == 1       # nearest real neighbor first

    empty = vecs.filter(F.col("vec_id") < 0)
    assert SIM.pq_ann(empty, empty, k=2, m=2, k_codes=2).count() == 0


def test_ivf_centroids_deterministic(spark):
    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 13) for j in range(4)])
         for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    c1 = SIM.train_ivf_centroids(vecs, n_cells=4)
    c2 = SIM.train_ivf_centroids(vecs, n_cells=4)
    assert c1 == c2
    assert len(c1) == 4 and all(len(c) == 4 for c in c1)


def test_simhash_agg_form_matches_fold_form(spark):
    """The 64-column aggregation form of simhash must produce bit-identical
    signatures to the row-local fold form on real documents."""
    from wde_spark.core.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fold = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    agg = {r.doc_id: r.simhash for r in D.simhash_agg(docs).collect()}
    assert fold == agg


def test_asof_join_edges(spark):
    # right row exactly AT left.ts is visible; ties on ts pick max tie_col;
    # a left row before any right row gets NULL.
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10", 100),
         (1, "2024-01-01 00:00:00", 101),
         (2, "2024-01-01 00:05:00", 102)],
        "user_id long, ts string, event_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10", 7, 1.0),   # == left ts → visible
         (1, "2024-01-01 00:00:10", 9, 2.0),   # same ts, larger tie → wins
         (1, "2024-01-01 00:00:05", 8, 3.0)],
        "user_id long, ts string, event_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.event_id: (r.asof.event_id if r.asof else None,
                        r.asof.value if r.asof else None)
           for r in R.asof_join(left, right, "user_id", "ts",
                                ["value"], tie_col="event_id").collect()}
    assert out[100] == (9, 2.0)     # ts tie → event_id 9 beats 7
    assert out[101] == (None, None) # no right row at or before
    assert out[102] == (None, None) # user with no right rows at all


def test_range_join_boundaries(spark):
    # window [l.ts - W, l.ts): a right row exactly W before is IN, a right
    # row exactly at l.ts is OUT, and bucket straddling works.
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 500)],
        "user_id long, ts string, event_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:05:00"),   # exactly W=300s before → in
         (1, "2024-01-01 00:09:59"),   # just before → in (different bucket)
         (1, "2024-01-01 00:10:00"),   # at l.ts → out
         (1, "2024-01-01 00:04:59")],  # just outside → out
        "user_id long, cts string",
    ).withColumn("cts", F.to_timestamp("cts"))
    pairs = R.range_join(left, right, "user_id", "ts", "cts", 300).collect()
    got = sorted(str(r.cts) for r in pairs)
    assert got == ["2024-01-01 00:05:00", "2024-01-01 00:09:59"]


def test_connected_components_chain_and_cliques(spark):
    """A 5-node chain (diameter 4 → needs multiple propagation rounds), a
    separate triangle, and an isolated pair all resolve to min-id labels."""
    from wde_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain
         (10, 11), (11, 12), (10, 12),        # triangle
         (20, 21)],                           # pair
        "id_a long, id_b long",
    )
    out = {r.node: r.component
           for r in G.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_ann_null_and_missized_vectors_degrade_not_crash(spark):
    """A NULL or wrong-dimension embedding must fall out of LSH/IVF paths
    (NULL bucket/cell → dropped by the equi-join), never kill the job."""
    rows = [(0, [1.0] * 64), (1, None), (2, [1.0, 2.0]), (3, [0.5] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = SIM.lsh_ann(df, df.filter(F.col("vec_id") == 0)).collect()
    # item 3 is collinear with the query: it MUST be found (an empty result
    # would mean the bad rows poisoned the whole path, not just themselves)
    assert {r.item_id for r in got} == {3}
    got_ivf = SIM.ivf_ann(df, df.filter(F.col("vec_id") == 0), k=5,
                          n_cells=2, nprobe=2).collect()
    assert {r.item_id for r in got_ivf} == {3}
    # a zero vector is finite-length but has NaN cosine with everything —
    # it must never outrank a real neighbor (Spark sorts NaN above doubles)
    rows_z = [(0, [1.0] * 64), (1, [0.0] * 64), (2, [0.5] * 64)]
    dfz = spark.createDataFrame(rows_z, "vec_id long, embedding array<double>")
    topz = SIM.cosine_topk(dfz, dfz.filter(F.col("vec_id") == 0), k=1).collect()
    assert [r.item_id for r in topz] == [2]


def test_ivf_fewer_vectors_than_cells(spark):
    """n_cells larger than the table: clamps to one centroid per vector
    instead of IndexError."""
    rows = [(i, [float(i), 1.0, 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = SIM.ivf_ann(df, df.filter(F.col("vec_id") == 0), k=3,
                      n_cells=16, nprobe=16)
    ids = {r.item_id for r in out.collect()}
    assert ids and ids <= {1, 2, 3, 4}


def test_connected_components_label_raises_auto_escalates(spark):
    """With algorithm="label" a chain longer than max_iter rounds must
    raise, never silently return split components; the default "auto"
    escalates to large-star/small-star and still returns the right
    answer."""
    import pytest as _pytest
    from wde_spark.operators import graph as G

    chain = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        G.connected_components(df, max_iter=2, algorithm="label")
    ok = {r.component
          for r in G.connected_components(df, max_iter=2).collect()}
    assert ok == {0}
    ok = {r.component for r in G.connected_components(df, max_iter=20).collect()}
    assert ok == {0}


def test_connected_components_auto_early_escalation(spark, monkeypatch):
    """r12: "auto" hands a still-moving graph to the star algorithm after
    `escalate_after` label rounds instead of burning the whole max_iter
    budget — identical output either way. Pin BOTH the budget actually
    passed to the label arm and result equality across budgets."""
    from wde_spark.operators import graph as G

    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")

    seen = {}
    real = G._connected_components_label

    def spy(edges, max_iter):
        seen["budget"] = max_iter
        return real(edges, max_iter)

    monkeypatch.setattr(G, "_connected_components_label", spy)
    out = {(r.node, r.component)
           for r in G.connected_components(df, max_iter=20).collect()}
    assert seen["budget"] == 6          # not the full max_iter
    assert {c for _, c in out} == {0}
    # explicit label mode keeps its full budget (historical contract)
    out2 = {(r.node, r.component)
            for r in G.connected_components(
                df, max_iter=40, algorithm="label").collect()}
    assert seen["budget"] == 40
    assert out2 == out


def test_connected_components_escalation_contracts_through_labels(spark,
                                                                  monkeypatch):
    """r12: when "auto" escalates, the star arm must start from the graph
    CONTRACTED through the partial labels (supernode = k-hop min id), not
    from the raw edges — the escalate_after label rounds' work is reused.
    Pin (a) the edge set handed to the star arm is strictly smaller than
    the raw edge set, (b) every contracted endpoint is a label value, and
    (c) the final output equals the pure-label answer."""
    from wde_spark.operators import graph as G

    # two long chains (escalate) + a triangle (collapses during the label
    # rounds, so its supernode reaches star with no edges — exercises the
    # coalesce-expansion arm)
    edges = [(i, i + 1) for i in range(40)] \
        + [(100 + i, 101 + i) for i in range(40)] \
        + [(500, 501), (501, 502), (500, 502)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    seen = {}
    real_star = G.connected_components_star

    def spy(e):
        seen["star_edges"] = e.count()
        return real_star(e)

    monkeypatch.setattr(G, "connected_components_star", spy)
    out = {(r.node, r.component)
           for r in G.connected_components(df, max_iter=20).collect()}
    # 83 raw edges. Pure chains contract only near the head (min-label
    # propagation SHIFTS labels along a path rather than colliding them:
    # label(n) = n-7 is injective past the first 8 nodes), but the
    # triangle vanishes entirely and each chain loses its first 7 edges:
    # 83 -> 66. Dense pockets are where contraction bites — on the real
    # sf0.1 semantic graph it is 1577 nodes -> 195 supernodes and star
    # alternations 5 -> 3 (measurements/cc_contraction_r12.json).
    assert 0 < seen["star_edges"] <= 66
    want = {(r.node, r.component)
            for r in G.connected_components(
                df, max_iter=100, algorithm="label").collect()}
    assert out == want
    assert {c for _, c in out} == {0, 100, 500}


def test_connected_components_star_path_1000(spark):
    """The Kiveris et al. escalation path: a 1,000-node path graph
    (diameter 999 — min-label propagation would need 999 rounds) closes
    in O(log n) large-star/small-star alternations, every node labeled
    with the path's minimum."""
    from wde_spark.operators import graph as G

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "id_a long, id_b long")
    out = {r.node: r.component
           for r in G.connected_components_star(df).collect()}
    assert len(out) == 1000
    assert set(out.values()) == {0}


def test_connected_components_star_matches_label(spark):
    """Star and label propagation agree on a mixed graph: cliques,
    a chain, an isolated pair, self-loops, and reversed/duplicate edges."""
    from wde_spark.operators import graph as G

    edges = [(1, 2), (2, 3), (3, 4), (4, 5),       # chain
             (10, 11), (11, 12), (10, 12),         # triangle
             (20, 21), (21, 20), (20, 21),         # dup + reversed pair
             (30, 30)]                             # self-loop
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {(r.node, r.component)
            for r in G.connected_components_star(df).collect()}
    label = {(r.node, r.component)
             for r in G.connected_components(df, algorithm="label").collect()}
    assert star == label
    assert (30, 30) in star  # self-loop node kept, labeled itself


def test_sessionize_bucketed_equals_plain(spark):
    """The skew-proof (user, bucket)-windowed sessionizer must assign the
    exact session ids of the plain per-user window, including sessions that
    chain across 3+ buckets and gaps exactly at the threshold."""
    import datetime as dt

    from wde_spark.operators.relational import sessionize, sessionize_bucketed

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: a session chaining across 3 daily buckets (events every 20h,
    # gap threshold 1 day) then a clean break
    for i in range(4):
        rows.append((1, base + dt.timedelta(hours=20 * i)))
    rows.append((1, base + dt.timedelta(days=30)))
    # user 2: boundary exactness — second event exactly gap seconds later
    # (same session: the rule is gap > threshold), third just beyond
    rows.append((2, base))
    rows.append((2, base + dt.timedelta(seconds=86400)))
    rows.append((2, base + dt.timedelta(seconds=2 * 86400 + 1)))
    # user 3: hot key — 500 events across 5 buckets, alternating dense/gap
    for i in range(500):
        rows.append((3, base + dt.timedelta(minutes=17 * i)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")

    plain = {(r.user_id, r.ts): r.session_id
             for r in sessionize(df, "user_id", "ts", 86400).collect()}
    bucketed = {(r.user_id, r.ts): r.session_id
                for r in sessionize_bucketed(
                    df, "user_id", "ts", 86400,
                    bucket_seconds=86400).collect()}
    assert plain == bucketed

    # and with a bucket much larger than the gap
    wide = {(r.user_id, r.ts): r.session_id
            for r in sessionize_bucketed(
                df, "user_id", "ts", 3600,
                bucket_seconds=86400).collect()}
    plain1h = {(r.user_id, r.ts): r.session_id
               for r in sessionize(df, "user_id", "ts", 3600).collect()}
    assert wide == plain1h


def test_sessionize_bucketed_rejects_unsound_bucket(spark):
    import pytest as _pytest

    from wde_spark.operators.relational import sessionize_bucketed

    df = spark.createDataFrame([(1, "2024-01-01 00:00:00")],
                               "user_id long, ts string") \
        .selectExpr("user_id", "cast(ts as timestamp) ts")
    with _pytest.raises(AssertionError):
        sessionize_bucketed(df, "user_id", "ts", gap_seconds=7200,
                            bucket_seconds=3600)


def test_salted_topk_and_agg_lww_equal_plain_forms(spark):
    """The hot-key-proof variants must equal the plain window forms on a
    skewed input (one key holding 80% of rows, with duplicate order
    values)."""
    rows = [(1, i, float(i % 37)) for i in range(800)]
    rows += [(2, 1000 + i, float(i)) for i in range(50)]
    rows += [(3, 2000, 5.0)]
    df = spark.createDataFrame(rows, "k long, id long, v double")

    plain = {(r.k, r.id) for r in R.top_k_per_group(
        df, ["k"], [F.desc("v"), F.asc("id")], 4).collect()}
    salted = {(r.k, r.id) for r in R.top_k_per_group_salted(
        df, ["k"], [F.desc("v"), F.asc("id")], 4, n_salts=8).collect()}
    assert plain == salted

    keyed = df.withColumn("__ord", F.struct(F.col("v"), F.col("id")))
    w = {r.k: r.id for r in R.last_write_wins(
        keyed, ["k"], F.col("__ord")).collect()}
    a = {r.k: r.id for r in R.last_write_wins_agg(
        keyed, ["k"], F.col("__ord")).collect()}
    assert w == a


def test_build_mapper_overflow_cap(spark):
    """The reinjection mapper is a driver-side collect (bounded model
    state, ~19k names in the real corpus). Past the cap it must raise with
    instructions, and the collect itself is limit-bounded so even a
    pathological input can't OOM the driver before the check fires."""
    import pytest as _pytest
    from wde_spark.plans import reinject as RJ

    nt = spark.range(10).select(
        F.concat(F.lit("name_"), F.col("id")).alias("tei_name"),
        F.concat(F.lit("Q"), F.col("id")).alias("wd_id"),
        F.lit(1).alias("catalogue_id"),
        F.col("id").alias("item_pos"),
        F.lit(0).alias("row_pos"),
    )
    with _pytest.raises(RuntimeError, match="distinct names"):
        RJ.build_mapper(nt, max_names=5)
    ok = RJ.build_mapper(nt, max_names=10)
    assert ok["name_3"] == "Q3" and len(ok) == 10


def test_dedup_corpus_end_to_end(spark):
    """The composed corpus cleaner: verbatim clones collapse to min id,
    near-dup classes keep exactly one representative, distinct docs
    survive untouched, schema unchanged."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),   # clone of 1
        (3, "the quick brown fox jumps over the lazy dog tonight"), # near-dup of 1
        (4, "completely unrelated text about spark query engines"),
        (5, "another fully distinct document about parquet files"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = D.dedup_corpus(docs)
    assert kept.columns == docs.columns
    ids = {r.doc_id for r in kept.collect()}
    assert 1 in ids                      # class representative (min id)
    assert 2 not in ids                  # exact clone dropped
    assert 3 not in ids                  # near-dup clustered with 1, dropped
    assert {4, 5} <= ids                 # distinct docs untouched
    # deterministic under rerun
    ids2 = {r.doc_id for r in D.dedup_corpus(docs).collect()}
    assert ids == ids2


def test_cosine_topk_equals_naive_fused_form(spark):
    """Kernel-refactor pin (round 5): cosine_topk's precomputed-norm +
    NaN-null-routed shape must return EXACTLY (bit-for-bit) what the naive
    fused form (inline cosine, pre-window isnan filter) returns — over
    vectors that exercise negatives, zeros (NaN cosine), near-duplicates
    (rank ties), and a NULL row. Guards the next person who 'optimizes'
    the scoring path into a float-drifted or NaN-reordered variant."""
    from pyspark.sql import Window

    rows = []
    for i in range(60):
        rows.append((i, [float((i * j + 3 * j * j + i) % 17) - 8.0
                         for j in range(16)]))
    rows.append((60, [0.0] * 16))       # zero vector: NaN cosine
    rows.append((61, None))             # NULL vector
    rows.append((62, rows[5][1][:]))    # exact clone of id 5: cos 1.0 tie
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 3)

    got = SIM.cosine_topk(df, q, k=5, dim=16).collect()

    qq = q.select(F.col("vec_id").alias("query_id"),
                  SIM._as_double(F.col("embedding")).alias("qv"))
    it = df.select(F.col("vec_id").alias("item_id"),
                   SIM._as_double(F.col("embedding")).alias("iv"))
    scored = (
        it.join(F.broadcast(qq), F.col("item_id") != F.col("query_id"))
        .select("query_id", "item_id",
                F.round(SIM.cosine(F.col("qv"), F.col("iv")), 6)
                .alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("item_id"))
    naive = (
        scored.filter(~F.isnan("cos_sim"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "item_id", "cos_sim", "rnk")
    ).collect()

    key = lambda r: (r.query_id, r.rnk)
    assert sorted(got, key=key) == sorted(naive, key=key)
    assert len(got) == 15  # 3 queries x top-5, bad rows excluded


def test_semantic_dedup_keeps_one_per_embedding_cluster(spark):
    """SemDeDup-shaped composition: near-identical EMBEDDINGS collapse to
    the min-id representative even when ids/text differ; far vectors
    survive; deterministic under rerun."""
    import math

    def ray(angle, eps=0.0):
        # unit-ish 64-dim vector pointing at `angle` in the first plane,
        # eps-perturbed in a later component (cosine vs eps=0 ≈ 1-eps²/2)
        v = [0.0] * 64
        v[0], v[1] = math.cos(angle), math.sin(angle)
        v[7] = eps
        return v

    rows = [
        (10, ray(0.0)), (11, ray(0.0, 0.01)), (12, ray(0.0, 0.02)),  # cluster A
        (20, ray(1.2)), (21, ray(1.2, 0.015)),                       # cluster B
        (30, ray(2.4)),                                              # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r.vec_id for r in D.semantic_dedup(df, threshold=0.99).collect()}
    assert kept == {10, 20, 30}
    kept2 = {r.vec_id for r in D.semantic_dedup(df, threshold=0.99).collect()}
    assert kept2 == kept
    # threshold high enough that nothing matches → everything survives
    assert D.semantic_dedup(df, threshold=1.1).count() == 6


def test_cosine_lsh_params_scale_with_corpus():
    """Bucket count (2^bits per table) must grow with n — the r5 audit's
    quadratic-at-scale finding — and the table count must come from the
    collision S-curve at the threshold (tighter threshold → fewer tables
    needed for the same recall)."""
    b_small, _ = SIM.cosine_lsh_params(0.95, 1_000)
    b_big, _ = SIM.cosine_lsh_params(0.95, 1_000_000_000)
    assert b_big > b_small
    # 1e9 vectors / 2^bits buckets ≈ target_bucket (32) per bucket,
    # modulo the max_bits cap
    assert b_big == 24  # ceil(log2(1e9/32)) = 25, capped at 24
    _, t_tight = SIM.cosine_lsh_params(0.99, 1_000_000)
    _, t_loose = SIM.cosine_lsh_params(0.80, 1_000_000)
    assert t_tight <= t_loose
    assert 1 <= t_tight and t_loose <= 64
    # degenerate corpora keep the floor
    assert SIM.cosine_lsh_params(0.95, 0) == (4, 1)


def test_embedding_neardup_hot_bucket_cap(spark):
    """A signature bucket larger than max_bucket is dropped entirely —
    with every vector identical and a cap of 1, no candidates survive;
    with the default cap the full clique comes back."""
    rows = [(i, [1.0] + [0.0] * 63) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    full = SIM.embedding_neardup(df, threshold=0.99, n_planes=4, n_tables=2)
    assert full.count() == 8 * 7 // 2
    capped = SIM.embedding_neardup(df, threshold=0.99, n_planes=4,
                                   n_tables=2, max_bucket=1)
    assert capped.count() == 0


def test_embedding_recall_audit(spark):
    """Pipeline == exact truth → recall 1.0; empty pipeline → recall 0;
    a sample with no true pair → recall NULL (not 1.0)."""
    import math

    def ray(angle, eps=0.0):
        v = [0.0] * 64
        v[0], v[1] = math.cos(angle), math.sin(angle)
        v[7] = eps
        return v

    rows = [(10, ray(0.0)), (11, ray(0.0, 0.01)),
            (20, ray(1.2)), (21, ray(1.2, 0.015)), (30, ray(2.4))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = SIM.embedding_neardup(df, threshold=0.99)
    r = SIM.embedding_recall_audit(df, pairs, sample=5, threshold=0.99) \
        .collect()[0]
    assert r.sample_vecs == 5 and r.true_pairs == 2
    assert r.found_pairs == 2 and r.recall == 1.0
    empty = df.sparkSession.createDataFrame([], "id_a long, id_b long")
    r0 = SIM.embedding_recall_audit(df, empty, sample=5, threshold=0.99) \
        .collect()[0]
    assert r0.found_pairs == 0 and r0.recall == 0.0
    # far-apart rays only: no ground-truth pair → NULL recall
    lonely = spark.createDataFrame(
        [(1, ray(0.0)), (2, ray(1.2)), (3, ray(2.4))],
        "vec_id long, embedding array<double>")
    rn = SIM.embedding_recall_audit(lonely, empty, sample=3,
                                    threshold=0.99).collect()[0]
    assert rn.true_pairs == 0 and rn.recall is None


def test_nearest_join_directions_and_ties(spark):
    """Bidirectional nearest: picks whichever side is closer; distance
    ties go backward; equal-ts ties go to the greatest tie_col; rows
    with only one side available still match."""
    from datetime import datetime as DT

    from wde_spark.operators.relational import nearest_join

    def t(s):
        return DT(2024, 1, 1, 0, 0) + __import__("datetime").timedelta(
            seconds=s)

    right = spark.createDataFrame(
        [(1, t(10), 100, 1.0), (1, t(20), 101, 2.0),
         (1, t(20), 102, 3.0),   # same-ts duplicate: greatest id wins
         (2, t(50), 200, 9.0)],
        "user_id long, ts timestamp, event_id long, value double")
    left = spark.createDataFrame(
        [(1, t(12), 900),   # back d=2 (id 100) vs fwd d=8 -> back
         (1, t(15), 901),   # equidistant d=5 -> backward wins (id 100)
         (1, t(19), 902),   # fwd d=1 beats back d=9 -> id 102 (tie)
         (1, t(5), 903),    # nothing earlier -> forward id 100
         (2, t(99), 904),   # nothing later -> backward id 200
         (3, t(1), 905)],   # no right rows at all -> NULL
        "user_id long, ts timestamp, event_id long")
    rows = {r["event_id"]: r for r in nearest_join(
        left, right, on="user_id", ts_col="ts",
        payload_cols=["value"], tie_col="event_id").collect()}
    got = {k: (None if rows[k]["nearest"] is None
               else rows[k]["nearest"]["event_id"]) for k in rows}
    assert got == {900: 100, 901: 100, 902: 102, 903: 100,
                   904: 200, 905: None}
