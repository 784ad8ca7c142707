"""Incremental dedup (`operators/incremental.py`) — the equivalence
contract: admitting a batch against corpus STATE must produce exactly the
corpus a full `dedup_corpus` re-run over corpus ∪ batch would keep,
without the increment ever rescanning corpus text (except for candidate
verification).

Scenario coverage, one corpus:
  - exact cross-split dup where the CORPUS doc wins (smaller id)
  - exact cross-split dup where the BATCH doc wins (smaller id) → revoke
  - intra-batch exact clones
  - near-dup batch-vs-corpus (corpus rep survives)
  - a batch doc BRIDGING two existing corpus classes (merge → one corpus
    rep revoked)
  - intra-batch near-dup cluster
  - fully novel docs
  - empty batch / batch against empty corpus
"""

from __future__ import annotations

import time


from wde_spark.operators import dedup as D
from wde_spark.operators import incremental as I

SCHEMA = "doc_id long, text string"


def _kept_ids(df):
    return {r.doc_id for r in df.select("doc_id").collect()}


def _full(spark, rows):
    docs = spark.createDataFrame(rows, SCHEMA)
    return _kept_ids(D.dedup_corpus(docs))


def _incremental(spark, corpus_rows, batch_rows):
    corpus_all = spark.createDataFrame(corpus_rows, SCHEMA)
    kept_corpus = D.dedup_corpus(corpus_all)
    state = I.dedup_state(kept_corpus)
    batch = spark.createDataFrame(batch_rows, SCHEMA)
    res = I.dedup_increment(kept_corpus, batch, state)
    final = (_kept_ids(kept_corpus) - _kept_ids(res.revoked)) | _kept_ids(res.kept)
    return res, final


CORPUS = [
    (10, "the quick brown fox jumps over the lazy dog today"),
    (20, "spark structured streaming handles late data with watermarks"),
    (30, "parquet column pruning makes scans cheap and fast always"),
    (40, "duckdb is an embedded analytical database for local work"),
    # 50/55 are distinct corpus classes (J=0.077, bands verified non-
    # colliding) that the bridge doc 130 will connect: it band-collides
    # with BOTH (verified against the deterministic minhash family) and
    # its Jaccard to each clears the 0.2 verification threshold.
    (50, "gale hill isle reef elm mesa lake quay"),
    (55, "gale hill bay cliff yard tarn ash oak"),
]

BATCH = [
    (100, "the quick brown fox jumps over the lazy dog today"),      # exact dup of 10 (corpus wins)
    (5,   "spark structured streaming handles late data with watermarks"),  # exact dup of 20, batch id SMALLER → revokes 20
    (110, "completely novel document about tokenizer vocabularies"),
    (111, "completely novel document about tokenizer vocabularies"),  # intra-batch clone of 110
    (120, "parquet column pruning makes scans cheap and fast forever"),  # near-dup of 30 → corpus rep survives
    # bridge: band-collides with both 50 and 55 (deterministic), J >= 0.2 to each
    (130, "isle reef elm gale hill bay cliff yard fern bluff"),
    (140, "some entirely different content with zero overlap anywhere"),
    (141, "some entirely different content with scant overlap anywhere"),  # near-dup of 140 (intra-batch)
]


def test_increment_matches_full_rerun(spark):
    res, final = _incremental(spark, CORPUS, BATCH)
    full = _full(spark, CORPUS + BATCH)
    assert final == full


def test_increment_verbs(spark):
    res, final = _incremental(spark, CORPUS, BATCH)
    kept = _kept_ids(res.kept)
    revoked = _kept_ids(res.revoked)
    assert 100 not in kept            # corpus twin 10 wins
    assert 5 in kept and 20 in revoked  # batch doc with smaller id dethrones
    assert 110 in kept and 111 not in kept  # intra-batch exact collapse
    assert 120 not in kept and 30 not in revoked  # corpus near-dup rep survives
    # bridge merges classes {50} and {55}: one representative for the
    # merged component (min id = 50), so 55 is revoked and 130 dropped
    assert 130 not in kept and 55 in revoked and 50 not in revoked
    assert 140 in kept and 141 not in kept  # intra-batch near-dup cluster


def test_increment_state_is_consistent(spark):
    """state' must equal dedup_state(corpus') — fingerprint and band rows
    for exactly the new kept set, bit-identical values."""
    corpus_all = spark.createDataFrame(CORPUS, SCHEMA)
    kept_corpus = D.dedup_corpus(corpus_all)
    batch = spark.createDataFrame(BATCH, SCHEMA)
    res = I.dedup_increment(kept_corpus, batch, I.dedup_state(kept_corpus))

    new_corpus = kept_corpus.join(res.revoked, "doc_id", "left_anti") \
        .unionByName(res.kept)
    fresh = I.dedup_state(new_corpus)
    for inc_df, fresh_df in [(res.state.fingerprints, fresh.fingerprints),
                             (res.state.bands, fresh.bands)]:
        sym = inc_df.exceptAll(fresh_df).unionAll(fresh_df.exceptAll(inc_df))
        assert sym.count() == 0


def test_increment_empty_batch(spark):
    corpus_all = spark.createDataFrame(CORPUS, SCHEMA)
    kept_corpus = D.dedup_corpus(corpus_all)
    batch = spark.createDataFrame([], SCHEMA)
    res = I.dedup_increment(kept_corpus, batch, I.dedup_state(kept_corpus))
    assert res.kept.count() == 0 and res.revoked.count() == 0
    assert res.state.fingerprints.count() == kept_corpus.count()


def test_increment_into_empty_corpus(spark):
    """Bootstrap case: incrementing into an empty corpus is exactly a full
    dedup of the batch."""
    corpus = spark.createDataFrame([], SCHEMA)
    res = I.dedup_increment(corpus, spark.createDataFrame(BATCH, SCHEMA),
                            I.dedup_state(corpus))
    assert _kept_ids(res.kept) == _full(spark, BATCH)
    assert res.revoked.count() == 0


def test_increment_null_text_twins(spark):
    """A batch NULL-text doc must collapse onto the corpus's NULL-text
    representative exactly as a full re-run's groupBy(fp) would (NULLs
    form ONE fingerprint group there, but a bare equi-join on fp could
    never match them — the sentinel in _fingerprints carries this)."""
    corpus_rows = [(10, None), (20, "a real document about ships")]
    batch_rows = [(100, None), (101, None), (102, "fresh text about trains")]
    kept0 = D.dedup_corpus(spark.createDataFrame(corpus_rows, SCHEMA))
    assert _kept_ids(kept0) == {10, 20}
    res = I.dedup_increment(kept0, spark.createDataFrame(batch_rows, SCHEMA),
                            I.dedup_state(kept0))
    assert _kept_ids(res.kept) == {102}       # NULL twins lose to doc 10
    assert res.revoked.count() == 0
    final = (_kept_ids(kept0) - _kept_ids(res.revoked)) | _kept_ids(res.kept)
    assert final == _full(spark, corpus_rows + batch_rows)


def test_increment_randomized_differential(spark):
    """Randomized differential: on seeded random corpora (clone families,
    suffix near-dups, novel docs, ids shuffled so either side of a dup
    pair may hold the smaller id), dedup_increment must reproduce the
    full re-run EXACTLY — max_bucket=None, so the equivalence is
    unconditional, not cap-dependent."""
    import random

    words = ("ash bay cliff dune elm fern gale hill isle knoll lake mesa "
             "nook oak pine quay reef shoal tarn vale wold yard bluff cove "
             "crag dell fen gorge heath inlet").split()
    for seed in (11, 23, 47):
        rng = random.Random(seed)
        texts = []
        # 8 base texts; each spawns 1-3 family members (clone or tail-drift)
        for b in range(8):
            base = " ".join(rng.sample(words, 8))
            texts.append(base)
            for _ in range(rng.randrange(0, 3)):
                texts.append(base if rng.random() < 0.5
                             else base + " " + rng.choice(words))
        ids = list(range(100, 100 + len(texts)))
        rng.shuffle(ids)  # dup-pair winners land on either side of the split
        rows = list(zip(ids, texts))
        rng.shuffle(rows)
        cut = len(rows) // 2
        corpus_rows, batch_rows = rows[:cut], rows[cut:]

        kept0 = D.dedup_corpus(
            spark.createDataFrame(corpus_rows, SCHEMA), max_bucket=None)
        res = I.dedup_increment(
            kept0, spark.createDataFrame(batch_rows, SCHEMA),
            I.dedup_state(kept0), max_bucket=None)
        final = (_kept_ids(kept0) - _kept_ids(res.revoked)) | _kept_ids(res.kept)

        # equivalence is over kept0 ∪ batch (docs dropped when building the
        # corpus carry no bridging info — module docstring)
        full_rows = [r for r in corpus_rows
                     if r[0] in _kept_ids(kept0)] + batch_rows
        full = _kept_ids(D.dedup_corpus(
            spark.createDataFrame(full_rows, SCHEMA), max_bucket=None))
        assert final == full, f"seed {seed}: {final ^ full}"


def test_streaming_admission_matches_full_rerun(spark, tmp_path):
    """Document batches admitted through the streaming foreachBatch path
    (corpus + state rolling forward as delta ledgers) end in exactly the
    corpus a full dedup_corpus re-run over everything keeps, and
    replaying the stream writes nothing new (exactly-once effect)."""
    import os

    from wde_spark.streaming.dedup_admission import (
        read_corpus, streaming_dedup_admission)

    corpus0 = D.dedup_corpus(spark.createDataFrame(CORPUS, SCHEMA))
    src = tmp_path / "docs"
    for i, rows in enumerate((BATCH[:4], BATCH[4:])):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / f"f{i}.parquet"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    target, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    streaming_dedup_admission(stream, corpus0, target, ckpt)

    got = _kept_ids(read_corpus(spark, target))
    assert got == _full(spark, CORPUS + BATCH)

    # replay from the same checkpoint: no new entries, same corpus
    versions = sorted(os.listdir(target))
    streaming_dedup_admission(stream, corpus0, target, ckpt)
    assert sorted(os.listdir(target)) == versions
    assert _kept_ids(read_corpus(spark, target)) == got


def test_version_ledger_time_travel_and_compaction(spark, tmp_path):
    """The admission's delta ledger gives time travel (any past corpus
    readable `as_of` its sequence), history, and compaction (absorbed
    entries folded and vacuumed; the latest state is untouched)."""
    import os

    from wde_spark.streaming.compaction import (compact, ledger_entries,
                                                read_merged)
    from wde_spark.streaming.dedup_admission import (
        read_corpus, streaming_dedup_admission)

    corpus0 = D.dedup_corpus(spark.createDataFrame(CORPUS, SCHEMA))
    src = tmp_path / "docs"
    for i, rows in enumerate((BATCH[:4], BATCH[4:])):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / f"f{i}.parquet"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    target, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    streaming_dedup_admission(stream, corpus0, target, ckpt)

    ledger = os.path.join(target, "corpus")
    assert ledger_entries(ledger) == [(0, "b"), (1, "d"), (2, "d")]
    # time travel: as of 0 is the bootstrap corpus
    v0_ids = {r.doc_id for r in
              read_merged(spark, ledger, ["doc_id"], as_of=0).collect()}
    assert v0_ids == _kept_ids(corpus0)
    final_before = _kept_ids(read_corpus(spark, target))

    assert compact(spark, ledger, ["doc_id"])["removed"] == [
        "b0", "d1", "d2"]
    assert ledger_entries(ledger) == [(2, "b")]
    assert _kept_ids(read_corpus(spark, target)) == final_before

    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        read_merged(spark, ledger, ["doc_id"], as_of=0)


def test_increment_chain_of_batches(spark):
    """Two successive increments (state threaded through) equal one full
    re-run over everything — state maintenance composes."""
    b1, b2 = BATCH[:4], BATCH[4:]
    corpus_all = spark.createDataFrame(CORPUS, SCHEMA)
    kept = D.dedup_corpus(corpus_all)
    state = I.dedup_state(kept)

    r1 = I.dedup_increment(kept, spark.createDataFrame(b1, SCHEMA), state)
    corpus1 = kept.join(r1.revoked, "doc_id", "left_anti").unionByName(r1.kept)
    r2 = I.dedup_increment(corpus1, spark.createDataFrame(b2, SCHEMA), r1.state)
    final = (_kept_ids(corpus1) - _kept_ids(r2.revoked)) | _kept_ids(r2.kept)
    assert final == _full(spark, CORPUS + BATCH)


def test_streaming_drift_maintainer_matches_drift_history(spark, tmp_path):
    """The drift maintainer attached to streaming admission appends one
    JSD row per batch; the finished ledger's rows equal the divergence
    recomputed between the merged corpus as of each pair of ledger
    sequences (same from/to, same values) — and replay leaves the drift
    ledger as it is (idempotent)."""
    import os

    from wde_spark.operators.drift import corpus_divergence, term_distribution
    from wde_spark.streaming.compaction import read_merged
    from wde_spark.streaming.dedup_admission import (
        read_drift, streaming_dedup_admission)

    corpus0 = D.dedup_corpus(spark.createDataFrame(CORPUS, SCHEMA))
    src = tmp_path / "docs"
    for i, rows in enumerate((BATCH[:4], BATCH[4:])):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / f"f{i}.parquet"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    target, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    drift = str(tmp_path / "drift")
    streaming_dedup_admission(stream, corpus0, target, ckpt,
                              drift_dir=drift)

    key = lambda r: (r.from_version, r.to_version)
    got = {key(r): (r.jsd, r.l1, r.n_terms_a, r.n_terms_b,
                    r.n_terms_common)
           for r in read_drift(spark, drift).collect()}
    want = {}
    for a in (0, 1):
        dist = [term_distribution(read_merged(
            spark, os.path.join(target, "corpus"), ["doc_id"], as_of=n))
            for n in (a, a + 1)]
        r = corpus_divergence(*dist).first()
        want[(a, a + 1)] = (r.jsd, r.l1, r.n_terms_a, r.n_terms_b,
                            r.n_terms_common)
    assert got == want and len(got) == 2

    # replay: same ledger files, same rows
    dirs = sorted(f for _, _, fs in os.walk(drift) for f in fs)
    streaming_dedup_admission(stream, corpus0, target, ckpt,
                              drift_dir=drift)
    assert sorted(f for _, _, fs in os.walk(drift) for f in fs) == dirs
    got2 = {key(r): (r.jsd, r.l1) for r in
            read_drift(spark, drift).collect()}
    assert got2 == {k: v[:2] for k, v in got.items()}

    # empty-ledger probe: a never-run monitor reads as an empty table
    assert read_drift(spark, str(tmp_path / "nope")).count() == 0


def test_streaming_lm_gated_admission(spark, tmp_path):
    """LM-scored admission gating (streaming/lm_admission.py), the CCNet
    shape: docs scoring below the frozen-LM cutoff land in the quarantine
    ledger with their scores, survivors are dedup-admitted; the final
    corpus equals a flat dedup_corpus re-run over init ∪ {docs scoring >=
    cutoff}; replay writes no new ledger entries."""
    import os

    from wde_spark.operators.lm_score import lm_quality, train_bigram_lm
    from wde_spark.streaming.dedup_admission import read_corpus
    from wde_spark.streaming.lm_admission import (
        read_quarantine, streaming_lm_dedup_admission)

    corpus0 = D.dedup_corpus(spark.createDataFrame(CORPUS, SCHEMA))
    # a frozen LM trained on the init corpus; cutoff = median batch score
    # so the gate provably splits THIS batch
    lm = train_bigram_lm(corpus0)
    batch_df = spark.createDataFrame(BATCH, SCHEMA)
    scores = {r.doc_id: r.avg_logp
              for r in lm_quality(batch_df, lm).collect()}
    vals = sorted(v for v in scores.values() if v is not None)
    cutoff = vals[len(vals) // 2]
    ok = {i for i, v in scores.items() if v is not None and v >= cutoff}
    bad = set(scores) - ok
    assert ok and bad  # the gate separates this batch both ways

    src = tmp_path / "docs"
    for i, rows in enumerate((BATCH[:4], BATCH[4:])):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / f"f{i}.parquet"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    target, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    quar = str(tmp_path / "quarantine")
    streaming_lm_dedup_admission(stream, corpus0, target, ckpt, quar,
                                 cutoff)

    # streaming ≡ batch: final corpus == full rerun over init ∪ admitted
    got = _kept_ids(read_corpus(spark, target))
    admitted_rows = [r for r in BATCH if r[0] in ok]
    want = _full(spark,
                 [r for r in CORPUS if r[0] in _kept_ids(corpus0)]
                 + admitted_rows)
    assert got == want

    # quarantine ledger holds exactly the rejected docs, with scores
    q = {r.doc_id: r.avg_logp
         for r in read_quarantine(spark, quar).collect()}
    assert set(q) == bad
    assert all(q[i] == scores[i] for i in bad)

    # replay: same ledger dirs, same quarantine, same corpus
    versions = sorted(os.listdir(target))
    streaming_lm_dedup_admission(stream, corpus0, target, ckpt, quar,
                                 cutoff)
    assert sorted(os.listdir(target)) == versions
    assert _kept_ids(read_corpus(spark, target)) == got
    assert {r.doc_id for r in read_quarantine(spark, quar).collect()} == bad


def test_streaming_nb_gated_admission(spark, tmp_path):
    """Classifier-gated admission (streaming/nb_admission.py), the GPT-3
    shape: a frozen NB model argmax-classifies every batch doc, ALL
    predictions land in the per-batch prediction ledger, docs predicted
    outside keep_labels are quarantined, survivors dedup-admitted; the
    final corpus equals a flat dedup_corpus re-run over init ∪ {docs
    predicted in keep_labels}; replay leaves the ledgers as they are."""
    import os

    from wde_spark.operators.classifier import nb_classify, train_naive_bayes
    from wde_spark.streaming.dedup_admission import read_corpus
    from wde_spark.streaming.nb_admission import (
        read_predictions, streaming_nb_dedup_admission)

    corpus0 = D.dedup_corpus(spark.createDataFrame(CORPUS, SCHEMA))
    train = spark.createDataFrame(
        [(1, "tech", "spark parquet streaming database scans columns data"),
         (2, "tech", "tokenizer vocabularies embeddings training corpus"),
         (3, "nature", "fox dog gale hill isle reef elm lake oak"),
         (4, "nature", "bay cliff yard tarn ash mesa quay bluff fern")],
        "doc_id long, lang string, text string")
    model, priors = train_naive_bayes(train)
    batch_df = spark.createDataFrame(BATCH, SCHEMA)
    preds = {r.doc_id: r
             for r in nb_classify(batch_df, model, priors).collect()}
    keep = {i for i, r in preds.items() if r.pred_label == "tech"}
    rej = set(preds) - keep
    assert keep and rej  # the gate separates this batch both ways

    src = tmp_path / "docs"
    for i, rows in enumerate((BATCH[:4], BATCH[4:])):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / f"f{i}.parquet"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    target, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    quar = str(tmp_path / "quarantine")
    streaming_nb_dedup_admission(stream, corpus0, train, target, ckpt,
                                 quar, keep_labels=["tech"])

    # streaming ≡ batch: final corpus == full rerun over init ∪ admitted
    got = _kept_ids(read_corpus(spark, target))
    want = _full(spark,
                 [r for r in CORPUS if r[0] in _kept_ids(corpus0)]
                 + [r for r in BATCH if r[0] in keep])
    assert got == want

    # prediction ledger covers EVERY batch doc with the frozen model's
    # exact outputs; quarantine holds exactly the rejected docs
    led = {r.doc_id: r for r in read_predictions(spark, target).collect()}
    assert set(led) == set(preds)
    assert all(led[i].pred_label == preds[i].pred_label
               and led[i].score == preds[i].score
               and led[i].margin == preds[i].margin for i in preds)
    q = {r.doc_id for r in spark.read.parquet(
        os.path.join(quar, "b*")).collect()}
    assert q == rej

    # replay: same ledger dirs, same side ledgers, same corpus
    versions = sorted(os.listdir(target))
    streaming_nb_dedup_admission(stream, corpus0, train, target, ckpt,
                                 quar, keep_labels=["tech"])
    assert sorted(os.listdir(target)) == versions
    assert _kept_ids(read_corpus(spark, target)) == got
    assert {r.doc_id for r in read_predictions(spark, target)
            .collect()} == set(preds)


def test_delta_ledger_admission_matches_cow_and_compaction(spark, tmp_path):
    """The delta-ledger admission (O(batch) upsert/tombstone appends for
    corpus, fingerprints, AND bands) lands on exactly the corpus the
    full re-run keeps; compacting all three ledgers changes read
    amplification, never a row; replay writes nothing."""
    import os

    from wde_spark.streaming.compaction import (compact, ledger_entries,
                                                read_merged)
    from wde_spark.streaming.dedup_admission import (
        read_corpus, streaming_dedup_admission)

    corpus0 = D.dedup_corpus(spark.createDataFrame(CORPUS, SCHEMA))
    src = tmp_path / "docs"
    now = time.time()
    for i, rows in enumerate((BATCH[:4], BATCH[4:])):
        fdir = str(src / f"f{i}.parquet")
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(fdir)
        for name in os.listdir(fdir):
            os.utime(os.path.join(fdir, name),
                     (now - 600 + i * 60, now - 600 + i * 60))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    target, ckpt = str(tmp_path / "ledgers"), str(tmp_path / "ckptd")
    streaming_dedup_admission(stream, corpus0, target, ckpt)

    got = _kept_ids(read_corpus(spark, target))
    assert got == _full(spark, CORPUS + BATCH)

    # ledger shape: base + one delta per micro-batch, all three tables
    for sub in ("corpus", "fp", "bands"):
        assert ledger_entries(os.path.join(target, sub)) == [
            (0, "b"), (1, "d"), (2, "d")]

    # state ledgers merge to exactly the admitted corpus's state
    fp = read_merged(spark, os.path.join(target, "fp"), ["doc_id"])
    assert {r["doc_id"] for r in fp.select("doc_id").collect()} == got
    bands = read_merged(spark, os.path.join(target, "bands"),
                        ["doc_id", "band_idx"])
    assert {r["doc_id"] for r in
            bands.select("doc_id").distinct().collect()} == got

    # compaction: rows identical, ledgers fold to one base each
    for sub, keys in (("corpus", ["doc_id"]), ("fp", ["doc_id"]),
                      ("bands", ["doc_id", "band_idx"])):
        compact(spark, os.path.join(target, sub), keys)
        assert ledger_entries(os.path.join(target, sub)) == [(2, "b")]
    assert _kept_ids(read_corpus(spark, target)) == got

    # replay from the same checkpoint: no new ledger entries
    streaming_dedup_admission(stream, corpus0, target, ckpt)
    for sub in ("corpus", "fp", "bands"):
        assert ledger_entries(os.path.join(target, sub)) == [(2, "b")]


def test_delta_admission_banding_params_frozen(spark, tmp_path):
    """Banding parameters are persisted at bootstrap time and
    asserted on every admission: band-tombstone enumeration depends on
    them, so driving a ledger bootstrapped with a different
    num_hashes/bands must fail loudly instead of silently missing (or
    inventing) band_idx tombstone keys."""
    import json
    import os

    import pytest

    from wde_spark.streaming.dedup_admission import _admit_batch, bootstrap

    corpus0 = D.dedup_corpus(spark.createDataFrame(CORPUS, SCHEMA))
    target = str(tmp_path / "bandguard")
    bootstrap(corpus0, target)
    params = os.path.join(target, "_dedup_params.json")
    with open(params) as fh:
        frozen = fh.read()
    # a ledger on disk that was bootstrapped with other banding
    with open(params, "w") as fh:
        json.dump({"num_hashes": 8, "n_bands": 4, "shingle_k": 2}, fh)
    batch = spark.createDataFrame(BATCH[:2], SCHEMA)
    with pytest.raises(ValueError, match="bootstrapped"):
        _admit_batch(batch, 0, target, max_bucket=None)
    # matching parameters admit cleanly
    with open(params, "w") as fh:
        fh.write(frozen)
    _admit_batch(batch, 0, target, max_bucket=None)


def test_auto_compact_admission_equals_plain(spark, tmp_path):
    """The auto-compacting admission (in-stream OPTIMIZE on all three
    ledgers, deferred vacuum) admits exactly the same corpus as the
    plain maintainer, with the live read plan bounded."""
    import os

    from wde_spark.streaming.compaction import plan_entries
    from wde_spark.streaming.dedup_admission import (
        read_corpus, streaming_dedup_admission)

    corpus0 = D.dedup_corpus(spark.createDataFrame(CORPUS, SCHEMA))
    results = {}
    for tag, auto in (("plain", None), ("auto", 1)):
        src = tmp_path / f"docsac_{tag}"
        now = time.time()
        for i, rows in enumerate((BATCH[:4], BATCH[4:])):
            fdir = str(src / f"f{i}.parquet")
            spark.createDataFrame(rows, SCHEMA).coalesce(1) \
                .write.mode("overwrite").parquet(fdir)
            for name in os.listdir(fdir):
                os.utime(os.path.join(fdir, name),
                         (now - 600 + i * 60, now - 600 + i * 60))
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*.parquet"))
        )
        target = str(tmp_path / f"ledac_{tag}")
        streaming_dedup_admission(
            stream, corpus0, target, str(tmp_path / f"ckac_{tag}"),
            auto_compact=auto)
        results[tag] = target
    got_auto = _kept_ids(read_corpus(spark, results["auto"]))
    got_plain = _kept_ids(read_corpus(spark, results["plain"]))
    assert got_auto == got_plain == _full(spark, CORPUS + BATCH)
    for sub in ("corpus", "fp", "bands"):
        assert len(plan_entries(
            os.path.join(results["auto"], sub))) <= 2
        assert len(plan_entries(
            os.path.join(results["plain"], sub))) == 3
