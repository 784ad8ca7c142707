"""Multimodal binary-column operators + the applyInPandasWithState
stateful sessionizer (streamed over multiple triggers)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import SF_SMOKE


def test_attach_media_and_frames_roundtrip(spark):
    """Frame bytes must re-assemble to the original payload for videos
    sampled with every=1 — proves the binary transport is lossless."""
    from wde_spark.core.catalog import load_table
    from wde_spark.operators.multimodal import attach_media, frame_sample

    docs = load_table(spark, SF_SMOKE, "documents").limit(30)
    media = attach_media(docs)
    frames = frame_sample(media, every=1)

    joined = (
        frames.filter(F.col("kind") == "video")
        .groupBy("media_id")
        .agg(F.sum("frame_size").alias("n"))
        .join(media.select("media_id", F.octet_length("payload").alias("L")),
              "media_id")
        .filter(F.col("n") != F.col("L"))
    )
    assert joined.count() == 0

    sizes = frames.filter(F.col("kind") != "video").select(
        (F.octet_length("frame_bytes") == F.col("frame_size")).alias("ok"))
    assert all(r.ok for r in sizes.collect())


def test_extract_features_shape(spark):
    from wde_spark.core.catalog import load_table
    from wde_spark.operators.multimodal import attach_media, extract_features

    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    feats = extract_features(attach_media(docs)).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-6  # normalized histogram
        assert r.n_frames == (r.n_bytes + 1023) // 1024


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """Split events into 3 time-ordered files → 3 triggers; every session
    the stateful operator closes must match the batch sessionizer exactly,
    and all but the last-open sessions per user must be emitted."""
    from wde_spark.core.catalog import load_table
    from wde_spark.operators.relational import sessionize
    from wde_spark.streaming.stateful import sessionize_stateful

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .filter(F.col("user_id") < 40)
    )
    # 3 chronological chunks as separate files
    ordered = ev.orderBy("ts").collect()
    third = len(ordered) // 3
    src = tmp_path / "stream_src"
    os.makedirs(src)
    for i in range(3):
        chunk = ordered[i * third: (i + 1) * third if i < 2 else len(ordered)]
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
            str(src / f"chunk_{i}.parquet"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
        .select("ts", "user_id", F.col("value").cast("double").alias("value"))
    )
    q = (
        sessionize_stateful(stream, watermark="0 seconds")
        .writeStream.outputMode("append")
        .format("memory").queryName("stateful_sessions").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.session_start, r.session_end):
            (r.n_events, round(r.sum_value, 2))
        for r in spark.sql("SELECT * FROM stateful_sessions").collect()
    }

    batch = sessionize(ev, "user_id", "ts", 1800)
    expected_all = {
        (r.user_id, r.session_start, r.session_end):
            (r.n_events, round(r.sum_value, 2))
        for r in batch.groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count("*").alias("n_events"),
             F.round(F.sum(F.col("value").cast("double")), 2).alias("sum_value"))
        .collect()
    }

    assert got, "stateful operator emitted nothing"
    for k, v in got.items():
        assert k in expected_all, (k, v)
        assert expected_all[k] == v, (k, v, expected_all[k])
    # all sessions except each user's final (possibly open) one must emit
    n_users = len({u for (u, _, _) in expected_all})
    assert len(got) >= len(expected_all) - n_users


def test_audio_chunks_edges(spark):
    """Empty payload -> one zero-size chunk; exact-window payload -> one
    chunk; window+1 -> two overlapping chunks; non-audio rows never emit."""
    from wde_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(1, "a" * 2048),      # audio (1 % 3 == 1), exactly one window
         (4, ""),              # audio, empty payload
         (7, "b" * 2049),      # audio, one byte over -> 2 chunks
         (0, "c" * 9999)],     # image -> filtered out
        "doc_id long, text string",
    )
    out = MM.audio_chunks(MM.attach_media(docs))
    rows = {(r.media_id, r.chunk_idx): (r.start_byte, r.chunk_size)
            for r in out.collect()}
    assert rows == {
        (1, 0): (0, 2048),
        (4, 0): (0, 0),
        (7, 0): (0, 2048), (7, 1): (1024, 1025),
    }


def _brute_frame_runs(seqs: dict[int, list[bytes]], k: int,
                      min_count: int) -> set[tuple]:
    """In-process reference for frame_run_spans: count every k-run of
    frame payloads corpus-wide, mark duplicated positions, merge islands
    with gap <= k."""
    from collections import Counter

    runs: Counter = Counter()
    pos: dict[int, list[int]] = {}
    for mid, frames in seqs.items():
        for p in range(1, len(frames) - k + 2):
            runs[tuple(frames[p - 1:p - 1 + k])] += 1
    for mid, frames in seqs.items():
        marked = [p for p in range(1, len(frames) - k + 2)
                  if runs[tuple(frames[p - 1:p - 1 + k])] >= min_count]
        if marked:
            pos[mid] = marked
    spans = set()
    for mid, ps in pos.items():
        start = prev = ps[0]
        n = 1
        for p in ps[1:]:
            if p - prev > k:
                spans.add((mid, start, prev + k - 1, n))
                start, n = p, 0
            prev = p
            n += 1
        spans.add((mid, start, prev + k - 1, n))
    return spans


def test_frame_run_spans_matches_bruteforce(spark):
    """frame_run_spans == the quadratic in-process reference on a
    hand-buildable corpus with cross-media repeats, within-media loops,
    adjacent-window merges, and clean sequences."""
    from wde_spark.operators.multimodal import frame_run_spans

    seqs = {
        1: [b"A", b"B", b"C", b"D", b"E", b"F"],   # ABC repeated in 2
        2: [b"X", b"A", b"B", b"C", b"Y", b"Z"],
        3: [b"L", b"L", b"L", b"L", b"L", b"L"],   # within-media loop
        4: [b"P", b"Q", b"R", b"S", b"T", b"U"],   # clean
        5: [b"D", b"E", b"F", b"A", b"B", b"C"],   # two adjacent dup runs
    }
    rows = [(mid, i, fb, len(fb))
            for mid, frames in seqs.items()
            for i, fb in enumerate(frames)]
    frames = spark.createDataFrame(
        rows, "media_id long, frame_idx int, frame_bytes binary, "
              "frame_size int")
    got = {tuple(r) for r in frame_run_spans(frames)
           .collect()}
    assert got == _brute_frame_runs(seqs, 3, 2)
    # spot-check the interesting shapes: media 3's loop is one maximal
    # span over all 4 windows; media 5's two duplicated runs (DEF at p=1,
    # ABC at p=4, gap exactly k) merge into one 2-window span
    assert (3, 1, 6, 4) in got
    assert (5, 1, 6, 2) in got


def test_frame_run_spans_no_false_positives(spark):
    from wde_spark.operators.multimodal import frame_run_spans

    rows = [(1, i, bytes([i]), 1) for i in range(8)] + \
           [(2, i, bytes([100 + i]), 1) for i in range(8)]
    frames = spark.createDataFrame(
        rows, "media_id long, frame_idx int, frame_bytes binary, "
              "frame_size int")
    assert frame_run_spans(frames).count() == 0


def test_documents_corpus_is_ascii():
    """The frame_runs_multimodal oracle hashes DuckDB CHARACTER substrings
    against Spark's BYTE slices — sound only while the synthetic corpus is
    pure ASCII. Pin that dataset property so a testdata change fails loudly
    here instead of as an opaque hash mismatch."""
    import duckdb

    from conftest import SF_SMOKE

    con = duckdb.connect()
    for sf in (SF_SMOKE, "/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        n = con.execute(
            f"SELECT count(*) FROM '{sf}/documents.parquet' "
            "WHERE octet_length(encode(text)) <> length(text)"
        ).fetchone()[0]
        assert n == 0, f"non-ASCII documents text at {sf}"
