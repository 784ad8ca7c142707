"""Streaming maintained k-means codebook
(`streaming/codebook_maintenance.py`).

Pinned contracts:
- COMPOSITION: the maintained state after the stream equals hand-driving
  bootstrap + per-batch `_batch_cell_sums` folds sequentially.
- FROZEN ASSIGNMENTS: member counts only ever grow, and the total count
  equals init + all batch vectors (nothing re-assigns or drops).
- REPLAY: re-applying batch 0 against state as of 0 rederives the same
  rows.
- FALLBACK: a cell no vector has joined reports its bootstrap coordinate.

The state is a delta ledger (`streaming/compaction.py`), whose generic
semantics (LWW, tombstones, manifest commits, compaction cadence, change
feed) are pinned here too.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet") \
        .select("vec_id", "embedding")


def _run_stream(spark, emb, tmp_path, tag: str):
    from wde_spark.streaming.codebook_maintenance import (
        bootstrap_codebook, streaming_codebook_maintain)

    target = str(tmp_path / f"cbk_{tag}")
    bootstrap_codebook(emb.filter(F.col("vec_id") % 5 != 0), target)
    feed = str(tmp_path / f"feed_{tag}")
    now = time.time()
    for i, pred in ((0, F.col("vec_id") % 10 == 0),
                    (1, F.col("vec_id") % 10 == 5)):
        fdir = os.path.join(feed, f"b{i}.parquet")
        emb.filter(pred).coalesce(1).write.mode("overwrite").parquet(fdir)
        for name in os.listdir(fdir):
            os.utime(os.path.join(fdir, name),
                     (now - 600 + i * 60, now - 600 + i * 60))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(feed, "*.parquet"))
    )
    streaming_codebook_maintain(stream, target,
                                str(tmp_path / f"ckpt_{tag}"))
    return target


def _state(spark, target, version):
    """The maintained state as of ledger sequence `version`."""
    from wde_spark.streaming.compaction import read_merged

    return read_merged(spark, os.path.join(target, "state"), ["cell", "d"],
                       as_of=version)


def _state_rows(spark, target, version):
    df = _state(spark, target, version)
    return sorted(
        (r["cell"], r["d"], r["n"], round(r["s"], 9), round(r["boot"], 9))
        for r in df.collect())


def test_composition_equals_manual_folds(spark, tmp_path):
    from wde_spark.streaming.codebook_maintenance import (
        _batch_cell_sums, _centroids_from_state)

    emb = _emb(spark)
    target = _run_stream(spark, emb, tmp_path, "comp")
    # hand-drive: state0 + fold(batch0) + fold(batch1)
    got1 = _state_rows(spark, target, 1)
    got2 = _state_rows(spark, target, 2)

    st0 = _state(spark, target, 0)
    cents0 = _centroids_from_state(st0)
    s1 = _batch_cell_sums(emb.filter(F.col("vec_id") % 10 == 0), cents0)
    want1 = sorted(
        (r["cell"], r["d"], r["n"] + (r["n_add"] or 0),
         round(r["s"] + (r["s_add"] or 0.0), 9), round(r["boot"], 9))
        for r in st0.join(s1, ["cell", "d"], "left").collect())
    assert got1 == want1

    st1 = _state(spark, target, 1)
    cents1 = _centroids_from_state(st1)
    s2 = _batch_cell_sums(emb.filter(F.col("vec_id") % 10 == 5), cents1)
    want2 = sorted(
        (r["cell"], r["d"], r["n"] + (r["n_add"] or 0),
         round(r["s"] + (r["s_add"] or 0.0), 9), round(r["boot"], 9))
        for r in st1.join(s2, ["cell", "d"], "left").collect())
    assert got2 == want2


def test_counts_conserve_and_grow(spark, tmp_path):
    emb = _emb(spark)
    target = _run_stream(spark, emb, tmp_path, "cons")
    n_init = emb.filter(F.col("vec_id") % 5 != 0).count()
    n_b0 = emb.filter(F.col("vec_id") % 10 == 0).count()
    n_b1 = emb.filter(F.col("vec_id") % 10 == 5).count()
    totals = []
    for v, want in ((0, n_init), (1, n_init + n_b0),
                    (2, n_init + n_b0 + n_b1)):
        st = _state(spark, target, v)
        tot = st.filter(F.col("d") == 0).agg(F.sum("n")).first()[0]
        totals.append((v, tot))
        assert tot == want, (v, tot, want)
    # monotone per cell
    st0 = {(r["cell"]): r["n"] for r in _state(spark, target, 0)
           .filter(F.col("d") == 0).collect()}
    st2 = {(r["cell"]): r["n"] for r in _state(spark, target, 2)
           .filter(F.col("d") == 0).collect()}
    assert all(st2[c] >= st0[c] for c in st0)


def test_replay_idempotent(spark, tmp_path):
    from wde_spark.streaming.codebook_maintenance import (
        _batch_cell_sums, _centroids_from_state)

    emb = _emb(spark)
    target = _run_stream(spark, emb, tmp_path, "replay")
    got1 = _state_rows(spark, target, 1)
    # re-derive state 1 from state 0 exactly as a foreachBatch replay would
    st0 = _state(spark, target, 0)
    cents0 = _centroids_from_state(st0)
    s1 = _batch_cell_sums(emb.filter(F.col("vec_id") % 10 == 0), cents0)
    redo = sorted(
        (r["cell"], r["d"], r["n"] + (r["n_add"] or 0),
         round(r["s"] + (r["s_add"] or 0.0), 9), round(r["boot"], 9))
        for r in st0.join(s1, ["cell", "d"], "left").collect())
    assert redo == got1


def test_empty_cell_reports_bootstrap(spark, tmp_path):
    """A cell whose member count is zero must surface its bootstrap
    coordinate from read_codebook (the COALESCE fallback)."""
    from wde_spark.streaming.codebook_maintenance import read_codebook

    emb = _emb(spark)
    target = _run_stream(spark, emb, tmp_path, "fb")
    cb = read_codebook(spark, target)
    st = _state(spark, target, 2)
    empty = [r["cell"] for r in st.filter(
        (F.col("d") == 0) & (F.col("n") == 0)).collect()]
    if not empty:  # dataset-dependent; the invariant still holds vacuously
        return
    boots = {(r["cell"], r["d"]): r["boot"] for r in st.filter(
        F.col("cell").isin(empty)).collect()}
    for r in cb.filter(F.col("cell").isin(empty)).collect():
        assert r["m"] == boots[(r["cell"], r["d"])]


def _codebook_rows(df):
    return sorted((int(r["cell"]), int(r["d"]), int(r["n"]),
                   round(float(r["m"]), 9)) for r in df.collect())


def test_delta_ledger_equals_cow_and_compaction_preserves(spark, tmp_path):
    """The delta-ledger maintainer lands on the SAME final codebook as
    the flat rerun (the bootstrap state folded batch by batch by hand);
    compaction changes read amplification, never a row."""
    from wde_spark.streaming.codebook_maintenance import (
        _batch_cell_sums, _centroids_from_state, read_codebook)
    from wde_spark.streaming.compaction import (compact, ledger_entries,
                                                read_amplification)

    emb = _emb(spark)
    dl = _run_stream(spark, emb, tmp_path, "eq")
    st = _state(spark, dl, 0)
    for pred in (F.col("vec_id") % 10 == 0, F.col("vec_id") % 10 == 5):
        sums = _batch_cell_sums(emb.filter(pred), _centroids_from_state(st))
        st = st.join(sums, ["cell", "d"], "left").select(
            "cell", "d",
            (F.col("n") + F.coalesce("n_add", F.lit(0))).alias("n"),
            (F.col("s") + F.coalesce("s_add", F.lit(0.0))).alias("s"),
            "boot")
    want = _codebook_rows(st.select(
        "cell", "d", "n", F.when(F.col("n") > 0, F.col("s") / F.col("n"))
        .otherwise(F.col("boot")).alias("m")))
    pre_rows = _codebook_rows(read_codebook(spark, dl))
    assert pre_rows == want
    ledger = os.path.join(dl, "state")
    pre = read_amplification(ledger)
    assert pre["entries"] == 3  # b0 + d1 + d2
    res = compact(spark, ledger, ["cell", "d"])
    assert set(res["removed"]) == {"b0", "d1", "d2"}
    post = read_amplification(ledger)
    assert post["entries"] == 1  # one folded base
    assert ledger_entries(ledger) == [(2, "b")]
    assert _codebook_rows(read_codebook(spark, dl)) == want
    # compacting an already-compact ledger is a no-op
    assert compact(spark, ledger, ["cell", "d"])["removed"] == []


def test_compaction_lww_tombstones_and_time_travel(spark, tmp_path):
    """Generic ledger semantics: last-writer-wins per key across
    deltas, tombstones delete (and never survive compaction), and
    as_of reads see the historical prefix."""
    from wde_spark.streaming.compaction import (compact, read_merged,
                                                write_base, write_delta)

    ledger = str(tmp_path / "ledger")
    write_base(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"), ledger, 0)
    write_delta(spark.createDataFrame(
        [(2, "B", "U"), (4, "d", "U")], "k int, v string, _op string"),
        ledger, 1)
    write_delta(spark.createDataFrame(
        [(3, None, "D"), (4, "D2", "U")], "k int, v string, _op string"),
        ledger, 2)
    got = {r["k"]: r["v"]
           for r in read_merged(spark, ledger, ["k"]).collect()}
    assert got == {1: "a", 2: "B", 4: "D2"}  # 3 tombstoned, 4 LWW d2
    asof1 = {r["k"]: r["v"]
             for r in read_merged(spark, ledger, ["k"],
                                  as_of=1).collect()}
    assert asof1 == {1: "a", 2: "B", 3: "c", 4: "d"}
    compact(spark, ledger, ["k"])
    post = {r["k"]: r["v"]
            for r in read_merged(spark, ledger, ["k"]).collect()}
    assert post == got  # tombstone physically gone, rows identical


def test_maybe_compact_cadence(spark, tmp_path):
    """maybe_compact folds only past the entry budget, keeping read
    amplification bounded while appends accrue. vacuum_mode='immediate'
    reclaims absorbed entries in the same tick (the single-writer
    harness shape)."""
    from wde_spark.streaming.compaction import (ledger_entries,
                                                maybe_compact, read_merged,
                                                write_base, write_delta)

    ledger = str(tmp_path / "cadence")
    write_base(spark.createDataFrame([(1, "a")], "k int, v string"),
               ledger, 0)
    folded_at = []
    for i in range(1, 5):
        write_delta(spark.createDataFrame(
            [(i + 1, f"v{i}")], "k int, v string"), ledger, i)
        if maybe_compact(spark, ledger, ["k"], max_entries=3,
                         vacuum_mode="immediate") is not None:
            folded_at.append(i)
    # entries grow 2,3,4(fold->1),2 — exactly one fold, at the 3rd append
    assert folded_at == [3]
    assert len(ledger_entries(ledger)) == 2  # folded base + 4th delta
    got = {r["k"]: r["v"]
           for r in read_merged(spark, ledger, ["k"]).collect()}
    assert got == {1: "a", 2: "v1", 3: "v2", 4: "v3", 5: "v4"}


def test_maybe_compact_deferred_vacuum_retention(spark, tmp_path):
    """The default cadence ('defer') is the OPTIMIZE/VACUUM split with a
    one-fold retention delay: each fold leaves what IT absorbed on disk
    — a reader that planned over the pre-fold entries still resolves,
    and as_of history survives one fold back — and reclaims only what
    the PREVIOUS fold absorbed."""
    from wde_spark.streaming.compaction import (ledger_entries,
                                                maybe_compact, plan_entries,
                                                read_merged, write_base,
                                                write_delta)

    ledger = str(tmp_path / "defercadence")
    write_base(spark.createDataFrame([(1, "a")], "k int, v string"),
               ledger, 0)
    # a reader plans over the pre-fold ledger and materializes LATER
    for i in (1, 2, 3):
        write_delta(spark.createDataFrame(
            [(i + 1, f"v{i}")], "k int, v string"), ledger, i)
    inflight = read_merged(spark, ledger, ["k"])  # planned pre-fold
    res1 = maybe_compact(spark, ledger, ["k"], max_entries=3)
    assert res1 is not None and res1["new_base"] == 3
    # first fold vacuums nothing (no earlier fold's debris to reclaim)
    assert res1["removed"] == []
    assert plan_entries(ledger) == [(3, "b")]
    assert set(ledger_entries(ledger)) == {
        (0, "b"), (1, "d"), (2, "d"), (3, "d"), (3, "b")}
    # the in-flight pre-fold reader still resolves (directories intact)
    assert {r["k"]: r["v"] for r in inflight.collect()} == {
        1: "a", 2: "v1", 3: "v2", 4: "v3"}
    # and as_of history one fold back still works
    assert {r["k"] for r in
            read_merged(spark, ledger, ["k"], as_of=1).collect()} == {1, 2}
    # second fold reclaims exactly what the FIRST fold absorbed
    for i in (4, 5, 6):
        write_delta(spark.createDataFrame(
            [(i + 1, f"v{i}")], "k int, v string"), ledger, i)
    res2 = maybe_compact(spark, ledger, ["k"], max_entries=3)
    assert res2 is not None and res2["new_base"] == 6
    assert sorted(res2["removed"]) == ["b0", "d1", "d2", "d3"]
    assert set(ledger_entries(ledger)) == {
        (3, "b"), (4, "d"), (5, "d"), (6, "d"), (6, "b")}
    got = {r["k"]: r["v"]
           for r in read_merged(spark, ledger, ["k"]).collect()}
    assert got == {1: "a", 2: "v1", 3: "v2", 4: "v3", 5: "v4",
                   6: "v5", 7: "v6"}


def test_compacted_read_plan_is_scan_and_live_read_never_shuffles_base(
        spark, tmp_path):
    """Plan pins for the merge-on-read contract: a fully-compacted
    ledger reads as ONE scan (no Exchange at all), and a live ledger's
    read shuffles only delta rows — the base side is scan + broadcast
    anti-join, never a hash repartition of the table."""
    from wde_spark.streaming.compaction import (compact, read_merged,
                                                write_base, write_delta)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    ledger = str(tmp_path / "planpin")
    write_base(spark.range(1000).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string"))
        .alias("v")), ledger, 0)
    write_delta(spark.createDataFrame(
        [(5, "x", "U"), (7, None, "D")], "k long, v string, _op string"),
        ledger, 1)
    live = read_merged(spark, ledger, ["k"])
    live.collect()
    p = plan(live)
    # the base reaches the anti-join as a plain scan under a broadcast
    # exchange — no hash-partition Exchange feeds it
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    compact(spark, ledger, ["k"])
    folded = read_merged(spark, ledger, ["k"])
    folded.collect()
    p2 = plan(folded)
    assert "Exchange" not in p2, p2  # ONE scan, nothing else moves


def test_ledger_stats_prune_range_reads(spark, tmp_path):
    """Per-entry (min, max) key stats skip non-intersecting entries on a
    range read — exact under LWW (a skipped entry holds no in-range
    key) — and survive compaction onto the folded base."""
    from wde_spark.streaming.compaction import (compact, entry_stats,
                                                plan_entries, read_merged,
                                                write_base, write_delta)

    ledger = str(tmp_path / "statsledger")
    write_base(spark.createDataFrame(
        [(i, f"b{i}") for i in range(100)], "k int, v string"),
        ledger, 0, stats_col="k")
    # delta 1: keys 200-209; delta 2: keys 50-54 (overwrites base rows);
    # delta 3: keys 300-309
    for seq, keys in ((1, range(200, 210)), (2, range(50, 55)),
                      (3, range(300, 310))):
        write_delta(spark.createDataFrame(
            [(k, f"d{seq}_{k}") for k in keys], "k int, v string"),
            ledger, seq, stats_col="k")
    assert entry_stats(ledger, "d", 1) == {
        "col": "k", "min": 200, "max": 209, "rows": 10}
    # a read for keys 40..60 must touch base + delta 2 ONLY
    assert plan_entries(ledger, key_range=(40, 60)) == [(0, "b"), (2, "d")]
    got = {r["k"]: r["v"] for r in read_merged(
        spark, ledger, ["k"], key_range=(40, 60)).collect()}
    want = {k: (f"d2_{k}" if 50 <= k <= 54 else f"b{k}")
            for k in range(40, 61)}
    assert got == want
    # a fully out-of-range read returns empty with the right schema
    out = read_merged(spark, ledger, ["k"], key_range=(1000, 2000))
    assert out.count() == 0 and set(out.columns) == {"k", "v"}
    # pruned read == unpruned read + filter (correctness oracle)
    full = {r["k"]: r["v"] for r in read_merged(
        spark, ledger, ["k"]).collect() if 40 <= r["k"] <= 60}
    assert got == full
    # compaction recomputes stats for the folded base
    compact(spark, ledger, ["k"])
    st = entry_stats(ledger, "b", 3)
    # 100 base + 10 (d1) + 10 (d3); d2's 5 keys overwrite base rows
    assert st == {"col": "k", "min": 0, "max": 309, "rows": 120}
    assert plan_entries(ledger, key_range=(40, 60)) == [(3, "b")]
    got2 = {r["k"]: r["v"] for r in read_merged(
        spark, ledger, ["k"], key_range=(40, 60)).collect()}
    assert got2 == want


def test_compact_vacuum_split_preserves_history(spark, tmp_path):
    """OPTIMIZE/VACUUM split: a fold with vacuum_absorbed=False leaves
    absorbed entries on disk — fresh reads touch only the new base,
    as_of time travel still resolves across the fold — and a later
    vacuum() reclaims exactly the absorbed set."""
    from wde_spark.streaming.compaction import (compact, ledger_entries,
                                                plan_entries, read_merged,
                                                vacuum, write_base,
                                                write_delta)

    ledger = str(tmp_path / "optvac")
    write_base(spark.createDataFrame([(1, "a"), (2, "b")],
                                     "k int, v string"), ledger, 0)
    write_delta(spark.createDataFrame([(2, "B", "U"), (3, "c", "U")],
                                      "k int, v string, _op string"),
                ledger, 1)
    res = compact(spark, ledger, ["k"], vacuum_absorbed=False)
    assert res == {"new_base": 1, "removed": []}
    # history retained on disk, invisible to fresh reads
    assert ledger_entries(ledger) == [(0, "b"), (1, "b"), (1, "d")]
    assert plan_entries(ledger) == [(1, "b")]
    assert {r["k"]: r["v"] for r in
            read_merged(spark, ledger, ["k"]).collect()} == {
        1: "a", 2: "B", 3: "c"}
    # time travel across the fold still works (pre-fold entries intact)
    assert {r["k"]: r["v"] for r in
            read_merged(spark, ledger, ["k"], as_of=0).collect()} == {
        1: "a", 2: "b"}
    # vacuum reclaims exactly the absorbed set
    assert sorted(vacuum(ledger)) == ["b0", "d1"]
    assert ledger_entries(ledger) == [(1, "b")]
    assert {r["k"]: r["v"] for r in
            read_merged(spark, ledger, ["k"]).collect()} == {
        1: "a", 2: "B", 3: "c"}


def test_manifest_atomic_commit_hides_partial_writes(spark, tmp_path):
    """Readers plan from the MANIFEST, not the directory listing: an
    entry directory without a commit (a writer killed mid-write, or a
    fold killed before its single atomic commit) is invisible — the
    ledger stays readable with its pre-crash content — and the next
    fold simply overwrites the partial output."""
    import os

    from wde_spark.streaming.compaction import (compact, ledger_entries,
                                                read_merged, write_base,
                                                write_delta)

    ledger = str(tmp_path / "crashsafe")
    write_base(spark.createDataFrame([(1, "a"), (2, "b")],
                                     "k int, v string"), ledger, 0)
    write_delta(spark.createDataFrame([(3, "c", "U")],
                                      "k int, v string, _op string"),
                ledger, 1)
    # simulate a fold killed mid-write: the folded base directory exists
    # (with garbage part-files) but its manifest commit never landed
    partial = os.path.join(ledger, "b1")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as fh:
        fh.write(b"\x00\x01 not parquet")
    assert ledger_entries(ledger) == [(0, "b"), (1, "d")]  # b1 invisible
    assert {r["k"]: r["v"] for r in
            read_merged(spark, ledger, ["k"]).collect()} == {
        1: "a", 2: "b", 3: "c"}
    # the retried fold overwrites the partial directory and commits
    res = compact(spark, ledger, ["k"])
    assert res["new_base"] == 1
    assert ledger_entries(ledger) == [(1, "b")]
    assert {r["k"]: r["v"] for r in
            read_merged(spark, ledger, ["k"]).collect()} == {
        1: "a", 2: "b", 3: "c"}


def test_crash_before_first_commit_leaves_empty_ledger(spark, tmp_path,
                                                       monkeypatch):
    """A ledger has no entries until its first manifest commit: a base
    written completely but killed before its commit leaves an empty
    ledger (a merged read raises instead of reading the uncommitted
    directory), and the retried write commits it."""
    import os

    import pytest

    from wde_spark.streaming import compaction as C

    ledger = str(tmp_path / "first")
    df = spark.createDataFrame([(1, "a")], "k int, v string")

    def crash(target_dir, payload):
        raise OSError("injected crash before the first commit")

    monkeypatch.setattr(C, "_append_commit", crash)
    with pytest.raises(OSError, match="injected"):
        C.write_base(df, ledger, 0)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(ledger, "b0"))
    assert C.ledger_entries(ledger) == []
    with pytest.raises(FileNotFoundError):
        C.read_merged(spark, ledger, ["k"])
    C.write_base(df, ledger, 0)
    assert C.ledger_entries(ledger) == [(0, "b")]


def test_replayed_write_keeps_committed_entry(spark, tmp_path):
    """A replayed write of an entry that is already committed runs
    nothing: a frame planned over the entry before the replay still
    reads, and the entry's files are the ones first written."""
    import os

    from wde_spark.streaming.compaction import (ledger_entries,
                                                read_merged, write_base,
                                                write_delta)

    ledger = str(tmp_path / "replay")
    write_base(spark.createDataFrame([(1, "a")], "k int, v string"),
               ledger, 0)
    delta = spark.createDataFrame([(2, "b", "U")],
                                  "k int, v string, _op string")
    write_delta(delta, ledger, 1, key_cols=["k"])
    files = sorted(os.listdir(os.path.join(ledger, "d1")))
    planned = read_merged(spark, ledger, ["k"])
    write_delta(delta, ledger, 1, key_cols=["k"])  # the replay
    assert sorted(os.listdir(os.path.join(ledger, "d1"))) == files
    assert ledger_entries(ledger) == [(0, "b"), (1, "d")]
    assert {r["k"]: r["v"] for r in planned.collect()} == {1: "a", 2: "b"}


def test_write_delta_key_contract_assertion(spark, tmp_path):
    """`write_delta(key_cols=...)` enforces the one-row-per-key-per-
    delta contract that makes the LWW merge deterministic (within one
    delta there is no tiebreaker beyond the ledger sequence)."""
    import pytest

    from wde_spark.streaming.compaction import write_base, write_delta

    ledger = str(tmp_path / "contract")
    write_base(spark.createDataFrame([(1, "a")], "k int, v string"),
               ledger, 0, key_cols=["k"])
    with pytest.raises(ValueError, match="one-row-per-key"):
        write_delta(spark.createDataFrame(
            [(2, "first", "U"), (2, "second", "U")],
            "k int, v string, _op string"), ledger, 1, key_cols=["k"])
    # a clean delta passes the same gate
    write_delta(spark.createDataFrame([(2, "b", "U")],
                                      "k int, v string, _op string"),
                ledger, 1, key_cols=["k"])


def test_auto_compact_maintainer_equals_manual(spark, tmp_path):
    """`auto_compact` (the in-stream OPTIMIZE cadence) bounds ledger
    length DURING the stream without changing a row: the auto-compacted
    maintainer lands on exactly the codebook the plain maintainer (no
    folds) produces, and its ledger stays within the entry budget plus
    the one-fold retention tail."""
    from wde_spark.streaming.codebook_maintenance import (
        bootstrap_codebook, read_codebook, streaming_codebook_maintain)
    from wde_spark.streaming.compaction import plan_entries

    emb = _emb(spark)
    targets = {}
    for tag, auto in (("plain", None), ("auto", 1)):
        target = str(tmp_path / f"cbkac_{tag}")
        bootstrap_codebook(emb.filter(F.col("vec_id") % 5 != 0), target)
        feed = str(tmp_path / f"feedac_{tag}")
        now = time.time()
        for i, pred in ((0, F.col("vec_id") % 10 == 0),
                        (1, F.col("vec_id") % 10 == 5)):
            fdir = os.path.join(feed, f"b{i}.parquet")
            emb.filter(pred).coalesce(1).write.mode("overwrite") \
                .parquet(fdir)
            for name in os.listdir(fdir):
                os.utime(os.path.join(fdir, name),
                         (now - 600 + i * 60, now - 600 + i * 60))
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(feed, "*.parquet"))
        )
        streaming_codebook_maintain(
            stream, target, str(tmp_path / f"ckptac_{tag}"),
            auto_compact=auto)
        targets[tag] = target
    got_auto = _codebook_rows(read_codebook(spark, targets["auto"]))
    got_plain = _codebook_rows(
        read_codebook(spark, targets["plain"]))
    assert got_auto == got_plain
    # budget=1 folded after each over-budget append: the live plan is
    # back to one base (+ at most the deltas since the last fold)
    live = plan_entries(os.path.join(targets["auto"], "state"))
    assert len(live) <= 2
    # the plain twin kept all three entries (b0 + two deltas)
    assert len(plan_entries(
        os.path.join(targets["plain"], "state"))) == 3


def test_change_feed_between_snapshots(spark, tmp_path):
    """`read_changes(from, to)` emits each key's NET change across the
    window — final upsert values or a delete — reading ONLY the window's
    deltas (no base), and keeps working across a fold as long as the
    absorbed deltas haven't been vacuumed (the retention trade)."""
    from wde_spark.streaming.compaction import (compact, read_changes,
                                                write_base, write_delta)

    ledger = str(tmp_path / "cdcfeed")
    write_base(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"), ledger, 0)
    write_delta(spark.createDataFrame(
        [(2, "B1", "U"), (4, "d", "U")], "k int, v string, _op string"),
        ledger, 1)
    write_delta(spark.createDataFrame(
        [(2, "B2", "U"), (3, None, "D")], "k int, v string, _op string"),
        ledger, 2)
    # full window (0, 2]: k=2 nets to its FINAL upsert B2 (not B1),
    # k=4 upserts, k=3 deletes; k=1 (untouched) absent
    got = {r["k"]: (r["_change"], r["v"]) for r in
           read_changes(spark, ledger, ["k"], 0).collect()}
    assert got == {2: ("U", "B2"), 3: ("D", None), 4: ("U", "d")}
    # sub-window (1, 2]: only d2's changes
    got12 = {r["k"]: (r["_change"], r["v"]) for r in
             read_changes(spark, ledger, ["k"], 1, 2).collect()}
    assert got12 == {2: ("U", "B2"), 3: ("D", None)}
    # empty window -> empty frame with the feed schema
    assert read_changes(spark, ledger, ["k"], 2, 2).count() == 0
    # a fold with the OPTIMIZE/VACUUM split keeps the feed readable
    compact(spark, ledger, ["k"], vacuum_absorbed=False)
    got_after = {r["k"]: (r["_change"], r["v"]) for r in
                 read_changes(spark, ledger, ["k"], 0, 2).collect()}
    assert got_after == got
