"""Fault injection over every streaming sink. Every sink commits each
ledger entry by one manifest commit (`streaming/compaction.py`), where
the crash is injected, and every step replays through
`compaction.ledger_step`:

- REPLAY AFTER COMMIT: a batch re-run after it landed (the checkpoint's
  commit-log entry lost — foreachBatch's at-least-once case) completes
  with unchanged files and unchanged reads — no entry, side-ledger
  entry, gate ledger or drift row is rewritten;
- CRASH BEFORE COMMIT: a failure at the commit fails the query, readers
  still see the previous batch — a side ledger (`spans/`, `manifest/`)
  included, though the crashed batch wrote its entry — and the restart
  recomputes the batch to the uninterrupted result;
- BOOTSTRAP CRASH: a failure at any base-0 commit (a ledger's bootstrap
  or a gate's frozen model) leaves that base uncommitted; the restart
  redoes the bootstrap to the uninterrupted run's bases.

Each of the 14 sites runs two one-file micro-batches over tiny inline
inputs. One uninterrupted reference run per sink is shared by its
cases.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from wde_spark.streaming import compaction, versions

DOCS = "doc_id long, text string"
VECS = "vec_id long, embedding array<float>"


def _vecs(ids, dim=8):
    # deterministic synthetic vectors (test_embedding_admission's shape)
    return [(i, [float((i * 7 + j * 3) % 13) - 6.0 for j in range(dim)])
            for i in ids]


def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(df):
    return sorted((tuple(_norm(v) for v in r) for r in df.collect()),
                  key=repr)


# -- the 14 sites: (schema, batches, run, read, ledgers) --

def _cdc(spark, stream, t, ckpt):
    from wde_spark.streaming.cdc import streaming_cdc_apply

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, val double")
    streaming_cdc_apply(stream, snap, "k", t, ckpt)


def _cdc_read(spark, t):
    from wde_spark.streaming.cdc import read_snapshot

    return _rows(read_snapshot(spark, t))


def _hll(spark, stream, t, ckpt):
    from wde_spark.streaming.sketch_maintenance import (
        streaming_sketch_maintain)

    streaming_sketch_maintain(stream, ["g"], "v", t, ckpt)


def _hll_read(spark, t):
    from wde_spark.streaming.sketch_maintenance import read_estimates

    return _rows(read_estimates(spark, t, ["g"]))


def _kll(spark, stream, t, ckpt):
    from wde_spark.streaming.sketch_maintenance import (
        streaming_quantile_maintain)

    streaming_quantile_maintain(stream, ["g"], "v", t, ckpt)


def _kll_read(spark, t):
    from wde_spark.streaming.sketch_maintenance import read_quantiles

    return _rows(read_quantiles(spark, t, ["g"], [0.5, 0.9]))


def _bloom(spark, stream, t, ckpt):
    from wde_spark.streaming.bloom_admission import streaming_bloom_maintain

    streaming_bloom_maintain(stream, t, ckpt, m_bits=1 << 12)


def _bloom_read(spark, t):
    from wde_spark.streaming.bloom_admission import read_bloom_bits

    return _rows(read_bloom_bits(spark, t))


def _budget(spark, stream, t, ckpt):
    from wde_spark.streaming.budget_admission import (
        streaming_budget_maintain)

    streaming_budget_maintain(stream, t, ckpt, {"a": 30, "b": 20}, 25)


def _budget_read(spark, t):
    from wde_spark.streaming.budget_admission import read_admitted

    return _rows(read_admitted(spark, t))


def _curriculum(spark, stream, t, ckpt):
    from wde_spark.streaming.curriculum import streaming_curriculum_maintain

    streaming_curriculum_maintain(stream, t, ckpt)


def _curriculum_read(spark, t):
    # the ledger itself; `read_curriculum` is a pure function of it
    return _rows(compaction.read_merged(spark, t,
                                        ["doc_id", "arrived_batch"]))


def _shard(spark, stream, t, ckpt):
    from wde_spark.streaming.shard_migration import streaming_shard_maintain

    streaming_shard_maintain(stream, t, ckpt)


def _shard_read(spark, t):
    from wde_spark.streaming.shard_migration import read_routing

    return _rows(read_routing(spark, t))


def _dedup_init(spark):
    from test_incremental_dedup import CORPUS, SCHEMA

    return spark.createDataFrame(CORPUS[:4], SCHEMA)


def _dedup(spark, stream, t, ckpt):
    from wde_spark.streaming.dedup_admission import streaming_dedup_admission

    streaming_dedup_admission(stream, _dedup_init(spark), t, ckpt,
                              drift_dir=os.path.join(t, "drift"))


def _dedup_read(spark, t):
    # the drift row of a crashed batch lands after its corpus commit, so
    # it is not part of what "reads stay at the previous batch" covers
    from wde_spark.streaming.dedup_admission import read_corpus

    return _rows(read_corpus(spark, t))


LM_CUTOFF = -3.0  # splits both batches of BATCH under CORPUS[:4]'s LM


def _lm(spark, stream, t, ckpt):
    from wde_spark.streaming.lm_admission import streaming_lm_dedup_admission

    streaming_lm_dedup_admission(stream, _dedup_init(spark), t, ckpt,
                                 os.path.join(t, "quarantine"), LM_CUTOFF)


def _lm_read(spark, t):
    from wde_spark.streaming.lm_admission import read_quarantine

    return (_dedup_read(spark, t),
            _rows(read_quarantine(spark, os.path.join(t, "quarantine"))))


def _pq(spark, stream, t, ckpt):
    from wde_spark.streaming.embedding_admission import (
        streaming_pq_index_maintain)

    streaming_pq_index_maintain(
        stream, spark.createDataFrame(_vecs(range(24)), VECS), t, ckpt,
        m=2, k_codes=4)


def _pq_read(spark, t):
    from wde_spark.streaming.embedding_admission import (read_codebooks,
                                                         read_codes)

    return _rows(read_codes(spark, t)), _norm(read_codebooks(t))


def _substr(spark, stream, t, ckpt):
    from wde_spark.streaming.substr_admission import streaming_substr_maintain

    init = spark.createDataFrame([(1, "a b c d e"), (2, "p q r s t")], DOCS)
    streaming_substr_maintain(stream, init, t, ckpt, k=3)


def _substr_read(spark, t):
    from wde_spark.streaming.substr_admission import read_spans, read_state

    head = compaction.ledger_head(os.path.join(t, "state"))
    return _rows(read_spans(spark, t)), _rows(read_state(spark, t, head))


def _export(spark, stream, t, ckpt):
    from wde_spark.streaming.export_admission import streaming_shard_manifest

    init = spark.range(100, 109).select(F.col("id").alias("doc_id"))
    streaming_shard_manifest(stream, init, t, ckpt, 4)


def _export_read(spark, t):
    from wde_spark.streaming.export_admission import read_manifest

    return (_rows(read_manifest(spark, t)), _rows(compaction.read_merged(
        spark, os.path.join(t, "meta"), ["n_total"])))


def _pack(spark, stream, t, ckpt):
    from wde_spark.streaming.pack_admission import streaming_ffd_manifest

    streaming_ffd_manifest(stream, t, ckpt, seq_len=16, n_buckets=2)


def _pack_read(spark, t):
    from wde_spark.streaming.pack_admission import read_pack_manifest

    return (_rows(read_pack_manifest(spark, t)), _rows(
        compaction.read_merged(spark, os.path.join(t, "meta"), ["bucket"])))


def _codebook(spark, stream, t, ckpt):
    from wde_spark.streaming.codebook_maintenance import (
        DIM, bootstrap_codebook, streaming_codebook_maintain)

    init = spark.createDataFrame(_vecs(range(24), DIM), VECS)
    bootstrap_codebook(init, t)
    streaming_codebook_maintain(stream, t, ckpt)


def _codebook_read(spark, t):
    from wde_spark.streaming.codebook_maintenance import read_codebook

    return _rows(read_codebook(spark, t))


_TEXT = ([(10, "the quick brown fox jumps over"), (11, "a b c x y")],
         [(20, "the quick brown fox naps"), (21, "p q r w w2")])
_IDS = ([(i,) for i in range(1, 12, 2)], [(i,) for i in range(0, 12, 2)])

SITES = {
    "cdc": ("k long, op string, name string, val double",
            ([(2, "U", None, 99.0), (4, "I", "d", 40.0)],
             [(1, "D", None, None), (4, "U", "dd", None)]),
            _cdc, _cdc_read, ("",)),
    "hll": ("g string, v long",
            ([("a", 1), ("a", 2), ("b", 3)], [("a", 2), ("b", 4), ("c", 5)]),
            _hll, _hll_read, ("",)),
    "kll": ("g string, v long",
            ([("a", 1), ("a", 2), ("b", 3)], [("a", 2), ("b", 4), ("c", 5)]),
            _kll, _kll_read, ("",)),
    "bloom": (DOCS, _TEXT, _bloom, _bloom_read, ("",)),
    "budget": ("doc_id long, source string, n_tok long",
               ([(i, "ab"[i % 2], i + 3) for i in range(1, 12, 2)],
                [(i, "ab"[i % 3 % 2], i + 3) for i in range(0, 12, 2)]),
               _budget, _budget_read, ("",)),
    "curriculum": ("doc_id long, bucket long",
                   ([(i, i % 3) for i in range(1, 12, 2)],
                    [(i, i % 3) for i in range(0, 12, 2)]),
                   _curriculum, _curriculum_read, ("",)),
    "shard": ("doc_id long", _IDS, _shard, _shard_read, ("",)),
    "dedup": (DOCS, None, _dedup, _dedup_read, ("corpus", "fp", "bands")),
    "lm": (DOCS, None, _lm, _lm_read, ("corpus", "fp", "bands")),
    "pq": (VECS, (_vecs(range(100, 106)), _vecs(range(200, 207))),
           _pq, _pq_read, ("codes",)),
    "substr": (DOCS, ([(10, "a b c x y"), (11, "n1 n2 n3 n4")],
                      [(20, "n1 n2 n3 z"), (21, "p q r w w2")]),
               _substr, _substr_read, ("state",)),
    "export": ("doc_id long", _IDS, _export, _export_read, ("meta",)),
    "pack": ("doc_id long, n_tok long",
             ([(i, i % 7 + 2) for i in range(1, 12, 2)],
              [(i, i % 5 + 3) for i in range(0, 12, 2)]),
             _pack, _pack_read, ("meta",)),
    "codebook": (VECS,
                 (_vecs(range(100, 106), 64), _vecs(range(200, 207), 64)),
                 _codebook, _codebook_read, ("state",)),
}
# the sites with a bootstrap, and the ledgers it writes a base 0 to, in
# commit order (the LM gate's frozen model `lm/` after the admission's)
BOOT = {"cdc": ("",), "dedup": ("corpus", "fp", "bands"),
        "lm": ("corpus", "fp", "bands", "lm"), "pq": ("codes",),
        "substr": ("state",), "export": ("meta",), "pack": ("meta",),
        "codebook": ("state",)}
# the per-batch side ledgers: (subdirectory, lag) — the side entry of
# the batch writing ledger sequence n is `b{n - lag}`
SIDE = {"substr": ("spans", 1), "export": ("manifest", 0),
        "pack": ("manifest", 1)}


def _batches(name):
    if name in ("dedup", "lm"):
        from test_incremental_dedup import BATCH

        return BATCH[:4], BATCH[4:]
    return SITES[name][1]


_FEEDS: dict = {}
_REFS: dict = {}


def _feed(spark, name, factory, n_batches=2) -> str:
    """The sink's feed of one file per batch, written once per session."""
    key = (name, n_batches)
    if key not in _FEEDS:
        feed = str(factory.mktemp(f"feed_{name}"))
        now = time.time()
        for i, rows in enumerate(_batches(name)[:n_batches]):
            fdir = os.path.join(feed, f"b{i}.parquet")
            spark.createDataFrame(rows, SITES[name][0]).coalesce(1) \
                .write.mode("overwrite").parquet(fdir)
            # the file source admits oldest-mtime first: pin batch order
            for f in os.listdir(fdir):
                os.utime(os.path.join(fdir, f), (now - 600 + i * 60,) * 2)
        _FEEDS[key] = feed
    return _FEEDS[key]


def _run(spark, name, factory, root, n_batches=2) -> None:
    feed = _feed(spark, name, factory, n_batches)
    stream = (spark.readStream.schema(SITES[name][0])
              .option("maxFilesPerTrigger", "1")
              .parquet(os.path.join(feed, "*.parquet")))
    SITES[name][2](spark, stream, os.path.join(root, "t"),
                   os.path.join(root, "ckpt"))


def _read(spark, name, root):
    return SITES[name][3](spark, os.path.join(root, "t"))


def _ledgers(name, root, subs=None) -> list:
    return [os.path.join(root, "t", sub) for sub in subs or SITES[name][4]]


def _listing(name, root) -> list:
    """What a replay must leave untouched: every file under the target
    (entry part-files carry a per-write unique name, so a rewrite
    shows)."""
    t = os.path.join(root, "t")
    return sorted(os.path.relpath(os.path.join(d, f), t)
                  for d, _, files in os.walk(t) for f in files)


def _head(name, root) -> int:
    """The newest committed ledger sequence."""
    return max(compaction.ledger_head(led) for led in _ledgers(name, root))


def _base_tables(spark, name, root) -> dict:
    """Rows of every bootstrap ledger's base 0."""
    return {led: _rows(spark.read.parquet(os.path.join(led, "b0")))
            for led in _ledgers(name, root, BOOT[name])}


def _drop_batch(name, root, n: int) -> None:
    """Remove every ledger's entry at sequence `n` together with the
    manifest commit that adds it (the last one), and the batch's
    side-ledger entry."""
    for led in _ledgers(name, root):
        for kind in "bd":
            if os.path.isdir(os.path.join(led, f"{kind}{n}")):
                shutil.rmtree(os.path.join(led, f"{kind}{n}"))
        mdir = os.path.join(led, "_manifest")
        for f in os.listdir(mdir):
            with open(os.path.join(mdir, f)) as fh:
                adds = json.load(fh).get("add", [])
            if any(seq == n for _kind, seq in adds):
                os.remove(os.path.join(mdir, f))
    if name in SIDE:
        sub, lag = SIDE[name]
        shutil.rmtree(os.path.join(root, "t", sub, f"b{n - lag}"))


def _reference(spark, name, factory):
    """(root, final reads, reads as of sequence 1) of an uninterrupted
    run."""
    if name not in _REFS:
        root = str(factory.mktemp(f"ref_{name}"))
        _run(spark, name, factory, root)
        final = _read(spark, name, root)
        at_v1_root = str(factory.mktemp(f"ref_{name}_v1"))
        shutil.rmtree(at_v1_root)
        shutil.copytree(root, at_v1_root)
        _drop_batch(name, at_v1_root, 2)
        _REFS[name] = (root, final, _read(spark, name, at_v1_root))
    return _REFS[name]


def _crash_commit_of(monkeypatch, n: int, skip: int = 0) -> None:
    """Make the `skip`-th manifest commit of an entry at ledger sequence
    `n` raise once."""
    fired = []
    real_append = compaction._append_commit

    def append(target_dir, payload):
        if any(seq == n for _kind, seq in payload.get("add", [])):
            fired.append(target_dir)
            if len(fired) == skip + 1:
                raise OSError(f"injected crash before the commit of "
                              f"sequence {n} under {target_dir}")
        return real_append(target_dir, payload)

    monkeypatch.setattr(compaction, "_append_commit", append)


def _drop_commit(root, batch_id: int) -> None:
    """Lose a batch's commit-log entry: on restart the query re-runs it."""
    commits = os.path.join(root, "ckpt", "commits")
    os.remove(os.path.join(commits, str(batch_id)))
    crc = os.path.join(commits, f".{batch_id}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _pending(name, root, n: int, subs=None) -> bool:
    """Whether a crashed write of sequence `n` is on disk uncommitted:
    an entry directory the manifest does not list."""
    return any(os.path.isdir(os.path.join(led, f"{kind}{n}"))
               and (n, kind) not in compaction.ledger_entries(led)
               for led in _ledgers(name, root, subs) for kind in "bd")


@pytest.mark.parametrize("name", SITES)
def test_replay_after_commit_is_noop(spark, tmp_path_factory, tmp_path,
                                     name):
    ref_root, final, _ = _reference(spark, name, tmp_path_factory)
    root = str(tmp_path / "run")
    shutil.copytree(ref_root, root)
    before = _listing(name, root)
    _drop_commit(root, 1)

    _run(spark, name, tmp_path_factory, root)
    assert os.path.exists(os.path.join(root, "ckpt", "commits", "1"))
    assert _listing(name, root) == before
    assert _read(spark, name, root) == final


def _crash_batch_1(spark, name, factory, root, monkeypatch) -> None:
    """Batch 0 committed, batch 1 re-run and crashed at its first
    manifest commit."""
    ref_root, _, _ = _reference(spark, name, factory)
    shutil.copytree(ref_root, root)
    _drop_batch(name, root, 2)
    _drop_commit(root, 1)
    _crash_commit_of(monkeypatch, 2)
    with pytest.raises(Exception):
        _run(spark, name, factory, root)
    monkeypatch.undo()


@pytest.mark.parametrize("name", SITES)
def test_crash_before_commit_recomputes(spark, tmp_path_factory, tmp_path,
                                        monkeypatch, name):
    _, final, at_v1 = _reference(spark, name, tmp_path_factory)
    root = str(tmp_path / "run")
    _crash_batch_1(spark, name, tmp_path_factory, root, monkeypatch)

    # the crashed batch left only an uncommitted write behind
    assert _pending(name, root, 2)
    assert _head(name, root) == 1
    assert _read(spark, name, root) == at_v1

    _run(spark, name, tmp_path_factory, root)
    assert _read(spark, name, root) == final
    assert not _pending(name, root, 2)


@pytest.mark.parametrize("name", SIDE)
def test_crash_at_commit_hides_side_ledger(spark, tmp_path_factory,
                                           tmp_path, monkeypatch, name):
    """A batch writes its side-ledger entry before its ledger commit; a
    crash at the commit leaves the entry on disk, and the side reader
    still returns only the committed batches' entries."""
    root = str(tmp_path / "run")
    _crash_batch_1(spark, name, tmp_path_factory, root, monkeypatch)
    sub, lag = SIDE[name]
    side = os.path.join(root, "t", sub)
    assert os.path.isdir(os.path.join(side, f"b{2 - lag}"))
    want = _rows(spark.read.parquet(
        *[os.path.join(side, f"b{i}") for i in range(2 - lag)]))
    assert _read(spark, name, root)[0] == want


@pytest.mark.parametrize("name", BOOT)
def test_bootstrap_crash_redo(spark, tmp_path_factory, tmp_path,
                              monkeypatch, name):
    ref_root, _, _ = _reference(spark, name, tmp_path_factory)
    want = list(_base_tables(spark, name, ref_root).values())
    # one base 0 per bootstrap ledger, and a crash at any of them must
    # be redone
    for k in range(len(BOOT[name])):
        root = str(tmp_path / f"run{k}")
        _crash_commit_of(monkeypatch, 0, skip=k)
        with pytest.raises(OSError, match="injected"):
            _run(spark, name, tmp_path_factory, root, n_batches=0)
        monkeypatch.undo()

        assert _pending(name, root, 0, BOOT[name])
        # the bases before the crash are committed
        assert [compaction.ledger_head(led) for led in
                _ledgers(name, root, BOOT[name])] == \
            [0 if i < k else -1 for i in range(len(BOOT[name]))]

        # the restart redoes the bootstrap to the uninterrupted run's bases
        _run(spark, name, tmp_path_factory, root, n_batches=0)
        assert list(_base_tables(spark, name, root).values()) == want
        assert _head(name, root) == 0
        assert not _pending(name, root, 0, BOOT[name])


def test_ledger_step_prev_rules(spark, tmp_path):
    """Batch 0 runs into an empty ledger; a batch whose sequence every
    ledger holds runs nothing; a later batch whose previous sequence is
    missing raises instead of reading empty state; a batch that one of
    its ledgers already holds runs, and its writes add only the missing
    entry. A bootstrap runs only while a ledger is empty, and a base 0
    is written only into an empty ledger."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    runs = []

    def step(batch_id, dirs):
        def run():
            runs.append(batch_id)
            for d in dirs:
                if compaction.ledger_head(d) <= batch_id:
                    compaction._append_commit(d, {"add": [["d", batch_id + 1]]})
        return run

    compaction.ledger_step([a, b], 0, step(0, [a, b]))
    assert runs == [0]
    compaction.ledger_step([a, b], 0, step(0, [a, b]))  # landed: no-op
    assert runs == [0]
    with pytest.raises(FileNotFoundError, match="sequence 2"):
        compaction.ledger_step([a, b], 2, step(2, [a, b]))
    compaction._append_commit(a, {"add": [["d", 2]]})  # a holds batch 1
    compaction.ledger_step([a, b], 1, step(1, [b]))
    assert runs == [0, 1]
    assert [compaction.ledger_head(d) for d in (a, b)] == [2, 2]

    c = str(tmp_path / "c")
    compaction.ledger_step([c], -1, step(-1, [c]))
    compaction.ledger_step([c], -1, step(-1, [c]))
    assert runs == [0, 1, -1]
    one = spark.createDataFrame([(1,)], "k long")
    compaction.write_base(one, a, 0)  # a holds d1, d2: no bootstrap
    assert compaction.ledger_entries(a) == [(1, "d"), (2, "d")]
    assert not os.path.exists(os.path.join(a, "b0"))


def test_read_batch_ledger_lists_entries(spark, tmp_path, monkeypatch):
    """A 12-entry ledger (b0..b11, so a lexicographic and a numeric order
    differ) reads every row, or only the entries up to `last`, and Spark
    is never handed a glob: a `b*` path makes its streaming-sink metadata
    probe log a FileNotFoundException on every read. A missing or empty
    ledger reads as an empty frame of the given schema."""
    from pyspark.sql import DataFrameReader

    ledger = str(tmp_path / "ledger")
    for n in range(12):
        spark.createDataFrame([(n, n * 10)], "b long, v long") \
            .write.parquet(os.path.join(ledger, f"b{n}"))
    os.makedirs(os.path.join(ledger, "_tmp"))  # not a ledger entry
    given = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        given.extend(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    for last, n in ((None, 12), (4, 5)):
        got = versions.read_batch_ledger(spark, ledger, "b long, v long",
                                         last)
        assert sorted(map(tuple, got.collect())) == \
            [(i, i * 10) for i in range(n)]
    assert len(given) == 17 and not any("*" in p for p in given)
    for d, last in ((str(tmp_path / "none"), None), (str(tmp_path), None),
                    (ledger, -1)):
        empty = versions.read_batch_ledger(spark, d, "b long, v long", last)
        assert empty.collect() == [] and empty.columns == ["b", "v"]
