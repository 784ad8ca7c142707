"""Fault injection over every streaming sink. The copy-on-write sinks
(`streaming/versions.py`) commit a version by `versioned_step` /
`bootstrap` (stage, then one rename); the delta-ledger maintainers
(`streaming/compaction.py`: the dedup admission, the LM gate in front of
it, the PQ index and the codebook) commit each entry by one manifest
commit, where the crash is injected. For both:

- REPLAY AFTER COMMIT: a batch re-run after it landed (the checkpoint's
  commit-log entry lost — foreachBatch's at-least-once case) completes
  with unchanged files and unchanged reads — no version, entry, gate
  ledger or drift row is rewritten;
- CRASH BEFORE COMMIT: a failure at the commit fails the query, readers
  still see the previous batch, and the restart recomputes the batch to
  the uninterrupted result;
- BOOTSTRAP CRASH: a failure at v0's rename leaves no v0, and a failure
  at any of a ledger maintainer's base commits leaves that base
  uncommitted; the restart redoes the bootstrap to the uninterrupted
  run's v0 or bases.

Each of the 14 sites runs two one-file micro-batches over tiny inline
inputs. One uninterrupted reference run per sink is shared by its three
cases.
"""

from __future__ import annotations

import glob
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


def _latest(spark, target):
    return _rows(spark.read.parquet(versions.latest_version_dir(target)))


# -- the 14 sites: (schema, batches, run, read, version subdir, v0?) --

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
    # the versioned ledger; `read_curriculum` is a pure function of it
    return _latest(spark, t)


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

    latest = versions.version_history(t)[-1]
    return _rows(read_spans(spark, t)), _rows(read_state(spark, t, latest))


def _export(spark, stream, t, ckpt):
    from wde_spark.streaming.export_admission import streaming_shard_manifest

    init = spark.range(100, 109).select(F.col("id").alias("doc_id"))
    streaming_shard_manifest(stream, init, t, ckpt, 4)


def _export_read(spark, t):
    from wde_spark.streaming.export_admission import read_manifest

    return (_rows(read_manifest(spark, t)),
            _latest(spark, os.path.join(t, "meta")))


def _pack(spark, stream, t, ckpt):
    from wde_spark.streaming.pack_admission import streaming_ffd_manifest

    streaming_ffd_manifest(stream, t, ckpt, seq_len=16, n_buckets=2)


def _pack_read(spark, t):
    from wde_spark.streaming.pack_admission import read_pack_manifest

    return (_rows(read_pack_manifest(spark, t)),
            _latest(spark, os.path.join(t, "meta")))


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
            _cdc, _cdc_read, "", True),
    "hll": ("g string, v long",
            ([("a", 1), ("a", 2), ("b", 3)], [("a", 2), ("b", 4), ("c", 5)]),
            _hll, _hll_read, "", False),
    "kll": ("g string, v long",
            ([("a", 1), ("a", 2), ("b", 3)], [("a", 2), ("b", 4), ("c", 5)]),
            _kll, _kll_read, "", False),
    "bloom": (DOCS, _TEXT, _bloom, _bloom_read, "", False),
    "budget": ("doc_id long, source string, n_tok long",
               ([(i, "ab"[i % 2], i + 3) for i in range(1, 12, 2)],
                [(i, "ab"[i % 3 % 2], i + 3) for i in range(0, 12, 2)]),
               _budget, _budget_read, "", False),
    "curriculum": ("doc_id long, bucket long",
                   ([(i, i % 3) for i in range(1, 12, 2)],
                    [(i, i % 3) for i in range(0, 12, 2)]),
                   _curriculum, _curriculum_read, "", False),
    "shard": ("doc_id long", _IDS, _shard, _shard_read, "", False),
    "dedup": (DOCS, None, _dedup, _dedup_read, "", True),
    "lm": (DOCS, None, _lm, _lm_read, "", True),
    "pq": (VECS, (_vecs(range(100, 106)), _vecs(range(200, 207))),
           _pq, _pq_read, "", True),
    "substr": (DOCS, ([(10, "a b c x y"), (11, "n1 n2 n3 n4")],
                      [(20, "n1 n2 n3 z"), (21, "p q r w w2")]),
               _substr, _substr_read, "", True),
    "export": ("doc_id long", _IDS, _export, _export_read, "meta", True),
    "pack": ("doc_id long, n_tok long",
             ([(i, i % 7 + 2) for i in range(1, 12, 2)],
              [(i, i % 5 + 3) for i in range(0, 12, 2)]),
             _pack, _pack_read, "meta", True),
    "codebook": (VECS,
                 (_vecs(range(100, 106), 64), _vecs(range(200, 207), 64)),
                 _codebook, _codebook_read, "", True),
}
BOOTSTRAPPED = [n for n, s in SITES.items() if s[5]]
# the delta-ledger sites and their ledgers under the target, in the
# order a batch (and the bootstrap) commits them
LEDGERS = {"dedup": ("corpus", "fp", "bands"),
           "lm": ("corpus", "fp", "bands"),
           "pq": ("codes",), "codebook": ("state",)}


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


def _vdir(name, root) -> str:
    return os.path.join(root, "t", SITES[name][4])


def _ledgers(name, root) -> list:
    return [os.path.join(root, "t", sub) for sub in LEDGERS[name]]


def _listing(name, root) -> list:
    """What a replay must leave untouched: the version directories of a
    copy-on-write sink; every file under a ledger site's target (entry
    part-files carry a per-write unique name, so a rewrite shows)."""
    if name not in LEDGERS:
        return sorted(os.listdir(_vdir(name, root)))
    t = os.path.join(root, "t")
    return sorted(os.path.relpath(os.path.join(d, f), t)
                  for d, _, files in os.walk(t) for f in files)


def _head(name, root) -> int:
    """The newest committed version / ledger sequence."""
    if name not in LEDGERS:
        return versions.version_history(_vdir(name, root))[-1]
    return max(s for led in _ledgers(name, root)
               for s, _k in compaction.ledger_entries(led))


def _version_tables(spark, name, root, n: int) -> dict:
    """Rows of every parquet table inside version `v{n}`, or of every
    ledger's entry at sequence `n` (the base for n = 0)."""
    if name in LEDGERS:
        kind = "b" if n == 0 else "d"
        return {sub: _rows(spark.read.parquet(
                    os.path.join(root, "t", sub, f"{kind}{n}")))
                for sub in LEDGERS[name]}
    base = os.path.join(_vdir(name, root), f"v{n}")
    return {os.path.relpath(d, base): _rows(spark.read.parquet(d))
            for d, _, files in os.walk(base) if "_SUCCESS" in files}


def _drop_batch(name, root, n: int) -> None:
    """Remove version `v{n}`, or every ledger's delta `d{n}` together
    with the manifest commit that adds it (the last one)."""
    if name not in LEDGERS:
        shutil.rmtree(os.path.join(_vdir(name, root), f"v{n}"))
        return
    for led in _ledgers(name, root):
        shutil.rmtree(os.path.join(led, f"d{n}"))
        mdir = os.path.join(led, "_manifest")
        for f in os.listdir(mdir):
            with open(os.path.join(mdir, f)) as fh:
                adds = json.load(fh).get("add", [])
            if ["d", n] in adds:
                os.remove(os.path.join(mdir, f))


def _reference(spark, name, factory):
    """(root, final reads, reads as of v1) of an uninterrupted run."""
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


def _crash_commit_of(monkeypatch, name, n: int, skip: int = 0) -> None:
    """Make the commit of version `v{n}` raise once — for a ledger site,
    the `skip`-th manifest commit of an entry at sequence `n` (the bases
    for n = 0, else the deltas)."""
    fired = []
    if name in LEDGERS:
        real_append = compaction._append_commit
        entry = ["b" if n == 0 else "d", n]

        def append(target_dir, payload):
            if entry in payload.get("add", []):
                fired.append(target_dir)
                if len(fired) == skip + 1:
                    raise OSError(f"injected crash before the commit of "
                                  f"{target_dir}/{entry[0]}{n}")
            return real_append(target_dir, payload)

        monkeypatch.setattr(compaction, "_append_commit", append)
        return
    real = versions._commit

    def commit(stage, target_dir, m):
        if m == n and not fired:
            fired.append(m)
            raise OSError(f"injected crash before the commit of v{n}")
        real(stage, target_dir, m)

    monkeypatch.setattr(versions, "_commit", commit)


def _drop_commit(root, batch_id: int) -> None:
    """Lose a batch's commit-log entry: on restart the query re-runs it."""
    commits = os.path.join(root, "ckpt", "commits")
    os.remove(os.path.join(commits, str(batch_id)))
    crc = os.path.join(commits, f".{batch_id}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _pending(name, root, n: int) -> bool:
    """Whether a crashed write of `v{n}` is on disk uncommitted: a staging
    directory, or an entry directory at sequence `n` the manifest does
    not list."""
    if name not in LEDGERS:
        return bool(glob.glob(
            os.path.join(_vdir(name, root), f"_v{n}.stage-*")))
    kind = "b" if n == 0 else "d"
    return any(os.path.isdir(os.path.join(led, f"{kind}{n}"))
               and (n, kind) not in compaction.ledger_entries(led)
               for led in _ledgers(name, root))


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


@pytest.mark.parametrize("name", SITES)
def test_crash_before_commit_recomputes(spark, tmp_path_factory, tmp_path,
                                        monkeypatch, name):
    ref_root, final, at_v1 = _reference(spark, name, tmp_path_factory)
    # batch 0 committed, batch 1 planned but not yet applied
    root = str(tmp_path / "run")
    shutil.copytree(ref_root, root)
    _drop_batch(name, root, 2)
    _drop_commit(root, 1)
    _crash_commit_of(monkeypatch, name, 2)
    with pytest.raises(Exception):
        _run(spark, name, tmp_path_factory, root)
    monkeypatch.undo()

    # the crashed batch left only an uncommitted write behind
    assert _pending(name, root, 2)
    assert _head(name, root) == 1
    assert _read(spark, name, root) == at_v1

    _run(spark, name, tmp_path_factory, root)
    assert _read(spark, name, root) == final
    assert not _pending(name, root, 2)


@pytest.mark.parametrize("name", BOOTSTRAPPED)
def test_bootstrap_crash_redo(spark, tmp_path_factory, tmp_path,
                              monkeypatch, name):
    ref_root, _, _ = _reference(spark, name, tmp_path_factory)
    want = _version_tables(spark, name, ref_root, 0)
    # a copy-on-write sink commits v0 once; a ledger maintainer commits
    # one base per ledger, and a crash at any of them must be redone
    for k in range(len(LEDGERS.get(name, ("v0",)))):
        root = str(tmp_path / f"run{k}")
        _crash_commit_of(monkeypatch, name, 0, skip=k)
        with pytest.raises(OSError, match="injected"):
            _run(spark, name, tmp_path_factory, root, n_batches=0)
        monkeypatch.undo()

        assert _pending(name, root, 0)
        if name in LEDGERS:  # the bases before the crash are committed
            assert [bool(compaction.ledger_entries(led))
                    for led in _ledgers(name, root)] == \
                [i < k for i in range(len(LEDGERS[name]))]
        else:
            assert versions.version_history(_vdir(name, root)) == []

        # the restart redoes the bootstrap to the uninterrupted run's v0
        _run(spark, name, tmp_path_factory, root, n_batches=0)
        assert _version_tables(spark, name, root, 0) == want
        assert _head(name, root) == 0
        assert not _pending(name, root, 0)


def test_versioned_step_prev_rules(tmp_path):
    """Batch 0 without a bootstrap gets prev=None; a later batch whose
    previous version is missing raises instead of reading empty state;
    an existing next version makes the step a no-op."""
    target = str(tmp_path)
    seen = []

    def step(prev, out):
        seen.append(prev)
        os.makedirs(out)

    versions.versioned_step(target, 0, step)
    assert seen == [None] and versions.version_history(target) == [1]
    versions.versioned_step(target, 0, step)  # v1 landed: no-op
    assert seen == [None]
    with pytest.raises(FileNotFoundError, match="v2"):
        versions.versioned_step(target, 2, step)
    versions.versioned_step(target, 1, step)
    assert seen == [None, os.path.join(target, "v1")]
    assert sorted(os.listdir(target)) == ["v1", "v2"]


def test_read_batch_ledger_lists_entries(spark, tmp_path, monkeypatch):
    """A 12-entry ledger (b0..b11, so a lexicographic and a numeric order
    differ) reads every row, local and through a `file://` URI, and Spark
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
    want = [(n, n * 10) for n in range(12)]
    for d in (ledger, "file://" + ledger):
        got = versions.read_batch_ledger(spark, d, "b long, v long")
        assert sorted(map(tuple, got.collect())) == want
    assert len(given) == 24 and not any("*" in p for p in given)
    for d in (str(tmp_path / "none"), str(tmp_path)):
        empty = versions.read_batch_ledger(spark, d, "b long, v long")
        assert empty.collect() == [] and empty.columns == ["b", "v"]
