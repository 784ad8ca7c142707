"""The one module that knows how a streaming version is named, committed
and read.

Every copy-on-write sink (`cdc`, `sketch_maintenance` HLL and KLL,
`bloom_admission`, `budget_admission`, `curriculum`, `shard_migration`,
`substr_admission`, `export_admission` and `pack_admission`) rolls its
state forward as immutable `v{n}` directories through `versioned_step`,
and bootstraps `v0` through `bootstrap`. A version is written into a staging directory
`_v{n}.stage-<unique>` and published by one `os.rename`, so a `v{n}`
directory only ever appears complete:

  * a replayed batch whose version already landed is a no-op, which
    makes the sinks exactly-once on top of foreachBatch's at-least-once
    delivery;
  * a crash before the rename leaves only a staging directory, which
    `version_history` and Spark's readers both ignore (leading `_`), and
    the restart recomputes the batch from the same `v{batch_id}`;
  * the side ledgers a step writes (`manifest/b{n}`, `spans/b{n}`) are
    written before the rename, so "`v{n}` exists" implies they are
    complete. An uncommitted batch's side ledger entry may be visible
    until the restart rewrites it with the same bytes.

Every side ledger is read by `read_batch_ledger`, which lists the `b{n}`
directories and hands Spark that explicit path list. A `b*` glob would
do the same work, but Spark probes a single glob path for a streaming
sink's `_spark_metadata` directory and logs a `FileNotFoundException`
stack trace on every read.

This is the commit rule of table formats such as Delta Lake: a version
is published only once it is complete. The ledger gives what a table
format gives: time travel (read any past version), history, and
compaction (each version is self-contained, so dropping old versions is
a directory delete, never a rewrite). Version writes are local-filesystem
renames. The corpus-sized maintainers (the dedup admission and its gates,
the PQ index, the k-means codebook) are merge-on-read delta ledgers with
their own commit protocol (`compaction.py`); they use only
`run_foreach_batch` and `read_batch_ledger` from here.

Filesystem abstraction for the readers: plain local paths use
`os`/`shutil` directly (no JVM round-trip); any path with a URI scheme
(`hdfs://…`, `s3a://…`, `file:///…`) routes through the Hadoop
FileSystem API via the session's JVM — listing, existence checks, and
recursive deletes all go through `org.apache.hadoop.fs.FileSystem`, so
time travel and compaction work against whatever object store the
cluster's Hadoop conf can reach. The `spark` argument is only required
for scheme'd paths (falls back to the active session).
"""

from __future__ import annotations

import glob
import os
import posixpath
import re
import shutil
import uuid

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:/")


def _is_uri(path: str) -> bool:
    return bool(_SCHEME_RE.match(path))


def _join(base: str, *parts: str) -> str:
    """Path join that preserves URI schemes (posix separators) and matches
    os.path.join for plain local paths."""
    parts = tuple(p for p in parts if p)
    if _is_uri(base):
        return posixpath.join(base, *parts)
    return os.path.join(base, *parts)


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path-class) for `path`, resolved through the session's
    Hadoop configuration (which carries the cluster's object-store
    credentials and scheme→implementation bindings)."""
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            f"a SparkSession is required to reach non-local ledger path "
            f"{path!r} (Hadoop FileSystem API)")
    jpath_cls = spark._jvm.org.apache.hadoop.fs.Path
    fs = jpath_cls(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath_cls


def _numbered(path: str, prefix: str, spark=None) -> list[int]:
    """Sorted `n` of the `{prefix}{n}` entries directly under `path`
    (FileNotFoundError when `path` is missing)."""
    if _is_uri(path):
        fs, jpath = _hadoop_fs(spark, path)
        root = jpath(path)
        if not fs.exists(root):
            raise FileNotFoundError(path)
        names = [st.getPath().getName() for st in fs.listStatus(root)]
    else:
        names = os.listdir(path)
    return sorted(int(n[1:]) for n in names
                  if n.startswith(prefix) and n[1:].isdigit())


def version_history(target_dir: str, spark=None) -> list[int]:
    """Sorted version numbers present under `target_dir`."""
    return _numbered(target_dir, "v", spark)


def latest_version_dir(target_dir: str, spark=None) -> str:
    """The newest version directory under `target_dir`."""
    versions = version_history(target_dir, spark)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions under {target_dir}")
    return _join(target_dir, f"v{max(versions)}")


def version_dir(target_dir: str, n: int, spark=None) -> str:
    d = _join(target_dir, f"v{n}")
    if _is_uri(target_dir):
        fs, jpath = _hadoop_fs(spark, target_dir)
        present = fs.exists(jpath(d))
    else:
        present = os.path.isdir(d)
    if not present:
        raise FileNotFoundError(
            f"version v{n} not found under {target_dir} "
            f"(have: {version_history(target_dir, spark)})")
    return d


def read_version(spark, target_dir: str, n: int, subdir: str = ""):
    """Time travel: the snapshot as of version `n` (optionally a named
    sub-table, e.g. 'corpus' / 'codes' for the admission sinks)."""
    return spark.read.parquet(
        _join(version_dir(target_dir, n, spark), subdir))


def compact_versions(target_dir: str, spark=None) -> list[int]:
    """Delete all but the newest `keep_last` versions; returns the dropped
    version numbers. Safe at any time: versions are immutable and
    self-contained, and the maintainers only ever read `v{batch_id}` (the
    newest completed version) — so `keep_last >= 2` tolerates a crash
    between a batch's read and its write."""
    keep_last = 2
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    hist = version_history(target_dir, spark)
    drop = hist[:-keep_last] if len(hist) > keep_last else []
    if _is_uri(target_dir):
        fs, jpath = _hadoop_fs(spark, target_dir)
        for n in drop:
            fs.delete(jpath(_join(target_dir, f"v{n}")), True)
    else:
        for n in drop:
            shutil.rmtree(_join(target_dir, f"v{n}"))
    return drop


def _commit(stage: str, target_dir: str, n: int) -> None:
    """Publish a complete staging directory as `v{n}` and drop the staging
    directories earlier crashed attempts at `v{n}` left behind."""
    os.rename(stage, os.path.join(target_dir, f"v{n}"))
    for stale in glob.glob(os.path.join(target_dir, f"_v{n}.stage-*")):
        shutil.rmtree(stale, ignore_errors=True)


def _write_version(target_dir: str, n: int, write) -> None:
    os.makedirs(target_dir, exist_ok=True)
    stage = os.path.join(target_dir, f"_v{n}.stage-{uuid.uuid4().hex}")
    write(stage)
    _commit(stage, target_dir, n)


def bootstrap(target_dir: str, write_v0) -> None:
    """Write `v0` with `write_v0(out)` unless it is already committed. A
    crash before the commit leaves no `v0`, so the next start redoes the
    whole bootstrap."""
    if not os.path.isdir(os.path.join(target_dir, "v0")):
        _write_version(target_dir, 0, write_v0)


def versioned_step(target_dir: str, batch_id: int, step) -> None:
    """One copy-on-write batch step `v{batch_id}` -> `v{batch_id + 1}`.

    Returns without running anything when `v{batch_id + 1}` already
    exists: the batch's effect has landed, so a replay is a no-op.
    Otherwise calls `step(prev, out)`, where `prev` is `v{batch_id}` and
    `out` a staging directory, then commits `out` as `v{batch_id + 1}`.
    `prev` is None only for batch 0 of a sink with no bootstrap; for any
    other batch a missing `v{batch_id}` raises, so lost state is never
    read as empty."""
    if os.path.isdir(os.path.join(target_dir, f"v{batch_id + 1}")):
        return
    prev = os.path.join(target_dir, f"v{batch_id}")
    if not os.path.isdir(prev):
        if batch_id:
            raise FileNotFoundError(
                f"version v{batch_id} not found under {target_dir}; "
                f"batch {batch_id} needs it as its previous version")
        prev = None
    _write_version(target_dir, batch_id + 1, lambda out: step(prev, out))


def run_foreach_batch(stream, apply, checkpoint_dir: str) -> None:
    """Run `stream` to completion (availableNow) with `apply(batch,
    batch_id)` as its foreachBatch sink."""
    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


def read_batch_ledger(spark, ledger_dir: str, empty_schema: str):
    """Every `b{n}` directory of an append-only per-batch ledger, listed
    (through the Hadoop FileSystem API for a scheme'd path) and read as an
    explicit path list. A ledger with no batch yet, or no directory yet,
    is a valid state and reads as an empty frame of `empty_schema`."""
    try:
        batches = _numbered(ledger_dir, "b", spark)
    except FileNotFoundError:
        batches = []
    if not batches:
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(*[_join(ledger_dir, f"b{n}") for n in batches])
