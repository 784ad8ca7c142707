"""Delta-ledger maintained tables: merge-on-read + compaction — the
table-format idiom (Delta/Iceberg MOR), and the one commit path of every
streaming sink in `streaming/`.

A sink picks, per table, base per batch or delta per batch on one
ledger. Model-sized state (a Bloom bitmap, a sketch table, substring
window counts, export/pack running totals) is rewritten whole by its
merge algebra, so each batch writes one full base `b{n+1}` with
`write_base`: the copy-on-write trade, committed by the manifest, and a
read touches one base. A corpus-sized table (the dedup admission
ledgers, PQ codes, the CDC snapshot, the curriculum, budget and shard
ledgers) would rewrite the world every batch that way, O(table) write
amplification for an O(batch) change, so the delta ledger flips it:

  * each batch appends `d{n+1}` — ONLY the rows it changed (upserts,
    plus tombstones for deletes): O(batch) write;
  * reads union the latest base `b{k}` with every delta `d{n}`, n > k,
    and keep the row from the HIGHEST ledger sequence per key
    (last-writer-wins merge-on-read);
  * compaction folds base + deltas into a new base `b{max_n}` — read
    amplification (files + rows unioned per read) drops back to 1 base,
    and the ledger keeps growing from there. The fold is the OPTIMIZE
    half; physically deleting what it absorbed is the VACUUM half, and
    the two are separate so history and in-flight readers survive folds
    (retention, below).

Layout: `target_dir/b{n}` (base) and `target_dir/d{n}` (delta) parquet
directories, `n` a strictly increasing sequence shared by both kinds,
plus `target_dir/_manifest/` — an append-only COMMIT LOG. An entry
becomes visible only when a commit file naming it lands in the
manifest, and each commit file is published by an atomic single-file
rename: readers plan from the manifest, so a writer killed mid-write
(half a parquet directory on disk, no commit) leaves the ledger exactly
as consistent as before the write began, and a ledger has no entries
until its first commit. Writers never mutate an existing entry: writing
an entry that is already committed runs nothing, so a replayed batch
never rewrites what a reader may have planned over.

REPLAY CONTRACT (every maintainer's, through `ledger_step`): batch `b`
reads each of its ledgers `as_of=b` and writes sequence `b+1` with
deterministic content; the bootstrap writes each ledger's base 0, and a
base 0 is written only into an empty ledger. A batch that every one of
its ledgers already holds has landed and its replay runs nothing — no
gate ledger, no side row, no write; a batch killed between its ledgers'
commits recomputes from the same `as_of=b` reads and writes only the
entries that are missing; and a batch `b > 0` whose ledgers do not hold
`b` raises, so lost state is never read as empty. The per-batch side
ledgers a step writes next to its ledger (`spans/b{n}`, `manifest/b{n}`)
are written before the ledger's commit, and their readers list only the
batches that commit covers.

Tombstones: a delta row with `_op = 'D'` deletes its key; `_op = 'U'`
upserts. `read_merged` drops tombstoned keys after the LWW pick;
compaction physically removes them (a tombstone never survives into a
base).

WRITE CONTRACT (last-writer-wins determinism): a delta holds AT MOST
ONE ROW PER KEY. Across deltas the higher ledger sequence wins; within
a delta there is no further tiebreaker, so two rows with one key in one
delta would merge nondeterministically. `write_delta(key_cols=...)`
asserts the invariant (one O(batch) agg); the in-tree maintainers pass
it.

Retention: `compact(vacuum_absorbed=False)` leaves absorbed entries on
disk — fresh reads plan only the new base, but `as_of` time travel
still resolves and concurrent readers that planned before the fold
never lose a directory — until a later `vacuum` reclaims them.
`maybe_compact`'s cadence defaults to exactly this split with a
one-fold retention delay (`vacuum='defer'`): each fold vacuums only
what PREVIOUS folds absorbed, so the entries any in-flight reader
could have planned over always outlive the fold that absorbs them.

At 100 TB: the BASE IS NEVER SHUFFLED on a merged read — the LWW
window runs over the deltas only (batch-sized by the write contract),
and their key set anti-joins the base (AQE broadcasts it in the
designed regime; an overdue ledger degrades to a shuffle join instead
of flattening the driver). A fully-compacted ledger reads as one plain
scan. Compaction itself is one merged read plus one base write —
O(table), amortized over the batches it absorbs via `maybe_compact`'s
entry budget, exactly the economics of OPTIMIZE/rewrite_data_files in
the table formats — and the folded base is written size-targeted
(`target_file_bytes`) and optionally range-/Z-ordered (`cluster_cols`)
so part-file count stays bounded across folds and range reads prune at
BOTH granularities: whole entries via the ledger stats sidecar, then
parquet row groups via footer min/max inside the clustered base.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_MANIFEST_DIR = "_manifest"
_COMMIT_RE = re.compile(r"^c(\d{10})\.json$")
_ZORDER_BITS = 16


# --------------------------------------------------------------------------
# manifest commit log
# --------------------------------------------------------------------------

def _manifest_path(target_dir: str) -> str:
    return os.path.join(target_dir, _MANIFEST_DIR)


def _list_commits(target_dir: str) -> list:
    """Sorted (commit_seq, payload) pairs from the manifest; none before
    the ledger's first commit."""
    mdir = _manifest_path(target_dir)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        m = _COMMIT_RE.match(name)
        if not m:
            continue
        with open(os.path.join(mdir, name)) as fh:
            out.append((int(m.group(1)), json.load(fh)))
    return sorted(out)


def _append_commit(target_dir: str, payload: dict) -> int:
    """Publish the next commit file atomically (tmp write + single-FILE
    rename, atomic on POSIX): the one commit every streaming table in
    this package goes through. Single-writer per ledger by the
    maintainer contract."""
    mdir = _manifest_path(target_dir)
    os.makedirs(mdir, exist_ok=True)
    commits = _list_commits(target_dir)
    nxt = (commits[-1][0] + 1) if commits else 0
    final = os.path.join(mdir, f"c{nxt:010d}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.rename(tmp, final)
    return nxt


def ledger_entries(target_dir: str) -> list:
    """Sorted (seq, kind) entries COMMITTED and not yet vacuumed (kind
    'b' base / 'd' delta) — the manifest's view; a half-written,
    uncommitted entry directory is invisible, and a ledger has no
    entries until its first commit. Superseded entries stay listed
    until `vacuum` removes them (they serve `as_of` history)."""
    live: set = set()
    for _seq, payload in _list_commits(target_dir):
        for kind, seq in payload.get("add", ()):
            live.add((int(seq), kind))
        for kind, seq in payload.get("remove", ()):
            live.discard((int(seq), kind))
    return sorted(live)


def ledger_head(target_dir: str) -> int:
    """The ledger's newest committed sequence, -1 before its first
    commit. A fold may have absorbed the entry at the head itself, but
    never moves the head back."""
    return max((s for s, _k in ledger_entries(target_dir)), default=-1)


def ledger_step(dirs, batch_id: int, run) -> None:
    """The replay rule of every maintainer step: batch `batch_id` writes
    sequence batch_id+1 to each ledger in `dirs` (`batch_id = -1` is the
    bootstrap, writing each ledger's base 0). Runs nothing once every
    ledger holds that sequence — the batch has landed, so a replay is a
    no-op. Otherwise calls `run()`, whose writes skip the entries a
    crashed attempt already committed. A batch > 0 whose ledgers do not
    all hold sequence `batch_id` raises, so lost state is never read as
    empty."""
    heads = [ledger_head(d) for d in dirs]
    if min(heads) > batch_id:
        return
    if batch_id > 0 and min(heads) < batch_id:
        lost = [d for d, h in zip(dirs, heads) if h < batch_id]
        raise FileNotFoundError(
            f"ledger sequence {batch_id} not found under {lost}; "
            f"batch {batch_id} needs it as its previous state")
    run()


def _entry_dir(target_dir: str, kind: str, seq: int) -> str:
    return os.path.join(target_dir, f"{kind}{seq}")


_STATS_FILE = "_ledger_stats.json"  # underscore-prefixed: Spark's
# parquet reader ignores it inside the entry directory


def _write_stats(df: DataFrame, entry: str, stats_col: str) -> None:
    row = df.agg(F.min(stats_col).alias("lo"),
                 F.max(stats_col).alias("hi"),
                 F.count("*").alias("n")).first()
    with open(os.path.join(entry, _STATS_FILE), "w") as fh:
        json.dump({"col": stats_col,
                   "min": row["lo"], "max": row["hi"],
                   "rows": row["n"]}, fh)


def entry_stats(target_dir: str, kind: str, seq: int) -> dict | None:
    """The (col, min, max, rows) stats recorded for an entry, or None
    when the writer did not request stats."""
    p = os.path.join(_entry_dir(target_dir, kind, seq), _STATS_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _assert_unique_keys(df: DataFrame, key_cols: list, what: str) -> None:
    row = df.agg(
        F.count("*").alias("n"),
        F.count_distinct(*[F.col(c) for c in key_cols]).alias("d")).first()
    if row["n"] != row["d"]:
        raise ValueError(
            f"{what} violates the one-row-per-key write contract: "
            f"{row['n']} rows but only {row['d']} distinct "
            f"{tuple(key_cols)} keys — LWW merge would be "
            f"nondeterministic within this entry")


def _write_entry(df: DataFrame, target_dir: str, kind: str, seq: int,
                 stats_col: str | None, key_cols) -> None:
    """Write entry `{kind}{seq}` and commit it to the manifest. Returns
    without running anything when the entry is already committed: a
    replayed step never rewrites a committed entry, so a reader that
    planned over its files keeps them. An uncommitted directory (a
    writer killed before the commit) is overwritten. A base 0 (a
    bootstrap) is written only into an empty ledger: once the ledger
    holds any entry, a fold may have absorbed b0 itself."""
    entries = ledger_entries(target_dir)
    if (seq, kind) in entries or (seq == 0 and entries):
        return
    if key_cols:
        _assert_unique_keys(df, list(key_cols), f"{kind}{seq}")
    entry = _entry_dir(target_dir, kind, seq)
    df.write.mode("overwrite").parquet(entry)
    if stats_col is not None:
        _write_stats(df, entry, stats_col)
    _append_commit(target_dir, {"add": [[kind, seq]]})


def write_base(df: DataFrame, target_dir: str, seq: int,
               stats_col: str | None = None,
               key_cols=None) -> None:
    """Write a self-contained base at ledger sequence `seq`. The frame
    must NOT contain tombstones (bases hold live rows only) and holds
    one row per key. `stats_col` records the column's (min, max, rows)
    next to the data (one extra O(batch) agg) so range reads can skip
    the entry; `key_cols` additionally asserts key uniqueness (one
    agg). The entry becomes visible only at the manifest commit — a
    writer killed mid-write leaves the ledger unchanged — and an entry
    already committed is never rewritten."""
    _write_entry(df, target_dir, "b", seq, stats_col, key_cols)


def write_delta(df: DataFrame, target_dir: str, seq: int,
                stats_col: str | None = None,
                key_cols=None) -> None:
    """Append the batch's changed rows at sequence `seq`. `_op`
    ('U' upsert / 'D' delete) is added as all-'U' when absent.

    WRITE CONTRACT: at most ONE ROW PER KEY per delta (upsert OR
    tombstone, not both) — the LWW merge orders only across ledger
    sequences, so duplicate keys within one delta would merge
    nondeterministically. Pass `key_cols` to assert the invariant at
    write time (one O(batch) agg; the in-tree maintainers do).

    `stats_col`: see `write_base` — tombstone rows count toward the
    range too (a delete for key k lives wherever k does). Visibility and
    replay are as for `write_base`."""
    if "_op" not in df.columns:
        df = df.withColumn("_op", F.lit("U"))
    _write_entry(df, target_dir, "d", seq, stats_col, key_cols)


def plan_entries(target_dir: str, as_of: int | None = None,
                 key_range: tuple | None = None) -> list:
    """The (seq, kind) entries a merged read must touch: the latest
    base <= as_of plus every later delta, MINUS entries whose recorded
    (min, max) stats don't intersect `key_range` — the data-skipping
    half of the table-format idiom. Entries without stats are never
    pruned (correct by default); pruning is exact for LWW because a
    skipped entry provably holds no key in range, so it can neither
    supply nor supersede an in-range row."""
    entries = ledger_entries(target_dir)
    if as_of is not None:
        entries = [e for e in entries if e[0] <= as_of]
    bases = [s for s, k in entries if k == "b"]
    start = max(bases) if bases else None
    live = [(s, k) for s, k in entries
            if (k == "b" and s == start)
            or (k == "d" and (start is None or s > start))]
    if key_range is None:
        return live
    lo, hi = key_range
    kept = []
    for seq, kind in live:
        st = entry_stats(target_dir, kind, seq)
        if st is not None and st["min"] is not None and (
                st["max"] < lo or st["min"] > hi):
            continue
        kept.append((seq, kind))
    return kept


def read_merged(spark, target_dir: str, key_cols,
                as_of: int | None = None,
                key_range: tuple | None = None) -> DataFrame:
    """Merge-on-read: latest base <= as_of, plus every later delta
    <= as_of; last-writer-wins per key, tombstones dropped. With
    `as_of=None` reads the full ledger (time travel otherwise — the
    maintainers replay against `as_of=batch_id` for idempotency).
    LWW is deterministic because each delta holds at most one row per
    key (the `write_delta` contract); the plan comes from the manifest,
    so uncommitted writes are invisible.

    The BASE IS NEVER SHUFFLED: the LWW window runs over the deltas
    only (batch-sized by the write contract), whose key set then
    broadcast-anti-joins the base — so a merged read costs one base
    scan plus delta-sized work, not a table-sized repartition. A
    fully-compacted ledger collapses further to a plain scan. (If
    deltas outgrow broadcast, the ledger is overdue for `compact` /
    `maybe_compact` — that cadence, not a bigger join, is the fix.)"""
    key_cols = list(key_cols)
    entries = ledger_entries(target_dir)
    if as_of is not None:
        entries = [e for e in entries if e[0] <= as_of]
    if not entries:
        raise FileNotFoundError(
            f"no ledger entries under {target_dir} (as_of={as_of})")
    live = plan_entries(target_dir, as_of, key_range)
    if key_range is not None and not live:
        # every entry's stats exclude the range: empty result, schema
        # from the newest entry
        seq, kind = entries[-1]
        empty = spark.read.parquet(
            _entry_dir(target_dir, kind, seq)).limit(0)
        if "_op" in empty.columns:
            empty = empty.drop("_op")
        return empty
    base_df = None
    parts = []
    for seq, kind in live:
        if kind == "b":
            base_df = spark.read.parquet(
                _entry_dir(target_dir, "b", seq))
        else:
            parts.append(
                spark.read.parquet(_entry_dir(target_dir, "d", seq))
                .withColumn("_seq", F.lit(seq)))
    if key_range is not None:
        # `key_range` applies to key_cols[0] (the stats column by the
        # write contract); the residual filter pushes to every scan
        lo, hi = key_range
        rng = (F.col(key_cols[0]) >= F.lit(lo)) \
            & (F.col(key_cols[0]) <= F.lit(hi))
        if base_df is not None:
            base_df = base_df.filter(rng)
        parts = [p.filter(rng) for p in parts]
    if not parts:
        # fully compacted ledger: a base holds live, unique-keyed rows
        # by construction, so the read is a plain scan — no LWW window,
        # no join. This is the payoff compaction buys.
        return base_df
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    w = Window.partitionBy(*key_cols).orderBy(F.col("_seq").desc())
    delta_live = (merged.withColumn("_rk", F.row_number().over(w))
                  .filter((F.col("_rk") == 1) & (F.col("_op") == "U"))
                  .drop("_rk", "_seq", "_op"))
    if base_df is None:
        return delta_live
    delta_keys = merged.select(*key_cols).distinct()
    # no forced broadcast: AQE broadcasts the (batch-sized) key set in
    # the designed regime, and an overdue-for-compaction ledger whose
    # keys outgrow the threshold degrades to a shuffle join instead of
    # flattening the driver
    survivors = base_df.join(delta_keys, key_cols, "left_anti")
    return survivors.unionByName(delta_live)


def _entry_bytes(target_dir: str, entries) -> int:
    total = 0
    for seq, kind in entries:
        d = _entry_dir(target_dir, kind, seq)
        if os.path.isdir(d):
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(d, f))
    return total


def read_amplification(target_dir: str) -> dict:
    """What one merged read must touch RIGHT NOW: ledger entries unioned
    and parquet part-files opened — the quantity compaction exists to
    push back down."""
    live = plan_entries(target_dir)
    n_files = 0
    for seq, kind in live:
        d = _entry_dir(target_dir, kind, seq)
        n_files += sum(1 for f in os.listdir(d)
                       if f.endswith(".parquet"))
    return {"entries": len(live), "files": n_files}


def maybe_compact(spark, target_dir: str, key_cols,
                  max_entries: int = 8,
                  vacuum_mode: str = "defer") -> dict | None:
    """Compaction cadence: fold the ledger iff a merged read would
    touch more than `max_entries` live entries (base + deltas). Call
    after each delta append — the maintainer's auto-OPTIMIZE. Bounds
    read amplification at `max_entries` while amortizing each O(table)
    fold over that many O(batch) appends; returns compact()'s result
    when it ran, None when the ledger was within budget.

    `vacuum_mode` is the retention policy (the table formats'
    OPTIMIZE/VACUUM split, on by default):

      * 'defer' (default) — the fold lands without deleting anything;
        this tick's vacuum reclaims only entries PREVIOUS folds
        absorbed. One-fold retention delay: a concurrent reader that
        planned over the pre-fold entries keeps every directory it
        planned until the NEXT fold, and `as_of` history survives one
        fold back.
      * 'immediate' — fold and vacuum in one step (no retention; the
        single-writer, no-concurrent-reader harness shape).

    The folded base is written with `compact`'s default file size and no
    clustering."""
    if vacuum_mode not in ("defer", "immediate"):
        raise ValueError(f"unknown vacuum_mode {vacuum_mode!r}")
    amp = read_amplification(target_dir)
    if amp["entries"] <= max_entries:
        return None
    if vacuum_mode == "immediate":
        return compact(spark, target_dir, key_cols, vacuum_absorbed=True)
    pre_live = set(plan_entries(target_dir))
    res = compact(spark, target_dir, key_cols, vacuum_absorbed=False)
    # reclaim only what OLDER folds absorbed: anything already dead
    # before this fold ran. The entries this fold absorbed stay one
    # more tick for in-flight readers / one-fold time travel.
    res["removed"] = vacuum(target_dir, retain=pre_live)
    return res


def _zorder_col(df: DataFrame, cols: list):
    """A JVM-side Z-value: each column min-max-normalized to
    `_ZORDER_BITS` bits, then bit-interleaved (two 16-bit dims -> one
    32-bit key).
    One O(table) agg for the mins/maxes; the interleave itself is a
    codegen'd expression, no Python in the loop."""
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"_hi_{c}")]
    row = df.agg(*aggs).first()
    scaled = []
    for c in cols:
        lo = row[f"_lo_{c}"]
        hi = row[f"_hi_{c}"]
        span = (hi - lo) if (hi is not None and lo is not None
                             and hi > lo) else 1.0
        v = ((F.col(c).cast("double") - F.lit(lo)) / F.lit(span)
             * F.lit((1 << _ZORDER_BITS) - 1)).cast("long")
        scaled.append(F.coalesce(v, F.lit(0)))
    z = F.lit(0).cast("long")
    n = len(cols)
    for i in range(_ZORDER_BITS):
        for j, v in enumerate(scaled):
            bit = F.shiftright(v, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def compact(spark, target_dir: str, key_cols,
            vacuum_absorbed: bool = True,
            target_file_bytes: int | None = 128 * 1024 * 1024,
            cluster_cols=None) -> dict:
    """Fold the live base + deltas into a new base at the ledger's max
    live sequence. The merged read BEFORE equals the base read AFTER by
    construction (same LWW pick, materialized); returns
    {'new_base': seq, 'removed': [...]}.

    `vacuum_absorbed=False` is the OPTIMIZE/VACUUM split: the fold
    lands (readers that list the ledger from now on touch only the new
    base) but absorbed entries stay on disk — in-flight readers that
    already planned over them never lose a directory, and `as_of` time
    travel keeps working across the fold — until a later `vacuum`
    reclaims them after the retention delay the deployment chooses.
    (`maybe_compact`'s default cadence is this split with a one-fold
    delay.)

    OUTPUT LAYOUT — the folded base is written size-targeted and
    optionally clustered, so compaction is the repo's OPTIMIZE in both
    senses (fewer entries AND a better file layout):

      * `target_file_bytes` bounds part-file count: the snapshot is
        repartitioned to ceil(live_bytes / target) files (live bytes
        from ledger metadata, no extra job), so repeated
        append-then-fold cycles keep a flat file count instead of
        accreting one part-file per absorbed delta.
      * `cluster_cols` range-clusters the folded base: one column ->
        repartitionByRange + sortWithinPartitions (disjoint per-file
        key ranges); two or more -> a Z-order interleave, so range
        predicates on ANY clustered column prune parquet row groups /
        files via footer min/max. Pair with `stats_col` pruning at the
        entry level for two-granularity data skipping.

    Crash safety: the folded base directory is written UNCOMMITTED
    (invisible to manifest readers) and becomes visible only at the
    single atomic manifest commit; a process killed mid-fold leaves the
    ledger readable and the next fold overwrites the partial output."""
    import math

    live = plan_entries(target_dir)
    if not live:
        raise FileNotFoundError(f"no ledger entries under {target_dir}")
    if len(live) == 1 and live[0][1] == "b":
        return {"new_base": live[0][0], "removed": []}  # already compact
    top = max(s for s, _k in live)
    snapshot = read_merged(spark, target_dir, key_cols).cache()
    snapshot.count()  # materialize BEFORE touching the ledger
    # preserve data-skipping across folds: if any live entry recorded
    # stats, the folded base records them on the same column
    stats_col = next(
        (st["col"] for seq, kind in live
         if (st := entry_stats(target_dir, kind, seq)) is not None),
        None)
    out = snapshot
    if target_file_bytes:
        n_files = max(1, math.ceil(
            _entry_bytes(target_dir, live) / target_file_bytes))
    else:
        n_files = None
    if cluster_cols:
        cluster_cols = list(cluster_cols)
        n_files = n_files or out.rdd.getNumPartitions()
        if len(cluster_cols) == 1:
            out = (out.repartitionByRange(n_files, cluster_cols[0])
                   .sortWithinPartitions(cluster_cols[0]))
        else:
            out = (out.withColumn("_z", _zorder_col(out, cluster_cols))
                   .repartitionByRange(n_files, "_z")
                   .sortWithinPartitions("_z")
                   .drop("_z"))
    elif n_files is not None:
        out = out.repartition(n_files)
    entry = _entry_dir(target_dir, "b", top)
    out.write.mode("overwrite").parquet(entry)
    if stats_col is not None:
        _write_stats(snapshot, entry, stats_col)
    snapshot.unpersist()
    _append_commit(target_dir, {"add": [["b", top]]})
    removed = vacuum(target_dir) if vacuum_absorbed else []
    return {"new_base": top, "removed": removed}


def vacuum(target_dir: str, retain=None) -> list:
    """Delete every absorbed entry — anything a fresh merged read no
    longer touches (superseded bases, folded deltas) — except those in
    `retain` (a set of (seq, kind) a retention policy is keeping, e.g.
    `maybe_compact`'s one-fold delay). Each deletion is committed to
    the manifest AFTER the directory is gone, so a crash mid-vacuum
    leaves at worst an already-deleted entry still listed — readers of
    history may fail on it, never readers of the live ledger. Run it
    only after in-flight readers have drained (the table formats'
    retention delay); until then absorbed entries serve as_of history
    and keep concurrent readers' plans valid."""
    import shutil

    live = set(plan_entries(target_dir))
    keep = live | (set(retain) if retain else set())
    removed = []
    removed_pairs = []
    for seq, kind in ledger_entries(target_dir):
        if (seq, kind) not in keep:
            shutil.rmtree(_entry_dir(target_dir, kind, seq),
                          ignore_errors=True)
            removed.append(f"{kind}{seq}")
            removed_pairs.append([kind, seq])
    if removed_pairs:
        _append_commit(target_dir, {"remove": removed_pairs})
    return removed


def read_changes(spark, target_dir: str, key_cols,
                 from_seq: int, to_seq: int | None = None) -> DataFrame:
    """CHANGE FEED: the net per-key changes between two ledger
    snapshots — every key whose LWW row differs between `as_of=from_seq`
    and `as_of=to_seq` (default: the newest sequence), as upsert rows
    (`_change = 'U'`, the new values) and delete rows (`_change = 'D'`,
    values NULL). The table-format CDC idiom: an incremental consumer
    (index refresher, downstream materialization) processes exactly
    what changed instead of diffing two full snapshots.

    Reads ONLY the deltas in (from_seq, to_seq] — never a base: a base
    at seq b <= from_seq is already reflected in the from-snapshot, and
    a folded base INSIDE the window only restates what its absorbed
    deltas said (folds never change the merged table), so deltas alone
    carry every change. Cost is O(changed rows), independent of table
    size — the whole point. LWW within the window picks each key's
    final state; a key that ends tombstoned emits 'D' (regardless of
    intermediate upserts), a key that ends upserted emits 'U' with its
    final values.

    NOTE: a consumer at `from_seq` must read the feed before vacuum
    reclaims the window's deltas (same retention trade as `as_of`);
    `maybe_compact`'s deferred cadence guarantees one fold of slack.

    Edge: a key whose final window state equals its from-snapshot state
    (re-upserted with identical values) still emits 'U' — the feed is
    write-level, like the table formats' CDF, not a value-diff."""
    key_cols = list(key_cols)
    if to_seq is None:
        entries = ledger_entries(target_dir)
        if not entries:
            raise FileNotFoundError(
                f"no ledger entries under {target_dir}")
        to_seq = max(s for s, _k in entries)
    if to_seq < from_seq:
        raise ValueError(f"to_seq {to_seq} < from_seq {from_seq}")
    deltas = [(s, k) for s, k in ledger_entries(target_dir)
              if k == "d" and from_seq < s <= to_seq]
    if not deltas:
        # no deltas in the window: nothing changed (a lone fold inside
        # the window restates, never changes). Empty frame, schema from
        # the newest entry.
        entries = ledger_entries(target_dir)
        seq, kind = entries[-1]
        empty = spark.read.parquet(
            _entry_dir(target_dir, kind, seq)).limit(0)
        if "_op" not in empty.columns:
            empty = empty.withColumn("_op", F.lit("U"))
        return empty.withColumnRenamed("_op", "_change")
    parts = [spark.read.parquet(_entry_dir(target_dir, "d", s))
             .withColumn("_seq", F.lit(s)) for s, _k in deltas]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    w = Window.partitionBy(*key_cols).orderBy(F.col("_seq").desc())
    return (merged.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk", "_seq")
            .withColumnRenamed("_op", "_change"))
