"""Streaming maintained k-means codebook — mini-batch centroid updates
over COW versions, the admission-family treatment for the clustering /
ANN model itself.

The batch operator (`similarity.train_ivf_centroids`) re-runs Lloyd over
the whole corpus; at 100 TB the corpus is a FEED, and the codebook the
IVF/PQ ANN paths probe must track it without re-reading history. The
maintained form is the classic mini-batch k-means shape (Sculley 2010,
web-scale k-means) made exactly oracle-able: the carried state is the
per-(cell, dim) pair (n, s) — member count and coordinate sum of every
vector EVER assigned to the cell — and the current centroid is the
running mean s/n (falling back to the bootstrap centroid for a cell no
vector has joined). Each micro-batch assigns its vectors under the
centroids CURRENT AT ARRIVAL (the same Arrow argmin kernel and the same
distance/tie-break order as the IVF oracle), folds its per-cell sums
into the state, and writes the next COW version.

Exactly-replayable semantics: a vector's assignment is FROZEN at its
arrival batch (mini-batch k-means never re-assigns history — that is
the batch operator's job), and the update algebra is pure addition over
(n, s), so the final codebook is a deterministic function of (init
slice, batch partition, arrival order). The DuckDB oracle replays it
bit-for-bit out of the same building blocks the IVF family uses: seed →
2 Lloyd rounds on the init slice → per-batch assign-under-current +
cumulative-sum centroid refresh.

Each batch is a `versions.versioned_step` over `state/`
(`v{batch_id}` -> `v{batch_id + 1}`).

At 100 TB: state is n_cells × dim rows (16 × 64 = 1024 — model-sized,
never corpus-sized); per batch ONE argmin pass over the batch plus a
1024-row merge; the corpus is never re-read. The bounded state collect
(centroids into the probe kernel) is the k-means collect pattern the
plan-hygiene audit adjudicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import (_as_double, _normalize,
                                    _probe_cells_udf,
                                    train_ivf_centroids)
from .versions import (bootstrap, latest_version_dir, run_foreach_batch,
                       versioned_step)

N_CELLS_DEFAULT = 16
DIM = 64


def _batch_cell_sums(batch: DataFrame, cents: list) -> DataFrame:
    """(cell, d, n_add, s_add) for one batch assigned under `cents` —
    one Arrow argmin pass + one hash aggregate, batch-sized."""
    spark = batch.sparkSession
    assign = _probe_cells_udf(spark, cents, nprobe=1)
    nv = batch.select(
        _normalize(_as_double(F.col("embedding"))).alias("nv"))
    a = nv.select(F.col("nv"),
                  assign(F.col("nv"))[0].cast("int").alias("cell"))
    return (
        a.select("cell", F.posexplode("nv").alias("d", "x"))
        .groupBy("cell", "d")
        .agg(F.count("*").cast("long").alias("n_add"),
             F.sum("x").alias("s_add"))
    )


def _state0(init_emb: DataFrame, n_cells: int, iters: int) -> DataFrame:
    """State 0 on the init slice: per (cell, d) the member count,
    coordinate sum, and bootstrap centroid coordinate."""
    spark = init_emb.sparkSession
    cents = train_ivf_centroids(init_emb, n_cells=n_cells, iters=iters)
    if not cents:  # empty/unusable init slice: an empty codebook is the
        # honest state 0 (later batches copy it forward)
        return spark.createDataFrame(
            [], "cell int, d int, n long, s double, boot double")
    boot = spark.createDataFrame(
        [(c, d, float(cents[c][d]))
         for c in range(len(cents)) for d in range(DIM)],
        "cell int, d int, boot double")
    sums = _batch_cell_sums(init_emb, cents)
    return (
        boot.join(sums, ["cell", "d"], "left")
        .select("cell", "d",
                F.coalesce("n_add", F.lit(0)).cast("long").alias("n"),
                F.coalesce("s_add", F.lit(0.0)).alias("s"),
                "boot")
    )


def bootstrap_codebook_v0(init_emb: DataFrame, target_dir: str,
                          n_cells: int = N_CELLS_DEFAULT,
                          iters: int = 2) -> None:
    """Train the bootstrap codebook on the init slice
    (`train_ivf_centroids` — md5-ordered seeding, `iters` Lloyd rounds),
    assign the init slice under it, and write state v0: per (cell, d)
    the member count, coordinate sum, and the bootstrap centroid
    coordinate (the empty-cell fallback)."""

    def write_v0(out: str) -> None:
        _state0(init_emb, n_cells, iters) \
            .coalesce(1).write.mode("overwrite").parquet(out)

    bootstrap(os.path.join(target_dir, "state"), write_v0)


def streaming_codebook_maintain(emb_stream: DataFrame, target_dir: str,
                                checkpoint_dir: str) -> None:
    """Run the embedding stream to completion (availableNow — static test
    input), folding each micro-batch into the codebook state as COW
    versions. Assignment uses the centroids current at the batch's
    arrival; the update is pure (n, s) addition."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        def step(prev: str, out: str) -> None:
            st = batch.sparkSession.read.parquet(prev)
            cents = _centroids_from_state(st)
            if cents:
                sums = _batch_cell_sums(batch, cents)
                st = (
                    st.join(sums, ["cell", "d"], "left")
                    .select("cell", "d",
                            (F.col("n") + F.coalesce("n_add", F.lit(0)))
                            .cast("long").alias("n"),
                            (F.col("s") + F.coalesce("s_add", F.lit(0.0)))
                            .alias("s"),
                            "boot")
                )
            # an empty codebook (empty bootstrap slice) has nothing to
            # assign against: the state is carried forward unchanged
            st.coalesce(1).write.mode("overwrite").parquet(out)

        versioned_step(os.path.join(target_dir, "state"), batch_id, step)

    run_foreach_batch(emb_stream, _apply, checkpoint_dir)


def _centroids_from_state(st: DataFrame) -> list:
    """Centroids out of ANY state frame (cell, d, n, s, boot): running
    mean with bootstrap fallback — the bounded n_cells x dim collect."""
    rows = st.select(
        "cell", "d",
        F.when(F.col("n") > 0, F.col("s") / F.col("n"))
        .otherwise(F.col("boot")).alias("m"),
    ).collect()  # n_cells x dim rows: bounded model state, never corpus
    cells = {}
    for r in rows:
        cells.setdefault(int(r["cell"]), {})[int(r["d"])] = float(r["m"])
    return [[cells[c][d] for d in range(DIM)] for c in sorted(cells)]


def bootstrap_codebook_delta(init_emb: DataFrame, target_dir: str) -> None:
    """DELTA-LEDGER twin of `bootstrap_codebook_v0`: identical state-0
    arithmetic, written as ledger base `state/b0` (merge-on-read layout
    from `streaming/compaction.py`) instead of snapshot `state/v0`."""
    from .compaction import ledger_entries, write_base

    ledger = os.path.join(target_dir, "state")
    # any entry means the ledger is live — compaction may have folded
    # b0 away, so "b0 exists" is NOT the bootstrapped test
    if ledger_entries(ledger):
        return
    write_base(_state0(init_emb, N_CELLS_DEFAULT, 2).coalesce(1), ledger, 0)


def streaming_codebook_maintain_delta(emb_stream: DataFrame,
                                      target_dir: str,
                                      checkpoint_dir: str,
                                      auto_compact: int | None = None) -> None:
    """DELTA-LEDGER twin of `streaming_codebook_maintain` — the
    table-format write path for maintained state that is CORPUS-sized
    in general (here model-sized, so the semantics stay exactly
    oracle-able): each micro-batch appends ONLY the (cell, d) rows it
    changed as ledger delta `d{batch_id+1}` (O(batch) write, never a
    full-state rewrite), reads merge LWW-on-read, and
    `compaction.compact` folds base + deltas back into one base when
    read amplification warrants it. Same frozen-at-arrival semantics
    and the same final state as the COW-snapshot maintainer — the
    codebook oracle hash-checks both.

    Replay contract: batch `b` reads the ledger `as_of=b` (its own
    delta at b+1 excluded), so a foreachBatch re-run rewrites `d{b+1}`
    with identical bytes.

    `auto_compact` (an entry budget) runs `maybe_compact` after each
    append — the in-stream OPTIMIZE, so read amplification stays
    bounded DURING a long stream, not just after a manual post-stream
    fold. The cadence is the deferred-vacuum one by necessity: the fold
    fires inside a not-yet-committed foreachBatch, so the entries this
    batch's own replay would read (`as_of=b`, pre-fold) must survive —
    'defer' keeps them until the next fold, by which point the batch is
    committed (replays touch at most the LAST batch)."""
    from .compaction import maybe_compact, read_merged, write_delta

    ledger = os.path.join(target_dir, "state")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        cur = read_merged(sp, ledger, ["cell", "d"], as_of=batch_id)
        cents = _centroids_from_state(cur)
        if not cents:  # empty bootstrap: nothing to assign against;
            # write an empty delta so the ledger records the batch
            write_delta(sp.createDataFrame(
                [], "cell int, d int, n long, s double, boot double"
            ).coalesce(1), ledger, batch_id + 1)
            return
        sums = _batch_cell_sums(batch, cents)
        delta = (
            cur.join(sums, ["cell", "d"], "inner")  # touched rows only
            .select("cell", "d",
                    (F.col("n") + F.col("n_add")).cast("long").alias("n"),
                    (F.col("s") + F.col("s_add")).alias("s"),
                    "boot")
        )
        write_delta(delta.coalesce(1), ledger, batch_id + 1,
                    key_cols=["cell", "d"])
        if auto_compact is not None:
            maybe_compact(sp, ledger, ["cell", "d"],
                          max_entries=auto_compact)

    run_foreach_batch(emb_stream, _apply, checkpoint_dir)


def read_codebook_merged(spark, target_dir: str) -> DataFrame:
    """Latest maintained codebook out of the DELTA ledger — same output
    shape as `read_codebook` ((cell, d, n, m)), but the read is the
    merge-on-read path: latest base + later deltas, LWW per (cell, d).
    Identical rows before and after `compaction.compact` by
    construction."""
    from .compaction import read_merged

    st = read_merged(spark, os.path.join(target_dir, "state"),
                     ["cell", "d"])
    return st.select(
        "cell", "d", "n",
        F.when(F.col("n") > 0, F.col("s") / F.col("n"))
        .otherwise(F.col("boot")).alias("m"),
    )


def read_codebook(spark, target_dir: str) -> DataFrame:
    """The latest maintained codebook: (cell, d, n, m) — member count and
    running-mean centroid coordinate (bootstrap coordinate for cells no
    vector has joined)."""
    st = spark.read.parquet(
        latest_version_dir(os.path.join(target_dir, "state"), spark))
    return st.select(
        "cell", "d", "n",
        F.when(F.col("n") > 0, F.col("s") / F.col("n"))
        .otherwise(F.col("boot")).alias("m"),
    )
