"""Streaming maintained k-means codebook — mini-batch centroid updates
on a merge-on-read delta ledger, the admission-family treatment for the
clustering / ANN model itself.

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
into the state, and appends ONLY the (cell, d) rows it changed as the
next ledger delta.

Exactly-replayable semantics: a vector's assignment is FROZEN at its
arrival batch (mini-batch k-means never re-assigns history — that is
the batch operator's job), and the update algebra is pure addition over
(n, s), so the final codebook is a deterministic function of (init
slice, batch partition, arrival order). The DuckDB oracle replays it
bit-for-bit out of the same building blocks the IVF family uses: seed →
2 Lloyd rounds on the init slice → per-batch assign-under-current +
cumulative-sum centroid refresh.

The state is a delta ledger (`streaming/compaction.py`) under
`state/`: batch `b` reads it `as_of=b` and appends `d{b+1}`, and a batch
whose delta has landed replays as a no-op.

At 100 TB: state is n_cells × dim rows (16 × 64 = 1024 — model-sized,
never corpus-sized); per batch ONE argmin pass over the batch plus a
1024-row merge and an O(touched rows) delta append; the corpus is never
re-read. The bounded state collect (centroids into the probe kernel) is
the k-means collect pattern the plan-hygiene audit adjudicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import (_as_double, _normalize,
                                    _probe_cells_udf,
                                    train_ivf_centroids)
from .compaction import (ledger_step, maybe_compact, read_merged,
                         write_base, write_delta)
from .versions import run_foreach_batch

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


def _state0(init_emb: DataFrame) -> DataFrame:
    """State 0 on the init slice: per (cell, d) the member count,
    coordinate sum, and bootstrap centroid coordinate (16 cells, 2
    Lloyd rounds: `train_ivf_centroids`' defaults)."""
    spark = init_emb.sparkSession
    cents = train_ivf_centroids(init_emb)
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


def bootstrap_codebook(init_emb: DataFrame, target_dir: str) -> None:
    """Train the bootstrap codebook on the init slice
    (`train_ivf_centroids` — md5-ordered seeding, 2 Lloyd rounds),
    assign the init slice under it, and write state base `state/b0`:
    per (cell, d) the member count, coordinate sum, and the bootstrap
    centroid coordinate (the empty-cell fallback). A ledger with any
    entry is live (compaction may have folded b0 away) and is left
    alone; a crash before the commit leaves no entry, and the next start
    redoes the bootstrap."""
    ledger = os.path.join(target_dir, "state")
    ledger_step([ledger], -1, lambda: write_base(
        _state0(init_emb).coalesce(1), ledger, 0))


def streaming_codebook_maintain(emb_stream: DataFrame, target_dir: str,
                                checkpoint_dir: str,
                                auto_compact: int | None = None) -> None:
    """Run the embedding stream to completion (availableNow — static test
    input), folding each micro-batch into the codebook state: each
    micro-batch appends ONLY the (cell, d) rows it changed as ledger
    delta `d{batch_id+1}` (O(batch) write, never a full-state rewrite),
    reads merge LWW-on-read, and `compaction.compact` folds base +
    deltas back into one base when read amplification warrants it.
    Assignment uses the centroids current at the batch's arrival; the
    update is pure (n, s) addition.

    Replay contract (`compaction.ledger_step`): batch `b` reads the
    ledger `as_of=b` (its own delta at b+1 excluded); a batch whose
    delta has landed runs nothing.

    `auto_compact` (an entry budget) runs `maybe_compact` after each
    append — the in-stream OPTIMIZE, so read amplification stays
    bounded DURING a long stream, not just after a manual post-stream
    fold. The cadence is the deferred-vacuum one by necessity: the fold
    fires inside a not-yet-committed foreachBatch, so the entries this
    batch's own replay would read (`as_of=b`, pre-fold) must survive —
    'defer' keeps them until the next fold, by which point the batch is
    committed (replays touch at most the LAST batch)."""
    ledger = os.path.join(target_dir, "state")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        def step() -> None:
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
                        (F.col("n") + F.col("n_add")).cast("long")
                        .alias("n"),
                        (F.col("s") + F.col("s_add")).alias("s"),
                        "boot")
            )
            write_delta(delta.coalesce(1), ledger, batch_id + 1,
                        key_cols=["cell", "d"])
            if auto_compact is not None:
                maybe_compact(sp, ledger, ["cell", "d"],
                              max_entries=auto_compact)

        ledger_step([ledger], batch_id, step)

    run_foreach_batch(emb_stream, _apply, checkpoint_dir)


def read_codebook(spark, target_dir: str) -> DataFrame:
    """The latest maintained codebook: (cell, d, n, m) — member count and
    running-mean centroid coordinate (bootstrap coordinate for cells no
    vector has joined), read merge-on-read: latest base + later deltas,
    LWW per (cell, d). Identical rows before and after
    `compaction.compact` by construction."""
    st = read_merged(spark, os.path.join(target_dir, "state"),
                     ["cell", "d"])
    return st.select(
        "cell", "d", "n",
        F.when(F.col("n") > 0, F.col("s") / F.col("n"))
        .otherwise(F.col("boot")).alias("m"),
    )
