"""Data-layout operators — clustering a table so scans can skip data.

At 100 TB the scan is the dominant cost, and parquet min/max statistics
(per row group / per file) let a filtered scan skip everything whose stats
exclude the predicate. Skipping only works if the layout CLUSTERS the
filter columns:

- one column → `repartitionByRange` + `sortWithinPartitions` on it;
- several columns queried together → a space-filling curve: map the tuple
  to one integer that preserves locality in EVERY dimension, then
  range-partition and sort by it. This is the Z-order (Morton) clustering
  the lakehouse formats expose as `OPTIMIZE ... ZORDER BY`; here it is a
  plain column expression + a range write, so it needs no table format.

`tests/test_scale_layout.py` proves the effect mechanically: after
Z-ordering, the fraction of files whose [min, max] ranges survive a
two-column point/range predicate collapses versus the natural layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def zorder_value(a: str, b: str) -> Column:
    """Morton/Z-curve value interleaving the low `bits` bits of two
    non-negative integer column expressions (SQL strings). Row-local — a
    pure expression, no shuffle; 2×`bits` output bits must fit a long."""
    bits = 16
    return F.expr(
        f"""
        aggregate(
          sequence(0, {bits - 1}), 0L,
          (acc, i) -> acc
            | shiftleft(shiftright(cast(({a}) as bigint), i) & 1L, 2 * i)
            | shiftleft(shiftright(cast(({b}) as bigint), i) & 1L, 2 * i + 1))
        """
    )


def write_zordered(df: DataFrame, out: str, a: str, b: str) -> None:
    """Cluster `df` on the Z-curve of (a, b) and write 16 parquet
    files: range-partition on the z-value (each file owns a contiguous
    curve segment → tight min/max on BOTH source columns), sort within each
    file (tight row-group stats too), then drop the helper column — the
    projection is narrow, so the clustering survives the write."""
    (
        df.withColumn("_z", zorder_value(a, b))
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite").parquet(out)
    )


def global_prefix_sum(df: DataFrame, weight_col, salt: str = "wde",
                      share_pass: bool = False) -> DataFrame:
    """Distributed EXCLUSIVE prefix sum of `weight_col` under the total
    order of a salted md5 of `doc_id` — the primitive behind global
    ranking (`export_shards`, weight 1) and token-stream packing
    (`pack_stream`, weight = token count). Scale-safe two-phase form:

      1. bucket = hash prefix (one scan);
      2. per-bucket weight totals -> driver (256 rows) ->
         exclusive bucket offsets rejoined broadcast;
      3. running sum INSIDE each bucket (window PARTITIONED BY bucket);
      4. start = bucket offset + in-bucket running sum − own weight.

    Equivalent to SUM(w) OVER (ORDER BY hash) − w because bucket order
    is the hash's own prefix order. Adds columns `start` (long,
    exclusive prefix sum) and `_w` is consumed; `weight_col` may be any
    Column expression. The driver sees only the 256 bucket rows.

    `share_pass=True` persists the keyed frame so df's upstream pipeline
    (and the weight expression) evaluates ONCE, serving both the eager
    bucket-totals collect and the final pass — otherwise both passes
    re-run it (Spark cannot reuse a plan across a collect boundary).
    Callers must pass a metadata-narrow df (project before calling): the
    cache holds every input column. Leave False when df is a bare pruned
    scan — re-reading one parquet column is cheaper than building the
    cache (measured; same trade as the curriculum staging cache)."""
    hx = F.md5(F.concat(F.lit(salt + "|"),
                        F.col("doc_id").cast("string")))
    plen = 1
    while 16 ** plen < 256:
        plen += 1
    wcol = weight_col if not isinstance(weight_col, str) \
        else F.col(weight_col)
    keyed = (
        df.withColumn("_w", wcol.cast("long"))
        .withColumn("_hx", hx)
        .withColumn("_bkt", F.substring("_hx", 1, plen))
    )
    if share_pass:
        keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    totals = keyed.groupBy("_bkt").agg(F.sum("_w").alias("_t"))
    rows = sorted((r["_bkt"], r["_t"]) for r in totals.collect())
    offs, acc = [], 0
    for b, t in rows:
        offs.append((b, acc))
        acc += t
    spark = df.sparkSession
    off_df = spark.createDataFrame(offs, "_bkt string, _off long")
    w = Window.partitionBy("_bkt").orderBy("_hx", "doc_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        keyed.join(F.broadcast(off_df), "_bkt")
        .withColumn("start",
                    (F.col("_off") + F.sum("_w").over(w) - F.col("_w"))
                    .cast("long"))
        .drop("_hx", "_bkt", "_off", "_w")
    )


def export_shards(df: DataFrame, docs_per_shard: int) -> DataFrame:
    """Deterministic GLOBAL SHUFFLE + fixed-size shard assignment — the
    last stage of a training-data pipeline (docs leave the engine as
    uniformly shuffled, reproducible shards; a model's data order must
    not follow ingest order, and re-running the export on the same
    corpus must yield byte-identical shards).

    Every row gets (global_rank, shard_id, seq_in_shard) under the total
    order of a salted md5 of its id — content-free, uniform, and
    engine-independent. The ranking is `global_prefix_sum` with weight 1
    (the scale-safe two-phase form, never a single-partition window):
    rank = exclusive prefix count + 1."""
    assert docs_per_shard > 0
    ranked = global_prefix_sum(df, F.lit(1), "wde") \
        .withColumn("global_rank", (F.col("start") + 1).cast("long")) \
        .drop("start")
    return (
        ranked.withColumn(
            "shard_id",
            ((F.col("global_rank") - 1) / docs_per_shard)
            .cast("long"))
        .withColumn(
            "seq_in_shard",
            ((F.col("global_rank") - 1) % docs_per_shard).cast("long"))
    )


def rendezvous_shard(id_col, n_shards: int):
    """Highest-random-weight (rendezvous) shard assignment as a pure
    Column: shard = argmax over s in [0, n_shards) of
    md5('hrw'|id|s). Stateless routing with the HRW minimal-movement
    guarantee — growing to n+1 shards moves exactly the keys whose new
    top scorer is the added shard (an expected 1/(n+1) fraction), and
    nothing moves between surviving shards. At 100 TB that is the
    property that lets a shard map grow without a corpus reshuffle.

    Implementation: argmax via lexicographic max over (md5 || shard-id)
    strings — fixed-width digests make the concat compare equal to the
    (digest, shard) tuple compare, identically in any engine, so the
    assignment is oracle-exact. Row-local, zero shuffle; plan size grows
    with n_shards (one md5 per shard), so this is for shard-map-sized n
    (2..~64), not hash-partitioning replacements."""
    assert 2 <= n_shards <= 64
    scores = [
        F.concat(
            F.md5(F.concat(F.lit("hrw|"), F.col(id_col).cast("string"),
                           F.lit(f"|{s}"))),
            F.lit(f"{s:02d}"))
        for s in range(n_shards)
    ]
    return F.substring(F.array_max(F.array(*scores)), 33, 2).cast("int")


def pack_stream(docs: DataFrame, seq_len: int) -> DataFrame:
    """Concat-and-chunk sequence packing — THE pre-training batch layout
    (GPT-2/3 style): all documents concatenate into one deterministic
    token stream (salted-hash order, engine/cluster-size independent)
    that is cut into fixed `seq_len` context windows; documents SPAN
    window boundaries instead of wasting tail padding. Returns one row
    per (window, document) overlap: (seq_id, id, start_in_seq,
    n_tokens) — exactly which slice of which doc fills which positions
    of which training sequence, the manifest a tokenizing exporter
    executes.

    Relational end-to-end: `global_prefix_sum` places each doc at its
    stream offset (two-phase, no single-partition window; `share_pass`
    caches the (id, n_tok) frame — ~16 bytes/row — so the caller's
    tokenize/count pipeline runs once, not once per phase), the
    window-overlap explode emits ceil(w/seq_len)+1 rows per doc, and
    every output column is integer arithmetic — reproducible, and
    verifiable against a naive SQL running sum. Zero-token docs carry no
    stream mass and are dropped (no position to assign)."""
    assert seq_len > 0
    ps = global_prefix_sum(docs, "n_tok", "pack", share_pass=True)
    e = (
        ps.filter(F.col("n_tok") > 0)
        .withColumn("_end", F.col("start") + F.col("n_tok"))
        .withColumn("_w0", F.floor(F.col("start") / seq_len).cast("long"))
        .withColumn("_w1",
                    F.floor((F.col("_end") - 1) / seq_len).cast("long"))
    )
    seq = F.explode(F.sequence(F.col("_w0"), F.col("_w1"))).alias("seq_id")
    lo = F.greatest(F.col("start"), F.col("seq_id") * seq_len)
    hi = F.least(F.col("_end"), (F.col("seq_id") + 1) * seq_len)
    return (
        e.select(F.col("doc_id"), "start", "_end", seq)
        .select(
            F.col("seq_id").cast("long"),
            F.col("doc_id"),
            (lo - F.col("seq_id") * seq_len).cast("long")
            .alias("start_in_seq"),
            (hi - lo).cast("long").alias("n_tokens"),
        )
    )


def shard_manifest_increment(n_so_far: int, batch: DataFrame,
                             docs_per_shard: int) -> DataFrame:
    """APPEND-ONLY shard assignment for a new batch: rows rank
    deterministically WITHIN the batch (the same salted-hash two-phase
    ranking as `export_shards`) and take global ranks after the
    `n_so_far` rows already exported — the last partial shard fills
    first, then new shards open. `n_so_far` is ledger metadata (one
    count), never a scan of prior manifests.

    Semantics contract (pinned in tests): composing increments over
    batches B1..Bn equals ranking each batch independently and
    concatenating — ARRIVAL-ORDER sharding. This is deliberately NOT
    `export_shards` over the union (corpus-wide hash order): an
    append-only stream cannot re-rank history, and shards already
    shipped to trainers must never be rewritten. Re-sharding the world
    is the batch operator's job."""
    assert n_so_far >= 0
    shifted = export_shards(batch, docs_per_shard) \
        .withColumn("global_rank",
                    (F.col("global_rank") + n_so_far).cast("long"))
    return (
        shifted.withColumn(
            "shard_id",
            ((F.col("global_rank") - 1) / docs_per_shard).cast("long"))
        .withColumn(
            "seq_in_shard",
            ((F.col("global_rank") - 1) % docs_per_shard).cast("long"))
    )


def ffd_pack(docs: DataFrame, seq_len: int, weight_col: str = "n_tok",
             id_col: str = "doc_id", salt: str = "ffd",
             n_buckets: int = 8) -> DataFrame:
    """First-fit-decreasing BIN PACKING of whole documents into fixed
    `seq_len` bins — the quality upgrade over `pack_stream`'s
    concat-and-chunk: documents are never split across sequences (no
    attention-mask bleed between unrelated texts), at the cost of tail
    waste that FFD provably bounds at 11/9·OPT + 6/9 bins (Dósa 2007).

    Deterministic partition-local formulation so the fold stays
    oracle-able: each doc lands in a salted-md5 hash bucket (the engine's
    parity kernel), and FFD runs INDEPENDENTLY inside each bucket over its
    docs sorted by (weight desc, id asc) — a sequential fold per bucket,
    embarrassingly parallel across buckets, with a bit-identical DuckDB
    recursive-CTE replay. Output: one row per doc — (id, bucket, weight,
    bin_id) with bin_id 1-based within its bucket. Zero-weight docs carry
    no mass and are dropped (nothing to pack). A doc longer than seq_len
    opens its own (overfull) bin — first-fit never places anything after
    it there, matching classic FFD's handling of oversized items.

    At 100 TB: the fold is a grouped Arrow kernel (`applyInPandas`), one
    shuffle on the bucket key; raise `n_buckets` so each bucket's doc list
    fits one executor (the in-bucket scan is O(docs·bins) — bound bucket
    size, not corpus size). Bin NUMBERING is bucket-local by design:
    global bin ids would serialize the fold; a (bucket, bin_id) pair is
    already a stable sequence key for the exporter."""
    import pandas as pd

    assert seq_len > 0 and n_buckets > 0
    hx = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "|"),
                           F.col(id_col).cast("string"))), 1, 8),
        16, 10).cast("bigint") % n_buckets
    keyed = (
        docs.select(F.col(id_col),
                    F.col(weight_col).cast("long").alias("_w"))
        .filter(F.col("_w") > 0)
        .withColumn("bucket", hx)
    )

    out_schema = (f"{id_col} long, bucket long, "
                  f"{weight_col} long, bin_id long")

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["_w", id_col], ascending=[False, True], kind="mergesort")
        fills: list[int] = []
        bins: list[int] = []
        for w in pdf["_w"].tolist():
            pos = next((i for i, f in enumerate(fills)
                        if f + w <= seq_len), None)
            if pos is None:
                fills.append(w)
                bins.append(len(fills))
            else:
                fills[pos] += w
                bins.append(pos + 1)
        return pd.DataFrame({
            id_col: pdf[id_col].to_numpy(),
            "bucket": pdf["bucket"].to_numpy(),
            weight_col: pdf["_w"].to_numpy(),
            "bin_id": bins,
        })

    return keyed.groupBy("bucket").applyInPandas(_fold, out_schema)
