"""Scale-layout evidence: partitioned sinks prune at the source, and the
approximate aggregates (the 100 TB path where exact percentile/distinct
state would not fit) stay within their error bounds vs the exact answers.

These are the layout/aggregation choices a 100 TB deployment leans on:
- `partitionBy` on a low-cardinality column → queries filtering on it read
  only matching directories (PartitionFilters, not just PushedFilters).
- `approx_count_distinct` (HyperLogLog++) and `approx_percentile`
  (t-digest-style) are mergeable sketches: map-side partials, O(1) state
  per group vs O(n) for exact — the only viable form when a group's
  distinct set or value list exceeds executor memory.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_CORRECT

from wde_spark.core.catalog import load_table


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    docs = load_table(spark, SF_CORRECT, "documents")
    out = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").mode("overwrite").parquet(out)

    back = spark.read.parquet(out).filter(F.col("lang") == "fr")
    plan = back._jdf.queryExecution().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "PartitionFilters" in scan and "lang" in scan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0]

    # the pruned read returns exactly the fr rows, nothing else
    n_fr = back.count()
    n_all = spark.read.parquet(out).count()
    exact = docs.filter(F.col("lang") == "fr").count()
    assert n_fr == exact and n_all > n_fr


def test_approx_count_distinct_within_bound(spark):
    o = load_table(spark, SF_CORRECT, "orders")
    rows = (
        o.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
            F.countDistinct("o_custkey").alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) / r.exact < 0.06, r


def test_approx_percentile_within_bound(spark):
    o = load_table(spark, SF_CORRECT, "orders")
    row = o.agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact < 0.01


def test_zorder_clustering_enables_file_skipping(spark, tmp_path):
    """Z-ordering orders on (o_custkey, order day) must let a two-column
    predicate skip most files by min/max stats, where the natural layout
    (clustered by o_orderkey only) cannot skip on either column. Counted
    mechanically from the parquet footers via pyarrow."""
    import glob

    import pyarrow.parquet as pq

    from wde_spark.operators.layout import write_zordered

    o = load_table(spark, SF_CORRECT, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.datediff("o_orderdate", F.lit("1992-01-01")).alias("o_day"),
    )
    nat, zord = str(tmp_path / "nat"), str(tmp_path / "zord")
    o.repartitionByRange(16, "o_orderkey").write.mode("overwrite").parquet(nat)
    write_zordered(o, zord, "o_custkey", "o_day")

    # a two-column range predicate: one customer band, one date band
    ck_lo, ck_hi, day_lo, day_hi = 100, 200, 1000, 1100

    def files_surviving(path):
        n_total, n_match = 0, 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {md.row_group(0).column(i).path_in_schema: i
                    for i in range(md.num_columns)}
            ck = [(md.row_group(g).column(cols["o_custkey"]).statistics.min,
                   md.row_group(g).column(cols["o_custkey"]).statistics.max)
                  for g in range(md.num_row_groups)]
            dy = [(md.row_group(g).column(cols["o_day"]).statistics.min,
                   md.row_group(g).column(cols["o_day"]).statistics.max)
                  for g in range(md.num_row_groups)]
            n_total += 1
            if any(c[0] <= ck_hi and c[1] >= ck_lo and
                   d[0] <= day_hi and d[1] >= day_lo
                   for c, d in zip(ck, dy)):
                n_match += 1
        return n_total, n_match

    nat_total, nat_match = files_surviving(nat)
    z_total, z_match = files_surviving(zord)
    assert nat_total >= 8 and z_total >= 8
    # natural layout clusters by o_orderkey: the date half-prunes (keys
    # correlate with time) but custkey is unclustered, so most files survive
    assert nat_match >= nat_total // 2, (nat_match, nat_total)
    # z-order: the predicate touches a small corner of the curve — strictly
    # better than natural, and at most half the files survive
    assert z_match < nat_match and z_match <= z_total // 2, (
        z_match, z_total, nat_match)

    # correctness: the clustered copy still answers the query identically
    got = (spark.read.parquet(zord)
           .filter((F.col("o_custkey").between(ck_lo, ck_hi))
                   & (F.col("o_day").between(day_lo, day_hi))).count())
    exact = o.filter((F.col("o_custkey").between(ck_lo, ck_hi))
                     & (F.col("o_day").between(day_lo, day_hi))).count()
    assert got == exact


def test_export_shards_total_order_and_shapes(spark):
    """export_shards: ranks are a permutation of 1..n, shard sizes are
    exactly docs_per_shard except the last, seq_in_shard is 0-based
    within shard, and the assignment is reproducible across calls and
    partitionings."""
    from pyspark.sql import functions as F

    from wde_spark.operators.layout import export_shards

    n, per = 1000, 64
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    out = export_shards(df, per).collect()
    ranks = sorted(r.global_rank for r in out)
    assert ranks == list(range(1, n + 1))
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard_id, []).append(r.seq_in_shard)
        assert r.shard_id == (r.global_rank - 1) // per
    for sid, seqs in by_shard.items():
        want = per if sid < (n - 1) // per else n - per * ((n - 1) // per)
        assert sorted(seqs) == list(range(want))
    # reproducible under a different input partitioning
    out2 = export_shards(df.repartition(7), per).collect()
    assert {(r.doc_id, r.global_rank) for r in out2} == \
           {(r.doc_id, r.global_rank) for r in out}


def test_streaming_shard_manifest(spark, tmp_path):
    """streaming export manifest: arrival-order sharding — the final
    ledger is a contiguous rank permutation whose per-batch segments
    each equal the batch's own deterministic hash ranking shifted by
    the running total; shards fill across batch edges; replay rewrites
    identical ledgers."""
    import os

    from pyspark.sql import functions as F

    from wde_spark.operators.layout import (export_shards,
                                            shard_manifest_increment)
    from wde_spark.streaming.export_admission import (
        read_manifest, streaming_shard_manifest)

    per = 16
    init = spark.range(0, 37).select(F.col("id").alias("doc_id"))
    b1 = spark.range(100, 121).select(F.col("id").alias("doc_id"))
    b2 = spark.range(200, 211).select(F.col("id").alias("doc_id"))

    src = tmp_path / "docs"
    for i, df in enumerate((b1, b2)):
        df.coalesce(1).write.mode("overwrite") \
            .parquet(str(src / f"f{i}.parquet"))
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*.parquet"))
    )
    target, ckpt = str(tmp_path / "exp"), str(tmp_path / "ckpt")
    streaming_shard_manifest(stream, init, target, ckpt, per)

    got = {r.doc_id: (r.global_rank, r.shard_id, r.seq_in_shard)
           for r in read_manifest(spark, target).collect()}
    # want: init ranks 1..37, b1 ranks 38..58, b2 ranks 59..69 — each
    # segment in its own salted-hash order (the increment composition)
    want = {}
    for off, df in ((0, init), (37, b1), (58, b2)):
        seg = (export_shards(df, per) if off == 0
               else shard_manifest_increment(off, df, per))
        for r in seg.collect():
            want[r.doc_id] = (r.global_rank, r.shard_id, r.seq_in_shard)
    assert got == want
    ranks = sorted(v[0] for v in got.values())
    assert ranks == list(range(1, 70))          # contiguous permutation
    for doc, (g, s, q) in got.items():
        assert s == (g - 1) // per and q == (g - 1) % per
    # shard 2 (ranks 33..48) spans the init/b1 boundary
    owners = {v[0]: k for k, v in got.items()}
    assert any(owners[r] < 100 for r in range(33, 38))
    assert any(owners[r] >= 100 for r in range(38, 49))

    # replay: identical ledgers
    before = sorted(os.listdir(os.path.join(target, "manifest")))
    streaming_shard_manifest(stream, init, target, ckpt, per)
    assert sorted(os.listdir(os.path.join(target, "manifest"))) == before
    got2 = {r.doc_id: (r.global_rank, r.shard_id, r.seq_in_shard)
            for r in read_manifest(spark, target).collect()}
    assert got2 == got


def test_pack_stream_conservation_and_density(spark):
    """pack_stream: token mass is conserved per doc, every training
    sequence except the last is exactly full (zero padding waste),
    in-sequence offsets tile each window without gaps, and the layout is
    reproducible across input partitionings."""

    from wde_spark.operators.layout import pack_stream

    rows = [(i, (i * 37) % 90 + (1 if i % 7 else 0)) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, n_tok long")
    C = 64
    out = pack_stream(docs, seq_len=C).collect()

    per_doc = {}
    per_seq = {}
    for r in out:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.n_tokens
        per_seq.setdefault(r.seq_id, []).append((r.start_in_seq, r.n_tokens))
        assert 0 <= r.start_in_seq < C and 1 <= r.n_tokens <= C
    want = {i: n for i, n in rows if n > 0}
    assert per_doc == want                       # conservation
    total = sum(want.values())
    last = max(per_seq)
    assert set(per_seq) == set(range(last + 1))  # contiguous sequences
    for sid, pieces in per_seq.items():
        pieces.sort()
        filled = sum(n for _, n in pieces)
        assert filled == (C if sid < last else total - C * last)
        pos = 0
        for st, n in pieces:                     # gapless tiling
            assert st == pos
            pos += n
    out2 = pack_stream(docs.repartition(7), seq_len=C).collect()
    assert {tuple(r) for r in out2} == {tuple(r) for r in out}


def test_global_prefix_sum_share_pass_identical_and_cached(spark):
    """`share_pass=True` must be a pure execution-plan change: identical
    (id, start) assignment to the unshared form, and the final pass must
    read the persisted keyed frame (InMemoryTableScan) instead of
    re-running the input pipeline — the r12 fix for the weight
    expression evaluating once per phase."""
    from wde_spark.operators.layout import global_prefix_sum

    rows = [(i, (i * 13) % 40 + 1) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, n_tok long")
    plain = global_prefix_sum(docs, "n_tok")
    shared = global_prefix_sum(docs, "n_tok", share_pass=True)
    try:
        assert sorted(map(tuple, plain.collect())) \
            == sorted(map(tuple, shared.collect()))
        final_plan = shared._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in final_plan
    finally:
        spark.catalog.clearCache()


def test_rendezvous_shard_minimal_movement(spark):
    """HRW property: growing 8 -> 9 shards moves keys ONLY to the new
    shard, and roughly 1/9 of them; survivors keep their assignment."""

    from wde_spark.operators.layout import rendezvous_shard

    ids = spark.range(3000).withColumnRenamed("id", "doc_id")
    a = ids.select(
        "doc_id",
        rendezvous_shard("doc_id", 8).alias("s8"),
        rendezvous_shard("doc_id", 9).alias("s9")).collect()
    moved = [r for r in a if r["s8"] != r["s9"]]
    assert all(r["s9"] == 8 for r in moved)           # only to the new
    assert 3000 / 9 * 0.5 < len(moved) < 3000 / 9 * 1.7
    from collections import Counter
    c8 = Counter(r["s8"] for r in a)
    assert set(c8) == set(range(8))                   # all shards used
    assert max(c8.values()) < 2.0 * min(c8.values())  # balanced-ish


def test_curriculum_order_interleaves_stages(spark):
    """Exact NTILE staging, disjoint schedule positions, round-robin
    interleave: consecutive schedule rounds draw one doc per stage."""
    from pyspark.sql import functions as F

    from wde_spark.operators.sampling import curriculum_order

    docs = spark.createDataFrame(
        [(i, "x" * (i % 37)) for i in range(90)],
        "doc_id long, text string")
    out = curriculum_order(
        docs, F.coalesce(F.octet_length("text"), F.lit(-1))).collect()
    assert len(out) == 90
    by_stage = {}
    pos = set()
    for r in out:
        by_stage.setdefault(r["stage"], []).append(r)
        assert r["sched_pos"] not in pos
        pos.add(r["sched_pos"])
    assert {len(v) for v in by_stage.values()} == {30}  # exact terciles
    # every stage-s position is congruent to s-1 mod 3 (round-robin)
    for s, rows in by_stage.items():
        assert all(r["sched_pos"] % 3 == s - 1 for r in rows)
    # stages are ordered by difficulty: max len in stage 1 <= min in 3
    ln = {r["doc_id"]: (r["doc_id"] % 37) for r in out}
    s_max1 = max(ln[r["doc_id"]] for r in by_stage[1])
    s_min3 = min(ln[r["doc_id"]] for r in by_stage[3])
    assert s_max1 <= s_min3


def test_curriculum_order_empty_input(spark):
    from pyspark.sql import functions as F

    from wde_spark.operators.sampling import curriculum_order

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert curriculum_order(
        docs, F.coalesce(F.octet_length("text"), F.lit(-1))).count() == 0


def test_curriculum_order_rejects_fractional_difficulty(spark):
    """A float score in (0,1) would truncate to 0 under the long cast
    and silently collapse the stages — must fail loudly instead."""
    from pyspark.sql import functions as F

    from wde_spark.operators.sampling import curriculum_order

    docs = spark.createDataFrame(
        [(i, i / 100.0) for i in range(10)], "doc_id long, score double")
    with pytest.raises(TypeError, match="integral difficulty"):
        curriculum_order(docs, F.col("score"))


def test_curriculum_order_caps_difficulty_domain(spark):
    """The per-value offset table collects to the driver — an unbounded
    domain must raise with coarsening guidance, not OOM the driver."""
    from pyspark.sql import functions as F

    from wde_spark.operators.sampling import curriculum_order

    docs = spark.range(300).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="coarsen"):
        curriculum_order(docs, F.col("doc_id"), max_domain=100)
    # and the documented fix — bucketing — makes the same input legal
    out = curriculum_order(
        docs, F.floor(F.col("doc_id") / 8), max_domain=100)
    assert out.count() == 300


def test_curriculum_pacing_phases_and_budgets(spark):
    """Stage-quota admission: phases fill in the in-stage salted order,
    inclusive cumulative sums respect each phase boundary, and the tail
    beyond the stage's total budget drops."""
    from wde_spark.operators.sampling import curriculum_pacing

    docs = spark.createDataFrame(
        [(i, "w " * (i % 23 + 1)) for i in range(120)],
        "doc_id long, text string")
    quotas = [[60, 40, 30], [50, 60, 40], [40, 50, 70]]
    out = curriculum_pacing(
        docs, F.floor(F.octet_length("text") / 8),
        F.size(F.split(F.trim(F.col("text")), r"\s+")),
        quotas).collect()
    assert out, "pacing admitted nothing"
    by_stage = {}
    for r in out:
        by_stage.setdefault(r["stage"], []).append(r)
    assert set(by_stage) == {1, 2, 3}
    for s, rows in by_stage.items():
        rows = sorted(rows, key=lambda r: r["cum_tok"])
        bounds = [sum(quotas[s - 1][:p + 1]) for p in range(3)]
        # running sums are consistent and within the total budget
        acc = 0
        for r in rows:
            acc += r["n_tok"]
            assert r["cum_tok"] == acc
            assert r["cum_tok"] <= bounds[-1]
            want = next(p + 1 for p in range(3)
                        if r["cum_tok"] <= bounds[p])
            assert r["phase"] == want
        # phases are contiguous in the admission order
        phases = [r["phase"] for r in rows]
        assert phases == sorted(phases)


def test_curriculum_order_approx_matches_exact_away_from_boundaries(spark):
    """The sketch-staged form agrees with exact NTILE staging for all
    but a boundary-sized sliver, stages are near-terciles, and the
    schedule contract (disjoint positions, round-robin congruence)
    holds exactly."""
    from wde_spark.operators.sampling import (curriculum_order,
                                              curriculum_order_approx)

    docs = spark.createDataFrame(
        [(i, "x" * (i * 17 % 997)) for i in range(900)],
        "doc_id long, text string")
    diff = F.coalesce(F.floor(F.octet_length("text") / 8), F.lit(-1))
    exact = {r["doc_id"]: r["stage"]
             for r in curriculum_order(docs, diff).collect()}
    approx = curriculum_order_approx(docs, diff).collect()
    # stages near-terciles (within 10% of n/3)
    from collections import Counter
    sizes = Counter(r["stage"] for r in approx)
    assert set(sizes) == {1, 2, 3}
    assert all(abs(c - 300) <= 30 for c in sizes.values()), sizes
    # ≥95% agreement with exact staging (disagreements hug boundaries)
    agree = sum(1 for r in approx if exact[r["doc_id"]] == r["stage"])
    assert agree >= 0.95 * 900, agree
    # schedule contract exact regardless of staging
    pos = set()
    for r in approx:
        assert r["sched_pos"] not in pos
        pos.add(r["sched_pos"])
        assert r["sched_pos"] % 3 == r["stage"] - 1


def test_curriculum_order_approx_empty_and_all_null(spark):
    """ADVICE r10: percentile_approx yields NULL cuts on an empty frame
    or all-NULL difficulty — the approx form must degrade like the
    exact one (empty result / NULLs-last hardest stage) instead of
    raising TypeError on float(None)."""
    from wde_spark.operators.sampling import curriculum_order_approx

    empty = spark.createDataFrame([], "doc_id long, score long")
    out = curriculum_order_approx(empty, F.col("score"))
    assert {"stage", "sched_pos"} <= set(out.columns)
    assert out.count() == 0
    nulls = spark.createDataFrame(
        [(i, None) for i in range(7)], "doc_id long, score long")
    rows = curriculum_order_approx(nulls, F.col("score")).collect()
    assert len(rows) == 7
    assert all(r["stage"] == 3 for r in rows)
    assert sorted(r["sched_pos"] for r in rows) == [
        i * 3 + 2 for i in range(7)]
