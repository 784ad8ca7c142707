"""Deterministic curriculum ordering of a corpus.

Three operators the inline registry samplers (stratified / mixture /
train-val split in `queries_ext.py`) don't cover:

- `curriculum_order`: stage every document by difficulty (exact NTILE
  over a bounded-domain two-phase global rank), then a salted,
  reproducible schedule inside each stage.
- `curriculum_pacing`: the same staging with a running per-stage token
  sum, so a trainer can admit each stage by token quota.
- `curriculum_order_approx`: the 100 TB staging path — stage cuts from
  one `percentile_approx` agg, with the exact form as its oracle.

Reference scope note: the reference pipeline (katabase/3_WikidataEnrichment)
has no sampling stage — these extend the engine's training-data surface
per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Curriculum stages every registry schedule uses.
_N_STAGES = 3


def _staged(docs: DataFrame, difficulty_col, n_stages: int, max_domain: int,
            keep_cols: tuple = ()) -> DataFrame | None:
    """Shared STAGING core of `curriculum_order` / `curriculum_pacing`
    (phases 1-2): the bounded-domain two-phase global (difficulty, id)
    rank followed by NTILE arithmetic. Returns a frame with
    (id, *keep_cols, stage) — or None for an empty input (callers map
    that to their own empty shape).

    Optimization (r12, guide §2.3/§5): the input is PROJECTED to
    (id, _dnull, _diff, *keep_cols) BEFORE anything runs, so no exchange
    ever carries the text payload (previously the full text column
    flowed through the staging window's exchange, and any token-count
    keep_col was re-tokenized per pass). The phase-1 offsets collect
    prunes keep_cols entirely (count-only), so an expensive keep_col is
    first evaluated when the caller materializes the returned frame —
    the public callers persist it, sharing one evaluation of the
    projection AND the phase-1 rank window across their second eager
    collect and the final execution."""
    spark = docs.sparkSession
    # The difficulty domain must be INTEGRAL: a float score in (0, 1)
    # — the common shape for model-scored difficulty — would truncate
    # to 0 under the long cast and silently collapse every stage into
    # tie-broken-by-id order. Fail loudly; the caller bucketizes
    # (e.g. floor(score * 1000)) and thereby also bounds the domain.
    dtype = docs.select(difficulty_col.alias("_d")).schema[0].dataType
    if dtype.typeName() in ("float", "double") or (
            dtype.typeName() == "decimal" and dtype.scale > 0):
        raise TypeError(
            f"curriculum_order needs an integral difficulty column, got "
            f"{dtype.simpleString()}: a fractional score would truncate "
            f"under the long cast — bucketize first, e.g. "
            f"floor(score * 1000).cast('long')"
        )
    # NULL difficulty sorts LAST (unknown = hardest), tracked by an
    # explicit flag so the offsets sort and the rejoin are both
    # null-safe — a NULL must neither crash the driver sort nor
    # silently drop the row
    dn = difficulty_col.cast("long")
    d = docs.select(
        F.col("doc_id"),
        dn.isNull().cast("int").alias("_dnull"),
        F.coalesce(dn, F.lit(0)).alias("_diff"),
        *[c if not isinstance(c, str) else F.col(c) for c in keep_cols],
    )
    # phase 1: exclusive offsets per difficulty value (bounded domain);
    # the same collect yields n_total — no separate count job. The
    # domain is capped: an unbounded domain (raw byte lengths over a
    # 100 TB corpus, say) must fail loudly here with coarsening
    # guidance. A plain collect + post-check beats .limit(cap+1): the
    # CollectLimit path costs an extra ~0.3 s per call (measured) on
    # every legitimate invocation, while the check differs only in the
    # pathological first-encounter case the error exists to teach.
    totals_rows = (d.groupBy("_dnull", "_diff")
                   .agg(F.count("*").alias("cnt")).collect())
    if len(totals_rows) > max_domain:
        raise ValueError(
            f"difficulty domain exceeds max_domain={max_domain} distinct "
            f"values — the per-value offset table would not fit the "
            f"driver; coarsen the difficulty column first (e.g. 64-byte "
            f"length buckets: floor(octet_length(text) / 64))"
        )
    totals = sorted((r["_dnull"], r["_diff"], r["cnt"])
                    for r in totals_rows)
    n_total = sum(c for _n, _v, c in totals)
    if n_total == 0:
        return None
    offs, acc = [], 0
    for nn, v, c in totals:
        offs.append((nn, v, acc))
        acc += c
    off_df = spark.createDataFrame(
        offs, "_dnull int, _diff long, _off long")
    w = (Window.partitionBy("_dnull", "_diff").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = (
        d.join(F.broadcast(off_df), ["_dnull", "_diff"])
        .withColumn("_rank", (F.col("_off") + F.count("*").over(w))
                    .cast("long"))
        .drop("_off")
    )
    # phase 2: NTILE arithmetic — first `rem` stages get q+1 rows
    q, rem = divmod(n_total, n_stages)
    big = rem * (q + 1)
    stage = F.when(
        F.col("_rank") <= big,
        F.ceil(F.col("_rank") / F.lit(q + 1))
    ).otherwise(
        F.lit(rem) + F.ceil((F.col("_rank") - big) / F.lit(max(q, 1))))
    return (ranked.withColumn("stage", stage.cast("int"))
            .drop("_rank", "_dnull", "_diff"))


def curriculum_order(docs: DataFrame, difficulty_col,
                     max_domain: int = 200_000,
                     keep_cols: tuple | None = None) -> DataFrame:
    """Curriculum schedule: split the corpus into `_N_STAGES` (3)
    difficulty stages (exact NTILE terciles under (difficulty, id) order),
    shuffle WITHIN each stage (salted md5), and interleave the stages
    round-robin — training round r sees one doc from every stage, easy to
    hard, so the model never starves of either. Output adds `stage`
    (1-based) and `sched_pos` (the deterministic total order: (in-stage
    rank − 1) · 3 + stage − 1).

    `keep_cols` — which non-id input columns survive into the output
    (default None = all of them, the historical contract). Callers that
    only consume (id, stage, sched_pos) pass `()` so the persisted
    staging projection stays metadata-narrow and wide payload columns
    (document text!) never enter the staging cache or any exchange.

    Scale shape — NO global window anywhere:
      * the global (difficulty, id) rank is two-phase: per-difficulty
        counts to the driver (bounded by the difficulty domain; coarsen
        the column first if it is unbounded) → exclusive offsets
        broadcast back → window partitioned BY difficulty value;
      * NTILE is then pure arithmetic on that rank (group sizes
        ceil/floor of n/n_stages, exactly SQL NTILE's split);
      * the in-stage shuffle rank is the same two-phase primitive in
        ONE job for all stages, keyed by (stage, md5-prefix bucket);
      * the staging input is projected narrow up front (no payload
        column ever enters an exchange); `persist_staging=True` shares
        one evaluation of an expensive projection across the eager
        collects and the final execution (r12, guide §1.2/§2.3).
    """

    spark = docs.sparkSession
    if keep_cols is None:
        keep_cols = tuple(c for c in docs.columns if c != "doc_id")
    staged = _staged(docs, difficulty_col, _N_STAGES, max_domain,
                     keep_cols=keep_cols)
    if staged is not None:
        # one evaluation of (scan -> phase-1 rank -> stage) serves both
        # the phase-3 offsets collect and the final execution (r12)
        from pyspark import StorageLevel
        staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
    if staged is None:  # empty input — historical empty shape
        return (docs.select("doc_id", *keep_cols)
                .withColumn("stage", F.lit(0))
                .withColumn("sched_pos", F.lit(0).cast("long")))
    # phase 3: shuffle within each stage, interleave round-robin — ONE
    # job for all stages: the prefix-sum buckets are (stage, md5 prefix),
    # so the per-bucket totals collect is n_stages·256 rows and the only
    # window partitions by (stage, bucket)
    hx = F.md5(F.concat(F.lit("cur"), F.col("stage").cast("string"),
                        F.lit("|"), F.col("doc_id").cast("string")))
    keyed = (staged.withColumn("_hx", hx)
             .withColumn("_bkt", F.substring("_hx", 1, 2)))
    totals = sorted(
        (r["stage"], r["_bkt"], r["cnt"]) for r in
        keyed.groupBy("stage", "_bkt")
        .agg(F.count("*").alias("cnt")).collect())
    offs2, acc2, cur_stage = [], 0, None
    for s, bkt, c in totals:
        if s != cur_stage:
            cur_stage, acc2 = s, 0
        offs2.append((s, bkt, acc2))
        acc2 += c
    off2_df = spark.createDataFrame(
        offs2, "stage int, _bkt string, _soff long")
    w2 = (Window.partitionBy("stage", "_bkt").orderBy("_hx", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        keyed.join(F.broadcast(off2_df), ["stage", "_bkt"])
        .withColumn("_srk", (F.col("_soff") + F.count("*").over(w2))
                    .cast("long"))
        .withColumn(
            "sched_pos",
            ((F.col("_srk") - 1) * _N_STAGES + F.col("stage") - 1)
            .cast("long"))
        .drop("_hx", "_bkt", "_soff", "_srk")
    )


def curriculum_pacing(docs: DataFrame, difficulty_col, tok_col, quotas,
                      extra_cols: tuple = ()) -> DataFrame:
    """Per-stage curriculum PACING: compose `curriculum_order`'s staging
    with `token_budget_mixture`'s token-budget admission — each stage's
    docs, taken in the curriculum's own in-stage salted order, fill
    training PHASES by cumulative token quota. Phase p of stage s gets
    the docs whose inclusive in-stage running token sum lands in
    (sum(quotas[s][:p-1]), sum(quotas[s][:p])]; docs beyond the total
    stage quota drop (budget semantics — a pacing schedule is a budget,
    not a partition). `quotas[s-1][p-1]` = token budget of phase p in
    stage s; an easy-heavy first row and hard-heavy last row is the
    classic curriculum ramp.

    Scale shape: staging is `curriculum_order`'s bounded-domain
    two-phase rank; the per-stage running TOKEN sum is the same
    two-phase prefix-sum primitive keyed by (stage, md5-prefix bucket)
    — the driver sees n_stages x 256 count rows, never the corpus,
    and no window partition exceeds ~stage/256 rows.
    The oracle states the same admission with one plain
    SUM() OVER (PARTITION BY stage ORDER BY md5) window.

    Output: id, stage, n_tok, cum_tok (inclusive, in-stage), phase.
    """

    assert len(quotas) == _N_STAGES and all(len(q) == len(quotas[0])
                                           for q in quotas)
    spark = docs.sparkSession
    # Staging WITHOUT the schedule rank (r12, guide §1.2): pacing never
    # consumes sched_pos, so the old path's phase-3 prefix-sum collect —
    # a full extra pass over the corpus — was computed and thrown away.
    # `_staged` also persists the narrow (id, diff, tok[, extra])
    # projection, so the token count is computed once and the text
    # column never reaches an exchange.
    tok_expr = (tok_col if not isinstance(tok_col, str)
                else F.col(tok_col)).cast("long").alias("_tok")
    staged = _staged(docs, difficulty_col, _N_STAGES, 200_000,
                     keep_cols=(tok_expr,
                                *[F.col(c) for c in extra_cols]))
    if staged is not None:
        # one evaluation of (scan -> tokenize -> phase-1 rank -> stage)
        # serves both the token-offsets collect and the final execution
        from pyspark import StorageLevel
        staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
    if staged is None:  # empty input — match the historical empty shape
        id_t = dict(docs.dtypes)["doc_id"]
        return docs.sparkSession.createDataFrame(
            [], f"doc_id {id_t}, stage int, n_tok long, cum_tok long, "
                f"phase int" + "".join(
                    f", {c} {t}" for c, t in
                    (docs.select(*extra_cols).dtypes if extra_cols
                     else [])))
    # two-phase exclusive prefix sum of tokens per (stage, hash bucket),
    # under the SAME in-stage order the curriculum schedule uses
    plen = 1
    while 16 ** plen < 256:
        plen += 1
    hx = F.md5(F.concat(F.lit("cur"), F.col("stage").cast("string"),
                        F.lit("|"), F.col("doc_id").cast("string")))
    keyed = (staged.withColumn("_hx", hx)
             .withColumn("_bkt", F.substring("_hx", 1, plen)))
    totals = sorted(
        (r["stage"], r["_bkt"], r["t"]) for r in
        keyed.groupBy("stage", "_bkt")
        .agg(F.sum("_tok").alias("t")).collect())
    offs, acc, cur_stage = [], 0, None
    for s, bkt, t in totals:
        if s != cur_stage:
            cur_stage, acc = s, 0
        offs.append((s, bkt, acc))
        acc += t
    off_df = spark.createDataFrame(
        offs, "stage int, _bkt string, _toff long")
    w = (Window.partitionBy("stage", "_bkt").orderBy("_hx", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (F.col("_toff") + F.sum("_tok").over(w)).cast("long")
    with_cum = (keyed.join(F.broadcast(off_df), ["stage", "_bkt"])
                .withColumn("cum_tok", cum))
    # phase = first cumulative boundary the running sum fits under
    n_phases = len(quotas[0])
    bounds = [[sum(q[:p + 1]) for p in range(n_phases)] for q in quotas]
    phase = F.lit(None).cast("int")
    for p in range(n_phases - 1, -1, -1):
        b = F.lit(bounds[0][p])
        for s in range(1, _N_STAGES):
            b = F.when(F.col("stage") == s + 1,
                       F.lit(bounds[s][p])).otherwise(b)
        phase = F.when(F.col("cum_tok") <= b,
                       F.lit(p + 1)).otherwise(phase)
    return (with_cum.withColumn("phase", phase)
            .filter(F.col("phase").isNotNull())
            .select("doc_id", "stage",
                    F.col("_tok").alias("n_tok"), "cum_tok", "phase",
                    *extra_cols))


def curriculum_order_approx(docs: DataFrame, difficulty_col) -> DataFrame:
    """Scale path for `curriculum_order`'s STAGING: stage boundaries
    from one `percentile_approx` agg (Greenwald-Khanna sketch, O(1)
    driver rows) instead of the exact per-value offset table — the form
    for difficulty domains too wide even for bucketing. Stages may
    differ from exact NTILE near the quantile boundaries (bounded by
    the sketch accuracy); the exact form is the correctness oracle.

    The in-stage shuffle + round-robin interleave are the same salted
    md5 schedule as the exact form, so downstream pacing composes
    unchanged. NULL difficulty = hardest (stage n_stages), matching the
    exact form's NULLs-last rule."""

    dn = difficulty_col.cast("double")
    probs = [i / _N_STAGES for i in range(1, _N_STAGES)]
    cuts = docs.select(
        F.percentile_approx(dn, F.array(*[F.lit(p) for p in probs]),
                            F.lit(10000)).alias("c")).first()["c"]
    # Empty input or all-NULL difficulty: percentile_approx yields NULL
    # cuts. No finite boundaries exist, so every row falls through to
    # the hardest stage (the NULLs-last rule), and on a truly empty
    # frame the two-phase rank below degenerates to an empty result —
    # mirroring the exact form's n_total == 0 early return instead of
    # raising TypeError on float(None).
    stage = F.lit(_N_STAGES)
    if cuts is not None:
        for i in range(_N_STAGES - 2, -1, -1):
            stage = F.when(dn <= F.lit(float(cuts[i])),
                           F.lit(i + 1)).otherwise(stage)
    stage = F.when(dn.isNull(), F.lit(_N_STAGES)).otherwise(stage)
    staged = docs.withColumn("stage", stage.cast("int"))
    # same two-phase in-stage shuffle rank as the exact form
    spark = docs.sparkSession
    hx = F.md5(F.concat(F.lit("cur"), F.col("stage").cast("string"),
                        F.lit("|"), F.col("doc_id").cast("string")))
    keyed = (staged.withColumn("_hx", hx)
             .withColumn("_bkt", F.substring("_hx", 1, 2)))
    totals = sorted(
        (r["stage"], r["_bkt"], r["cnt"]) for r in
        keyed.groupBy("stage", "_bkt")
        .agg(F.count("*").alias("cnt")).collect())
    offs, acc, cur_stage = [], 0, None
    for s, bkt, c in totals:
        if s != cur_stage:
            cur_stage, acc = s, 0
        offs.append((s, bkt, acc))
        acc += c
    off_df = spark.createDataFrame(
        offs, "stage int, _bkt string, _soff long")
    w = (Window.partitionBy("stage", "_bkt").orderBy("_hx", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        keyed.join(F.broadcast(off_df), ["stage", "_bkt"])
        .withColumn("_srk", (F.col("_soff") + F.count("*").over(w))
                    .cast("long"))
        .withColumn(
            "sched_pos",
            ((F.col("_srk") - 1) * _N_STAGES + F.col("stage") - 1)
            .cast("long"))
        .drop("_hx", "_bkt", "_soff", "_srk")
    )
