"""Generic relational operators — SURVEY.md §2.2-§2.6.

Thin, idiomatic compositions of DataFrame primitives. Nothing here fights
Catalyst: joins stay equi-joins (broadcast hints only where one side is a
known dimension), windows declare explicit partition/order columns so
results are deterministic under any parallelism, and aggregations are plain
hash aggregates with map-side partials.

Scale notes (100 TB):
- `top_k_per_group` / `last_write_wins` use row_number over a hash-
  partitioned window — one shuffle on the group key; skew handled by AQE.
- `carry_forward` (reference W1, the "le même" semantics,
  script/utils/itemtoid_prep.py:57-62) is last(ignorenulls) over an
  unbounded-preceding frame; requires explicit ordering columns, which is
  exactly why the catalog threads (partition, position) columns through.
- `anti_resume` (reference P1, script/itemtoid.py:348-353) replaces the
  append-only done-log with a left_anti join; at scale prefer the done-set
  small enough to broadcast, else it is a shuffled anti join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _micros(ts_col: str) -> Column:
    """Epoch microseconds of a timestamp column, tolerant of TIMESTAMP_NTZ
    (parquet writers that set isAdjustedToUTC=false make Spark 4 infer NTZ,
    which `unix_micros` rejects). The NTZ→TZ cast interprets the value in
    the session timezone — difference-safe ONLY under a fixed-offset zone
    (a DST-shifting zone makes the naive→instant mapping non-linear, which
    would corrupt gaps/buckets around transitions and leaves 'spring
    forward' naive times unrepresentable). This engine pins the session to
    UTC (core/session.py); callers embedding these operators elsewhere must
    keep a fixed-offset session timezone for NTZ inputs."""
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
) -> DataFrame:
    """W2 generalized — top-k rows per group by explicit ordering."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def last_write_wins(
    df: DataFrame, key_cols: Sequence[str], order_col: Column
) -> DataFrame:
    """J1 — dedup keeping the row with the greatest `order_col` per key
    (the reference's dict-overwrite semantics, script/wd2tei.py:22-31)."""
    w = Window.partitionBy(*key_cols).orderBy(order_col.desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def last_write_wins_agg(
    df: DataFrame, key_cols: Sequence[str], order_col: Column
) -> DataFrame:
    """`last_write_wins` as a hash AGGREGATION instead of a window:
    max_by(struct(everything), order) with map-side partial aggregation —
    each partition reduces a hot key to ONE row before the shuffle, so a
    key holding half the table costs the same as any other. Same result
    whenever `order_col` is unique per key; on order ties the window form
    keeps an arbitrary-but-single row and this form keeps max_by's pick,
    both deterministic only with a total order — thread a tiebreak into
    `order_col` when ties are possible.

    MEASURED (tools/stress_skew.py, 32M rows, one key = 50%): on Spark
    >= 3.5 the PLAIN window form is already skew-proof — Catalyst's
    InferWindowGroupLimit inserts a partial WindowGroupLimit BEFORE the
    exchange, so each map task forwards one row per key and the hot key
    never concentrates (window 1.8 s vs this form's 11.6 s; the struct
    boxing makes max_by strictly slower there). Prefer `last_write_wins`
    on engines with that rule; this twin remains the right shape where
    the rule is absent or can't fire (filter not directly above the
    rank column, rank expressed differently)."""
    payload = F.struct(*[F.col(c) for c in df.columns])
    out = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.max_by(payload, order_col).alias("__row"))
    return out.select(*[F.col(f"__row.{c}").alias(c)
                        for c in df.columns])


def top_k_per_group_salted(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    n_salts: int = 16,
) -> DataFrame:
    """`top_k_per_group` for hot keys: phase 1 takes a LOCAL top-k within
    (group, salt) — bounded partitions regardless of key skew, salt =
    deterministic hash of the full row so reruns agree — and phase 2 ranks
    only the surviving <= n_salts*k rows per group. Identical output to the
    plain form for any total ordering.

    MEASURED (tools/stress_skew.py, 32M rows, one key = 50%): Spark >= 3.5
    already rescues the PLAIN form — InferWindowGroupLimit runs a partial
    top-k per map task before the shuffle (visible as `WindowGroupLimit
    ... Partial` in the plan), so at most k rows per key per upstream
    partition reach the hot partition (plain 3.6 s vs salted 6.0 s: the
    salt pass is pure overhead there). Keep the plain form on engines
    with that rule; this twin is for engines/plans where it can't fire —
    e.g. the rank filter separated from the window projection, or k too
    large for the partial limit to prune meaningfully."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                  F.lit(n_salts))
    w1 = Window.partitionBy(*list(group_cols), "__salt").orderBy(*order_cols)
    survivors = (
        df.withColumn("__salt", salt)
        .withColumn("__lrn", F.row_number().over(w1))
        .filter(F.col("__lrn") <= k)
        .drop("__salt", "__lrn")
    )
    return top_k_per_group(survivors, group_cols, order_cols, k)


def carry_forward(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """W1 — propagate the last non-null value down each partition in order
    (the reference's "le même" previous-row reuse)."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(
        value_col, F.last(value_col, ignorenulls=True).over(w)
    )


def anti_resume(df: DataFrame, done: DataFrame, key: str) -> DataFrame:
    """P1/SO2 — keep rows whose key is absent from the done-set."""
    return df.join(done.select(key).distinct(), key, "left_anti")


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts when the gap
    from the previous event of the same user exceeds `gap_seconds`.
    One shuffle on user_col; the cumulative sum stays within the same
    window partitioning so no second shuffle."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    us = _micros(ts_col)
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0)
    return df.withColumn("__new", is_new).withColumn(
        "session_id",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).drop("__new")


def sessionize_bucketed(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Skew-proof sessionization — identical output to `sessionize`, built
    for the 100-TB failure mode that plain sessionization cannot survive: a
    hot key (one user with a billion events) serializes its entire history
    into ONE window task.

    Shape: events are windowed within (user, time-bucket) — partitions are
    bounded by bucket width no matter how hot the key — and sessions are
    stitched across bucket boundaries through a per-(user, bucket) summary
    table (n_sessions, first/last ts), which is smaller than the data by
    the events-per-bucket factor. The summary gets the per-user global
    window (cheap — one row per bucket), computing for each bucket whether
    its first session merges with the previous bucket's last session and
    the cumulative session count before it; joining that back on
    (user, bucket) — the key the data is already partitioned by — converts
    local session ordinals to global ones.

    Correctness requires bucket_seconds >= gap_seconds: a missing
    intermediate bucket then guarantees the boundary gap exceeds
    `gap_seconds`, so only ADJACENT buckets can ever merge. Sessions
    spanning 3+ buckets chain through single-session buckets that
    contribute zero new sessions (n_sessions=1, merged into the previous).
    Equality with `sessionize` is asserted in tests."""
    assert bucket_seconds >= gap_seconds, \
        "bucket must be at least the session gap (boundary-merge soundness)"
    us = _micros(ts_col)
    bus = bucket_seconds * 1_000_000
    gus = gap_seconds * 1_000_000
    data = df.withColumn("__us", us).withColumn(
        "__b", F.floor(F.col("__us") / F.lit(bus)))

    wl = Window.partitionBy(user_col, "__b").orderBy("__us")
    gap = F.col("__us") - F.lag("__us").over(wl)
    local = data.withColumn(
        "__new", F.when(gap.isNull() | (gap > gus), 1).otherwise(0)
    ).withColumn(
        "__s_local",
        F.sum("__new").over(wl.rowsBetween(Window.unboundedPreceding, 0)),
    )
    from pyspark import StorageLevel

    # Persist the locally-sessionized events (r12, guide §1.2): the
    # summary side broadcasts, which defeats exchange reuse — without the
    # persist the scan + per-(user, bucket) session window executed once
    # for the summary build and again for the final join probe side.
    local = local.persist(StorageLevel.MEMORY_AND_DISK)

    summary = local.groupBy(user_col, "__b").agg(
        F.max("__s_local").alias("__n"),
        F.min("__us").alias("__first"),
        F.max("__us").alias("__last"),
    )
    ws = Window.partitionBy(user_col).orderBy("__b")
    merged = summary.withColumn(
        "__merge_prev",
        F.when(
            (F.col("__b") == F.lag("__b").over(ws) + 1)
            & (F.col("__first") - F.lag("__last").over(ws) <= gus),
            1,
        ).otherwise(0),
    ).withColumn(
        "__cum_before",
        F.coalesce(
            F.sum(F.col("__n") - F.col("__merge_prev")).over(
                ws.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).select(user_col, "__b", "__merge_prev", "__cum_before")

    return (
        local.join(merged, [user_col, "__b"])
        .withColumn(
            "session_id",
            (F.col("__cum_before") + F.col("__s_local")
             - F.col("__merge_prev")).cast("long"),
        )
        .drop("__us", "__b", "__new", "__s_local", "__merge_prev",
              "__cum_before")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str,
    payload_cols: Sequence[str],
    tie_col: str | None = None,
) -> DataFrame:
    """As-of (backward) join: attach to each left row the payload of the
    most recent right row with `right.ts <= left.ts`, matched on `on`.
    Ties on ts are broken by the greatest `tie_col`.

    Formulated as union-tag + carry-forward — ONE shuffle on `on` and a
    linear scan per partition, never a range-join pair explosion: with R
    right rows per key and L left rows, work is O(L + R), not O(L·R).
    Right rows sort before left rows at an equal timestamp, so a right row
    exactly at left.ts is visible to it. Left columns absent from right
    ride as NULLs through `unionByName(allowMissingColumns=True)`.
    """
    order = [ts_col] + ([tie_col] if tie_col else [])
    r2 = right.select(
        on,
        *order,
        F.struct(*[F.col(c) for c in dict.fromkeys(order + list(payload_cols))])
        .alias("__asof_p"),
    ).withColumn("__side", F.lit(0))
    l2 = left.withColumn("__side", F.lit(1))
    u = l2.unionByName(r2, allowMissingColumns=True)
    # (ts, side, tie): ALL right rows at a timestamp precede the left rows
    # at it (side 0 < 1), and among same-ts right rows the greatest tie is
    # last — so carry-forward picks it. Without a caller tie column, the
    # payload struct itself is the tiebreak (lexicographic) so same-ts
    # duplicates still resolve deterministically — unless the payload
    # contains an unorderable type (map), where Spark can't sort structs;
    # then ties fall back to arbitrary (pass tie_col for determinism).
    if tie_col:
        tie = [tie_col]
    else:
        def _unorderable(dt) -> bool:
            import pyspark.sql.types as T

            if isinstance(dt, T.MapType):
                return True
            if isinstance(dt, T.StructType):
                return any(_unorderable(f.dataType) for f in dt.fields)
            if isinstance(dt, T.ArrayType):
                return _unorderable(dt.elementType)
            return False

        payload_types = [
            f.dataType for f in right.schema.fields if f.name in payload_cols
        ]
        tie = [] if any(_unorderable(t) for t in payload_types) \
            else [F.col("__asof_p")]
    w = (
        Window.partitionBy(on)
        .orderBy(ts_col, "__side", *tie)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        u.withColumn("asof", F.last("__asof_p", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        .drop("__side", "__asof_p")
    )


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str,
    payload_cols: Sequence[str],
    tie_col: str | None = None,
) -> DataFrame:
    """Nearest-event join: attach to each left row the right row (matched
    on `on`) whose timestamp is CLOSEST in either direction — the
    bidirectional sibling of `asof_join`. Ties on distance go to the
    earlier (backward) row; ties on an equal timestamp within a side go
    to the greatest `tie_col`.

    Same scale shape as the as-of join: union-tag + two carry windows
    over ONE shuffle on `on` (last-non-null looking back, first-non-null
    looking forward — the forward window orders the tiebreak descending
    so both directions prefer the greatest tie), then a row-local
    distance comparison. O(L + R) per key, never a pair explosion."""
    order_cols = [ts_col] + ([tie_col] if tie_col else [])
    r2 = right.select(
        on,
        *order_cols,
        F.struct(*[F.col(c)
                   for c in dict.fromkeys(order_cols + list(payload_cols))])
        .alias("__np"),
    ).withColumn("__side", F.lit(0))
    l2 = left.withColumn("__side", F.lit(1))
    u = l2.unionByName(r2, allowMissingColumns=True)
    tie_asc = [F.col(tie_col).asc()] if tie_col else []
    tie_desc = [F.col(tie_col).desc()] if tie_col else []
    wb = (
        Window.partitionBy(on)
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc(), *tie_asc)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(on)
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc(), *tie_desc)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    back = F.last("__np", ignorenulls=True).over(wb)
    fwd = F.first("__np", ignorenulls=True).over(wf)
    # _micros-style NTZ-tolerant epoch; applied to the struct fields too
    def _ep(c):
        return F.unix_micros(c.cast("timestamp"))

    lts = _ep(F.col(ts_col))
    chosen = (
        F.when(back.isNull(), fwd)
        .when(fwd.isNull(), back)
        .when(lts - _ep(back[ts_col]) <= _ep(fwd[ts_col]) - lts, back)
        .otherwise(fwd)
    )
    return (
        u.withColumn("nearest", chosen)
        .filter(F.col("__side") == 1)
        .drop("__side", "__np")
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    l_ts: str,
    r_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Bounded-interval join: pairs (l, r) matching on `on` with
    `r.ts ∈ [l.ts - window, l.ts)`. `right` must share no column name with
    `left` except `on` (pre-rename the rest).

    The naive form is a non-equi join Catalyst can only execute as a
    broadcast nested loop (O(L·R) per key). Here both sides are bucketed to
    `window_seconds`-wide epochs and the left side probes its own and the
    previous bucket, turning it into an equi shuffle join on
    (key, bucket) + an exact residual filter: each right row lands in
    exactly one bucket, so no post-join dedup is needed.
    """
    wus = window_seconds * 1_000_000
    lb = F.floor(_micros(l_ts) / F.lit(wus))
    l2 = left.withColumn("__b", F.explode(F.array(lb - 1, lb)))
    r2 = right.withColumn("__b", F.floor(_micros(r_ts) / F.lit(wus)))
    win = F.expr(f"INTERVAL {window_seconds} SECONDS")
    return (
        l2.join(r2, [on, "__b"])
        .filter((F.col(r_ts) >= F.col(l_ts) - win) & (F.col(r_ts) < F.col(l_ts)))
        .drop("__b")
    )


def merge_changeset(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str,
) -> DataFrame:
    """MERGE — apply an insert/update/delete changeset to a snapshot (the
    warehouse upsert the reference performs dict-wise on its JSON cache,
    script/itemtoid.py:159 overwrite + script/utils/classes.py:39-55 resume
    sets, generalized to three verbs).

    `changes` carries `key`, `op` ('I' | 'U' | 'D'), and every non-key
    column of the snapshot (schema-aligned; cells the change does not touch
    are NULL). Per key: 'D' removes the row, 'U' overwrites the non-NULL
    cells (NULL cells keep the old value), 'I' appends the row. Keys must
    be unique within `changes`,
    'I' keys must be absent from the snapshot, and 'U'/'D' on absent keys
    are no-ops — the contract a CDC-extracted changeset satisfies by
    construction.

    Shape: a LEFT join on the key plus a union of the inserts — chosen over
    the full-outer join (which expresses the same thing in one operator)
    because Spark cannot broadcast a full outer join: full-outer forces a
    shuffle of BOTH sides, while left-outer lets AQE broadcast the
    (typically vastly smaller) changeset, so the 100 TB snapshot is never
    shuffled at all — one scan, map-side merge, plus a free union of the
    new rows. Never a read-modify-write of the whole table per change (the
    reference's JSON rewrite) and never N per-row lookups."""
    other = [c for c in snapshot.columns if c != key]
    op = F.col("c.op")
    survivors = (
        snapshot.alias("s").join(changes.alias("c"), key, "left")
        .filter(op.isNull() | (op != "D"))
        .select(
            F.col(key),
            *[
                F.when(op == "U",
                       F.coalesce(F.col(f"c.{c}"), F.col(f"s.{c}")))
                .otherwise(F.col(f"s.{c}"))
                .alias(c)
                for c in other
            ],
        )
    )
    inserts = changes.filter(F.col("op") == "I").select(key, *other)
    return survivors.unionByName(inserts)


def positional_join(
    df: DataFrame, arr_a: str, arr_b: str, key_cols: Sequence[str]
) -> DataFrame:
    """J4 — align two array columns element-by-element (the reference zips
    names with traits when counts match, script/utils/nametable.py:102-106).
    arrays_zip + posexplode: purely row-local, no shuffle."""
    zipped = F.arrays_zip(F.col(arr_a), F.col(arr_b))
    return df.select(*key_cols, F.posexplode(zipped).alias("pos", "pair")).select(
        *key_cols,
        F.col("pos").cast("long").alias("pos"),
        F.col(f"pair.{arr_a}").alias(arr_a),
        F.col(f"pair.{arr_b}").alias(arr_b),
    )
