"""Event-time windowing over the `events` table.

The reference is strictly batch (SURVEY.md §2.9) — these are the *new*
streaming capabilities of the engine. Each window shape exists in two
equivalent forms:

- a **batch** form (plain DataFrame ops, oracle-checkable against DuckDB),
- a **streaming** form (readStream → watermark → windowed agg → memory
  sink), exercised by the test suite via `processAllAvailable()`.

Batch and streaming forms share the same aggregation spec so results are
identical on a static input — that equivalence is itself a test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.relational import sessionize

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.LongType()),  # raw ns (nanosAsLong read path)
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])
_WATERMARK = "2 hours"  # event-time lateness every streaming form tolerates
_SHINGLE_K = 2  # streaming_doc_neardup's shingle width, stream and index


def _sum_value():
    # exact decimal sum → double: order-independent, so batch == streaming
    # == DuckDB oracle bit-for-bit
    return F.round(F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 4)


def _agg(grouped):
    return grouped.agg(
        F.count("*").alias("n_events"),
        _sum_value().alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def tumbling(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time window per event_type."""
    g = events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
    return _agg(g).select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type", "n_events", "sum_value", "n_users",
    )


def session_agg(events: DataFrame, bucketed: bool = False) -> DataFrame:
    """Batch sessionization: per-user sessions split on inactivity gaps,
    aggregated. Same semantics as streaming `session_window` for a static
    input. `bucketed=True` uses the skew-proof (user, 1-day bucket) form
    (`relational.sessionize_bucketed`) — identical output, bounded window
    partitions for hot keys."""
    gap_seconds = 1800
    if bucketed:
        from ..operators.relational import sessionize_bucketed

        s = sessionize_bucketed(events, "user_id", "ts", gap_seconds,
                                86400)
    else:
        s = sessionize(events, "user_id", "ts", gap_seconds)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        _sum_value().alias("sum_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Structured Streaming forms
# ---------------------------------------------------------------------------

def _stream_dir(sf_dir: str) -> str:
    """The file stream source requires a *directory*; testdata is read-only,
    so expose events.parquet through a symlink dir under the repo."""
    base = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".cache", "stream")
    tag = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(base, tag)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the static events parquet: drives a real
    streaming query to completion in tests. The declared schema reads ts as
    a raw int64 and rebuilds the timestamp according to the file's physical
    unit (driver-side pyarrow metadata probe, one footer read) — testdata
    generations have shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)."""
    import pyarrow.parquet as pq

    unit = pq.read_schema(
        os.path.join(sf_dir, "events.parquet")).field("ts").type.unit
    raw = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .load(_stream_dir(sf_dir))
    )
    micros = F.expr("ts div 1000") if unit == "ns" else F.col("ts")
    return raw.withColumn("ts", F.timestamp_micros(micros))


def _run_to_memory(out: DataFrame, mode: str, name: str) -> DataFrame:
    """Run the streaming query `out` over everything available into the
    memory table `name` (output mode `mode`) and return that table."""
    q = (
        out.writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return out.sparkSession.sql(f"SELECT * FROM {name}")


def streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → watermark → 1-hour tumbling agg → memory sink; returns
    the completed result as a DataFrame (complete mode, static input)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", _WATERMARK)
    # no countDistinct: distinct aggregation is unsupported on streams
    agg = ev.groupBy(F.window("ts", "1 hour").alias("win"),
                     "event_type").agg(
        F.count("*").alias("n_events"),
        _sum_value().alias("sum_value"),
    )
    out = agg.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type", "n_events", "sum_value",
    )
    return _run_to_memory(out, "complete", "wde_stream_tumbling")


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication — the training-pipeline dedup tier 1
    in streaming form: `dropDuplicatesWithinWatermark` keeps the first
    arrival per key and bounds the dedup state by the watermark horizon
    (state for a key is dropped once the watermark passes it, so unbounded
    streams don't accumulate unbounded state — the property that matters
    on a week-long 100 TB ingest).

    On a static input this equals batch `dropDuplicates` on (user_id,
    event_type) up to which duplicate wins; the test compares key sets and
    counts."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", _WATERMARK)
    out = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    return _run_to_memory(out, "append", "wde_stream_dedup")


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an interval condition — the streaming
    form of operators/relational.py::range_join: for each `error` event,
    the `click` events of the same user in [l.ts - 300 s, l.ts).

    Both sides carry watermarks and the join condition bounds event-time
    skew between them, which is what lets Spark expire buffered rows from
    the join state store instead of holding both streams forever — the
    property that matters on an unbounded 100 TB ingest. Append mode: pairs
    emit once both watermarks pass them."""
    left = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("l_event_id"),
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", _WATERMARK)
    )
    right = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("r_event_id"),
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", _WATERMARK)
    )
    win = F.expr("INTERVAL 300 SECONDS")
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts") - win)
        & (F.col("r_ts") < F.col("l_ts")),
    ).select("l_event_id", "r_event_id", "l_user")
    return _run_to_memory(joined, "append", "wde_stream_interval_join")


def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: the event stream joined to a
    static dimension (per-type totals from the batch table). The static
    side broadcasts; the stream never shuffles — the standard shape for
    joining a firehose against reference data."""
    from ..core.catalog import load_table

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type").agg(F.count("*").alias("type_total"))
    )
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", _WATERMARK)
    out = ev.join(F.broadcast(dim), "event_type").select(
        "event_id", "event_type", "type_total"
    )
    return _run_to_memory(out, "append", "wde_stream_static_enrich")


def streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session_window aggregation with a 30-minute gap
    (complete per-user sessions on a static input)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", _WATERMARK)
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"),
                   "user_id")
        .agg(F.count("*").alias("n_events"),
             _sum_value().alias("sum_value"))
    )
    out = agg.select(
        "user_id",
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events", "sum_value",
    )
    return _run_to_memory(out, "complete", "wde_stream_session")


def streaming_doc_neardup(spark: SparkSession, docs_dir: str,
                          index_docs: DataFrame) -> DataFrame:
    """The document dedup tier in STREAMING form — new documents arrive as
    a stream, and each is (a) exact-deduplicated against the stream itself
    and (b) flagged against a STATIC near-dup index of the existing corpus:

      stream side: canonical md5 fingerprint + per-table LSH band keys
                   computed row-locally (same expressions as batch tier 1/3
                   — signatures never depend on other rows, so the batch
                   column code IS the streaming code);
      exact tier:  dropDuplicates on the fingerprint (state bounded by the
                   static input here; on an unbounded ingest use
                   dropDuplicatesWithinWatermark exactly like
                   `streaming_dedup`);
      near tier:   stream-static LEFT join against the index's band keys —
                   Spark broadcasts/rescans the static side per
                   micro-batch, no stream-side state.

    Returns one row per surviving (exact-unique) streamed doc with
    `matched_index_docs` = number of distinct index documents sharing a
    band key (0 → no near-dup suspects in the corpus). Candidate semantics
    equal batch `minhash_lsh_pairs` between stream and index; the test
    proves exactly that."""
    from ..operators.dedup import minhash_signatures
    from ..functions.strings import norm_compare

    # static index: (band_idx, band_hash, doc_id), built with the batch code
    idx_sig = minhash_signatures(index_docs, num_hashes=16,
                                 shingle_k=_SHINGLE_K)
    rpb = 4
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh_{b * rpb + r}")
                                 for r in range(rpb)])).alias(f"band_{b}")
        for b in range(4)
    ]
    idx_bands = idx_sig.select(F.col("doc_id").alias("index_doc_id"),
                               *band_cols).select(
        "index_doc_id",
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(4)]))
        .alias("band_idx", "band_hash"),
    )

    stream = (
        spark.readStream.format("parquet")
        .schema("doc_id long, url string, lang string, source string, "
                "ts_crawl timestamp_ntz, text string, quality double")
        .load(docs_dir)
        .select("doc_id", "text")
        .withColumn("fp", F.md5(norm_compare(F.col("text"))))
        .dropDuplicates(["fp"])
    )
    # Stream-side signatures must be ROW-LOCAL (an aggregation per doc_id
    # would be a second stateful stage); the minhash is a per-row array
    # fold over the shingle array — same hash family as the batch
    # minhash_signatures, proven equal in the test.
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    n = F.size(toks)
    sh = F.when(
        n >= _SHINGLE_K,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), n - _SHINGLE_K),
            lambda i: F.array_join(F.slice(toks, i + 1, _SHINGLE_K), " "),
        )),
    ).otherwise(F.array(F.array_join(toks, " ")))
    # Same affine family as batch minhash_signatures: digest each shingle
    # once (32 md5 bits → BIGINT), then K integer permutations over the
    # hash array — row-local, and 1 digest instead of K per shingle.
    from ..operators.dedup import _MH_P, _MH_PERM, shingle_hash32

    harr = F.transform(sh, shingle_hash32)

    # NB: the per-permutation constants must be bound via a closure
    # factory — a two-parameter lambda makes F.transform pass the ARRAY
    # INDEX as the second argument, silently shadowing the binding.
    def _mh(j: int, a: int, b: int):
        return F.array_min(
            F.transform(harr, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MH_P))
        ).alias(f"mh_{j}")

    mh = [_mh(j, a, b) for j, (a, b) in enumerate(_MH_PERM[:16])]
    banded = stream.select("doc_id", "fp", *mh).select(
        "doc_id", "fp",
        F.posexplode(F.array(*[
            F.md5(F.concat_ws("|", *[F.col(f"mh_{b * rpb + r}")
                                     for r in range(rpb)]))
            for b in range(4)
        ])).alias("band_idx", "band_hash"),
    )
    # distinct aggregations are unsupported on streams — dedupe the
    # (stream doc, index doc) pair stream with stateful dropDuplicates,
    # then a plain conditional count (a doc hitting an index doc through
    # several bands still counts it once)
    joined = (
        banded.join(idx_bands, ["band_idx", "band_hash"], "left")
        .dropDuplicates(["doc_id", "index_doc_id"])
        .groupBy("doc_id")
        .agg(F.sum(
            F.when(F.col("index_doc_id").isNotNull(), 1).otherwise(0)
        ).alias("matched_index_docs"))
    )
    return _run_to_memory(joined, "complete", "wde_stream_neardup")
