"""Table catalog for the driver's synthetic test data (TESTDATA.md).

`load_table` is the single entry point every query goes through, so scan
hygiene lives here: plain `spark.read.parquet` (columnar, predicate/column
pushdown free via Catalyst), plus the one environment quirk — events.parquet
stores TIMESTAMP(NANOS), which Spark's parquet reader rejects. We read it
with `nanosAsLong` and rebuild a microsecond timestamp, which matches what
DuckDB does internally (ns truncated to µs), so oracle comparisons line up
exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    try:
        df = spark.read.parquet(path)
        df.schema  # force schema resolution now
    except Exception:
        # Last-resort fallback for a session where the legacy conf cannot be
        # applied: read through Arrow and re-create. Events tables at test
        # scale are small; the conf path is the normal one.
        import pyarrow.parquet as pq

        tbl = pq.read_table(path)
        pdf = tbl.to_pandas()
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        return spark.createDataFrame(pdf)
    if dict(df.dtypes).get("ts") == "bigint":
        # ns → µs truncation — identical to DuckDB's handling of ns parquet.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# Analyzed-DataFrame memo, keyed per Spark application (r12, guide §5:
# driver-side work). `spark.read.parquet` eagerly lists the path and reads
# the parquet footer for schema inference (~80 ms measured) on EVERY call;
# a bench pass calls load_table hundreds of times against the same
# immutable inputs. DataFrames are immutable plan handles, so reusing the
# analyzed handle within one application is pure plan reuse — no data or
# results are cached (each action still scans the parquet), and a fresh
# process/session starts cold.
_DF_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str,
               spread: bool = False) -> DataFrame:
    key = (spark.sparkContext.applicationId,
           os.path.abspath(sf_dir), name)
    df = _DF_MEMO.get(key)
    if df is None:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if name == "events":
            df = _read_events(spark, path)
        else:
            df = spark.read.parquet(path)
        _DF_MEMO[key] = df
    if spread:
        df = spread_scan(spark, df)
    return df


def spread_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin a scan across the cluster when the file layout
    under-partitions it (e.g. one small parquet file → one task → one core
    doing all the downstream per-row work). A no-op whenever the scan
    already parallelizes — on a real multi-file 100 TB table this never
    triggers; on a single-file bench input it is the difference between
    1 core and all of them for compute-heavy row-local stages (shingling,
    hashing, regex), at the cost of shuffling the (small) raw rows once.

    The scan's task count is ESTIMATED from the input file sizes and
    `spark.sql.files.maxPartitionBytes`/`openCostInBytes` (the same
    arithmetic FilePartition uses) instead of `df.rdd.getNumPartitions()`
    — the RDD conversion forced a full physical planning pass per call,
    ~50 ms of pure driver time on every spread load (r12, guide §5: the
    driver should do almost no work). Non-local files fall back to the
    exact RDD count."""
    target = spark.sparkContext.defaultParallelism
    try:
        files = [f[len("file:"):] if f.startswith("file:") else f
                 for f in df.inputFiles()]
        sizes = [os.path.getsize(f) for f in files]
        max_pb = int(spark.conf.get("spark.sql.files.maxPartitionBytes",
                                    str(128 * 1024 * 1024)).rstrip("b"))
        open_cost = int(spark.conf.get("spark.sql.files.openCostInBytes",
                                       str(4 * 1024 * 1024)).rstrip("b"))
        total = sum(sizes) + open_cost * len(sizes)
        n_parts = max(1, -(-total // max_pb)) if sizes else 1
    except (OSError, ValueError):
        n_parts = df.rdd.getNumPartitions()
    if n_parts * 2 <= target:
        return df.repartition(target)
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register each table as a temp view so operators can be exercised from
    `spark.sql` too. Returns the DataFrames keyed by name."""
    out: dict[str, DataFrame] = {}
    for name in names or TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
