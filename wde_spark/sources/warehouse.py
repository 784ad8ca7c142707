"""Warehouse layout helpers: bucketed and partitioned parquet tables.

These are the two storage-level levers a 100 TB deployment uses to delete
work before it happens:

- **Bucketing** (`write_bucketed`): both sides of a recurring equi-join
  written with the same bucket count on the join key join WITHOUT a
  shuffle — the exchange that dominates a large join's cost simply never
  appears in the plan (`tests/test_warehouse.py` pins exactly that).
  Bucket pruning also serves point lookups (`spark.sql.sources.
  bucketing.enabled`, on by default).
- **Partitioning** (`write_partitioned`): directory-level layout by a
  low-cardinality column; predicates on it become PartitionFilters —
  pruned directories are never listed, let alone read.

Bucketed tables must go through the session catalog (`saveAsTable`) —
Spark's bucket metadata lives there, not in the files — so callers pass a
table name, with file placement controlled via the `path` option.
Partitioned writes are plain path-based parquet.

Reference scope note: the reference engine (katabase/3_WikidataEnrichment)
has no warehouse layer at all — its largest table is one TSV read
sequentially (script/utils/csvbuilder.py). This module exists for the
100 TB target, not for reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   num_buckets: int, path: str | None = None) -> None:
    """Write `df` as a bucketed parquet table.

    Pick `num_buckets` once per warehouse and reuse it for every table
    sharing the join key — co-location only holds between EQUAL bucket
    counts.
    """
    w = df.write.format("parquet").mode("overwrite") \
        .bucketBy(num_buckets, *bucket_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_partitioned(df: DataFrame, path: str,
                      partition_cols: list[str]) -> None:
    """Write path-based parquet partitioned by `partition_cols` (directory
    per value — keep cardinality bounded; a high-cardinality partition
    column creates a small-files problem, use bucketing instead)."""
    df.write.format("parquet").mode("overwrite") \
        .partitionBy(*partition_cols).save(path)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a catalog table written by `write_bucketed` (bucket metadata is
    catalog-resident: reading the same files via `spark.read.parquet` loses
    the co-location guarantee)."""
    return spark.table(table)
