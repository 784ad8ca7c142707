"""SparkSession factory.

Tuned for the harness environment (local[N], single JVM) but every knob is
chosen to also be the right default on a real cluster:

- AQE on (runtime re-plan: coalesce post-shuffle partitions, skew-join
  splitting, dynamic broadcast selection) — essential at 100 TB where static
  statistics are stale.
- shuffle partitions sized to cores locally; on a cluster AQE coalesces from
  a higher initial value, so the explicit setting is a local-mode nicety.
- Arrow enabled for the few pandas-UDF paths (similarity/multimodal).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-reproducible.
- `nanosAsLong` because the driver's events.parquet carries TIMESTAMP(NANOS)
  which Spark's vectorized parquet reader refuses by default; the catalog
  converts the raw long back to a microsecond timestamp (matching DuckDB's
  own ns→µs truncation).
- driver heap capped at half the host's RAM (`default_driver_memory`), so a
  long-lived session is not OOM-killed on a small host.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """48g, or half the host's physical memory if that is less. G1 grows
    the heap toward its maximum instead of collecting, and a long-lived
    session's heap that reaches the host's RAM gets the JVM killed by the
    kernel's OOM killer; the other half is left for off-heap buffers and
    the Python workers."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{max(1024, min(48 * 1024, phys // 2**21))}m"


def get_session(
    app_name: str = "wde_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_conf(spark: SparkSession) -> None:
    """Apply runtime-settable confs this engine relies on to a session we did
    not create (the driver hands us its own session)."""
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — catalog has a fallback
