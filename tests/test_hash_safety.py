"""Hash-safety gate: no registry query may expose a driver-hash-unsafe
output type on either engine.

Three representation-divergence classes have produced false-red driver
rows with value-identical outputs (r1 q12 HUGEINT, r2 multimodal_features
array crash, r3 merge_changeset_orders DECIMAL/TIMESTAMP) — this test
closes the class, not the instances. The DuckDB side DESCRIBEs all 100
oracles (cheap, no data scan); the Spark side is covered for the full
registry by `tools/check_hash_safety.py` (run in round validation) and
here for the driver-window slice, whose schemas the driver actually
hashes.
"""

from __future__ import annotations


from tools.check_hash_safety import (
    duck_findings,
    mismatch_findings,
    spark_findings,
)

SF = "/root/testdata/sf0.001"


def test_classifier_detects_known_bad_types():
    from pyspark.sql.types import (
        ArrayType,
        DecimalType,
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    assert duck_findings("x", [("s", "HUGEINT")])
    assert duck_findings("x", [("p", "DECIMAL(12,2)")])
    assert duck_findings("x", [("t", "TIMESTAMP")])
    assert not duck_findings("x", [("n", "BIGINT"), ("v", "DOUBLE")])

    bad = StructType(
        [
            StructField("a", DecimalType(12, 2)),
            StructField("b", ArrayType(DoubleType())),
            StructField("c", TimestampType()),
        ]
    )
    assert len(spark_findings("x", bad)) == 3
    ok = StructType([StructField("n", LongType())])
    assert not spark_findings("x", ok)
    assert mismatch_findings(ok, [("n", "DOUBLE")])
    assert not mismatch_findings(ok, [("n", "BIGINT")])


def test_all_oracles_duck_types_safe():
    import duckdb

    from wde_spark.core.catalog import TABLES
    from wde_spark.queries import ORACLE

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    bad = {}
    for name, sql in ORACLE.items():
        desc = [(r[0], r[1]) for r in con.execute("DESCRIBE " + sql).fetchall()]
        f = duck_findings(name, desc)
        if f:
            bad[name] = f
    assert not bad, f"driver-hash-unsafe oracle output types: {bad}"


def test_driver_window_spark_schemas_safe(spark):
    from wde_spark.queries import QUERIES

    window = list(QUERIES.items())[:50]
    bad = {}
    for name, fn in window:
        f = spark_findings(name, fn(spark, SF).schema)
        if f:
            bad[name] = f
    assert not bad, f"driver-hash-unsafe Spark output types: {bad}"
