"""wde_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of katabase/3_WikidataEnrichment.

The reference (/root/reference) is a single-threaded Python ETL pipeline;
this package re-expresses its entire operator inventory (SURVEY.md §2) as
idiomatic Spark DataFrame/SQL plans, plus the scale-path operators a large
training-data pipeline needs (dedup, similarity search, text analysis,
streaming windows).

Layout:
    core/       SparkSession factory, table catalog for the test data
    functions/  string/regex scalar function library (SURVEY §2.7 F1-F19)
    operators/  generic relational + text + dedup + similarity operators
    sources/    TSV / JSON-KV / text-list / TEI-XML source & sink adapters
    plans/      domain pipelines (nametable, entity resolution, enrichment)
    streaming/  event-time windows (tumbling/session), watermarks
"""

__version__ = "0.1.0"
