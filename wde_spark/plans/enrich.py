"""Graph-enrichment normalization — stage `-s` (SURVEY.md §3.2; §2.4 A6,
§2.7 F2/F3, §2.6 SO3).

Reference parity: script/sparql.py:96-164,365-376 (4 SPARQL queries per QID,
merged), script/utils/classes.py:163-195 (`result_tojson`: collapse the WDQS
cartesian product per variable, deduplicating with a punctuation-and-case-
insensitive comparison, keeping the first-seen cleaned form),
classes.py:75-113 (`clean`, `compare`).

The network boundary (SPARQLWrapper → WDQS, S9) stays a `mapPartitions`
client (sources side, live mode only); everything after it is declarative:

    raw SPARQL-JSON docs (qid, query_idx, json)
      → repartition by qid                     [the ONE exchange]
      → from_json + posexplode bindings        [order column materialized]
      → clean (F2) + compare-normal form (F3)  [JVM column expressions]
      → min(bind_ord, cleaned) per normal form [the A6 first-seen dedup]
      → sorted collect_list per (qid, var)     [vars with no value → []]
      → map_from_entries per qid               [the document store]

Every aggregation groups by keys that start with qid, so each reuses the
qid partitioning: one scan and one parse of the documents, one shuffle.
No Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPARQL_JSON_SCHEMA = T.StructType([
    T.StructField("head", T.StructType([
        T.StructField("vars", T.ArrayType(T.StringType())),
    ])),
    T.StructField("results", T.StructType([
        T.StructField("bindings", T.ArrayType(
            T.MapType(T.StringType(), T.MapType(T.StringType(), T.StringType()))
        )),
    ])),
])

# classes.py:96-100 — the `compare` punctuation list, removed (not replaced
# by spaces) before comparison.
_COMPARE_PUNCT = r"""[!@#$%^&*()_\-+={}\[\]:;"'|<>,.?/~`]"""


def clean_value(c):
    """F2 — strip the Wikidata entity-URI prefix anywhere and a trailing
    time-of-day from timestamps (classes.py:75-88)."""
    c = F.regexp_replace(c, r"http://www\.wikidata\.org/entity/", "")
    return F.regexp_replace(c, r"T\d{2}:\d{2}:\d{2}Z$", "")


def compare_norm(c):
    """F3 — the `compare` canonical form: lowercase, drop punctuation,
    collapse whitespace, trim (classes.py:90-113). Two values are
    reference-equal iff their canonical forms are equal."""
    c = F.regexp_replace(F.lower(c), _COMPARE_PUNCT, "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.regexp_replace(c, r"(^\s|\s$)", "")


def parse_bindings(raw: DataFrame) -> DataFrame:
    """(qid, query_idx, json) → one row per (binding, var) with the binding's
    position materialized (the dedup is order-dependent). Both explodes are
    outer: an inner explode lets the optimizer push a `size(...) > 0`
    filter down to the scan, which parses every document a second time;
    `normalized_values` drops the null rows instead."""
    parsed = raw.withColumn("__doc", F.from_json(F.col("json"), SPARQL_JSON_SCHEMA))
    return (
        parsed.select(
            "qid", "query_idx",
            F.col("__doc.head.vars").alias("vars"),
            F.posexplode_outer("__doc.results.bindings").alias("bind_ord", "bind"),
        )
        .select(
            "qid", "query_idx", "vars", "bind_ord",
            F.explode_outer("vars").alias("var"),
            F.col("bind"),
        )
        .withColumn("value", F.element_at(F.element_at("bind", F.col("var")), "value"))
        .drop("bind")
    )


def normalized_values(bindings: DataFrame) -> DataFrame:
    """A6 — per (qid, var): ordered, compare-normalized dedup of the WDQS
    cartesian product; keeps the first-seen cleaned form of each normal
    class. Returns (qid, var, values array<string>), values [] for a var
    whose bindings all lack a value. A doc with ZERO bindings contributes
    no vars at all (result_tojson only materializes keys while scanning
    bindings) — hence the filter. Both aggregations group by keys that
    start with qid, so input partitioned by qid needs no other exchange."""
    cleaned = clean_value("value")
    first_seen = (
        bindings.filter(F.col("bind_ord").isNotNull()
                        & F.col("var").isNotNull())
        .groupBy("qid", "var", compare_norm(cleaned).alias("norm"))
        .agg(F.min(F.struct("bind_ord", cleaned.alias("cleaned"))).alias("s"))
    )
    return first_seen.groupBy("qid", "var").agg(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(F.col("norm").isNotNull(), F.col("s")))),
            lambda s: s["cleaned"],
        ).alias("values")
    )


def enrichment_store(values: DataFrame) -> DataFrame:
    """SO3 + the document-store shape: one row per QID with a
    `map<var, array<string>>` of all (deduplicated) enrichment values —
    the Spark form of `wikidata_enrichments.json` (sparql.py:410-418)."""
    return values.groupBy("qid").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("var", "values")))
        ).alias("enrichment")
    )


def enrich_offline(raw_results: DataFrame) -> DataFrame:
    """Full offline stage `-s` from recorded SPARQL-JSON documents: one
    exchange (the documents by qid), one parse, three aggregations."""
    return enrichment_store(normalized_values(
        parse_bindings(raw_results.repartition("qid"))))


def sparql_xml_to_json(xml_text: str) -> dict:
    """F18 — convert W3C SPARQL-XML results to the SPARQL-JSON shape
    (classes.py:116-160's fallback path for endpoints that garble JSON).
    Pure function, used inside the S9 client's error ladder."""
    import xml.etree.ElementTree as ET

    ns = "{http://www.w3.org/2005/sparql-results#}"
    root = ET.fromstring(xml_text)
    out: dict = {"head": {"vars": []}, "results": {"bindings": []}}
    head = root.find(f"{ns}head")
    if head is not None:
        out["head"]["vars"] = [v.get("name") for v in head.findall(f"{ns}variable")]
    results = root.find(f"{ns}results")
    if results is not None:
        for res in results.findall(f"{ns}result"):
            bind: dict = {}
            for b in res.findall(f"{ns}binding"):
                child = next(iter(b), None)
                if child is None:
                    continue
                tag = child.tag.removeprefix(ns)
                entry = {"type": tag, "value": child.text or ""}
                lang = child.get("{http://www.w3.org/XML/1998/namespace}lang")
                if lang:
                    entry["xml:lang"] = lang
                if child.get("datatype"):
                    entry["datatype"] = child.get("datatype")
                bind[b.get("name")] = entry
            out["results"]["bindings"].append(bind)
    return out
