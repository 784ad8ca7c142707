"""Entity resolution — stage `-i` (SURVEY.md §3.1, §2.8; the reference's
main "query engine", script/itemtoid.py).

The reference loops rows serially: classify → build query → probe cache →
HTTP on miss → relax → retry. The Spark plan replaces the per-row control
loop with (SURVEY.md §2.8, §4):

    nametable rows, grouped by catalogue_id
      → per-catalogue kernel     [applyInPandas, rows in (item_pos, row_pos)
                                  order: qdict, "le même" carry-forward (W1),
                                  the ≤10-rung ladder and its certitudes]
      → posexplode_outer         [one probe row per rung, carrying the
                                  row's output columns]
      → broadcast cache join     [ONE left equi-join for the whole corpus]
      → top-1 per row            [row_number over the row key: hits by
                                  ladder rank, then misses]

One Python kernel and two shuffles for the entire corpus (the catalogue
grouping, and the row-key window after a map-side top-1 that leaves one
row per key), vs |corpus| × |ladder| sequential probes. The plan is
`assign(attach_candidates(nametable), cache)`. Live-API mode
(sources/http.resolve_live) runs the same two halves and fills the cache
between them: its wave loop fetches each missing rung once, then `assign`
computes the final answer over the merged cache.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.classify import (QDICT_FIELDS, QDict, certitude,
                                  ladder_candidates, prep_query)

QDICT_SPARK_TYPE = T.StructType(
    [T.StructField(f, T.StringType()) for f in QDICT_FIELDS[:-1]]
    + [T.StructField("rebuilt", T.BooleanType())]
)


def _ladder_by_catalogue(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel over one catalogue's rows, in document order:
    the qdict of each row, where a `le même` row takes the previous row's
    (the reference's `prev` loop, restarted with each catalogue: the
    reference threads `prev` across file boundaries only as an artifact of
    its single loop), then the ladder and the Q3 certitude of each rung.
    The qdict columns hold the values before `ladder_candidates` expands
    fname."""
    pdf = pdf.sort_values(["item_pos", "row_pos"], ignore_index=True)
    prev = (None,) * len(QDICT_FIELDS)  # a leading `le même` has no qdict
    qdicts, cands, certs = [], [], []
    for name, trait in zip(pdf["name"], pdf["trait"]):
        q = prep_query(name or "", trait or "")
        if q is not None:
            prev = q.as_tuple()
        qdicts.append(prev)
        q = QDict(*prev)
        if q.lname is None and not any(isinstance(v, str) and v
                                       for v in prev[:-1]):
            cs = []
        else:
            cs = ladder_candidates(q)  # expands q.fname, which certitude reads
        cands.append(cs)
        certs.append([certitude(q, c) for c in cs])
    out = pd.concat([pdf, pd.DataFrame(qdicts, columns=QDICT_FIELDS)], axis=1)
    return out.assign(candidates=cands, cand_certs=certs)


def attach_candidates(nametable: DataFrame) -> DataFrame:
    """The nametable plus the qdict columns, `candidates` (the ladder, in
    probe order) and `cand_certs` (Q3 certitude of each rung): one Python
    kernel per catalogue."""
    return nametable.groupBy("catalogue_id").applyInPandas(
        _ladder_by_catalogue,
        schema=T.StructType(
            nametable.schema.fields + QDICT_SPARK_TYPE.fields
            + [T.StructField("candidates", T.ArrayType(T.StringType())),
               T.StructField("cand_certs", T.ArrayType(T.BooleanType()))]
        ),
    )


def resolve_offline(nametable: DataFrame, cache: DataFrame,
                    certitude_source: str = "cache") -> DataFrame:
    """Offline stage `-i`: every ladder candidate joins the cache table at
    once; the best-ranked hit per row wins (J2 + W2). Returns the 7-column
    nametable_out (S4 shape, itemtoid.py:331-333) plus ordering columns.
    `certitude_source` as in `assign`."""
    return assign(attach_candidates(nametable), cache, certitude_source)


def assign(with_cands: DataFrame, cache: DataFrame,
           certitude_source: str = "cache") -> DataFrame:
    """The cache join and best-rank pick over `attach_candidates` rows, in
    one pass: each probe row carries its row's output columns, and one
    `row_number` per row key keeps the lowest-ranked hit, or a miss.

    certitude_source: 'cache' replays the certitude recorded when the
    query was originally fetched (byte-parity with the reference's cache
    files); 'computed' rescores with Q3 from this run's qdict — required in
    live mode, where fresh fetches carry no recorded certitude."""
    key = ["catalogue_id", "item_pos", "row_pos"]
    probes = with_cands.select(
        *key, "xml_id", "name", "trait", "cand_certs",
        F.posexplode_outer("candidates").alias("rank", "qstr"),
    )
    # A cached EMPTY result does not stop the reference's ladder — it keeps
    # relaxing until a non-empty hit (itemtoid.py:259, `out[0] == ""`), so
    # only non-empty entries are probe hits.
    probe_side = cache.filter(F.col("qid") != "").select(
        "qstr", "qid", "title", "snippet", "cert")
    hit = F.col("qid").isNotNull()
    w = Window.partitionBy(*key).orderBy(~hit, "rank")
    best = (
        probes.join(F.broadcast(probe_side), "qstr", "left")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    if certitude_source == "computed":
        cert_col = F.when(
            hit, F.try_element_at("cand_certs", F.col("rank") + 1))
    else:
        cert_col = F.col("cert")
    return best.select(
        *key,
        F.col("xml_id").alias("tei_xml_id"),
        F.coalesce("qid", F.lit("")).alias("wd_id"),
        F.col("name").alias("tei_name"),
        F.coalesce("title", F.lit("")).alias("wd_name"),
        F.coalesce("snippet", F.lit("")).alias("wd_snippet"),
        F.col("trait").alias("tei_trait"),
        F.coalesce(cert_col, F.lit(False)).alias("wd_certitude"),
    )


def build_idset(resolved: DataFrame) -> DataFrame:
    """A2/SO4 — distinct QIDs for the enrichment stage
    (script/utils/idset.py:17-25, minus its header-token bug)."""
    return (
        resolved.select(F.col("wd_id").alias("qid"))
        .filter(F.col("qid") != "")
        .distinct()
    )
