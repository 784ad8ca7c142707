"""Entity resolution — stage `-i` (SURVEY.md §3.1, §2.8; the reference's
main "query engine", script/itemtoid.py).

The reference loops rows serially: classify → build query → probe cache →
HTTP on miss → relax → retry. The Spark plan replaces the per-row control
loop with (SURVEY.md §2.8, §4):

    nametable rows (ordered by catalogue_id, item_pos, row_pos)
      → qdict per row            [Arrow-batched UDF; row-local, no shuffle]
      → W1 carry-forward         [window: "le même" rows inherit prev qdict]
      → candidate ladder         [row-local; all ≤10 relaxations at once]
      → posexplode + cache join  [ONE equi-join for the whole corpus]
      → top-1 by ladder rank     [window over row key]
      → left join back           [rows with no hit keep empty results]

Two shuffles total (cache join + rank window) for the entire corpus vs
|corpus| × |ladder| sequential probes. The cache side is broadcast.
The plan is `assign(attach_candidates(nametable), cache)`. Live-API mode
(sources/http.resolve_live) runs the same two halves and fills the cache
between them: its wave loop fetches each missing rung once, then `assign`
computes the final answer over the merged cache.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.classify import (QDICT_FIELDS, QDict, certitude,
                                  ladder_candidates, prep_query)

QDICT_SPARK_TYPE = T.StructType(
    [T.StructField(f, T.StringType()) for f in QDICT_FIELDS[:-1]]
    + [T.StructField("rebuilt", T.BooleanType()),
       T.StructField("is_same", T.BooleanType())]
)


def _qdict_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (name, trait, passthrough...) → + qdict columns."""
    for pdf in it:
        rows = []
        for name, trait in zip(pdf["name"], pdf["trait"]):
            q = prep_query(name or "", trait or "")
            if q is None:  # "le même" — inherit via window afterwards
                rows.append((None,) * 7 + (True,))
            else:
                rows.append(q.as_tuple() + (False,))
        qcols = pd.DataFrame(
            rows, columns=QDICT_FIELDS + ["is_same"], index=pdf.index)
        yield pd.concat([pdf, qcols], axis=1)


def _candidates_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: qdict columns → candidate list + per-candidate
    certitude + expanded fname (ladder_candidates mutates fname; certitude
    depends on the mutation)."""
    for pdf in it:
        cands, certs, fnames = [], [], []
        for vals in zip(*[pdf[f] for f in QDICT_FIELDS]):
            q = QDict(**dict(zip(QDICT_FIELDS, vals)))
            if q.lname is None and all(
                not (v if isinstance(v, str) else "") for v in vals[:-1]
            ):
                cands.append([])
                certs.append([])
                fnames.append(q.fname)
                continue
            cs = ladder_candidates(q)
            cands.append(cs)
            certs.append([certitude(q, c) for c in cs])
            fnames.append(q.fname)
        out = pdf.copy()
        out["candidates"] = cands
        out["cand_certs"] = certs
        out["fname"] = fnames
        yield out


def attach_qdicts(nametable: DataFrame) -> DataFrame:
    """qdict per row + W1 carry-forward for `le même` rows.

    The carry-forward window partitions by catalogue: each catalogue's rows
    stay ordered and independent, so the plan parallelizes per catalogue
    (the reference threads `prev` across file boundaries as an artifact of
    its single loop; a cross-catalogue "le même" is meaningless)."""
    base = nametable.mapInPandas(
        _qdict_batch,
        schema=T.StructType(nametable.schema.fields + QDICT_SPARK_TYPE.fields),
    )
    w = (
        Window.partitionBy("catalogue_id")
        .orderBy("item_pos", "row_pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    qstruct = F.struct(*[F.col(f) for f in QDICT_FIELDS])
    carried = F.last(
        F.when(~F.col("is_same"), qstruct), ignorenulls=True
    ).over(w)
    out = base.withColumn("__q", carried)
    for f in QDICT_FIELDS:
        out = out.withColumn(f, F.col(f"__q.{f}"))
    return out.drop("__q")


def attach_candidates(nametable: DataFrame) -> DataFrame:
    """qdict per row, the `le même` carry-forward and the ladder kernel:
    the nametable plus `candidates` (the ladder, in probe order) and
    `cand_certs` (Q3 certitude of each rung)."""
    qd = attach_qdicts(nametable)
    return qd.mapInPandas(
        _candidates_batch,
        schema=T.StructType(
            list(qd.schema.fields)
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
    """The cache join and best-rank window over `attach_candidates` rows.

    certitude_source: 'cache' replays the certitude recorded when the
    query was originally fetched (byte-parity with the reference's cache
    files); 'computed' rescores with Q3 from this run's qdict — required in
    live mode, where fresh fetches carry no recorded certitude."""
    key = ["catalogue_id", "item_pos", "row_pos"]
    cand = with_cands.select(
        *key, F.posexplode("candidates").alias("rank", "qstr")
    )
    # A cached EMPTY result does not stop the reference's ladder — it keeps
    # relaxing until a non-empty hit (itemtoid.py:259, `out[0] == ""`), so
    # only non-empty entries are probe hits.
    probe_side = cache.filter(F.col("qid") != "").select(
        "qstr", "qid", "title", "snippet", "cert")
    hits = cand.join(F.broadcast(probe_side), "qstr")
    w = Window.partitionBy(*key).orderBy("rank")
    best = (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*key, "rank", "qid", "title", "snippet", "cert")
    )

    joined = with_cands.join(best, key, "left")
    if certitude_source == "computed":
        cert_col = F.try_element_at("cand_certs", F.col("rank") + 1)
    else:
        cert_col = F.col("cert")
    return joined.select(
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
