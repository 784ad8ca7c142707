"""Component-ablation harness — the reference's `test_isolate` grid
(script/itemtoid_test.py:73-176,398-434) re-expressed as one grouped
aggregation.

The reference loops the 200-row golden set and, per row, issues one live
Wikidata query per (name-variant × parameter-combo) cell:

  variants:  base_query        — "fname lname" always
             no_rebuilt_names  — "lname" alone when the first name was
                                 rebuilt from an abbreviation, else
                                 "fname lname"
  combos:    fname lname                      (always counted)
             fname lname + one of nobname_sts / status / dates / function
                                              (counted when the field is
                                               non-blank)

and tallies per-cell top-1 success against the golden wikidata id,
publishing the grid as out/wikidata/itemtoid_test_out.json.

Here the same grid is one DataFrame plan: qdict prep (the qdict columns
of attach_candidates, the shared kernel) → a 2×5 variant/combo explode →
ONE broadcast join against the recorded query cache (the offline stand-in
for the live API — the cache key is the reference's own cleaned
query-string form) → one hash aggregation. No driver-side loop; the
2×5×N cell matrix is rows, so the same plan runs the grid for 200 golden
rows or 200 million.

Because the replay is offline, not every ablation cell's query string was
recorded by the original run (the production ladder probes subtractive
combinations, the ablation additive ones). The grid therefore reports
`covered` (cells whose query exists in the cache) alongside the
reference-style success-over-total, and success-over-covered which is the
unbiased estimate. Totals are exact — they depend only on qdict prep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.strings import clean_query_string
from .resolve import attach_candidates

SPECS = ["nobname_sts", "status", "dates", "function"]


def ablation_grid(nametable: DataFrame, cache: DataFrame,
                  truth: DataFrame) -> DataFrame:
    """Per (variant, combo): total, covered, successes, and success rates.

    nametable: the golden rows (catalogue_id, item_pos, row_pos, xml_id,
    name, trait). truth: key columns + `truth_id`. cache: the recorded
    query cache (qstr, qid, ...) — qid '' means a recorded empty result.
    """
    key = ["catalogue_id", "item_pos", "row_pos"]
    qd = attach_candidates(nametable)

    name_base = F.concat_ws(" ", "fname", "lname")
    name_nr = F.when(F.col("rebuilt"), F.col("lname")).otherwise(name_base)
    variants = F.array(
        F.struct(F.lit("base_query").alias("variant"), name_base.alias("nm")),
        F.struct(F.lit("no_rebuilt_names").alias("variant"), name_nr.alias("nm")),
    )
    combos = F.array(
        F.struct(F.lit("fname lname").alias("combo"), F.lit("").alias("spec")),
        *[
            F.struct(F.lit(f"fname lname {s}").alias("combo"),
                     F.col(s).alias("spec"))
            for s in SPECS
        ],
    )
    cells = (
        qd.select(*key, F.explode(variants).alias("v"), combos.alias("cs"))
        .select(*key, "v.variant", "v.nm", F.explode("cs").alias("c"))
        .select(
            *key, "variant",
            F.col("c.combo").alias("combo"),
            clean_query_string(F.concat_ws(" ", F.col("nm"), F.col("c.spec"))
                               ).alias("q"),
            ((F.col("c.combo") == "fname lname")
             | (F.trim(F.col("c.spec")) != "")).alias("has_data"),
        )
        .filter("has_data")
    )
    # Deterministic pick when two raw cache keys clean to the same query
    # string: min(qid) — dropDuplicates would keep a partition-order-
    # dependent row and make the grid nondeterministic run to run.
    hits = (
        cache.select(
            clean_query_string(F.col("qstr")).alias("q"),
            F.col("qid").alias("pred"),
        ).filter(F.col("q") != "")
        .groupBy("q").agg(F.min("pred").alias("pred"))
    )
    # Success accounting mirrors the reference cell-by-cell where the replay
    # CAN know the answer, and is conservative where it cannot:
    #   blank query  → the reference never fires the request and records '',
    #                  so ok ⇔ truth is also blank;
    #   covered      → recorded top-1 vs truth;
    #   uncovered    → the live API's answer is unknowable offline → counted
    #                  as failure, never success (otherwise a blank truth_id
    #                  plus a missing cache entry would fabricate successes).
    scored = (
        cells.join(F.broadcast(hits), "q", "left")
        .join(truth, key)
        .select(
            "variant", "combo",
            (F.col("pred").isNotNull() & (F.col("q") != "")).alias("covered"),
            F.when(F.col("q") == "", F.col("truth_id") == "")
            .when(F.col("pred").isNotNull(), F.col("pred") == F.col("truth_id"))
            .otherwise(F.lit(False)).alias("ok"),
        )
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))
    return (
        scored.groupBy("variant", "combo")
        .agg(
            F.count("*").alias("total"),
            one(F.col("covered")).alias("covered"),
            one(F.col("ok")).alias("successes"),
            one(F.col("ok") & F.col("covered")).alias("successes_covered"),
        )
        .select(
            "variant", "combo", "total", "covered",
            F.round(F.col("successes") / F.col("total"), 3).alias("success"),
            F.round(F.try_divide(F.col("successes_covered"), F.col("covered")),
                    3).alias("success_covered"),
        )
    )
