"""Trait word-frequency — utility `-c` (SURVEY.md §2.4 A1, §2.2 P3/P4,
§2.5 W3; script/utils/traitcounter.py:15-75).

The reference concatenates every trait into one giant string, builds a
unique-word set, and calls `list.count(w)` per unique word — O(n²). The
Spark form is the canonical explode → filter → hash-count: one scan, one
shuffle on the word key, linear work, and identical counts (verified
against the shipped golden `trait_wordcount.json`).

Faithfulness notes: tokens are whitespace-split, then `[.,()]`-stripped;
the 50-entry stop list is applied AFTER that cleaning; tokens *starting*
with a digit or an uppercase letter are dropped (`re.match` semantics).
The reference also counts the TSV header token "trait" once (its reader
never skips the header) — an artifact, not semantics; the engine takes the
trait column as data and so excludes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STOPLIST = [
    ".", " ", ";", ",", "-", "le", "la", "un", "une", "des", "de", "d'un",
    "d'une", "ce", "cette", "celui", "celle", "est", "a", "ses", "son", "sa",
    "leur", "leurs", "lui", "elle", "célèbre", "illustre", "homme", "femme",
    "par", "qui", "grand", "au", "fils", "plus", "moins", "les", "&", "é",
    "è", "et", "en", "m", "n", "fr", "du", "mort", "né", "morte", "née",
    "il", "eux", "avec", "puis", "fut", "vous", "l'illustre", "distingué",
    "savant", "sous", "fameux",
]


def trait_wordcount(nametable: DataFrame) -> DataFrame:
    """(word, count) over every trait, descending count."""
    words = (
        nametable.select(
            F.explode(F.split(F.col("trait"), r"\s+")).alias("w"))
        .select(F.regexp_replace("w", r"\.|,|\(|\)", "").alias("w"))
        .filter(~F.col("w").isin(STOPLIST))
        .filter(F.col("w") != "")
        .filter(~F.col("w").rlike(r"^(\d|[A-Z])"))
    )
    return (
        words.groupBy("w").count()
        .select(F.col("w").alias("word"), F.col("count").alias("n"))
        .orderBy(F.desc("n"), "word")
    )
