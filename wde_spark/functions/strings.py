"""String / regex scalar function library — SURVEY.md §2.7 (F1-F19).

Every function here is a pure Column→Column expression built from
`pyspark.sql.functions` (JVM-side, whole-stage-codegen eligible). No Python
UDFs: these run at full vectorized speed and Catalyst can push/fold them.

Reference parity (citations into /root/reference):
  F1  striptag              script/utils/classes.py:64-73
  F2  clean_entity          script/utils/classes.py:75-88
  F3  norm_compare          script/utils/classes.py:90-113
  F4  norm_ws               script/utils/nametable.py:68 (used ~25x)
  F5  clean_query_string    script/itemtoid.py:128-132
  F10 paren_extract         script/utils/itemtoid_prep.py:47-54
  F14 extract years         script/utils/itemtoid_prep.py:292-303
  F16 roman numeral         script/tables/matching.py:184
  F17 qid / catalogue id    script/wd2tei.py:51,98,110
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's 30-char punctuation list (script/utils/classes.py:96-100),
# as a regex character class.
PUNCT_CLASS = r"""[!?,\.;\\:/&\(\)\[\]\{\}"'«»\-_^¨$£%§#~*`|]"""

# Punctuation stripped from query strings (script/itemtoid.py:131).
QSTR_PUNCT_CLASS = r"""[!\.?;/\\:&\(\)\[\]#",'_]"""


def striptag(c: Column) -> Column:
    """F1 — strip HTML tags from API snippets (non-greedy, like `<.*?>`)."""
    return F.regexp_replace(c, "<.*?>", "")


def clean_entity(c: Column) -> Column:
    """F2 — drop the Wikidata entity-URI prefix and a trailing time-of-day."""
    c = F.regexp_replace(c, r"http://www\.wikidata\.org/entity/", "")
    return F.regexp_replace(c, r"T\d{2}:\d{2}:\d{2}Z$", "")


def norm_ws(c: Column) -> Column:
    """F4 — collapse all whitespace runs to single spaces and trim."""
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def norm_compare(c: Column) -> Column:
    """F3 — canonical form for punctuation-and-case-insensitive equality:
    lowercase, strip punctuation, collapse whitespace, trim. Two strings are
    'reference-equal' iff their canonical forms match."""
    return norm_ws(F.regexp_replace(F.lower(c), PUNCT_CLASS, " "))


def dedup_tokens(c: Column) -> Column:
    """A3 — order-preserving token dedup (`sorted(set(s), key=s.index)`)."""
    return F.array_join(F.array_distinct(F.split(c, " ")), " ")


def clean_query_string(c: Column) -> Column:
    """F5 — the reference's query-string cleaner: lowercase → order-preserving
    token dedup → strip punctuation → collapse spaces → trim."""
    c = F.lower(c)
    c = dedup_tokens(c)
    c = F.regexp_replace(c, QSTR_PUNCT_CLASS, "")
    return norm_ws(c)


def paren_extract(c: Column) -> Column:
    """F10 — content of the first parenthesis (candidate first name)."""
    return F.regexp_extract(c, r"\((.+?)\)", 1)


def extract_birth_year(c: Column) -> Column:
    """F14 — 4-digit year in a birth context (`N. 1727`, `né 1727`)."""
    return F.regexp_extract(c, r"(?:N\.|[Nn][ée]e?\.?)\s*.{0,10}?(\d{4})", 1)


def extract_death_year(c: Column) -> Column:
    """F14 — 4-digit year in a death context (`M. 1806`, `mort 1806`)."""
    return F.regexp_extract(c, r"(?:M\.|[Mm]orte?\.?)\s*.{0,10}?(\d{4})", 1)


def extract_violent_death_year(c: Column) -> Column:
    """F14 — year after a violent-death marker (Décap/Assa/Tué/Fusi/Guil)."""
    return F.regexp_extract(c, r"(?:Décap|Assa|Tuée?|Fusi|Guil)\S*\s*.{0,10}?(\d{4})", 1)


def roman_numeral(c: Column) -> Column:
    """F16 — roman-numeral ordinal (Ier / IInd / IIIème ...)."""
    return F.regexp_extract(c, r"\b([IVXLCDM]+(?:er|nd|ème|eme|e)?)\b", 1)


def qid_extract(c: Column) -> Column:
    """F17 — `Q\\d+` Wikidata identifier."""
    return F.regexp_extract(c, r"(Q\d+)", 1)


def catalogue_id_extract(c: Column) -> Column:
    """F17 — `CAT_\\d+` catalogue identifier from a file name."""
    return F.regexp_extract(c, r"(CAT_\d+)", 1)


def tokens(c: Column) -> Column:
    """Whitespace tokenization of a lowercased, trimmed string."""
    return F.split(F.trim(F.lower(c)), r"\s+")


# ---------------------------------------------------------------------------
# SQL snippet registry: the same functions as ANSI-ish SQL template strings,
# in Spark-SQL dialect ({0} = input expression). Lets `spark.sql` queries and
# tests exercise the library without Python composition; sql_registry.py
# turns each into a named SQL function. Each entry lives HERE, next to its
# Column twin above, so a regex edit changes both or neither.
# ---------------------------------------------------------------------------
SPARK_SQL_EXPRS = {
    "striptag": "regexp_replace({0}, '<.*?>', '')",
    "clean_entity": (
        r"regexp_replace(regexp_replace({0}, "
        r"'http://www\\.wikidata\\.org/entity/', ''), "
        r"'T\\d{{2}}:\\d{{2}}:\\d{{2}}Z$', '')"
    ),
    "norm_ws": r"trim(regexp_replace({0}, '\\s+', ' '))",
    "norm_compare": (
        r"trim(regexp_replace(regexp_replace(lower({0}), "
        r"'[!?,\\.;\\\\:/&\\(\\)\\[\\]\\{{\\}}\"''«»\\-_\\^¨$£%§#~*`|]', ' '), "
        r"'\\s+', ' '))"
    ),
    "dedup_tokens": "array_join(array_distinct(split({0}, ' ')), ' ')",
    "clean_query_string": (
        r"trim(regexp_replace(regexp_replace("
        r"array_join(array_distinct(split(lower({0}), ' ')), ' '), "
        r"'[!\\.?;/\\\\:&\\(\\)\\[\\]#\",''_]', ''), '\\s+', ' '))"
    ),
    "paren_extract": r"regexp_extract({0}, '\\((.+?)\\)', 1)",
    "extract_birth_year": (
        r"regexp_extract({0}, '(?:N\\.|[Nn][ée]e?\\.?)\\s*.{{0,10}}?(\\d{{4}})', 1)"),
    "extract_death_year": (
        r"regexp_extract({0}, '(?:M\\.|[Mm]orte?\\.?)\\s*.{{0,10}}?(\\d{{4}})', 1)"),
    "extract_violent_death_year": (
        r"regexp_extract({0}, "
        r"'(?:Décap|Assa|Tuée?|Fusi|Guil)\\S*\\s*.{{0,10}}?(\\d{{4}})', 1)"),
    "roman_numeral": (
        r"regexp_extract({0}, '\\b([IVXLCDM]+(?:er|nd|ème|eme|e)?)\\b', 1)"),
    "qid_extract": r"regexp_extract({0}, '(Q\\d+)', 1)",
    "catalogue_id_extract": r"regexp_extract({0}, '(CAT_\\d+)', 1)",
    "tokens": r"split(trim(lower({0})), '\\s+')",
}
