"""Query-memoization cache source — SURVEY.md §2.1 S5, §2.3 J2.

Reference parity: script/itemtoid.py:138-181 — JSON key-value files
`idqueried_{c}.json`, hash-partitioned by the first character of the query
string, each mapping `query string → [qid, title, snippet, certitude]`.

Spark-first shape: the cache becomes a *table* `(part, qstr, qid, title,
snippet, cert)`. Probing it is a plain equi-join on `qstr` (broadcast when
small, shuffle-hash when not) instead of a per-row dict lookup; the
first-character partition column reproduces the reference's file layout for
partition-pruned writes. Reading is distributed: `wholetext` per file, JSON
decode in executors, explode to rows.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CACHE_SCHEMA = T.StructType([
    T.StructField("part", T.StringType()),
    T.StructField("qstr", T.StringType()),
    T.StructField("qid", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("snippet", T.StringType()),
    T.StructField("cert", T.BooleanType()),
])


def _hadoop_safe_paths(path_glob: str) -> list[str]:
    """The files `path_glob` matches, sorted, as the explicit path list every
    input reader hands Spark: given a glob, Spark probes it for a streaming
    sink's `_spark_metadata` directory and logs a `FileNotFoundException`
    stack trace. A glob that matches nothing raises `FileNotFoundError`.

    Hadoop `Path` rejects ':' in file names (URI scheme separator). Files
    whose basename carries unsafe characters are exposed through same-content
    symlinks with percent-encoded names in a shadow directory, one per source
    directory, so equal basenames in two directories never share a link. A
    link that already points at the same file (made by an earlier or a
    concurrent read) is reused."""
    import glob as pyglob
    import hashlib
    import tempfile

    paths = sorted(pyglob.glob(path_glob))
    if not paths:
        raise FileNotFoundError(f"no input files match {path_glob}")
    out = []
    for p in paths:
        base = os.path.basename(p)
        if ":" not in base:
            out.append(p)
            continue
        target = os.path.abspath(p)
        shadow = os.path.join(
            tempfile.gettempdir(), "wde_cache_shadow",
            hashlib.md5(os.path.dirname(target).encode()).hexdigest()[:12])
        os.makedirs(shadow, exist_ok=True)
        link = os.path.join(shadow, base.replace(":", "%3A"))
        try:
            os.symlink(target, link)
        except FileExistsError:
            if os.readlink(link) != target:
                raise
        out.append(link)
    return out


def read_query_cache(spark: SparkSession, path_glob: str) -> DataFrame:
    """Load `idqueried_*.json` / `dummy_*.json` KV files into a cache table.

    One JSON object per file with dynamic keys → `wholetext` scan + executor-
    side decode (files stay whole; keys explode to rows). The partition
    column is the key's first character (= the reference's file layout)."""
    raw = spark.read.text(_hadoop_safe_paths(path_glob), wholetext=True)

    def decode(rows) -> Iterator[Row]:
        for r in rows:
            if not r.value.strip():
                continue
            kv = json.loads(r.value)
            for qstr, out in kv.items():
                yield Row(part=qstr[:1], qstr=qstr,
                          qid=out[0] or "", title=out[1] or "",
                          snippet=out[2] or "",
                          cert=bool(out[3]) if len(out) > 3 else False)

    return spark.createDataFrame(raw.rdd.mapPartitions(decode), CACHE_SCHEMA)


def synthetic_cache(queries: DataFrame, hit_rate: float,
                    seed: str = "dummy") -> DataFrame:
    """Reference `makedummy` (script/itemtoid_test.py:23-58) generalized: a
    deterministic synthetic cache covering `hit_rate` of the given query
    population, for cache-miss-ratio experiments against `resolve_live`.

    The reference fills 30k random-keyed entries (qid = 'Q'+7 digits,
    ~30% certitude) to benchmark cache-vs-refetch; here membership and
    payload derive from md5(seed|qstr) — no RNG state, identical on every
    executor and run, and the hit ratio is an exact tunable instead of a
    side effect of random key collisions. Row-local column expressions, no
    shuffle; the `part` column reproduces the reference's
    first-character file partitioning."""
    q = F.col("qstr")
    h = F.md5(F.concat(F.lit(f"{seed}|"), q))
    keep = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
            < int(hit_rate * 0x10000))
    return (
        queries.select(q.alias("qstr")).distinct()
        .filter(keep)
        .select(
            F.substring("qstr", 1, 1).alias("part"),
            "qstr",
            F.concat(F.lit("Q"), F.conv(F.substring(h, 5, 6), 16, 10)
                     ).alias("qid"),
            F.substring(h, 11, 10).alias("title"),
            F.substring(h, 21, 12).alias("snippet"),
            # ~30% certitude, like the reference's rand >= 7 of 1..9
            (F.conv(F.substring(h, 4, 1), 16, 10) < 5).alias("cert"),
        )
    )


def upsert(cache: DataFrame, new_entries: DataFrame, key: str = "qstr") -> DataFrame:
    """S5 read-modify-write as a relational op: union + last-write-wins on
    the key (the reference's dict-update semantics, itemtoid.py:170-181)."""
    tagged_old = cache.withColumn("__ord", F.lit(0))
    tagged_new = new_entries.withColumn("__ord", F.lit(1))
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.desc("__ord"))
    return (
        tagged_old.unionByName(tagged_new)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__ord")
    )
