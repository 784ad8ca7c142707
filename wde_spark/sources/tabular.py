"""Tabular sources/sinks — SURVEY.md §2.1 S3/S4/S6.

Reference parity:
  S3 TSV source   script/itemtoid.py:320-342; script/utils/idset.py:19-22
  S4 TSV sink     script/itemtoid.py:320-333
  S6 ID-list      script/sparql.py:388-389; script/utils/classes.py:48-55
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S3 — header'd, quoted, tab-separated scan (the reference's
    `csv.reader(delimiter='\\t', quotechar='"')` + header skip), every
    column read as a string."""
    return (
        spark.read.option("sep", "\t").option("header", True)
        .option("quote", '"').option("multiLine", False)
        .csv(path)
    )


def write_tsv(df: DataFrame, path: str) -> None:
    """S4 — TSV sink with header. The reference appends row-by-row with a
    header-iff-empty dance; a deterministic batch overwrite replaces that
    bookkeeping."""
    df.write.mode("overwrite").option("sep", "\t").option("header", True) \
        .csv(path)


def _csv_minimal_quote(col: F.Column) -> F.Column:
    """One field under Python ``csv.writer`` QUOTE_MINIMAL semantics: quote
    iff the field contains the delimiter, the quote char, or a line
    terminator char; escape the quote char by doubling. NULL → empty field
    (``csv.writer`` renders None as '')."""
    s = F.coalesce(col.cast("string"), F.lit(""))
    needs = (s.contains("\t") | s.contains('"')
             | s.contains("\r") | s.contains("\n"))
    return F.when(
        needs, F.concat(F.lit('"'), F.regexp_replace(s, '"', '""'), F.lit('"'))
    ).otherwise(s)


def write_tsv_compat(df: DataFrame, path: str, order_by: list[str],
                     header: list[str] | None = None) -> None:
    """S4 — byte-compatible TSV sink (reference `script/itemtoid.py:330-333`:
    `csv.writer(f_out, delimiter='\\t')` appending to one file, header iff
    the file is empty).

    Python csv.writer semantics reproduced exactly: QUOTE_MINIMAL with
    doubled-quote escaping and CRLF row terminators. Formatting is a pure
    column expression executed on the executors; rows are globally ordered by
    `order_by` via a range repartition + within-partition sort, so shard
    files concatenated in partition order ARE the global order. The final
    single-file merge is a driver-side byte concat — inherently the
    non-scalable egress step of any "one file" requirement; at cluster scale
    the shards themselves are the output.

    Appends to `path` (a single file); writes the header first iff the file
    does not exist or is empty — the reference's header-iff-empty dance.
    """
    import glob
    import os
    import shutil
    import tempfile

    cols = df.columns
    line = F.concat_ws(
        "\t", *[_csv_minimal_quote(F.col(c)) for c in cols]).alias("value")
    ordered = df.repartitionByRange(max(df.rdd.getNumPartitions(), 1),
                                    *[F.col(c) for c in order_by]) \
                .sortWithinPartitions(*order_by)
    staging = tempfile.mkdtemp(prefix="tsv_compat_")
    shard_dir = os.path.join(staging, "shards")
    try:
        ordered.select(line).write.mode("overwrite") \
            .option("lineSep", "\r\n").text(shard_dir)
        # part files sort lexicographically by partition id → global order
        shards = sorted(glob.glob(os.path.join(shard_dir, "part-*")))
        write_header = (not os.path.exists(path)
                        or os.stat(path).st_size == 0)
        with open(path, "ab") as out:
            if write_header and header is not None:
                import csv as _csv
                import io
                buf = io.StringIO()
                _csv.writer(buf, delimiter="\t").writerow(header)
                out.write(buf.getvalue().encode("utf-8"))
            for shard in shards:
                with open(shard, "rb") as f:
                    shutil.copyfileobj(f, out)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def write_id_list(df: DataFrame, col_name: str, path: str) -> None:
    """S6 sink — one ID per line."""
    df.select(F.col(col_name).cast("string").alias("value")) \
        .write.mode("overwrite").text(path)
