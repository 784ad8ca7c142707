"""S3/S4 tabular source/sink tests — byte-level compat with the reference's
`csv.writer(delimiter='\t')` single-file append sink (script/itemtoid.py:
320-333): QUOTE_MINIMAL, doubled quotes, CRLF terminators, header iff the
output file is empty."""

import csv
import io

from wde_spark.sources.tabular import read_tsv, write_tsv_compat

HEADER = ["tei:xml_id", "wd:id", "tei:name", "wd:name",
          "wd:snippet", "tei:trait", "wd:certitude"]

ROWS = [
    ["CAT_01_e1", "Q123", "HUGO (Victor)", "Victor Hugo",
     "French <span>poet</span>", "écrivain, né 1802", "True"],
    # adversarial: embedded tab, quote, CRLF, LF, empty, None
    ["CAT_01_e2", "", 'SAND ("George")', "Aurore\tDupin",
     "line1\r\nline2", "", "False"],
    ["CAT_02_e1", "Q42", "le même", None, "a\nb", "  spaced  ", "True"],
    ["CAT_02_e2", "Q7", "plain", "plain", "plain", "plain", "plain"],
]


def _python_csv_bytes(rows, header=None):
    buf = io.StringIO()
    w = csv.writer(buf, delimiter="\t")
    if header is not None:
        w.writerow(header)
    for r in rows:
        w.writerow(["" if v is None else v for v in r])
    return buf.getvalue().encode("utf-8")


def test_write_tsv_compat_byte_identical(spark, tmp_path):
    df = spark.createDataFrame(
        [tuple(r) for r in ROWS], schema=[c.replace(":", "_") for c in HEADER]
    )
    out = str(tmp_path / "nametable_out.tsv")
    write_tsv_compat(df, out, order_by=["tei_xml_id"], header=HEADER)
    with open(out, "rb") as f:
        got = f.read()
    assert got == _python_csv_bytes(sorted(ROWS, key=lambda r: r[0]), HEADER)


def test_write_tsv_compat_header_iff_empty(spark, tmp_path):
    """Second append must NOT repeat the header — the reference's
    header-iff-empty dance on an append-mode file handle."""
    schema = [c.replace(":", "_") for c in HEADER]
    out = str(tmp_path / "out.tsv")
    first, second = ROWS[:2], ROWS[2:]
    write_tsv_compat(spark.createDataFrame([tuple(r) for r in first],
                                           schema=schema),
                     out, order_by=["tei_xml_id"], header=HEADER)
    write_tsv_compat(spark.createDataFrame([tuple(r) for r in second],
                                           schema=schema),
                     out, order_by=["tei_xml_id"], header=HEADER)
    with open(out, "rb") as f:
        got = f.read()
    expected = _python_csv_bytes(sorted(first, key=lambda r: r[0]), HEADER) \
        + _python_csv_bytes(sorted(second, key=lambda r: r[0]))
    assert got == expected


def test_compat_file_roundtrips_through_reference_reader(spark, tmp_path):
    """The file our sink writes must parse back identically through the
    reference's own read path (csv.reader, delimiter tab, quotechar '"')."""
    schema = [c.replace(":", "_") for c in HEADER]
    out = str(tmp_path / "rt.tsv")
    write_tsv_compat(spark.createDataFrame([tuple(r) for r in ROWS],
                                           schema=schema),
                     out, order_by=["tei_xml_id"], header=HEADER)
    with open(out, encoding="utf-8", newline="") as f:
        parsed = list(csv.reader(f, delimiter="\t"))
    assert parsed[0] == HEADER
    expected = [["" if v is None else v for v in r]
                for r in sorted(ROWS, key=lambda r: r[0])]
    assert parsed[1:] == expected


def test_read_tsv_parses_compat_file(spark, tmp_path):
    """Our Spark-side S3 reader on a reference-format file: simple fields
    come back exact (multiline quoted fields need multiLine=True, which the
    reference's own data never contains — its writer receives pre-normalized
    single-line strings)."""
    simple = [r for r in ROWS if not any(
        v and ("\n" in v or "\r" in v) for v in r)]
    out = str(tmp_path / "simple.tsv")
    with open(out, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(HEADER)
        for r in simple:
            w.writerow(["" if v is None else v for v in r])
    df = read_tsv(spark, out)
    got = sorted([tuple("" if v is None else v for v in row)
                  for row in df.collect()])
    expected = sorted(tuple("" if v is None else v for v in r)
                      for r in simple)
    assert got == expected
