"""TEI XML catalogue source — SURVEY.md §2.1 S1/S2.

Reference parity: script/utils/nametable.py:37-52 (glob + lxml XPath
`//tei:body//tei:item`, `./tei:name/text()`, `./tei:trait//*/text()`),
script/wd2tei.py:96-120.

Spark-first shape: `spark.read.format('binaryFile')` lists and reads the
catalogue files as a distributed scan (one task per file group, no driver
loop), then a `mapPartitions` parse with the stdlib XML parser emits one row
per `tei:item` carrying explicit ordering columns `(catalogue_id, item_pos)`
— the reference's semantics depend on document order (W1 "le même", J5
positional joins), so order is materialized as data, never left implicit
(SURVEY.md §4 "Order-preserving processing").

Mixed-content fidelity: an element's *text nodes* are its `.text` plus each
child's `.tail`; `name/text()` and `trait//*/text()` are reproduced exactly
that way, so the emitted strings are byte-identical to the reference's
lxml-based extraction (verified by tests/test_reference_diff.py).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from .cache import _hadoop_safe_paths

TEI_NS = "http://www.tei-c.org/ns/1.0"
XML_ID = "{http://www.w3.org/XML/1998/namespace}id"

ITEM_SCHEMA = T.StructType([
    T.StructField("catalogue_id", T.StringType()),
    T.StructField("file_path", T.StringType()),
    T.StructField("item_pos", T.IntegerType()),
    T.StructField("xml_id", T.StringType()),
    T.StructField("names", T.ArrayType(T.StringType())),
    T.StructField("traits", T.ArrayType(T.StringType())),
])


def _text_nodes(el: ET.Element) -> list[str]:
    """The XPath `text()` node-set of an element: its leading text plus the
    tail of every direct child, in document order, skipping empty nodes."""
    out = []
    if el.text is not None:
        out.append(el.text)
    for child in el:
        if child.tail is not None:
            out.append(child.tail)
    return out


def parse_items(content: bytes, file_path: str) -> Iterator[Row]:
    """Parse one TEI catalogue into item rows (document order)."""
    root = ET.fromstring(content)
    cat = re.search(r"(CAT_\d+)", file_path)
    cat_id = cat.group(1) if cat else root.get(XML_ID, "")
    pos = 0
    for body in root.iter(f"{{{TEI_NS}}}body"):
        for item in body.iter(f"{{{TEI_NS}}}item"):
            names: list[str] = []
            for name_el in item.findall(f"{{{TEI_NS}}}name"):
                names.extend(_text_nodes(name_el))
            traits: list[str] = []
            for trait_el in item.findall(f"{{{TEI_NS}}}trait"):
                for sub in trait_el.iter():
                    if sub is trait_el:
                        continue
                    traits.extend(_text_nodes(sub))
            yield Row(
                catalogue_id=cat_id,
                file_path=file_path,
                item_pos=pos,
                xml_id=item.get(XML_ID, ""),
                names=names,
                traits=traits,
            )
            pos += 1


def read_tei_items(spark: SparkSession, path_glob: str) -> DataFrame:
    """S1/S2 — distributed TEI catalogue scan → item DataFrame.

    `binaryFile` over the matched files (listed by `_hadoop_safe_paths`)
    gives (path, content) rows with Spark-managed partitioning and
    locality; parsing runs in executors. At cluster scale the XML decode
    parallelizes per file with zero shuffle.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.xml")
        .load(_hadoop_safe_paths(path_glob))
        .select("path", "content")
    )

    def parse_partition(rows):
        for r in rows:
            yield from parse_items(bytes(r.content), r.path)

    return spark.createDataFrame(
        raw.rdd.mapPartitions(parse_partition), ITEM_SCHEMA
    )
