"""QID reinjection into TEI — stage `-w` (SURVEY.md §3.3; §2.3 J1, §2.1 S7).

Reference parity: script/wd2tei.py:22-31 (mapper: tei:name text → wd:id,
last-write-wins on duplicate names), wd2tei.py:34-71 (insert a
listPrefixDef after the first samplingDecl; set @ref="wd:QID" on every
tei:body name whose text maps to a non-empty id), wd2tei.py:124-137
(pretty-print + canonical-schema PI rewrite).

Spark shape: the mapper is a broadcast dict (18.9k distinct QIDs ≈ a few
MB); the catalogue scan is `binaryFile`; the rewrite runs per partition with
the stdlib XML parser and writes from the executors. No shuffle at all
(SURVEY.md §3.3) — this stage is embarrassingly parallel at any scale.

lxml is not available in this environment; the stdlib serializer differs in
prolog/indent minutiae, so parity tests compare parsed trees and injected
attributes, not bytes (tests/test_reinject.py).
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.cache import _hadoop_safe_paths
from ..sources.tei import TEI_NS

_PI_LOCAL = (
    '<?xml-model href="../../_schemas/odd_katabase.rng" type="application/xml"'
    ' schematypens="http://relaxng.org/ns/structure/1.0"?>\n'
    '<?xml-model href="../../_schemas/odd_katabase.rng" type="application/xml"'
    ' schematypens="http://purl.oclc.org/dsdl/schematron"?>'
)
_PI_CANONICAL = (
    '<?xml-model href="https://raw.githubusercontent.com/katabase/'
    'Data_extraction/master/_schemas/odd_katabase.rng"'
    ' schematypens="http://relaxng.org/ns/structure/1.0"?>\n'
    '<?xml-model href="https://raw.githubusercontent.com/katabase/'
    'Data_extraction/master/_schemas/odd_katabase.rng"'
    ' schematypens="http://purl.oclc.org/dsdl/schematron"?>'
)

LISTPREFIXDEF = """<listPrefixDef xmlns="http://www.tei-c.org/ns/1.0">
<prefixDef ident="wd" matchPattern="(Q[0-9]+)" replacementPattern="https://www.wikidata.org/wiki/$1">
<p>In the <gi>body</gi>, the <att>ref</att> attributes containted in <gi>name</gi> elements are pointing to to a
<ref target="https://www.wikidata.org/wiki/">Wikidata</ref> identifier by using the <code>wd:</code> prefix. This <gi>prefixDef</gi>
allows to rebuilt the complete URL from a wikidata identifier by replacing the <code>wd:</code> prefix with:
<code>https://www.wikidata.org/wiki/</code>.</p>
</prefixDef>
</listPrefixDef>"""


# build_mapper collects a {name → id} dict to the driver so the XML
# rewrite can broadcast it. The corpus has ~19k distinct names; the cap
# exists so a 1000×-bigger catalogue set fails with instructions instead
# of silently OOMing the driver mid-collect.
MAPPER_MAX_NAMES = 2_000_000


def build_mapper(nametable_out: DataFrame,
                 max_names: int = MAPPER_MAX_NAMES) -> dict[str, str]:
    """J1 — {tei:name text → wd:id}, last-write-wins on duplicate names
    (the reference's dict-comprehension overwrite, wd2tei.py:30). Expressed
    as an lww window over the explicit row order, then collected (small;
    bounded by `max_names` — see MAPPER_MAX_NAMES)."""
    w = Window.partitionBy("tei_name").orderBy(
        F.desc("catalogue_id"), F.desc("item_pos"), F.desc("row_pos"))
    lww = (
        nametable_out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    # limit(cap+1) bounds the collect itself — the driver never holds more
    # than cap+1 rows even when the input is 1000× oversized, and one extra
    # row is enough to detect the overflow.
    rows = lww.select("tei_name", "wd_id").limit(max_names + 1).collect()
    if len(rows) > max_names:
        raise RuntimeError(
            f"build_mapper: more than {max_names} distinct names. At this "
            f"size the driver-side dict no longer fits driver/broadcast "
            f"memory — rewrite the reinjection as a DataFrame join of the "
            f"name table against exploded catalogue names (or raise "
            f"max_names deliberately).")
    return {r.tei_name: r.wd_id for r in rows}


def _strip_space(el: ET.Element) -> None:
    """remove_blank_text equivalent: drop whitespace-only text/tails."""
    if el.text is not None and not el.text.strip() and len(el):
        el.text = None
    for child in el:
        if child.tail is not None and not child.tail.strip():
            child.tail = None
        _strip_space(child)


def rewrite_catalogue(content: bytes, mapper: dict[str, str]) -> str:
    """wd_2_tei + serialization for one catalogue document."""
    text = content.decode("utf-8")
    root = ET.fromstring(text)

    # insert the listPrefixDef right after the first samplingDecl
    sampling = None
    for enc in root.iter(f"{{{TEI_NS}}}encodingDesc"):
        for parent in enc.iter():
            for i, child in enumerate(parent):
                if child.tag == f"{{{TEI_NS}}}samplingDecl":
                    sampling = (parent, i)
                    break
            if sampling:
                break
        if sampling:
            break
    if sampling is None:
        raise ValueError("no tei:samplingDecl in encodingDesc")
    parent, i = sampling
    parent.insert(i + 1, ET.fromstring(LISTPREFIXDEF))

    # @ref on body names with a non-empty mapped id (probe on .text, the
    # element's first text node, as the reference does)
    for body in root.iter(f"{{{TEI_NS}}}body"):
        for name in body.iter(f"{{{TEI_NS}}}name"):
            wd = mapper.get(name.text or "")
            if wd:
                name.set("ref", f"wd:{wd}")

    _strip_space(root)
    ET.indent(root, space="    ")
    ET.register_namespace("", TEI_NS)

    # preserve the original prolog (decl + xml-model PIs — the stdlib
    # parser drops pre-root PIs), applying the canonical-schema rewrite
    prolog = text[: text.find("<TEI")]
    prolog = prolog.replace(_PI_LOCAL, _PI_CANONICAL)
    return prolog + ET.tostring(root, encoding="unicode") + "\n"


def reinject(spark: SparkSession, nametable_out: DataFrame,
             catalogues_glob: str, out_dir: str) -> int:
    """Full stage `-w`: broadcast the mapper, scan catalogues, rewrite and
    write `{CAT_xxx}_wd.xml` per input from the executors. Returns the
    number of files written."""
    mapper = build_mapper(nametable_out)
    bc = spark.sparkContext.broadcast(mapper)
    os.makedirs(out_dir, exist_ok=True)

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.xml")
        .load(_hadoop_safe_paths(catalogues_glob))
        .select("path", "content")
    )

    def work(rows):
        n = 0
        for r in rows:
            catid = re.search(r"CAT_\d+", r.path)[0]
            out = rewrite_catalogue(bytes(r.content), bc.value)
            with open(os.path.join(out_dir, f"{catid}_wd.xml"), "w",
                      encoding="utf-8") as f:
                f.write(out)
            n += 1
        yield n

    return sum(raw.rdd.mapPartitions(work).collect())
