"""Stage `-w` parity: rewrite real catalogues and compare against the
reference's shipped enriched outputs (out/catalogues/*_wd/) — tree-level
equality (lxml is absent, so byte-for-byte pretty-print parity is out of
reach; what matters is the injected @ref set and the listPrefixDef)."""

from __future__ import annotations

import glob
import os
import xml.etree.ElementTree as ET

import pytest

REF = "/root/reference"
CATS = os.path.join(REF, "Catalogues", "1-100")
GOLDEN_DIR = os.path.join(REF, "out", "catalogues", "1-100_wd")
NS = "http://www.tei-c.org/ns/1.0"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(GOLDEN_DIR), reason="reference outputs not available")


def _refs(root) -> dict[str, str]:
    out = {}
    for body in root.iter(f"{{{NS}}}body"):
        for name in body.iter(f"{{{NS}}}name"):
            if name.get("ref"):
                out.setdefault(name.text or "", name.get("ref"))
    return out


def test_reinject_matches_golden_outputs(spark, tmp_path):
    """Build the mapper from the reference's own resolution results —
    reconstructed from the golden outputs themselves — then verify our
    rewrite reproduces every injected @ref in the shipped files."""
    files = sorted(glob.glob(os.path.join(CATS, "CAT_*.xml")))[:25]

    # mapper reconstruction: name text -> wd qid from the golden outputs
    rows = []
    for f in files:
        catid = os.path.basename(f).split("_tagged")[0]
        golden = os.path.join(GOLDEN_DIR, f"{catid}_wd.xml")
        for i, (name, ref) in enumerate(_refs(ET.parse(golden).getroot()).items()):
            rows.append((catid, 0, i, name, ref.removeprefix("wd:")))
    nametable_out = spark.createDataFrame(
        rows,
        "catalogue_id string, item_pos int, row_pos int,"
        "tei_name string, wd_id string",
    )

    from wde_spark.plans.reinject import reinject

    out_dir = str(tmp_path / "wd")
    n = reinject(
        spark, nametable_out,
        os.path.join(CATS, "*.xml"), out_dir,
    )
    assert n == len(glob.glob(os.path.join(CATS, "*.xml")))

    checked = 0
    for f in files:
        catid = os.path.basename(f).split("_tagged")[0]
        mine = ET.parse(os.path.join(out_dir, f"{catid}_wd.xml")).getroot()
        golden = ET.parse(os.path.join(GOLDEN_DIR, f"{catid}_wd.xml")).getroot()

        got, want = _refs(mine), _refs(golden)
        # every golden injection must be reproduced (the reconstructed
        # mapper is global lww, so extra hits on shared names can differ
        # only by colliding duplicate names — require exact match here)
        assert got == want, (catid, got, want)

        # the listPrefixDef must exist with the right prefixDef semantics
        pds = [
            pd for pd in mine.iter(f"{{{NS}}}prefixDef")
            if pd.get("ident") == "wd"
            and pd.get("matchPattern") == "(Q[0-9]+)"
            and pd.get("replacementPattern") == "https://www.wikidata.org/wiki/$1"
        ]
        assert len(pds) == 1, catid
        golden_pds = [pd for pd in golden.iter(f"{{{NS}}}prefixDef")]
        assert len(golden_pds) == 1
        checked += 1
    assert checked == 25
