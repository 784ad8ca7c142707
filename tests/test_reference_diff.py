"""Differential tests: the engine's classifier/ladder vs the reference
implementation itself, executed in-process (no network).

The reference repo at /root/reference is read-only PUBLIC content; these
tests import its modules (stubbing its unavailable third-party deps) and
compare outputs row-by-row over the 200-row golden test set it ships
(script/tables/nametable_test_withid.tsv). Skipped when the reference tree
is absent, so the repo remains standalone.
"""

from __future__ import annotations

import contextlib
import csv
import io
import os
import sys

import pytest

REF = "/root/reference"
GOLDEN = os.path.join(REF, "script", "tables", "nametable_test_withid.tsv")

pytestmark = pytest.mark.skipif(
    not os.path.isfile(GOLDEN), reason="reference tree not available")


@pytest.fixture(scope="module")
def ref_modules():
    """Import the reference's prep/query modules with fake third-party deps
    (requests/tqdm/lxml/SPARQLWrapper are absent from this environment and
    unused by the code paths under test)."""
    from conftest import stub_reference_deps

    stub_reference_deps()
    sys.path.insert(0, REF)
    import script.itemtoid as ref_itemtoid
    import script.utils.itemtoid_prep as ref_prep

    yield ref_prep, ref_itemtoid
    sys.path.remove(REF)


@pytest.fixture(scope="module")
def golden_rows():
    with open(GOLDEN, encoding="utf-8") as f:
        rows = [r for r in csv.reader(f, delimiter="\t", quotechar='"')]
    assert len(rows) == 200
    return [(r[2], r[3]) for r in rows]  # (name, trait)


def _ref_qdicts(ref_prep, rows):
    out = []
    prev = {k: "" for k in ("fname", "lname", "nobname_sts", "status",
                            "dates", "function")} | {"rebuilt": False}
    for name, trait in rows:
        with contextlib.redirect_stdout(io.StringIO()):
            qd, prev = ref_prep.prep_query([name, trait], prev)
        out.append(dict(qd))
    return out


def _my_qdicts(rows):
    from wde_spark.functions.classify import QDICT_FIELDS, prep_query

    out = []
    prev = None
    for name, trait in rows:
        q = prep_query(name, trait)
        if q is None:  # "le même" → carry forward (W1)
            q = prev
        prev = q
        out.append(dict(zip(QDICT_FIELDS, q.as_tuple())) if q is not None
                   else {k: "" for k in QDICT_FIELDS})
    return out


def test_prep_query_matches_reference(ref_modules, golden_rows):
    ref_prep, _ = ref_modules
    ref = _ref_qdicts(ref_prep, golden_rows)
    mine = _my_qdicts(golden_rows)
    mismatches = [
        (i, golden_rows[i][0], r, m)
        for i, (r, m) in enumerate(zip(ref, mine)) if r != m
    ]
    assert not mismatches, f"{len(mismatches)} qdict mismatches; first: {mismatches[0]}"


def test_corpus_sample_qdicts_match_reference(ref_modules, spark):
    """qdict parity over real corpus rows (every 16th of 82.9k — ~5.2k
    rows spanning all 409 catalogues), built through the REAL TEI scan +
    nametable plan. Full-corpus run: WDE_FULL_DIFF=1."""
    ref_prep, _ = ref_modules
    from wde_spark.plans.nametable import nametable_rows
    from wde_spark.sources.tei import read_tei_items

    items = read_tei_items(spark, REF + "/Catalogues/*/CAT_*.xml")
    nt = (
        nametable_rows(items)
        .orderBy("catalogue_id", "item_pos", "row_pos")
        .select("name", "trait").collect()
    )
    step = 1 if os.environ.get("WDE_FULL_DIFF") else 16
    rows = [(r.name, r.trait) for r in nt]

    # the reference threads prev sequentially; replay it faithfully, then
    # compare only the sampled offsets
    ref = _ref_qdicts(ref_prep, rows)
    mine = _my_qdicts(rows)
    idx = range(0, len(rows), step)
    mismatches = [(i, rows[i][0], ref[i], mine[i])
                  for i in idx if ref[i] != mine[i]]
    assert len(rows) > 80_000
    assert not mismatches, (
        f"{len(mismatches)} mismatches of {len(range(0, len(rows), step))};"
        f" first: {mismatches[0]}")

    # ladder (probe-sequence) parity on a sparser sample of real qdicts
    _, ref_itemtoid = ref_modules
    from wde_spark.functions.classify import (QDict, clean_query_string,
                                              ladder_candidates)

    ladder_mism = []
    for i in range(0, len(rows), step * 4):
        probed: list[str] = []

        def fake_confrequest(qstr, qdict, config=None):
            probed.append(clean_query_string(qstr))
            return ["", "", "", False]

        orig = ref_itemtoid.confrequest
        ref_itemtoid.confrequest = fake_confrequest
        try:
            ref_itemtoid.launch_query(dict(ref[i]),
                                      {"test": False, "fetch": False})
        finally:
            ref_itemtoid.confrequest = orig
        ref_seq = []
        for p in probed:
            if p and p not in ref_seq:
                ref_seq.append(p)
        if ref_seq != ladder_candidates(QDict(**ref[i])):
            ladder_mism.append((i, rows[i][0]))
    assert not ladder_mism, f"{len(ladder_mism)} ladder mismatches: {ladder_mism[:3]}"


def test_ladder_matches_reference(ref_modules, golden_rows):
    """Record every query string the reference's launch_query would probe
    (forcing all-miss results) and compare with ladder_candidates()."""
    ref_prep, ref_itemtoid = ref_modules
    from wde_spark.functions.classify import (QDict, clean_query_string,
                                              ladder_candidates)

    ref_qd = _ref_qdicts(ref_prep, golden_rows)
    mismatches = []
    for i, qd in enumerate(ref_qd):
        probed: list[str] = []

        def fake_confrequest(qstr, qdict, config=None):
            probed.append(clean_query_string(qstr))
            return ["", "", "", False]

        orig = ref_itemtoid.confrequest
        ref_itemtoid.confrequest = fake_confrequest
        try:
            ref_itemtoid.launch_query(dict(qd), {"test": False, "fetch": False})
        finally:
            ref_itemtoid.confrequest = orig

        ref_seq = []
        for p in probed:
            if p and p not in ref_seq:
                ref_seq.append(p)
        mine = ladder_candidates(QDict(**qd))
        if ref_seq != mine:
            mismatches.append((i, golden_rows[i][0], ref_seq, mine))
    assert not mismatches, (
        f"{len(mismatches)} ladder mismatches; first: {mismatches[0]}")
