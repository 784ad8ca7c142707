"""`tools/diff_plans.normalize` blanks the TMPDIR in front of a snapshot
fixture's `Location:` and keeps the `wde_<name>_<tag>` part."""

from tools.diff_plans import normalize


def _loc(tmpdir: str, snap: str) -> str:
    return (f"Location: InMemoryFileIndex [file:{tmpdir}/{snap}/ledger/d2, "
            f"file:{tmpdir}/{snap}/ledger/b2]")


def test_location_prefix_blanked_snapshot_kept():
    a = normalize(_loc("/tmp/tmp.x1", "wde_doc_ledger_caabb611ff7f"))
    b = normalize(_loc("/var/tmp/other/tmp.y2", "wde_doc_ledger_caabb611ff7f"))
    assert a == b == [
        "Location: InMemoryFileIndex [file:$TMPDIR/wde_doc_ledger_caabb611ff7f"
        "/ledger/d2, file:$TMPDIR/wde_doc_ledger_caabb611ff7f/ledger/b2]"]
    # a renamed or re-keyed snapshot is still a difference
    assert normalize(_loc("/tmp/tmp.x1", "wde_doc_ledger2_3006aa86a798")) != a
    assert normalize(_loc("/tmp/tmp.x1", "wde_doc_ledger_3006aa86a798")) != a
