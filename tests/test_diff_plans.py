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


def _persisted(final: list[str], site: str) -> str:
    """A plan over a persisted frame whose AQE final plan was printed,
    with the given final-plan nodes and localCheckpoint call site."""
    n = len(final)
    tree = ["== Physical Plan ==",
            f"Sort ({n + 3})",
            f"+- InMemoryTableScan ({n + 2})",
            "   +- AdaptiveSparkPlan (1)",
            "      +- == Final Plan =="]
    tree += [f"         {name} ({i + 2})" for i, name in enumerate(final)]
    tree += ["      +- == Initial Plan ==",
             f"         Scan ExistingRDD ({n + 4})", ""]
    details = [f"({i + 2}) {name}\nArguments: {i}\n"
               for i, name in enumerate(final)]
    details += ["(1) AdaptiveSparkPlan\nArguments: isFinalPlan=true\n",
                f"({n + 2}) InMemoryTableScan\nOutput [1]: [doc_id#3L]\n",
                f"({n + 3}) Sort\nInput [1]: [doc_id#3L]\n",
                f"({n + 4}) Scan ExistingRDD\nArguments: MapPartitionsRDD[7]"
                f" at localCheckpoint at {site}, ExistingRDD\n"]
    return "\n".join(tree + details)


def test_final_plans_and_call_sites_blanked():
    """Two captures of one query differ in the AQE final plan of a frame
    persisted while the DataFrame was built (another node count, so
    every later node number shifts) and in the localCheckpoint call
    site; both are blanked, while the initial plan is still compared."""
    a = normalize(_persisted(["ResultQueryStage", "ShuffleQueryStage"],
                             "NativeMethodAccessorImpl.java:0"))
    b = normalize(_persisted(["ResultQueryStage", "BroadcastQueryStage",
                              "ShuffleQueryStage"], "<unknown>:0"))
    assert a == b
    assert "      +- == Final Plan ==" not in a
    assert "(2) InMemoryTableScan" in a and "Arguments: 0" not in a
    changed = _persisted(["ResultQueryStage"], "<unknown>:0") \
        .replace("Scan ExistingRDD (5)", "Scan parquet (5)")
    assert normalize(changed) != a
