"""Live-mode resolution: wave-by-wave ladder with a counting fake
transport — verifies (a) result equality with offline mode, (b) the
early-exit API economy (no row fetches a candidate past its first hit,
queries are deduplicated before fetching), (c) a fixed number of Spark
jobs however many waves the loop runs. The first tests build their
nametable inline; the last two replay the reference's golden table."""

from __future__ import annotations

import csv
import os

import pytest

REF = "/root/reference"
GOLDEN = os.path.join(REF, "script", "tables", "nametable_test_withid.tsv")

needs_reference = pytest.mark.skipif(
    not os.path.isfile(GOLDEN), reason="reference tree not available")

NT_ITEMS = "catalogue_id string, item_pos int, xml_id string, " \
    "names array<string>, traits array<string>"

# FIXTURES.md §1 shapes: `LASTNAME (First.)`, nobiliary particles,
# `le même.`, a multi-name item, blank traits, `DIVERS DOCUMENTS`
ITEMS = [
    ("CAT_1", 0, "CAT_1_e1", ["ADANSON (Michel)"],
     ["botaniste. N. 1727. M. 1806"]),
    ("CAT_1", 1, "CAT_1_e2", ["le même."], ["lettre autographe signée."]),
    ("CAT_1", 2, "CAT_1_e3", ["ANGOULÊME (Louis-Ant. duc d')"],
     ["fils de France, général en chef."]),
    ("CAT_1", 3, "CAT_1_e4", ["MOLIÈRE (J.-B.)", "RACINE (Jean)"],
     ["poète comique.", "poète tragique."]),
    ("CAT_1", 4, "CAT_1_e5", ["VOLTAIRE (François-Marie)"], []),
    ("CAT_1", 5, "CAT_1_e6", ["DIVERS DOCUMENTS"], []),
    ("CAT_2", 0, "CAT_2_e1", ["AFFRE (Denis)"],
     ["archevêque de Paris, victime de son dévouement pendant les "
      "journées de juin 1848."]),
    ("CAT_2", 1, "CAT_2_e2", ["CONDÉ (Louis-Joseph prince de)"],
     ["maréchal de camp, né en 1736, mort en 1818."]),
    ("CAT_2", 2, "CAT_2_e3", ["le même."], ["pièce signée."]),
    ("CAT_2", 3, "CAT_2_e4", ["BALZAC (H. de)"], ["célèbre romancier."]),
    ("CAT_2", 4, "CAT_2_e5", ["LAFAYETTE (Gilbert marquis de)"], []),
]


def _nametable(spark, items):
    from wde_spark.plans.nametable import nametable_rows

    return nametable_rows(spark.createDataFrame(items, NT_ITEMS)).cache()


def _logging_fetcher(log_path, table):
    """Replays `table` (qstr -> (qid, title, snippet)), appending each
    query to `log_path`: the fetcher runs in Python worker processes, and
    O_APPEND keeps each line whole."""

    def fetch(qstr: str) -> dict:
        with open(log_path, "a", encoding="utf-8") as fh:
            fh.write(qstr + "\n")
        qid, title, snippet = table.get(qstr, ("", "", ""))
        return {"qid": qid, "title": title, "snippet": snippet}

    return fetch


def _fetched(log_path) -> list[str]:
    if not os.path.exists(log_path):
        return []
    with open(log_path, encoding="utf-8") as fh:
        return [ln.rstrip("\n") for ln in fh if ln.strip()]


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_resolve_live_inline_nametable(spark, tmp_path):
    """resolve_live from an empty, a full and a pre-warmed cache equals
    resolve_offline over the table the fetcher replays, certitude included,
    and fetches exactly what a serial walk of each ladder to its first hit
    fetches, each query once."""
    from pyspark.sql import functions as F

    from wde_spark.plans.resolve import attach_candidates, resolve_offline
    from wde_spark.sources.cache import CACHE_SCHEMA, synthetic_cache
    from wde_spark.sources.http import resolve_live

    nt = _nametable(spark, ITEMS)
    ladders = [list(r.candidates) for r in
               attach_candidates(nt).select("candidates").collect()]
    universe = spark.createDataFrame(
        sorted({c for ld in ladders for c in ld}), "string").toDF("qstr")
    snapshot = synthetic_cache(universe, 0.4, seed="live").cache()
    table = {r.qstr: (r.qid, r.title, r.snippet) for r in snapshot.collect()}
    want = _rows(resolve_offline(nt, snapshot, certitude_source="computed"))

    def serial_walk(cached: set[str]) -> set[str]:
        out = set()
        for ld in ladders:
            for q in ld:
                if q not in cached:
                    out.add(q)
                if q in table:
                    break
        return out

    empty = spark.createDataFrame([], CACHE_SCHEMA)
    log = str(tmp_path / "empty.log")
    resolved, full_cache = resolve_live(
        nt, empty, _logging_fetcher(log, table), n_workers=2)
    assert _rows(resolved) == want
    seen = _fetched(log)
    assert len(seen) == len(set(seen)), "a query was fetched twice"
    assert set(seen) == serial_walk(set())
    assert any(ld[0] not in table for ld in ladders if ld), \
        "the ladders must take more than one wave"

    # the cache the first run returns answers every rung it can reach
    full_cache = full_cache.cache()
    log = str(tmp_path / "full.log")
    resolved, _ = resolve_live(
        nt, full_cache, _logging_fetcher(log, table), n_workers=2)
    assert _rows(resolved) == want
    assert _fetched(log) == []

    # pre-warmed: the replayed answers (hits and empties) of every rung at
    # rank >= 1, so some ladders hit in the cache below their first rung
    deep = sorted({q for ld in ladders for q in ld[1:]})
    warm = full_cache.filter(F.col("qstr").isin(deep)).cache()
    warm_keys = {r.qstr for r in warm.collect()}
    assert any(q in table for q in warm_keys), "no warm hit at rank >= 1"
    log = str(tmp_path / "warm.log")
    resolved, _ = resolve_live(
        nt, warm, _logging_fetcher(log, table), n_workers=2)
    assert _rows(resolved) == want
    seen = _fetched(log)
    assert len(seen) == len(set(seen))
    assert set(seen) == serial_walk(warm_keys)


def test_resolve_live_jobs_do_not_scale_with_waves(spark, tmp_path):
    """Per-wave Spark jobs must not come back: a nametable whose longest
    ladder has 2 rungs and one with 8 (every fetch misses, so the loop runs
    2 and 8 waves) run the same number of jobs."""
    from wde_spark.plans.resolve import attach_candidates
    from wde_spark.sources.cache import CACHE_SCHEMA
    from wde_spark.sources.http import resolve_live

    sc = spark.sparkContext
    empty = spark.createDataFrame([], CACHE_SCHEMA)
    short = [("CAT_1", 0, "CAT_1_e1", ["RACINE (Jean)"], ["poète tragique."]),
             ("CAT_1", 1, "CAT_1_e2", ["VOLTAIRE (François-Marie)"], [])]
    long = [("CAT_1", 0, "CAT_1_e1", ["ADANSON (Michel)"],
             ["botaniste. N. 1727. M. 1806"]),
            ("CAT_1", 1, "CAT_1_e2", ["VOLTAIRE (François-Marie)"], [])]
    jobs = {}
    for name, items in (("short", short), ("long", long)):
        nt = _nametable(spark, items)
        longest = max(len(r.candidates) for r in
                      attach_candidates(nt).select("candidates").collect())
        group = f"resolve_live_jobs_{name}"
        sc.setJobGroup(group, group)
        try:
            resolved, _ = resolve_live(
                nt, empty, _logging_fetcher(str(tmp_path / name), {}))
            resolved.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(_fetched(str(tmp_path / name))) >= longest
        jobs[name] = (longest, len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs["short"][0] == 2 and jobs["long"][0] == 8, jobs
    assert jobs["short"][1] == jobs["long"][1], jobs


def test_wave_loop_threads_keep_fetcher_state_whole():
    """The wave loop calls the fetcher from `n_workers` threads. A fetcher
    with unlocked read-modify-write state must lose no update, with more
    threads than cores and a switch interval short enough to preempt
    inside the fetcher; the caller's interval is restored."""
    import sys

    import pandas as pd

    from wde_spark.sources.http import _wave_loop

    calls = {"n": 0}

    def fetch(qstr: str) -> dict:
        n = calls["n"]
        for _ in range(50):  # room for a preemptive switch
            pass
        calls["n"] = n + 1
        hit = qstr.endswith("hit")
        return {"qid": "Q1" if hit else "", "title": "", "snippet": ""}

    ladders = [[f"r{i} miss", f"r{i} hit", f"r{i} late"] for i in range(400)]
    pdf = pd.DataFrame({"candidates": ladders,
                        "cached": [[] for _ in ladders]})
    caller = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = pd.concat(list(_wave_loop(fetch, 16)(iter([pdf]))))
        assert sys.getswitchinterval() == pytest.approx(1e-6)
    finally:
        sys.setswitchinterval(caller)
    assert sorted(out.qstr) == sorted(q for ld in ladders for q in ld[:2])
    assert calls["n"] == len(out)


def test_le_meme_carry_restarts_with_each_catalogue(spark):
    """A `le même` row takes the previous row's qdict, in (item_pos,
    row_pos) order whatever order the rows arrive in; one that opens a
    catalogue has no previous row, there or across the catalogue
    boundary, and resolves to nothing."""
    from wde_spark.plans.resolve import attach_candidates, resolve_offline
    from wde_spark.sources.cache import CACHE_SCHEMA

    items = [
        ("CAT_B", 0, "CAT_B_e1", ["le même."], ["pièce signée."]),
        ("CAT_A", 2, "CAT_A_e3", ["le même."], []),
        ("CAT_A", 1, "CAT_A_e2", ["ADANSON (Michel)"],
         ["botaniste. N. 1727. M. 1806"]),
        ("CAT_A", 0, "CAT_A_e1", ["le même."], ["poète."]),
    ]
    nt = _nametable(spark, items)
    rows = {r.xml_id: r for r in attach_candidates(nt).collect()}
    adanson = rows["CAT_A_e2"]
    assert adanson.candidates and adanson.lname
    assert rows["CAT_A_e3"].candidates == adanson.candidates
    assert rows["CAT_A_e3"].cand_certs == adanson.cand_certs
    for xml_id in ("CAT_A_e1", "CAT_B_e1"):
        assert rows[xml_id].candidates == [], xml_id
        assert rows[xml_id].lname is None, xml_id

    cache = spark.createDataFrame(
        [(c[:1], c, "Q1", "Adanson", "s", True) for c in adanson.candidates],
        CACHE_SCHEMA)
    got = {r.tei_xml_id: (r.wd_id, r.wd_certitude)
           for r in resolve_offline(nt, cache).collect()}
    assert got == {"CAT_A_e1": ("", False), "CAT_A_e2": ("Q1", True),
                   "CAT_A_e3": ("Q1", True), "CAT_B_e1": ("", False)}


def test_assign_skips_recorded_empty_rungs_and_scores_misses_false(spark):
    """A recorded EMPTY answer at rank 0 does not stop the ladder: the hit
    at rank 2 wins over rank 3, with its recorded or its computed
    certitude. A row with no hit gets certitude False in both modes, even
    where the Q3 certitude of its first rung is True."""
    from wde_spark.plans.resolve import attach_candidates, resolve_offline
    from wde_spark.sources.cache import CACHE_SCHEMA

    items = [
        ("CAT_1", 0, "CAT_1_e1", ["ADANSON (Michel)"],
         ["botaniste. N. 1727. M. 1806"]),
        ("CAT_1", 1, "CAT_1_e2", ["CONDÉ (Louis-Joseph prince de)"],
         ["maréchal de camp, né en 1736, mort en 1818."]),
    ]
    nt = _nametable(spark, items)
    rows = {r.xml_id: r for r in attach_candidates(nt).collect()}
    hit, miss = rows["CAT_1_e1"], rows["CAT_1_e2"]
    ladder = hit.candidates
    assert len(ladder) >= 4 and miss.cand_certs[0]
    assert not set(ladder) & set(miss.candidates)
    cache = spark.createDataFrame(
        [(ladder[0][:1], ladder[0], "", "", "", False),
         (ladder[2][:1], ladder[2], "Q2", "rank two", "s2", False),
         (ladder[3][:1], ladder[3], "Q3", "rank three", "s3", True)],
        CACHE_SCHEMA)
    for source, cert in (("cache", False), ("computed", hit.cand_certs[2])):
        got = {r.tei_xml_id: (r.wd_id, r.wd_name, r.wd_certitude)
               for r in resolve_offline(nt, cache, source).collect()}
        assert got == {"CAT_1_e1": ("Q2", "rank two", cert),
                       "CAT_1_e2": ("", "", False)}, source


@needs_reference
def test_resolve_live_matches_offline(spark):
    from wde_spark.sources.cache import read_query_cache
    from wde_spark.sources.http import resolve_live
    from wde_spark.plans.resolve import resolve_offline

    rows = []
    with open(GOLDEN, encoding="utf-8") as f:
        for i, r in enumerate(csv.reader(f, delimiter="\t", quotechar='"')):
            rows.append(("TEST", 0, i, r[0], r[2], r[3]))
    nt = spark.createDataFrame(
        rows[:60],
        "catalogue_id string, item_pos int, row_pos int, xml_id string,"
        "name string, trait string",
    )

    full_cache = read_query_cache(
        spark, os.path.join(REF, "script", "logs", "idqueried_*.json")).cache()
    snapshot = {r.qstr: (r.qid, r.title, r.snippet) for r in full_cache.collect()}

    # fetch_fn runs in executor worker processes — log fetches through the
    # (shared, local-mode) filesystem, O_APPEND is atomic per line
    import tempfile

    log_path = tempfile.mktemp(suffix=".fetchlog")

    def counting_fetch(qstr: str) -> dict:
        with open(log_path, "a", encoding="utf-8") as fh:
            fh.write(qstr + "\n")
        qid, title, snippet = snapshot.get(qstr, ("", "", ""))
        return {"qid": qid, "title": title, "snippet": snippet}

    empty_cache = full_cache.limit(0)
    resolved_live, final_cache = resolve_live(
        nt, empty_cache, counting_fetch, n_workers=2)
    live = {r.tei_xml_id: r.wd_id
            for r in resolved_live.collect()}

    # same answers as running offline against the full recorded cache,
    # except certitude: fetched entries default to False pending rescoring
    offline = {r.tei_xml_id: r.wd_id
               for r in resolve_offline(nt, full_cache).collect()}
    assert live == offline

    with open(log_path, encoding="utf-8") as fh:
        seen = [ln.rstrip("\n") for ln in fh if ln.strip()]
    os.unlink(log_path)
    fetch_count = {"n": len(seen)}
    # economy: every query fetched at most once (dedup across rows+waves)
    assert len(seen) == len(set(seen))
    # economy: strictly fewer fetches than the total candidate universe
    from wde_spark.plans.resolve import attach_candidates
    wc = attach_candidates(nt)
    all_cands = set()
    n_first = 0
    for r in wc.select("candidates").collect():
        all_cands.update(r.candidates or [])
        n_first += 1 if r.candidates else 0
    assert n_first <= fetch_count["n"] <= len(all_cands)


@needs_reference
def test_synthetic_cache_hit_rate_sweep(spark):
    """Reference `makedummy` generalized: sweep controlled cache hit-rates
    through the live-resolve waves and assert the fetch economy —
    (a) a cached query is NEVER fetched, (b) fetch volume is monotone
    non-increasing in hit rate, (c) full coverage fetches nothing."""
    import csv as _csv
    import tempfile

    from pyspark.sql import functions as F

    from wde_spark.plans.resolve import attach_candidates
    from wde_spark.sources.cache import synthetic_cache
    from wde_spark.sources.http import resolve_live

    rows = []
    with open(GOLDEN, encoding="utf-8") as f:
        for i, r in enumerate(_csv.reader(f, delimiter="\t", quotechar='"')):
            rows.append(("TEST", 0, i, r[0], r[2], r[3]))
    nt = spark.createDataFrame(
        rows[:40],
        "catalogue_id string, item_pos int, row_pos int, xml_id string,"
        "name string, trait string",
    )
    universe = attach_candidates(nt).select(F.explode("candidates").alias("qstr"))

    fetched_by_rate = {}
    for rate in (0.0, 0.5, 1.0):
        cache = synthetic_cache(universe, rate)
        cached_keys = {r.qstr for r in cache.select("qstr").collect()}
        log_path = tempfile.mktemp(suffix=".fetchlog")

        def miss_fetch(qstr: str, _p=log_path) -> dict:
            with open(_p, "a", encoding="utf-8") as fh:
                fh.write(qstr + "\n")
            return {"qid": "", "title": "", "snippet": ""}

        resolved, _ = resolve_live(nt, cache, miss_fetch, n_workers=2)
        resolved.collect()
        try:
            with open(log_path, encoding="utf-8") as fh:
                fetched = {ln.rstrip("\n") for ln in fh if ln.strip()}
        except FileNotFoundError:
            fetched = set()
        else:
            os.unlink(log_path)
        assert not (fetched & cached_keys), \
            f"hit_rate={rate}: cached queries were re-fetched"
        fetched_by_rate[rate] = len(fetched)

    assert fetched_by_rate[1.0] == 0
    assert fetched_by_rate[0.0] >= fetched_by_rate[0.5] >= fetched_by_rate[1.0]
    assert fetched_by_rate[0.0] > fetched_by_rate[0.5], \
        "a 50% cache must absorb some fetches"
