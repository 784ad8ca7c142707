"""Live external-lookup sources — SURVEY.md §2.1 S8 (Wikidata full-text
search REST API) and S9 (WDQS SPARQL endpoint).

Reference parity: script/itemtoid.py:45-114 (GET w/api.php?action=query&
list=search&srlimit=1, gzip, custom UA, certitude scoring) and
script/sparql.py:19-92 (SPARQLWrapper against query.wikidata.org, JSON with
XML fallback).

Spark shape (SURVEY.md §2.10) of live resolution (`resolve_live`):
- the ladders are computed once, by `plans.resolve.attach_candidates`'s
  per-catalogue kernel, and checkpointed; one query annotates each
  distinct ladder with the cache state of every rung (broadcast cache
  join);
- ONE `mapInPandas` task runs the whole wave loop over those ladders. A
  wave's fetch set depends on what every ladder found in earlier waves, and
  fetching each query once needs dedup across the corpus, so the loop has
  one coordinator; it runs in an executor, so no ladder or cache row is
  collected, and costs a fixed number of Spark jobs however many waves it
  runs;
- each wave fetches its distinct misses on `n_workers` threads, each call
  paying the fetcher's politeness delay (API etiquette) — `n_workers` IS
  the rate limiter;
- the task emits only the fetched rows, which are merged into the cache
  table (sources/cache.upsert) once, so a re-run touches the network only
  for misses (the reference's resume semantics, P1, with no log files);
- `plans.resolve.assign` then picks each row's answer over the merged
  cache in one pass over the checkpointed ladders, as offline `-i` does.

Offline by default: tests and the driver environment have no network;
`fetch_fn` is injectable, and `offline_fetcher` replays from a cache
table. The stdlib `urllib` client is used (no third-party HTTP dep).
"""

from __future__ import annotations

import json
import sys
import time
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import CACHE_SCHEMA

USER_AGENT = "wde-spark/1.0 (PySpark WikidataEnrichment engine)"
SEARCH_URL = "https://www.wikidata.org/w/api.php"
WDQS_URL = "https://query.wikidata.org/sparql"

FetchFn = Callable[[str], dict]


def _http_get_json(url: str, params: dict, timeout: float = 30.0) -> dict:
    q = urllib.parse.urlencode(params)
    req = urllib.request.Request(
        f"{url}?{q}",
        headers={"User-Agent": USER_AGENT, "Accept-Encoding": "gzip"},
    )
    import gzip as _gzip

    with urllib.request.urlopen(req, timeout=timeout) as resp:
        data = resp.read()
        if resp.headers.get("Content-Encoding") == "gzip":
            data = _gzip.decompress(data)
    return json.loads(data)


def wikidata_search_fetcher(delay_s: float = 0.2,
                            timeout: float = 30.0) -> FetchFn:
    """S8 — srlimit=1 full-text search; returns the reference's result
    shape {qid, title, snippet} ('' on no hit), itemtoid.py:65-88."""
    import re

    def fetch(qstr: str) -> dict:
        time.sleep(delay_s)
        js = _http_get_json(SEARCH_URL, {
            "action": "query", "list": "search", "srsearch": qstr.strip(),
            "srlimit": 1, "srprop": "title|titlesnippet|snippet",
            "format": "json",
        }, timeout)
        try:
            hit = js["query"]["search"][0]
            strip = lambda s: re.sub(r"<.*?>", "", s)
            return {"qid": hit["title"], "title": strip(hit["titlesnippet"]),
                    "snippet": strip(hit["snippet"])}
        except (KeyError, IndexError):
            return {"qid": "", "title": "", "snippet": ""}

    return fetch


def sparql_fetcher(delay_s: float = 0.5, timeout: float = 60.0) -> FetchFn:
    """S9 — one SPARQL query against WDQS, SPARQL-JSON out
    (sparql.py:60-67; the XML fallback ladder stays client-side)."""

    def fetch(query: str) -> dict:
        time.sleep(delay_s)
        return _http_get_json(WDQS_URL, {"query": query, "format": "json"},
                              timeout)

    return fetch


def offline_fetcher(cache_rows: dict[str, tuple]) -> FetchFn:
    """Replay fetcher for tests/CI: a dict snapshot of the cache table."""

    def fetch(qstr: str) -> dict:
        qid, title, snippet = cache_rows.get(qstr, ("", "", ""))[:3]
        return {"qid": qid, "title": title, "snippet": snippet}

    return fetch


def _wave_loop(fetch_fn: FetchFn, n_workers: int):
    """mapInPandas kernel over (candidates, cached) ladder rows, all in one
    task: wave r takes rung r of every ladder not yet retired, fetches the
    distinct rungs no cache entry or earlier wave answered, and retires the
    ladders whose rung r is a non-empty hit. Yields the fetched rows in
    the cache-table schema, certitude false (rescored by the caller)."""
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ladders, known = [], {}
        for pdf in it:
            ladders.extend(pdf["candidates"])
            for cached in pdf["cached"]:
                for c in cached:
                    known[c["qstr"]] = known.get(c["qstr"], False) or c["hit"]
        # A fetch thread gives up the interpreter only where it blocks
        # (network, politeness sleep), never preemptively, so a fetcher's
        # own Python state (counters, accumulators) needs no lock.
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1000.0)
        try:
            with ThreadPoolExecutor(max_workers=n_workers) as pool:
                rank = 0
                while ladders:
                    misses = sorted({ld[rank] for ld in ladders}
                                    - known.keys())
                    out = list(pool.map(fetch_fn, misses))
                    for qstr, o in zip(misses, out):
                        known[qstr] = o["qid"] != ""
                    if misses:
                        yield pd.DataFrame(
                            out, columns=["qid", "title", "snippet"]).assign(
                            part=[q[:1] for q in misses], qstr=misses,
                            cert=False)
                    rank += 1
                    ladders = [ld for ld in ladders
                               if len(ld) > rank and not known[ld[rank - 1]]]
        finally:
            sys.setswitchinterval(interval)

    return kernel


def resolve_live(nametable: DataFrame, cache: DataFrame,
                 fetch_fn: FetchFn,
                 n_workers: int = 4) -> tuple[DataFrame, DataFrame]:
    """Live stage `-i`: wave-by-wave ladder descent preserving the
    reference's early-exit API economy (SURVEY.md §4) — wave r tries the
    rank-r candidate of every row still unresolved, cache first, then one
    deduplicated fetch of the misses; hits (qid != '') retire their row.
    No query is fetched twice and no row fetches a candidate later than its
    first hit. A failed loop task re-runs the whole loop.

    Returns (resolved DataFrame in nametable_out shape, updated cache
    table)."""
    from ..plans.resolve import assign, attach_candidates
    from .cache import upsert

    cands = attach_candidates(nametable).localCheckpoint(eager=True)
    state = cache.select(
        "qstr", (F.coalesce("qid", F.lit("")) != "").alias("hit"))
    annotated = (
        cands.select("candidates").filter(F.size("candidates") > 0)
        .distinct()
        .select("candidates", F.explode("candidates").alias("qstr"))
        .join(F.broadcast(state), "qstr", "left")
        .groupBy("candidates")
        .agg(F.collect_list(F.when(F.col("hit").isNotNull(),
                                   F.struct("qstr", "hit"))).alias("cached"))
    )
    fetched = annotated.coalesce(1).mapInPandas(
        _wave_loop(fetch_fn, n_workers), CACHE_SCHEMA,
    ).localCheckpoint(eager=True)
    new_cache = upsert(cache, fetched)
    # certitude is rescored: fresh fetches carry no recorded certitude
    return assign(cands, new_cache, certitude_source="computed"), new_cache
