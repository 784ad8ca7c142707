"""Static lookup ("dimension") tables for the WikidataEnrichment pipeline.

JSON data files extracted from the reference's table module
(reference: script/tables/matching.py; see tools/extract_matching_tables.py).
Insertion order is preserved — the matching semantics are first-match-wins /
accumulate-in-declaration-order.

In Spark plans these are small dimension tables: use them as Python dicts
inside Arrow-batched UDFs (they ship once per executor via task closure) or
as `F.create_map` literals / broadcast DataFrames for join formulations
(SURVEY.md §1.1 "Static lookup tables").
"""

from __future__ import annotations

import json
import os
from functools import lru_cache

_DIR = os.path.dirname(os.path.abspath(__file__))

TABLE_NAMES = [
    "names", "comp_names", "status", "functions", "dpts", "provinces",
    "colonies", "countries", "events", "other",
]


@lru_cache(maxsize=None)
def load(name: str):
    """Load one lookup table (dict or list) by name, cached per process."""
    if name not in TABLE_NAMES:
        raise KeyError(name)
    with open(os.path.join(_DIR, f"{name}.json"), encoding="utf-8") as f:
        return json.load(f)
