"""Streaming token-budget admission (`streaming/budget_admission.py`):
per-batch prefix admission under carried spent, the
rejected-docs-never-spend semantics, replay idempotence, and the
text-free ledger."""

from __future__ import annotations

import os


BUDGETS = {"a": 100, "b": 40}
DEFAULT = 60


def _run_stream(spark, tmp_path, batches):
    from wde_spark.streaming.budget_admission import (
        streaming_budget_maintain)

    feed = os.path.join(str(tmp_path), "feed")
    schema = "doc_id long, source string, n_tok long"
    for i, rows in enumerate(batches, start=1):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite") \
            .parquet(os.path.join(feed, f"b{i}.parquet"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(os.path.join(feed, "*.parquet")))
    target = os.path.join(str(tmp_path), "ledger")
    streaming_budget_maintain(
        stream, target, os.path.join(str(tmp_path), "ckpt"),
        BUDGETS, DEFAULT)
    return target


def _hx(doc_id):
    import hashlib
    return hashlib.md5(f"wde@{doc_id}".encode()).hexdigest()


def _replay(batches):
    """Pure-python replay of the contract: per (source, batch) prefix
    in hash order under budget - spent(admitted so far)."""
    spent = {}
    admitted = []
    for bi, rows in enumerate(batches):
        by_src = {}
        for d, s, t in rows:
            by_src.setdefault(s, []).append((d, s, t))
        for s, docs in by_src.items():
            docs.sort(key=lambda r: (_hx(r[0]), r[0]))
            budget = BUDGETS.get(s, DEFAULT)
            cum = spent.get(s, 0)
            for d, _s, t in docs:
                if cum + t <= budget:
                    cum += t
                    admitted.append((d, s, t, cum, bi))
                else:
                    break  # monotone: prefix semantics within the batch
            spent[s] = cum
    return sorted(admitted)


def test_prefix_admission_with_carried_spent(spark, tmp_path):
    from wde_spark.streaming.budget_admission import read_admitted

    b0 = [(i, ["a", "b", "c"][i % 3], (i * 7) % 23 + 1)
          for i in range(1, 40, 2)]
    b1 = [(i, ["a", "b", "c"][i % 3], (i * 7) % 23 + 1)
          for i in range(0, 40, 2)]
    target = _run_stream(spark, tmp_path, [b0, b1])
    got = sorted(
        (r["doc_id"], r["source"], r["n_tok"], r["cum_tokens"],
         r["arrived_batch"])
        for r in read_admitted(spark, target).collect())
    assert got == _replay([b0, b1])
    # rejected docs never spent: every source's final cum <= its budget
    final = {}
    for d, s, t, cum, bi in got:
        final[s] = max(final.get(s, 0), cum)
    for s, cum in final.items():
        assert cum <= BUDGETS.get(s, DEFAULT)
    # both batches contributed (the carried-spent path actually ran)
    assert {bi for *_x, bi in got} == {0, 1}


def test_replay_idempotent(spark, tmp_path):
    from wde_spark.streaming.budget_admission import (apply_budget_batch,
                                                      read_admitted)

    b0 = [(i, "a", 9) for i in range(1, 21, 2)]
    b1 = [(i, "a", 9) for i in range(0, 21, 2)]
    target = _run_stream(spark, tmp_path, [b0, b1])
    before = sorted(map(tuple, read_admitted(spark, target).collect()))
    fresh = spark.createDataFrame(
        b1, "doc_id long, source string, n_tok long")
    apply_budget_batch(fresh, 1, target, BUDGETS, DEFAULT)
    after = sorted(map(tuple, read_admitted(spark, target).collect()))
    assert after == before


def test_boundary_and_zero_token_edges(spark, tmp_path):
    """Inclusive boundary (cum == budget admits), zero-token docs are
    free when inside the prefix, and the prefix STOPS at the first
    overflow even if later docs would fit — hash order is 1 < 3 < 2."""
    from wde_spark.streaming.budget_admission import read_admitted

    # tokens in hash order: doc1=20, doc3=20 (cum 40 == budget, inclusive),
    # doc2=0 rides free after the exact boundary
    target = _run_stream(
        spark, tmp_path, [[(1, "b", 20), (2, "b", 0), (3, "b", 20)]])
    rows = {r["doc_id"]: r["cum_tokens"] for r in
            read_admitted(spark, target).collect()}
    assert rows == {1: 20, 3: 40, 2: 40}
    # doc3 overflows -> stops the prefix -> the free doc2 BEHIND it is
    # rejected too (prefix semantics, not knapsack)
    target2 = _run_stream(
        spark, str(tmp_path) + "2", [[(1, "b", 40), (2, "b", 0),
                                      (3, "b", 5)]])
    rows2 = {r["doc_id"] for r in
             read_admitted(spark, target2).collect()}
    assert rows2 == {1}


def test_space_feed_mtimes_orders_batches(tmp_path):
    """The shared feed-mtime stamper (ADVICE r10): leaf files under
    b{i}.parquet get strictly increasing mtimes by batch index, so the
    file stream's oldest-first order always equals intended arrival
    order — even when the writes landed in one timestamp granule."""
    import os

    import wde_spark.queries  # noqa: F401  (registry init owns the
    # queries <-> queries_ext import order; a direct ext import would
    # re-enter it half-initialized)
    from wde_spark.queries_ext import _space_feed_mtimes

    feed = tmp_path / "feed"
    for i in (1, 2, 10):  # 10 checks numeric (not lexicographic) order
        d = feed / f"b{i}.parquet"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x")
        (d / "_SUCCESS").write_bytes(b"")
    # simulate the same-granule hazard: identical mtimes everywhere
    for p in feed.rglob("*"):
        os.utime(p, (1_000_000, 1_000_000))
    _space_feed_mtimes(str(feed))
    stamps = {i: os.path.getmtime(feed / f"b{i}.parquet" / "part-0.parquet")
              for i in (1, 2, 10)}
    assert stamps[1] < stamps[2] < stamps[10]
    # every leaf file inside one batch shares that batch's stamp
    assert os.path.getmtime(feed / "b2.parquet" / "_SUCCESS") == stamps[2]
