"""Local stand-in for the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` on DuckDB at
the given scale factor, then compares: row count, column-name set, and an
order-insensitive value multiset (doubles compared to 9 significant digits
to catch real mismatches while tolerating representation noise — the driver
hashes exactly, so we ALSO report exact-hash status). A PASS line prints
the exact-repr digest, so two runs can be compared digest by digest.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

sys.path.insert(0, ".")


def norm_cell(v):
    import datetime
    import math
    from decimal import Decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # exact repr → detects any float divergence
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    from wde_spark.core.session import get_session
    from wde_spark.core.catalog import TABLES
    from wde_spark.queries import QUERIES, ORACLE

    spark = get_session("verify_local", cpus=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = n_rows_only = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in ORACLE:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            res = con.execute(ORACLE[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: ORACLE ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        if not problems:
            hs, ho = table_digest(scols, srows), table_digest(ocols, orows)
            if hs != ho:
                problems.append(f"valuehash spark={hs} duck={ho}")
                # show a sample diff
                sset = {tuple(norm_cell(c) for c in r) for r in srows}
                oset = {tuple(norm_cell(c) for c in r) for r in orows}
                for r in list(sset - oset)[:2]:
                    problems.append(f"  spark-only: {r}")
                for r in list(oset - sset)[:2]:
                    problems.append(f"  duck-only:  {r}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(str(p) for p in problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows sha={hs} "
                  f"[{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
