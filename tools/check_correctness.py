"""Local stand-in for the driver's correctness gate.

Runs every registry query on Spark and its oracle on DuckDB at the
given sf dir, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by
their stringified tuple). The last lines report how many entries the
queries left in the session's CacheManager, then the failure count.
Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from teste_carga_avro_vs_json_spark import registry
from teste_carga_avro_vs_json_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = registry.queries()
    oracles = registry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({len(srows)} rows) [no oracle]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            failures += 1
            continue
        dt = time.time() - t0
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        else:
            sh = _hash(scols, [tuple(r) for r in srows])
            oh = _hash(ocols, orows)
            if sh != oh:
                problems.append(f"hash {sh} vs {oh}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}  ({dt:.1f}s)")
            failures += 1
            # show a sample diff for debugging
            if "hash" in " ".join(problems) or "rows" in " ".join(problems):
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                s_set = sorted(
                    "\x1f".join(_norm(r[i]) for i in order_s) for r in srows
                )
                o_set = sorted(
                    "\x1f".join(_norm(r[i]) for i in order_o) for r in orows
                )
                for a, b in list(zip(s_set, o_set))[:200]:
                    if a != b:
                        print(f"  spark:  {a[:200]}")
                        print(f"  duckdb: {b[:200]}")
                        break
        else:
            print(f"ok   {name}: {len(srows)} rows  ({dt:.1f}s)")
    cached = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    print("cache entries left:", cached)
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
