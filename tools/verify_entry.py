"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
on DuckDB over the same parquet tables, then compares row count, schema
(column names) and an order-insensitive value multiset. Run before every
commit that touches entry queries:

    python tools/verify_entry.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style canonicalization: repr of float
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "|".join(canon(r[i]) for i in order) for r in rows
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else None

    import __spark_entry__ as entry_mod
    from esbulk_spark.session import get_spark

    spark = get_spark(app_name="verify-entry")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    ran = 0
    for name, fn in qs.items():
        if name_filter and name_filter not in name:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            failures.append(name)
            continue
        ok_schema = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ms = rows_to_multiset(scols, srows)
        md = rows_to_multiset(dcols, drows)
        ok_vals = ms == md
        status = "ok   " if (ok_schema and ok_count and ok_vals) else "FAIL "
        print(
            f"{status} {name}: rows {len(srows)}/{len(drows)} "
            f"schema={'ok' if ok_schema else f'{scols} vs {dcols}'} "
            f"values={'ok' if ok_vals else 'MISMATCH'}  ({time.time()-t0:.1f}s)"
        )
        if not (ok_schema and ok_count and ok_vals):
            failures.append(name)
            if not ok_vals:
                diff_s = [x for x in ms if x not in set(md)][:3]
                diff_d = [x for x in md if x not in set(ms)][:3]
                print(f"    spark-only: {diff_s}")
                print(f"    duck-only:  {diff_d}")
    scope = (
        f" (filter {name_filter!r}: {ran} of {len(qs)} entries)"
        if name_filter else ""
    )
    print(f"\n{ran - len(failures)}/{ran} ok{scope}; failures: {failures}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
