"""Pre-flight replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark AND its oracle_sql()
on DuckDB over the same parquet tables (default sf0.01), compares row
count, sorted-column schema, and a value hash, and prints a per-query
verdict. Mirrors the driver's CORRECTNESS_r{N}.json check so mismatches
are caught before the round ends.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return f"{float(v):.6g}"
    except Exception:
        pass
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    only = sys.argv[1:] or None

    import __spark_entry__ as entry

    qmap = entry.queries()
    omap = entry.oracle_sql()

    from bench import make_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = make_spark(cpus, "oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, fn in qmap.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in omap:
            print(f"rows  {name}: {len(srows)} rows (no oracle; rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(omap[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_count = len(srows) == len(orows)
        ok_schema = sorted(scols) == sorted(ocols)
        sh = value_hash(srows, scols)
        oh = value_hash(orows, ocols)
        ok_hash = sh == oh
        status = "ok  " if (ok_count and ok_schema and ok_hash) else "FAIL"
        print(
            f"{status}  {name}: rows {len(srows)}/{len(orows)} "
            f"schema={'ok' if ok_schema else f'{sorted(scols)} vs {sorted(ocols)}'} "
            f"hash={'ok' if ok_hash else f'{sh} vs {oh}'} [{time.time()-t0:.1f}s]"
        )
        if status == "FAIL":
            failures.append(name)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
