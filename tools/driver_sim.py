"""Simulate the driver's CORRECTNESS harness: run the first N entries
of __spark_entry__.queries() against oracle_sql() via DuckDB at a given
sf dir, with a pandas sort_values canonicalization pass (the step that
crashed on array-typed cells in round 3) plus the row/schema/value-hash
comparison.

Usage: python tools/driver_sim.py [sf_dir] [first_n] [name ...]
"""

import json
import math
import os
import sys
import time
import traceback

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return "\0"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, int):
        return str(v)
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "\x01".join(_norm_cell(r[i]) for i in order) for r in rows
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    first_n = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    only = set(sys.argv[3:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from bench import make_spark

    spark = make_spark(len(os.sched_getaffinity(0)), "zentity-driver-sim")

    qs, oracles = entry.queries(), entry.oracle_sql()
    names = list(qs)[:first_n]
    if only:
        names = [n for n in names if n in only]

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    results, n_bad = {}, 0
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            pdf = df.toPandas()
            # the driver step that died on list cells in round 3:
            pdf.sort_values(by=list(pdf.columns))
            spark_cols = [c.lower() for c in pdf.columns]
            spark_rows = [tuple(r) for r in pdf.itertuples(index=False)]
            if name not in oracles:
                results[name] = {
                    "rows_only": len(spark_rows), "err": None,
                    "sec": round(time.time() - t0, 1),
                }
                print(f"{name}: rows-only {len(spark_rows)} "
                      f"({results[name]['sec']}s)", flush=True)
                continue
            res = con.execute(oracles[name])
            duck_cols = [d[0].lower() for d in res.description]
            duck_rows = res.fetchall()
            schema_match = sorted(spark_cols) == sorted(duck_cols)
            rows_match = len(spark_rows) == len(duck_rows)
            sc = _canon(spark_rows, spark_cols)
            dc = _canon(duck_rows, duck_cols)
            hash_match = sc == dc
            results[name] = {
                "rows_match": rows_match, "schema_match": schema_match,
                "hash_match": hash_match, "spark_rows": len(spark_rows),
                "oracle_rows": len(duck_rows), "err": None,
                "sec": round(time.time() - t0, 1),
            }
            ok = rows_match and schema_match and hash_match
            if not ok:
                n_bad += 1
                mism = [i for i, (a, b) in enumerate(zip(sc, dc)) if a != b][:2]
                detail = "; ".join(
                    f"spark={sc[i]!r} duck={dc[i]!r}" for i in mism
                )[:400]
                print(f"{name}: MISMATCH rows={rows_match} schema={schema_match} "
                      f"hash={hash_match} {len(spark_rows)}v{len(duck_rows)} "
                      f"{detail}", flush=True)
            else:
                print(f"{name}: OK {len(spark_rows)} rows "
                      f"({results[name]['sec']}s)", flush=True)
        except Exception:
            n_bad += 1
            tb = traceback.format_exc()
            results[name] = {"err": tb.splitlines()[-1],
                             "sec": round(time.time() - t0, 1)}
            print(f"{name}: ERR {tb.splitlines()[-1]}", flush=True)
    print(json.dumps({"checked": len(names), "bad": n_bad}))
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
