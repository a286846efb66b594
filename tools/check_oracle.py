"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()``
entry exists, the oracle on DuckDB over the same parquet files;
compares row count, column names, and an order-insensitive value hash
(values canonicalized: floats rounded to 9 significant-ish digits,
timestamps to ISO strings, columns sorted by name, rows sorted).

Rows-only queries (no oracle) print their Spark-side value hash, so two
checkouts can be compared query by query.

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--only name]
       [--cores N]  (default: os.cpu_count())
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default=None)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from rp_extract_spark.session import get_spark

    # no console progress bar: it shares lines with the PASS/FAIL output
    spark = get_spark("check-oracle", cores=args.cores,
                      extra={"spark.driver.memory": "16g",
                             "spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if args.only and name not in args.only.split(","):
            continue
        t0 = time.time()
        try:
            df = fn(spark, args.sf)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only {len(rows)} rows "
                  f"hash {value_hash(cols, rows)} ({dt:.1f}s)")
            if len(rows) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            failures += 1
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} != {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema {sorted(cols)} != {sorted(ocols)}")
        if not problems:
            hs, ho = value_hash(cols, rows), value_hash(ocols, orows)
            if hs != ho:
                problems.append(f"value hash {hs} != {ho}")
                # show first differing row for debugging
                order_s = sorted(range(len(cols)), key=lambda i: cols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("\x01".join(canon(r[i]) for i in order_s) for r in rows)
                lo = sorted("\x01".join(canon(r[i]) for i in order_o) for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        problems.append(f"  spark: {a[:160]}")
                        problems.append(f"  duck : {b[:160]}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
            failures += 1
        else:
            print(f"PASS {name}: {len(rows)} rows ({dt:.1f}s)")
    print("---")
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
