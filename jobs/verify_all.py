"""Verify registry queries against their DuckDB oracles, the way the
contract is checked: row count, column names, and the order-insensitive
value multiset (floats as ``f"{v:.9g}"``).

    python jobs/verify_all.py [SF_DIRS] [NAME ...] [--curated]

SF_DIRS is a comma-separated list of scale-factor dirs (default sf0.01);
it may be left out before names.
Without names every registry entry is checked, then ``entry()`` is
smoked; ``--curated`` restricts the run to the 50 entries of
``queries()``.  Each oracle is built only when its name is checked.
Reference-backed entries whose inputs are absent print UNVERIFIABLE on
their own line and count neither as PASS nor as FAIL.
"""
import argparse
import os
import sys
import time
import traceback
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry
from graph4code_spark.session import get_spark

DEFAULT_SF = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.9g}"
            vals.append(str(v))
        out.append(tuple(vals))
    return Counter(out)


def check(spark, con, sf, name):
    """One registry entry: its status line (without the name)."""
    sql = entry.build_oracle(name)
    sdf = entry.REGISTRY[name][0](spark, sf)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if sql is None:
        return f"rows-only {len(srows)} rows"
    rel = con.sql(sql)
    ocols, orows = rel.columns, rel.fetchall()
    ok_rows = len(srows) == len(orows)
    ok_schema = sorted(scols) == sorted(ocols)
    ok_hash = canon(srows, scols) == canon(orows, ocols)
    if ok_rows and ok_schema and ok_hash:
        return "PASS"
    return (f"FAIL rows={ok_rows} schema={ok_schema} hash={ok_hash} "
            f"({len(srows)} vs {len(orows)})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dirs", nargs="?", default=DEFAULT_SF)
    ap.add_argument("names", nargs="*")
    ap.add_argument("--curated", action="store_true")
    args = ap.parse_args()
    if args.sf_dirs in entry.REGISTRY:  # names only: default SF dir
        args.names.insert(0, args.sf_dirs)
        args.sf_dirs = DEFAULT_SF
    sf_dirs = args.sf_dirs.split(",")
    missing = [d for d in sf_dirs if not os.path.isdir(d)]
    if missing:
        ap.error(f"not a scale-factor dir: {missing}")
    pool = list(entry.queries() if args.curated else entry.REGISTRY)
    names = args.names or pool
    unknown = sorted(set(names) - set(pool))
    if unknown:
        ap.error(f"not in the {'curated' if args.curated else 'full'} registry: {unknown}")

    spark = get_spark("verify", extra_conf={"spark.sql.shuffle.partitions": "8"})
    fails, unverifiable = [], []
    for sf in sf_dirs:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        for name in names:
            t0 = time.time()
            try:
                status = check(spark, con, sf, name)
            except entry.Unverifiable as e:
                print(f"{sf} {e}")
                unverifiable.append((sf, name))
                continue
            except Exception as e:
                traceback.print_exc()
                status = f"ERROR {type(e).__name__}: {e}"
            print(f"{sf} {name}: {status}  ({time.time() - t0:.1f}s)")
            if status.startswith(("FAIL", "ERROR")):
                fails.append((sf, name))

    if not args.names:
        df = entry.entry(spark)
        print(f"\nentry() smoke: {df.count()} rows, {len(df.columns)} cols: {df.columns}")
    print("\nUNVERIFIABLE:", unverifiable if unverifiable else "none")
    print("FAILURES:", fails if fails else "none")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
