"""Local replica of the driver's correctness gate.

Runs each __spark_entry__.queries() entry at sf0.01 and compares with the
DuckDB oracle: row count, column names, and an order-insensitive value
hash (columns sorted by name, rows sorted, values stringified).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

# the checkout this script lives in, not whichever copy is installed
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df):
    """pandas DataFrame → (rowcount, colnames, canonical hash)."""
    import hashlib

    cols = sorted(df.columns)
    df = df[cols]

    def canon(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)

    rows = sorted(tuple(canon(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.md5(repr(rows).encode()).hexdigest()
    return len(df), cols, h, rows


def main():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .appName("correctness-check")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(ex).__name__}: {str(ex)[:200]}")
            continue
        if name not in os_:
            print(f"  -- {name}: no oracle (rows={len(sdf)})")
            continue
        try:
            odf = con.sql(os_[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(ex)[:200]}")
            continue
        sn, sc, sh, srows = normalize(sdf)
        on, oc, oh, orows = normalize(odf)
        ok = (sn == on) and (sc == oc) and (sh == oh)
        status = "PASS" if ok else "FAIL"
        print(f"{status} {name}: spark={sn} oracle={on} cols={'=' if sc == oc else (sc, oc)} "
              f"hash={'=' if sh == oh else 'MISMATCH'} ({time.time()-t0:.1f}s)")
        if not ok:
            failures.append(name)
            sset = set(map(tuple, srows))
            oset = set(map(tuple, orows))
            for r in list(sset - oset)[:3]:
                print("   spark-only:", r)
            for r in list(oset - sset)[:3]:
                print("   oracle-only:", r)
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
