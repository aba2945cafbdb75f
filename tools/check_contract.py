"""Mini-driver: exercise the __spark_entry__ contract end-to-end the way
the round driver does — run entry(), then every queries() entry at an sf
dir, compare row-count + schema + order-insensitive value hash against
oracle_sql() in DuckDB.

Usage: python tools/check_contract.py [sf_dir] [query ...]
Exit 0 = all match.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive over rows AND columns-by-name, like the driver."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        cells = []
        for v in tup:
            if isinstance(v, float):
                cells.append(f"{v:.6f}")
            elif isinstance(v, (list, tuple)) or "ndarray" in type(v).__name__:
                cells.append("[" + ",".join(str(x) for x in v) + "]")
            else:
                cells.append(str(v))
        rows.append("|".join(cells))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from webcrawler_spark.session import get_spark

    spark = get_spark(app_name="check_contract", master="local[8]", shuffle_partitions=8)

    print("== entry(spark) ==", flush=True)
    t0 = time.time()
    edf = entrymod.entry(spark)
    rows = edf.collect()
    print(f"entry: {len(rows)} rows in {time.time()-t0:.1f}s schema={edf.schema.simpleString()}")
    for r in rows[:10]:
        print("   ", tuple(r))
    assert len(rows) >= 0

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = n_skip = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in entrymod.GOLDEN_QUERIES and name not in oracles:
            print(f"SKIP {name} (reference goldens absent)")
            n_skip += 1
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: {len(spdf)} rows in {dt:.1f}s (rows-only, no oracle)")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        ok_rows = len(spdf) == len(opdf)
        ok_cols = sorted(spdf.columns) == sorted(opdf.columns)
        ok_hash = ok_rows and ok_cols and value_hash(spdf) == value_hash(opdf)
        status = "PASS" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            n_fail += 1
        print(f"{status} {name}: spark={len(spdf)} oracle={len(opdf)} cols_ok={ok_cols} hash_ok={ok_hash} ({dt:.1f}s)")
        if status == "FAIL" and ok_rows and ok_cols:
            s = spdf.reindex(sorted(spdf.columns), axis=1)
            o = opdf.reindex(sorted(opdf.columns), axis=1)
            print("  spark head:\n", s.head(3).to_string())
            print("  oracle head:\n", o.head(3).to_string())
    spark.stop()
    print("FAILURES:", n_fail, "SKIPPED:", n_skip)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
