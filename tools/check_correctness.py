"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, compares row count, schema width, and an
order-insensitive value hash (columns sorted by name, rows sorted). Each
OK/FAIL line ends with the first 12 hex digits of the Spark side's hash,
so diffing two checkouts' outputs shows whether a change moved a value.

Usage: python tools/check_correctness.py [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def value_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        rows.append("|".join(_norm(v) for v in tup))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _norm(v) -> str:
    if v is None or v != v:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v)
    return str(v)


def main() -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from maps_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("correctness-check", cpus=16, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    zero_rows: list[str] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        from maps_spark.operators.html import (release_transients,
                                               transient_mark)
        mark = transient_mark()
        t0 = time.time()
        sdf = fn(spark, SF_DIR).toPandas()
        # release this gate's operator-registered transient caches so
        # a full registry run doesn't accumulate persisted blocks
        release_transients(mark)
        t1 = time.time()
        if name not in oracles:
            print(f"{name:32s} rows-only {len(sdf):7d} rows  "
                  f"[spark {t1 - t0:5.1f}s]")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        t2 = time.time()
        # normalize dtypes: duckdb returns int32 for some, pandas obj etc.
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(map(str.lower, sdf.columns)) == \
            sorted(map(str.lower, odf.columns))
        sdf.columns = [c.lower() for c in sdf.columns]
        odf.columns = [c.lower() for c in odf.columns]
        h1, h2 = value_hash(sdf), value_hash(odf)
        ok = ok_rows and ok_cols and h1 == h2
        if ok and len(sdf) == 0:
            zero_rows.append(name)
        status = "OK " if ok else "FAIL"
        print(f"{name:32s} {status} rows {len(sdf):7d}/{len(odf):7d} "
              f"hash {'=' if h1 == h2 else '!'} {h1[:12]}  "
              f"[spark {t1 - t0:5.1f}s duck {t2 - t1:4.1f}s]")
        if not ok:
            failures += 1
            if not ok_cols:
                print(f"   spark cols: {sorted(sdf.columns)}")
                print(f"   duck  cols: {sorted(odf.columns)}")
            elif ok_rows:
                _diff(sdf, odf)
    # a hash-match on an empty result certifies only the negative
    # path — every gate is expected to exercise real rows (gates with
    # naturally-empty outputs seed deterministic positives instead,
    # e.g. dedup_exact)
    if zero_rows:
        print(f"\nZERO-ROW PASSES (weak gates): {zero_rows}")
        failures += len(zero_rows)
    print(f"\n{failures} failures")
    return 1 if failures else 0


def _diff(sdf: pd.DataFrame, odf: pd.DataFrame, n: int = 5) -> None:
    cols = sorted(sdf.columns)
    a = {"|".join(_norm(v) for v in t): t
         for t in sdf[cols].itertuples(index=False)}
    b = {"|".join(_norm(v) for v in t): t
         for t in odf[cols].itertuples(index=False)}
    only_a = [a[k] for k in a.keys() - b.keys()]
    only_b = [b[k] for k in b.keys() - a.keys()]
    print(f"   cols={cols}")
    print(f"   spark-only ({len(only_a)}): {only_a[:n]}")
    print(f"   duck-only  ({len(only_b)}): {only_b[:n]}")


if __name__ == "__main__":
    raise SystemExit(main())
