"""Mimics the driver's correctness gate: runs every queries() entry on Spark
and its oracle_sql() twin on DuckDB over the same parquet tables, comparing
row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, ".")


def norm_val(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_val(r[i]) for i in order))
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def main() -> int:
    t0 = time.perf_counter()
    import duckdb

    import __spark_entry__ as entry
    from arabic_ocr_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    # payload oracles read the synth transcripts by path: pass THIS sf_dir
    # explicitly so they don't fall back to the driver default (sf0.01)
    oracles = entry.oracle_sql(sf_dir)
    failures = rows_only = ok = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            try:
                n = fn(spark, sf_dir).count()
                rows_only += 1
                print(f"[rows-only] {name}: {n} rows")
            except Exception as e:  # noqa: BLE001
                failures += 1
                print(f"[rows-only] {name}: ERROR {type(e).__name__}: {e}")
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures += 1
            print(f"[spark] {name}: ERROR {type(e).__name__}: {str(e)[:200]}")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures += 1
            print(f"[duckdb] {name}: ERROR {type(e).__name__}: {str(e)[:200]}")
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            failures += 1
            print(f"[FAIL cols] {name}: spark={sc} duckdb={oc}")
            continue
        if len(sr) != len(orr):
            failures += 1
            print(f"[FAIL rows] {name}: spark={len(sr)} duckdb={len(orr)}")
            continue
        if sr != orr:
            failures += 1
            bad = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
            print(f"[FAIL vals] {name}: first diffs: {bad}")
            continue
        ok += 1
        print(f"[OK] {name}: {len(sr)} rows match")
    spark.stop()
    print(f"{ok} ok, {rows_only} rows-only, {failures} failed in {time.perf_counter() - t0:.1f} s")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
