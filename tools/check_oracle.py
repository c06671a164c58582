"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at the
given SF dir; compare row count, column names, and an order-insensitive
value hash (floats rounded to 9 significant-ish decimals first).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py --json out.json [sf_dir] [query ...]

``--json`` additionally writes a CORRECTNESS_r{N}.json-shaped record
per query (rows_match/schema_match/hash_match/spark_rows/oracle_rows/
err) so local sweeps leave the same machine-checkable artifact the
driver produces.
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, ".")

# the testdata tables some oracle twin reads
TABLES = ("nation", "customer", "documents", "embeddings")


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from record_linkage_ldu_spark.session import build_session

    spark = build_session(app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    records: dict = {}
    for name, fn in qs.items():
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
            records[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark:{e}"[:300],
            }
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s spark={t_spark:.1f}s]")
            records[name] = {
                "rows_match": len(srows) > 0, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": "no_oracle:rows_only",
            }
            continue
        t1 = time.time()
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            records[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": None, "err": f"duckdb:{e}"[:300],
            }
            continue
        t_duck = time.time() - t1
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_hash = frame_hash(scols, srows) == frame_hash(dcols, drows)
        status = "OK  " if (ok_cols and ok_count and ok_hash) else "FAIL"
        print(
            f"{status}  {name}: spark={len(srows)} duck={len(drows)} "
            f"cols={'ok' if ok_cols else f'{scols} vs {dcols}'} "
            f"hash={'ok' if ok_hash else 'MISMATCH'} "
            f"[{time.time()-t0:.1f}s spark={t_spark:.1f}s duck={t_duck:.1f}s]"
        )
        records[name] = {
            "rows_match": ok_count, "schema_match": ok_cols,
            "hash_match": ok_hash, "spark_rows": len(srows),
            "oracle_rows": len(drows), "err": None,
        }
        if status == "FAIL":
            failures.append(name)
            if not ok_hash and ok_cols and ok_count:
                _show_diff(scols, srows, dcols, drows)
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(records, f, indent=2)
        print(f"wrote {json_out} ({len(records)} records)")
    print(f"\n{len(failures)} failures: {failures}")
    sys.exit(1 if failures else 0)


def _show_diff(scols, srows, dcols, drows, limit=5):
    sorder = sorted(range(len(scols)), key=lambda i: scols[i])
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sset = {tuple(norm_cell(r[i]) for i in sorder) for r in srows}
    dset = {tuple(norm_cell(r[i]) for i in dorder) for r in drows}
    print("   spark-only:", list(sset - dset)[:limit])
    print("   duck-only :", list(dset - sset)[:limit])


if __name__ == "__main__":
    main()
