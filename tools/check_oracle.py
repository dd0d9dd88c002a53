"""Local replica of the driver's correctness gate: run every queries() entry
on Spark at sf0.01 and its oracle_sql() twin in DuckDB; compare row count,
column names, and order-insensitive values.

Usage: python tools/check_oracle.py [query_name ...]
"""
from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from pdf_extractor_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(val):
    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return f"{val:.9g}"
    if hasattr(val, "isoformat"):  # datetime/date — strip tz for comparison
        try:
            val = val.replace(tzinfo=None)
        except (TypeError, ValueError):
            pass
        return val.isoformat()
    return str(val)


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def check_one(spark, oracles, name, fn):
    """Returns (name, ok: bool, message). Spark is thread-safe for concurrent
    job submission; each thread opens its own DuckDB connection."""
    try:
        sdf = fn(spark, SF_DIR)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:
        return name, False, f"spark error: {exc}"
    if name not in oracles:
        return name, True, f"rows-only ({len(srows)} rows, no oracle)"
    try:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        con.close()
    except Exception as exc:
        return name, False, f"oracle error: {exc}"
    problems = []
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not problems:
        sk, ok_ = rows_key(scols, srows), rows_key(ocols, orows)
        if sk != ok_:
            ndiff = sum(1 for a, b in zip(sk, ok_) if a != b)
            first = next(((a, b) for a, b in zip(sk, ok_) if a != b), None)
            problems.append(f"values differ in {ndiff} rows; first: {first}")
    if problems:
        return name, False, "; ".join(problems)
    return name, True, f"{len(srows)} rows match"


def main():
    import os
    from concurrent.futures import ThreadPoolExecutor

    only = set(sys.argv[1:])
    spark = get_spark(app_name="oracle-check", cores=16, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    todo = [(n, f) for n, f in queries.items() if not only or n in only]
    workers = int(os.environ.get("ORACLE_WORKERS", "14"))
    failures = []
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futs = [pool.submit(check_one, spark, oracles, n, f) for n, f in todo]
        for fut in futs:
            name, ok, msg = fut.result()
            if not ok:
                print(f"FAIL  {name}: {msg}")
                failures.append(name)
            elif "rows-only" in msg:
                print(f"OK?   {name}: {msg}")
            else:
                print(f"OK    {name}: {msg}")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("\nall queries match")


if __name__ == "__main__":
    main()
