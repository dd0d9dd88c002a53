"""Pandas-canonicalizer simulation of the external correctness gate.

tools/check_oracle.py compares with its own canonical form (str/%.9g), which
is FORGIVING in ways the external driver's pandas-based canonicalizer is
not: round 1 showed the driver sorts result frames on column VALUES
(crashing on list cells) and hashes exact values (catching last-ulp double
differences that %.9g masks). This harness mimics that stricter behavior:

    frame → columns sorted by name → sort_values over all columns →
    per-cell exact stringification (no float rounding) → sha256

Run: python tools/driver_sim.py [query ...]
"""
from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from pdf_extractor_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_frame(df: pd.DataFrame) -> tuple[str, list[str]]:
    """Driver-style canonicalization: name-sorted columns, value-sorted rows
    (this is where list cells would crash), exact per-cell strings, sha256."""
    cols = sorted(df.columns)
    df = df[cols]
    df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                s = "NULL"
            elif isinstance(v, float):
                s = repr(v)  # exact shortest round-trip — NO rounding
            elif hasattr(v, "isoformat"):
                try:
                    v = v.replace(tzinfo=None)
                except (TypeError, ValueError):
                    pass
                s = v.isoformat()
            else:
                s = str(v)
            h.update(s.encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest(), cols


def main() -> None:
    only = set(sys.argv[1:])
    spark = get_spark(app_name="driver-sim", cores=16, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            spdf = fn(spark, SF_DIR).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error {str(exc)[:120]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"OK?   {name}: rows-only ({len(spdf)} rows)")
            continue
        try:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
                )
            opdf = con.execute(oracles[name]).df()
            con.close()
        except Exception as exc:
            print(f"FAIL  {name}: oracle error {str(exc)[:120]}")
            failures.append(name)
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rows {len(spdf)} vs {len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(f"cols {sorted(spdf.columns)} vs {sorted(opdf.columns)}")
        if not problems:
            try:
                sh, _ = canon_frame(spdf)
                oh, _ = canon_frame(opdf)
            except Exception as exc:  # the r1 list-cell crash class
                problems.append(f"canon crash: {type(exc).__name__}: {exc}")
            else:
                if sh != oh:
                    problems.append("exact-value hash mismatch")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(spdf)} rows hash-identical")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("\nall queries hash-identical under the strict canon")


if __name__ == "__main__":
    main()
