"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at sf0.01, compares row count, column-name set, and the
order-insensitive multiset of stringified values (columns sorted by
name).  Exit 0 iff everything matches.

Usage: python tools/verify_entry.py [--first N] [--plain-session] [query ...]

``--first N`` restricts the run to the first N registry entries in
driver order — the driver checks a 50-entry prefix, so
``--first 50`` shows exactly which queries get a driver row and
which fall outside the checked window (the tail is listed).
"""

from __future__ import annotations

import os
import sys
from collections import Counter
from datetime import datetime
from decimal import Decimal

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    # NOTE: Decimal is deliberately NOT normalized to float — the driver's
    # value hash stringifies raw values, so a DuckDB HUGEINT/DECIMAL result
    # must fail here exactly like it fails there (round-3 lesson:
    # web_domain_rollup's bare sum() slipped through a float-normalizing
    # local gate).
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    return repr(v)


def row_key(row: dict, cols: list[str]) -> tuple:
    return tuple(norm(row[c]) for c in cols)


def main() -> int:
    if "--plain-session" in sys.argv:
        # mimic a driver that builds a vanilla session (no UTC/NTZ/
        # Arrow configs) — queries must not depend on session conf
        sys.argv.remove("--plain-session")
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("verify-plain")
            .master("local[8]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from realdeal_spark.session import get_spark

        spark = get_spark("verify-entry", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{SF_DIR}/{t}.parquet'"
        )

    argv = sys.argv[1:]
    first_n = None
    if "--first" in argv:
        i = argv.index("--first")
        first_n = int(argv[i + 1])
        del argv[i : i + 2]
    wanted = argv
    qs = E.queries()
    oracles = E.oracle_sql()
    names = list(qs)
    if first_n is not None:
        outside = names[first_n:]
        names = names[:first_n]
        if outside:
            print(
                f"--first {first_n}: {len(outside)} entries OUTSIDE the "
                f"checked prefix (no driver row): {', '.join(outside)}\n"
            )
    failures = []
    rows_only = []
    for name in names:
        fn = qs[name]
        if wanted and name not in wanted:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sorted(sdf.columns)
        except Exception as ex:
            failures.append((name, f"spark error: {ex}"))
            print(f"FAIL {name}: spark error: {ex}")
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols_raw = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            failures.append((name, f"duckdb error: {ex}"))
            print(f"FAIL {name}: duckdb error: {ex}")
            continue
        ocols = sorted(ocols_raw)
        if scols != ocols:
            failures.append((name, f"schema: spark={scols} oracle={ocols}"))
            print(f"FAIL {name}: schema mismatch\n  spark : {scols}\n  oracle: {ocols}")
            continue
        if len(srows) != len(orows):
            failures.append((name, f"rows: spark={len(srows)} oracle={len(orows)}"))
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            continue
        smulti = Counter(row_key(r.asDict(), scols) for r in srows)
        idx = {c: i for i, c in enumerate(ocols_raw)}
        omulti = Counter(
            tuple(norm(r[idx[c]]) for c in ocols) for r in orows
        )
        if smulti != omulti:
            only_s = list((smulti - omulti).items())[:3]
            only_o = list((omulti - smulti).items())[:3]
            failures.append((name, "values"))
            print(f"FAIL {name}: value mismatch ({len(list((smulti - omulti).elements()))} rows differ)")
            for k, c in only_s:
                print(f"  spark-only x{c}: {k}")
            for k, c in only_o:
                print(f"  oracle-only x{c}: {k}")
            continue
        print(f"ok   {name}: {len(srows)} rows match")
    if rows_only:
        print(f"\nrows-only (no oracle, weaker driver check): {', '.join(rows_only)}")
    print(f"\n{len(failures)} failures" if failures else "\nALL MATCH")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
