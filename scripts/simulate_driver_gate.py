#!/usr/bin/env python
"""Run a correctness gate locally: the first N registered queries
(registration order is module import order, see
spark_graft.load_all_queries), or the named ones, run through
__spark_entry__ on a plain SparkSession AND as oracle SQL on DuckDB at
sf0.01, compared by tests/compare.py's strict comparator.

    python scripts/simulate_driver_gate.py [--sf-dir /root/testdata/sf0.01]
                                           [--n 50]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--n", type=int, default=50)
    ap.add_argument("names", nargs="*", help="gate only these queries")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    from compare import assert_frames_match

    # the driver uses a PLAIN session — library confs must self-apply
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )
    names = args.names if args.names else list(qs)[: args.n]
    n_pass = n_fail = 0
    for name in names:
        t0 = time.perf_counter()
        try:
            sp = qs[name](spark, args.sf_dir).toPandas()
            if name in osql:
                assert_frames_match(sp, con.execute(osql[name]).df(), name)
                verdict = "pass"
            else:
                # rows-only queries must still PRODUCE rows — an empty
                # frame would read greener here than on the real driver
                # gate (ADVICE r13)
                assert len(sp) > 0, f"{name}: rows-only query returned 0 rows"
                verdict = f"rows-only ({len(sp)} rows, NO ORACLE)"
            n_pass += 1
        except Exception as ex:  # noqa: BLE001 — report, keep going
            verdict = f"FAIL: {type(ex).__name__}: {str(ex)[:200]}"
            n_fail += 1
        print(f"{name}: {verdict} ({time.perf_counter() - t0:.1f}s)", flush=True)
    print(f"\n{n_pass}/{len(names)} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
