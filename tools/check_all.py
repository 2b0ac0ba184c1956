"""Oracle check of catalog queries against DuckDB at a given scale factor
with the driver-style compare (row count + sorted-column schema +
canonicalized value hash), plus a rows-only smoke for the non-SQL
entries. With no NAMEs it sweeps the whole catalog:

    python tools/check_all.py [NAME...] [--sf /root/testdata/sf0.01]

Exits non-zero on any mismatch, error or zero-row rows-only entry.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark, plans
from streamprocessing_kafka_finlight_news_dashboard_spark.session import released
from tests.oracle_compare import compare, duckdb_conn


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="catalog queries (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="scale-factor dir")
    args = ap.parse_args()
    unknown = [n for n in args.names if n not in plans.CATALOG]
    if unknown:
        ap.error(f"unknown catalog queries: {unknown}")
    names = args.names or list(plans.CATALOG)
    spark = get_spark(app_name="check-all")
    con = duckdb_conn(args.sf)
    bad: list[str] = []
    n_oracle = n_rows_only = 0
    t0 = time.perf_counter()
    for name in names:
        q = plans.CATALOG[name]
        tq = time.perf_counter()
        try:
            with released():
                if q.oracle is None:
                    n = q.builder(spark, args.sf).count()
                    status = f"rows-only ({n} rows)" + (" DEGENERATE" if n == 0 else "")
                    if n == 0:
                        bad.append(name)
                    n_rows_only += 1
                else:
                    issues = compare(q.builder(spark, args.sf), con.execute(q.oracle).df())
                    status = "OK" if not issues else f"MISMATCH {issues}"
                    if issues:
                        bad.append(name)
                    n_oracle += 1
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            status = f"ERROR {type(e).__name__}: {str(e)[:300]}"
            bad.append(name)
        print(f"{name}: {status} [{time.perf_counter() - tq:.1f}s]", flush=True)
    print(
        f"\n{n_oracle} oracle-checked + {n_rows_only} rows-only in "
        f"{time.perf_counter() - t0:.0f}s | FAILURES: {bad or 'none'}"
    )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
