"""The full oracle sweep (CLI): every registered query against its
DuckDB oracle over the same parquet.

Usage: python tools/selfcheck.py [--vanilla] [sf_dir] [query ...]

``--vanilla`` runs under an untuned SparkSession (plain builder, default
configs) instead of the repo's tuned session; queries must pass BOTH
ways.

Exit status: 0 = every query passes, 1 = at least one fails, 2 = a
named query is not registered (nothing runs).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_2025_1_spark.oracle import check_query, connect_oracle  # noqa: E402
from bigdata_2025_1_spark.registry import all_oracles, all_queries  # noqa: E402
from bigdata_2025_1_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    queries = all_queries()
    oracles = all_oracles()
    missing = sorted(only - set(queries))
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2
    # Carriage-return stage bars interleave with the `ok <name>` result
    # lines in a non-tty log (gluing bars onto results and breaking
    # `grep -c "^ok"`); keep the selfcheck log machine-parseable. The
    # config only affects console noise, so the vanilla session stays
    # untuned.
    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("selfcheck-vanilla")
            .master("local[8]")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("selfcheck", master="local[8]")
    con = connect_oracle(sf_dir)

    failures = []
    n_run = 0
    t_total = time.monotonic()
    for name, fn in queries.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.monotonic()
        try:
            problems = check_query(spark, con, fn, oracles.get(name), sf_dir)
        except Exception as e:  # noqa: BLE001
            problems = [f"error: {e}"]
        finally:
            # check_query reports any CacheManager entry a query leaves;
            # clearing here keeps one leak from masking the next query's
            spark.catalog.clearCache()
        dt = time.monotonic() - t0
        if problems:
            print(f"FAIL  {name} [{dt:5.1f}s]: {problems[0]}", flush=True)
            for p in problems[1:]:
                print(f"      {p}")
            failures.append(name)
        elif name not in oracles:
            print(f"ok*   {name} [{dt:5.1f}s]: rows-only (no oracle)", flush=True)
        else:
            print(f"ok    {name} [{dt:5.1f}s]", flush=True)

    print()
    print(
        f"{n_run - len(failures)}/{n_run} queries pass in "
        f"{time.monotonic() - t_total:.0f}s; failures: {failures or 'none'}"
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
