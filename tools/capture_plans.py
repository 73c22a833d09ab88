"""Capture .explain('formatted') for named queries into plans/<round>/.

    python tools/capture_plans.py [--ref REF] [--round rN] before|after q [q ...]

Writes plans/<round>/<query>_<tag>.txt — the optimization-round evidence
files (the judge checks plan claims against these). With ``--ref`` the
query functions are exec'd from that git ref (tools/ab.py's loader), so
BEFORE plans can be captured after the change has landed. The round
directory defaults to $PLANS_ROUND or r15.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_2025_1_spark.registry import all_queries  # noqa: E402
from bigdata_2025_1_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", help="git ref to load the query functions from")
    ap.add_argument(
        "--round", default=os.environ.get("PLANS_ROUND", "r15"), dest="rnd"
    )
    ap.add_argument("tag", choices=["before", "after"])
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    out_dir = os.path.join(REPO, "plans", args.rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plans", master="local[4]")
    qs = all_queries()
    if args.ref:
        from tools.ab import load_old, module_path

        targets = {n: module_path(qs[n]) for n in args.names}
        old = load_old(args.ref, targets)
        missing = [n for n in args.names if n not in old]
        if missing:
            raise SystemExit(f"not present at {args.ref}: {missing}")
        qs = old
    for name in args.names:
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
