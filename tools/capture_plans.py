"""Capture .explain('formatted') for named queries into plans/<round>/.

    python tools/capture_plans.py [--ref REF] [--round rN] before|after q [q ...]

Writes plans/<round>/<query>_<tag>.txt — the optimization-round evidence
files. The plans come from a fresh process that imports only one engine:
the working tree, or with ``--ref`` a ``git archive`` extract of that
ref (``tools/plandiff.py side_plans``), so BEFORE plans can be captured
after the change has landed. The round directory defaults to
$PLANS_ROUND or r15.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.ab import checkout  # noqa: E402
from tools.plandiff import side_plans  # noqa: E402

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
    with checkout(args.ref) as root:
        plans = side_plans(root, SF, args.names, master="local[4]")
    missing = [n for n in args.names if n not in plans]
    if missing:
        raise SystemExit(f"not present at {args.ref or 'the working tree'}: {missing}")
    for name in args.names:
        plan = plans[name]
        if isinstance(plan, dict):
            raise SystemExit(f"{name}: planning failed ({plan['error']})")
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
