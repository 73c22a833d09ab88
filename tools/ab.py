"""Interleaved perf A/B for registered queries: OLD code from any git
ref vs the working tree, in ONE session (bench.py discipline:
clearCache between runs, best-of-N, sf0.1 by default). Promoted from
the one-off ab_r7.py per the round-7 VERDICT ask #7 — the git ref,
query list, scale dir, and repeat count are now parameters.

Usage:
    python tools/ab.py [--ref REF] [--sf DIR] [--reps N] query [query ...]

The old side is exec'd from ``git show REF:<module path>`` with the
@query decorator stubbed so nothing re-registers; module paths resolve
from the CURRENT registry (each query function's defining module), so
the tool needs no per-round target table.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bigdata_2025_1_spark.registry as R
from bigdata_2025_1_spark.session import get_spark


def load_old(ref: str, targets: dict[str, str]) -> dict:
    """Exec each target's defining module from ``ref`` and return the
    old query functions. ``targets`` maps query name -> repo-relative
    module path."""
    # An invalid REF must stay loud (self-review r14: silently treating
    # a typo'd sha as "every module is new" would make plandiff --all
    # print 0/N changed and exit 0 — a green CI gate that compared
    # nothing). Only a missing PATH at a valid ref is skippable.
    probe = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--verify", f"{ref}^{{commit}}"],
        capture_output=True, text=True,
    )
    if probe.returncode != 0:
        raise SystemExit(f"ab/plandiff: invalid git ref {ref!r}: "
                         f"{probe.stderr.strip()}")
    orig = R.query
    R.query = lambda name, oracle=None: (lambda fn: fn)
    out = {}
    try:
        for path in sorted(set(targets.values())):
            proc = subprocess.run(
                ["git", "-C", REPO, "show", f"{ref}:{path}"],
                capture_output=True, text=True,
            )
            if proc.returncode != 0:
                # module absent at ref (a whole new family landed since)
                # — its queries just won't appear in ``out``; callers
                # report them as new-at-ref instead of crashing
                # (plandiff --all crashed here each new-module round)
                continue
            src = proc.stdout
            ns = {"__name__": f"old_{path.rsplit('/', 1)[-1][:-3]}"}
            exec(compile(src, f"old:{path}", "exec"), ns)
            for q, p in targets.items():
                if p == path and q in ns:
                    # absent = the query didn't exist at ``ref`` yet;
                    # callers decide whether that's an error (ab.py)
                    # or expected (plandiff.py's new-query case)
                    out[q] = ns[q]
    finally:
        R.query = orig
    return out


def module_path(fn) -> str:
    mod = sys.modules[fn.__module__]
    f = mod.__file__
    assert f is not None
    return os.path.relpath(f, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    # --ref is REQUIRED: with a clean tree, defaulting to HEAD would
    # silently A/B identical code and print pure run-to-run noise as a
    # plausible "old -> new" delta (the misread this tool exists to
    # prevent)
    ap.add_argument("--ref", required=True, help="git ref for the OLD side")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark("ab", master="local[32]")
    # load the CURRENT registry first: old modules do module-level
    # QUERIES lookups (retrieval compositions) that must resolve
    R.load_all()
    new = dict(R.all_queries())
    missing = [q for q in args.queries if q not in new]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2
    targets = {q: module_path(new[q].__wrapped__ if hasattr(new[q], "__wrapped__") else new[q]) for q in args.queries}
    old = load_old(args.ref, targets)
    absent = [q for q in args.queries if q not in old]
    if absent:
        print(f"not present at {args.ref}: {absent}", file=sys.stderr)
        return 2
    for q in args.queries:
        best = {"old": 1e9, "new": 1e9}
        for _ in range(args.reps):
            for tag, fn in (("old", old[q]), ("new", new[q])):
                spark.catalog.clearCache()
                t0 = time.monotonic()
                fn(spark, args.sf).collect()
                best[tag] = min(best[tag], time.monotonic() - t0)
        print(f"{q}: old({args.ref}) {best['old']:.2f} s -> new {best['new']:.2f} s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
