"""Interleaved perf A/B for registered queries: OLD code from any git
ref vs the working tree, each side in its own fresh process.

Usage:
    python tools/ab.py --ref REF [--sf DIR] [--reps N] query [query ...]

Each side runs in a child Python process that can import only its own
engine: the working tree for NEW, and a ``git archive REF
bigdata_2025_1_spark`` extract for OLD. So a change anywhere in the
package is seen, a shared helper module as much as a query's defining
module. The tool runs ``--reps`` rounds and alternates which side goes
first; in every round each child runs each query once to warm up, then
once timed (clearCache between runs, ``collect()`` as the action, at
``local[4]``). It prints each side's median and every timed wall.

:func:`checkout` and :func:`run_side` are shared with
``tools/plandiff.py`` and ``tools/capture_plans.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MARK = "SIDE_RESULT "

# Child program: wall of one warm run per query.
_TIME = """
import json, sys, time
from bigdata_2025_1_spark.registry import all_queries
from bigdata_2025_1_spark.session import get_spark
sf, names = sys.argv[1], sys.argv[2:]
spark = get_spark("ab", master="local[4]")
qs = all_queries()
out = {}
for q in names:
    if q in qs:
        qs[q](spark, sf).collect()
        spark.catalog.clearCache()
        t0 = time.monotonic()
        qs[q](spark, sf).collect()
        out[q] = time.monotonic() - t0
        spark.catalog.clearCache()
spark.stop()
print("SIDE_RESULT " + json.dumps(out))
"""


@contextmanager
def checkout(ref: str | None) -> Iterator[str]:
    """Yield the root of an engine checkout: the working tree when
    ``ref`` is None, else a temporary ``git archive`` extract of the
    package at ``ref``."""
    if ref is None:
        yield REPO
        return
    # An invalid REF must stay loud: silently comparing nothing would
    # make plandiff --all print 0/N changed and exit 0.
    probe = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--verify", f"{ref}^{{commit}}"],
        capture_output=True, text=True,
    )
    if probe.returncode != 0:
        raise SystemExit(f"invalid git ref {ref!r}: {probe.stderr.strip()}")
    with tempfile.TemporaryDirectory(prefix="engine-") as root:
        archive = subprocess.run(
            ["git", "-C", REPO, "archive", ref, "bigdata_2025_1_spark"],
            capture_output=True, check=True,
        )
        subprocess.run(["tar", "-x", "-C", root], input=archive.stdout, check=True)
        yield root


def run_side(root: str, code: str, *argv: str) -> dict:
    """Run ``code`` in a fresh Python process whose only engine on the
    import path is the one under ``root``; return the JSON object it
    prints after the ``SIDE_RESULT`` mark."""
    env = dict(os.environ, PYTHONPATH=root)
    # cwd=root: `python -c` puts the working directory first on sys.path
    proc = subprocess.run(
        [sys.executable, "-c", code, *argv],
        cwd=root, env=env, stdout=subprocess.PIPE, text=True,
    )
    for line in proc.stdout.splitlines():
        if line.startswith(_MARK):
            return json.loads(line[len(_MARK):])
    raise SystemExit(f"side at {root} exited {proc.returncode} without a result")


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

    walls: dict[str, dict[str, list[float]]] = {
        q: {"old": [], "new": []} for q in args.queries
    }
    with checkout(args.ref) as old_root:
        roots = {"old": old_root, "new": REPO}
        for rep in range(args.reps):
            order = ("old", "new") if rep % 2 == 0 else ("new", "old")
            for side in order:
                got = run_side(roots[side], _TIME, args.sf, *args.queries)
                for q in args.queries:
                    if q not in got:
                        print(f"{q}: not present on the {side} side", file=sys.stderr)
                        return 2
                    walls[q][side].append(got[q])
    for q, w in walls.items():
        old, new = statistics.median(w["old"]), statistics.median(w["new"])
        print(f"{q}: old({args.ref}) {old:.2f} s -> new {new:.2f} s (medians; "
              f"old {' '.join(f'{x:.2f}' for x in w['old'])}, "
              f"new {' '.join(f'{x:.2f}' for x in w['new'])})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
