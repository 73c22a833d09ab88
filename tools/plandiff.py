"""Plan-shape regression harness (explain-diff): compare the NORMALIZED
formatted physical plan of registered queries between a git ref (old
code) and the working tree, in one session — the plan-level counterpart
of tools/ab.py (VERDICT r9 ask #2's explain()-diff candidate).

Plans are deterministic, so unlike ab.py there is no run-to-run noise
and ``--ref HEAD`` (the default) is the meaningful "did my uncommitted
edit silently change any plan?" check. Normalization strips expression
ids, plan ids, statistics, and file paths; what remains is the shape a
scale review cares about — node kinds, join strategies, exchange
placement, pushed filters.

Usage:
    python tools/plandiff.py [--ref REF] [--sf DIR] [--full] query ...
    python tools/plandiff.py --all            # every registered query

Exit status: 0 = all plans unchanged, 1 = at least one differs (so CI
or a pre-commit hook can gate on it).

Known limits (measured over all 328 queries vs the round-9 ref):
- queries composing persisted helpers can read "unchanged" when the
  OLD side's identical plan fragment is substituted from the cache
  manager — run such queries standalone (fresh memo) for a clean read.

Fixed FP classes (round-12 VERDICT ask #3 — both fired that round on
exactly the queries a bench panic checks first):
- multi-count-distinct queries (friedman_priority_monthly,
  distinct_counts, table_profile) permute the Expand rewrite's
  gid<->column assignment with the session-global expression-id
  counter. The gid VALUES and the Expand projection-row order are
  semantically void (each FILTER follows its column via the shared
  value), so normalize() now neutralizes ``gid#_ = N`` literals and
  sorts Expand Arguments rows with their trailing gid literal blanked;
- RDD creation call-site strings (``localCheckpoint at
  NativeMethodAccessorImpl.java:0`` vs ``at <unknown>:0``) differ by
  JVM reflection path between otherwise identical builds — stripped.
"""

from __future__ import annotations

import argparse
import difflib
import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bigdata_2025_1_spark.registry as R
from bigdata_2025_1_spark.plans.explain import formatted_plan
from bigdata_2025_1_spark.session import get_spark
from tools.ab import load_old, module_path

_NOISE = [
    (re.compile(r"#\d+L?"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(_)"),
    (re.compile(r"file:[^\s\],)]+"), "file:_"),
    (re.compile(r"\[id=[^\]]*\]"), "[id=_]"),
    (re.compile(r"cteId=\d+"), "cteId=_"),
    (re.compile(r"exprId=\d+"), "exprId=_"),
    (re.compile(r"Location: \S+"), "Location: _"),
    (re.compile(r"subquery\d+"), "subquery_"),
    # lambda-variable ids (x_8, y_3, ...) come from a SESSION-GLOBAL
    # counter — same expression, different numbers per invocation
    (re.compile(r"\b([a-z])_\d+#"), r"\1_#"),
    # CSE aliases (_common_expr_0) use the same session-global counter
    (re.compile(r"_common_expr_\d+"), "_common_expr_"),
    # whole-stage-codegen stage numbers depend on session history
    (re.compile(r"codegen id : \d+"), "codegen id : _"),
    # AQE query-stage ids ((62) ShuffleQueryStage / Arguments: 17) are
    # materialization-order-dependent; a bare-integer Arguments line
    # carries no shape information beyond the id
    (re.compile(r"^Arguments: \d+$", re.MULTILINE), "Arguments: _"),
    # RDD ids in Scan ExistingRDD (driver-created frames) are per-session
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    # RDD creation call-site strings (localCheckpoint at
    # NativeMethodAccessorImpl.java:0 / at <unknown>:0) are JVM
    # reflection-path noise, not shape
    (re.compile(r"\bat (?:[\w$.]+\.java|<unknown>):\d+"), "at _"),
    # the multi-count-distinct Expand rewrite numbers its synthetic gid
    # off the session-global expression-id counter; the values carry no
    # meaning (the pairing lives in the Expand rows, canonicalized
    # below) — neutralize them wherever they appear in FILTER clauses
    (re.compile(r"gid#_ = \d+"), "gid#_ = _"),
]

# The distinct-rewrite's synthetic gid column tags every piece of its
# scaffolding: the Expand projection rows and output, the intermediate
# aggregate's Input/Keys/Results, and the gid-keyed hashpartitioning.
# Within those lines the element ORDER (and the row order) follows the
# same session-global expression-id counter as the gid values — the
# key set is semantically a set. Canonicalize by sorting list elements
# (bracketed and parenthesized, innermost-out) on gid-bearing lines
# ONLY; everywhere else order stays load-bearing at this tier (e.g.
# sort keys, literal arrays).
_BRACKET = re.compile(r"\[([^\[\]]*)\]")
_PAREN = re.compile(r"\(([^()]*)\)")


# A bare-int list element, possibly wearing unbalanced bracket shards
# after the innermost-out sort mangles a deeply nested Expand row
# (e.g. "[4" / "5]" / "6").
_INT_SHARD = re.compile(r"(\[*)(\d+)(\]*)$")


def _blank_shard(it: str, gid_vals: "frozenset[str]") -> str:
    """Blank a bare-int/bracket-shard element iff its digits are a
    harvested gid value — the single code shape both blanking passes
    share."""
    sh = _INT_SHARD.fullmatch(it)
    if sh and sh.group(2) in gid_vals:
        return sh.group(1) + "_" + sh.group(3)
    return it


def _sort_lists(
    text: str,
    pat: re.Pattern,
    lo: str,
    hi: str,
    blank_ints: bool = False,
    gid_vals: "frozenset[str]" = frozenset(),
) -> str:
    def sort_inner(m: re.Match) -> str:
        items = [x.strip() for x in m.group(1).split(",")]
        # The Expand rewrite appends the gid literal as the LAST element
        # of each projection row — blank only that trailing slot, so a
        # genuine literal change elsewhere in the row (a changed
        # constant beside the gid) still reads CHANGED (ADVICE r13:
        # blanking EVERY bare int normalized such changes away). When
        # the plan's gid value set was harvested, require membership
        # even for the trailing slot (self-review r14: a genuine
        # literal that merely SITS last in a list on a gid line must
        # flag too); fall back to unconditional only when the harvest
        # is empty (string fixtures without the FILTER lines).
        if blank_ints and items and items[-1].isdigit():
            if not gid_vals or items[-1] in gid_vals:
                items[-1] = "_"
        if blank_ints and gid_vals:
            # gid VALUES also surface as NON-trailing bare ints once the
            # nested-row sort shears elements apart (caught live on
            # table_profile in the round-14 sweep: "6," vs "4," and
            # "[4, [5]" vs "[5, [6]" between two gid renumberings).
            # Blank exactly the integers that ARE gid values — the set
            # is read off the plan's own "gid#_ = N" filters before
            # noise-stripping — so an unrelated literal still flags
            # unless it collides with a gid value.
            items = [_blank_shard(it, gid_vals) for it in items]
        return lo + ", ".join(sorted(items)) + hi

    for _ in range(8):  # innermost-out, bounded nesting
        new = pat.sub(sort_inner, text)
        if new == text:
            break
        text = new
    return text


_GID_VALUE = re.compile(r"gid#\d+L? = (\d+)")


def _canon_gid_line(ln: str, gid_vals: "frozenset[str]") -> str:
    ln = _sort_lists(ln, _BRACKET, "⟦", "⟧", blank_ints=True, gid_vals=gid_vals)
    ln = _sort_lists(ln, _PAREN, "⦅", "⦆")
    ln = ln.replace("⟦", "[").replace("⟧", "]").replace("⦅", "(").replace("⦆", ")")
    if gid_vals:
        # Shards stranded at a nesting level the bounded innermost-out
        # sort never balances (an element like "[0" poisons its whole
        # level) still carry gid values — final pass: blank any
        # comma-delimited bare-int/shard element of the line whose
        # digits are a gid value. Non-shard tokens ("2)", "100.0D")
        # never match, so expression literals survive.
        ln = ", ".join(_blank_shard(p, gid_vals) for p in ln.split(", "))
    return ln


def normalize(plan: str) -> str:
    # gid values must be harvested from the RAW plan — the noise pass
    # below blanks the "gid#_ = N" literals they come from
    gid_vals = frozenset(_GID_VALUE.findall(plan))
    for pat, rep in _NOISE:
        plan = pat.sub(rep, plan)
    return "\n".join(
        (_canon_gid_line(ln, gid_vals) if "gid#_" in ln else ln).rstrip()
        for ln in plan.splitlines()
    )


def canonical(plan: str) -> str:
    """Second-tier comparison form: sort the elements of every
    bracketed list (innermost-out) and the line order. Catalyst
    orderings keyed off the session-global expression-id counter (the
    multi-count-distinct Expand rewrite, attribute-set printouts)
    permute semantically-identical lists between two builds in one
    session; a plan equal under this form but not under normalize() is
    layout-only. Genuine shape changes (different nodes, join types,
    build sides, key sets) survive canonicalization."""

    def sort_inner(m: re.Match) -> str:
        items = [x.strip() for x in m.group(1).split(",")]
        # sentinel brackets make the enclosing list innermost next pass
        return "⟦" + ", ".join(sorted(items)) + "⟧"

    for _ in range(8):  # innermost-out, bounded nesting
        new = _BRACKET.sub(sort_inner, plan)
        if new == plan:
            break
        plan = new
    plan = plan.replace("⟦", "[").replace("⟧", "]")
    return "\n".join(sorted(plan.splitlines()))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", default="HEAD", help="git ref for the OLD side")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--full", action="store_true", help="print unified diffs")
    ap.add_argument("--all", action="store_true", help="diff every query")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spark = get_spark("plandiff", master="local[8]", shuffle_partitions=8)
    R.load_all()
    new = dict(R.all_queries())
    names = list(new) if args.all else args.queries
    missing = [q for q in names if q not in new]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2
    if not names:
        print("no queries given (use --all or list names)", file=sys.stderr)
        return 2
    targets = {q: module_path(new[q]) for q in names}
    old = load_old(args.ref, targets)
    changed = []
    for q in names:
        if q not in old:
            print(f"{q}: not present at {args.ref} — new query, skipped")
            continue
        spark.catalog.clearCache()
        try:
            p_old = normalize(formatted_plan(old[q](spark, args.sf)))
        except Exception as e:  # noqa: BLE001 — old code may predate a query
            print(f"{q}: OLD side failed to plan ({e.__class__.__name__}) — new query?")
            continue
        spark.catalog.clearCache()
        p_new = normalize(formatted_plan(new[q](spark, args.sf)))
        if p_old == p_new:
            print(f"{q}: unchanged")
            continue
        if canonical(p_old) == canonical(p_new):
            print(f"{q}: layout-only (counter-sensitive ordering)")
            continue
        changed.append(q)
        print(f"{q}: PLAN CHANGED vs {args.ref}")
        if args.full:
            sys.stdout.writelines(
                difflib.unified_diff(
                    p_old.splitlines(keepends=True),
                    p_new.splitlines(keepends=True),
                    fromfile=f"{q}@{args.ref}",
                    tofile=f"{q}@worktree",
                )
            )
            print()
    print(f"\n{len(changed)}/{len(names)} plans changed"
          + (f": {', '.join(changed)}" if changed else ""))
    return 1 if changed else 0


if __name__ == "__main__":
    raise SystemExit(main())
