"""Per-query job/stage profiler (optimization round tooling, guide §1).

Runs the named queries (default: every registered query) once warm +
once measured in ONE session with the Spark event log enabled, each
run labeled via ``setJobDescription`` (guide §1.5; release-gate leg
threads inherit the label, so their jobs count toward the gate), then
parses the event log into per-query job/stage aggregates:

    python tools/profile_queries.py [--sf DIR] [--reps N] [query ...]

Output (stdout, one JSON line per query):
    {"query": name, "wall_s": best-of-N, "n_jobs": J, "n_stages": S,
     "n_tasks": T, "task_time_s": sum of task durations,
     "shuffle_write_mb": ..., "stages": [[desc, dur_s, n_tasks], ...]}

The wall/best-of-N mirrors bench.py's methodology (clearCache between
runs, ``len(df.collect())`` as the action) so numbers line up with the
bench; the job/stage breakdown is what the bench cannot show — where
inside a query the time goes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_2025_1_spark.registry import all_queries  # noqa: E402
from bigdata_2025_1_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    # the uncompressed event log runs to hundreds of MB: remove it once
    # profile() has parsed it
    evdir = tempfile.mkdtemp(prefix="spark-events-")
    try:
        profile(args, evdir)
    finally:
        shutil.rmtree(evdir, ignore_errors=True)


def profile(args: argparse.Namespace, evdir: str) -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    # the tuned session (driver memory, AQE, shuffle partitions, UTC)
    # plus the event log — same JVM shape as bench.py, so stage
    # breakdowns correspond to bench numbers
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.compress=false "
        f"--conf spark.eventLog.rolling.enabled=false "
        f"--conf spark.eventLog.dir={evdir} pyspark-shell"
    )
    spark = get_spark("profile", master=f"local[{cpus}]")

    queries = all_queries()
    names = args.queries or list(queries)
    spark.range(1000).count()

    walls: dict[str, list[float]] = {}
    for name in names:
        fn = queries[name]
        fn(spark, args.sf).collect()  # warm: codegen + analysis
        spark.catalog.clearCache()
        rep_walls: list[float] = []
        for rep in range(args.reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"Q::{name}::{rep}")
            t0 = time.perf_counter()
            len(fn(spark, args.sf).collect())
            rep_walls.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        walls[name] = rep_walls
        print(f"# {name}: {min(rep_walls):.3f}s", file=sys.stderr)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # ---- parse the event log ------------------------------------------------
    import collections

    log = os.path.join(evdir, app_id)
    if not os.path.exists(log):
        cands = [p for p in os.listdir(evdir)]
        if not cands:
            # Spark 4 defaults to rolling event logs under a subdir
            for root, _dirs, files in os.walk(evdir):
                cands += [os.path.join(root, p) for p in files]
            log = cands[0]
        else:
            log = os.path.join(evdir, cands[0])
    if os.path.isdir(log):
        parts = sorted(os.listdir(log))
        import io

        buf = io.StringIO()
        for p in parts:
            with open(os.path.join(log, p)) as f:
                buf.write(f.read())
        buf.seek(0)
        lines = buf
    else:
        lines = open(log)
    job_q: dict[int, tuple[str, int]] = {}
    stage_q: dict[int, tuple[str, int]] = {}
    agg: dict[tuple[str, int], dict] = collections.defaultdict(
        lambda: {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0.0,
                 "sw_bytes": 0, "sr_bytes": 0, "stage_list": []}
    )
    with lines as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get(
                    "spark.job.description", ""
                )
                if desc.startswith("Q::"):
                    _, name, rep = desc.split("::")
                    key = (name, int(rep))
                    job_q[ev["Job ID"]] = key
                    agg[key]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_q[sid] = key
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                key = stage_q.get(si["Stage ID"])
                if key is None:
                    continue
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                dur = (comp - sub) / 1000.0 if sub and comp else 0.0
                agg[key]["stages"] += 1
                agg[key]["tasks"] += si.get("Number of Tasks", 0)
                agg[key]["stage_list"].append(
                    [si.get("Stage Name", "")[:80], round(dur, 3),
                     si.get("Number of Tasks", 0)]
                )
            elif e == "SparkListenerTaskEnd":
                key = stage_q.get(ev.get("Stage ID"))
                if key is None:
                    continue
                ti = ev.get("Task Info", {})
                agg[key]["task_ms"] += ti.get("Finish Time", 0) - ti.get(
                    "Launch Time", 0
                )
                tm = ev.get("Task Metrics") or {}
                swm = tm.get("Shuffle Write Metrics") or {}
                srm = tm.get("Shuffle Read Metrics") or {}
                agg[key]["sw_bytes"] += swm.get("Shuffle Bytes Written", 0)
                agg[key]["sr_bytes"] += (
                    (srm.get("Local Bytes Read", 0) or 0)
                    + (srm.get("Remote Bytes Read", 0) or 0)
                )

    for name in names:
        # ONE rep — chosen by wall time — supplies every reported field
        # (wall, jobs, stages, task time, shuffle), so a line can never
        # mix metrics from two different executions (ADVICE r14)
        rep_ids = [r for r in range(args.reps) if (name, r) in agg]
        if not rep_ids:
            continue
        best_r = min(rep_ids, key=lambda r: walls[name][r])
        best_rep = agg[(name, best_r)]
        out = {
            "query": name,
            "wall_s": round(walls[name][best_r], 3),
            "n_jobs": best_rep["jobs"],
            "n_stages": best_rep["stages"],
            "n_tasks": best_rep["tasks"],
            "task_time_s": round(best_rep["task_ms"] / 1000.0, 3),
            "shuffle_write_mb": round(best_rep["sw_bytes"] / 1e6, 2),
            "shuffle_read_mb": round(best_rep["sr_bytes"] / 1e6, 2),
            "stages": sorted(
                best_rep["stage_list"], key=lambda s: -s[1]
            )[:8],
        }
        print(json.dumps(out))


if __name__ == "__main__":
    main()
