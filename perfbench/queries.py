"""Query workloads: a closed loop over a fixed mix of registered queries.

One client runs whole passes until the measuring time is used up; each
pass runs every query of the mix once, in an order shuffled by the run
seed. An execution is timed from the registry call to ``collect()``
returning. Around each execution, outside the timed region, the benchmark
counts the persisted RDDs the query left behind, then calls
``spark.catalog.clearCache()``. Rows are checked against the query's DuckDB oracle after
the loop.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import time
import traceback
from collections import defaultdict

from perfbench.measure import median
from perfbench.tracing import JobCounter, persisted_rdds, plan_phases_ms, read_event_log, sum_jobs

# One pass runs each query once. Each reaches the engine through a
# different layer, so the traced run can split a pass by layer. The mix is
# small because every run starts a JVM and warms each query once, and all
# runs of the benchmark must fit one time budget.
QUERY_MIX = (
    # parquet scan, shuffle, join, window and aggregate codegen
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "events_hourly_windows",
    # Arrow pandas UDF on the Python workers
    "html_to_markdown_docs",
    # eager driver-side jobs while the frame is built
    "ingest_release_gate",  # functions.overlap.materialize_legs
    "dedup_connected_components",  # functions.iterate.min_label_propagate
)


class QueryRunner:
    def __init__(self, spark, data_dir: str, cache_dir: str, fingerprint: str, tracer=None):
        from bigdata_2025_1_spark.registry import all_oracles, all_queries

        self.spark = spark
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.fingerprint = fingerprint
        self.tracer = tracer
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.jobs = JobCounter(spark) if tracer else None

    def execute(self, name: str, exec_id: int) -> dict:
        """Run one query; return its record (latency, rows or error)."""
        rec: dict = {"query": name, "exec": exec_id}
        fn = self.queries[name]
        tr = self.tracer
        persisted = persisted_rdds(self.spark)
        # a failing execution is charged its time, counted, never dropped
        t0 = time.perf_counter()
        try:
            if tr is None:
                df = fn(self.spark, self.data_dir)
                rows = df.collect()
                rec["latency_s"] = time.perf_counter() - t0
            else:
                tr.exec_id = exec_id
                with tr.span("query", query=name) as top:
                    with tr.span("operators.build") as build:
                        df = fn(self.spark, self.data_dir)
                    with tr.span("plan") as plan:
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("execute.collect") as coll:
                        rows = df.collect()
                rec["latency_s"] = top["end"] - top["start"]
                rec["trace"] = {"top": top, "build": build, "plan": plan, "collect": coll}
                rec["phases_ms"] = plan_phases_ms(df)
            rec["cols"] = list(df.columns)
            rec["rows"] = [tuple(r) for r in rows]
        except Exception as exc:
            rec.setdefault("latency_s", time.perf_counter() - t0)
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            rec["traceback"] = traceback.format_exc()
        rec["entries_left"] = persisted_rdds(self.spark) - persisted
        self.spark.catalog.clearCache()
        if "trace" in rec:
            t = rec["trace"]
            rec["build_counts"] = self.jobs.count(t["build"]["job0"], t["build"]["job1"])
            # planning starts no job today; any it does start is charged here
            rec["collect_counts"] = self.jobs.count(t["plan"]["job0"], t["collect"]["job1"])
        return rec

    # -- correctness -----------------------------------------------------

    def oracle_result(self, name: str):
        """DuckDB rows for ``name``, cached on disk by SQL and data hash."""
        import duckdb

        sql = self.oracles.get(name)
        if sql is None:
            return None
        key = hashlib.sha256(
            f"{self.fingerprint}\n{duckdb.__version__}\n{sql}".encode()
        ).hexdigest()[:24]
        path = os.path.join(self.cache_dir, "oracle", f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:  # written by this benchmark only
                return pickle.load(fh)
        from bigdata_2025_1_spark.oracle import connect_oracle

        con = connect_oracle(self.data_dir)
        try:
            res = con.execute(sql)
            out = ([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(out, fh)
        os.replace(tmp, path)
        return out

    def check(self, execs: list[dict]) -> None:
        """Mark each execution ``ok`` against the DuckDB oracle."""
        from bigdata_2025_1_spark.oracle import compare

        cache: dict[str, object] = {}
        for rec in execs:
            if "error" in rec:
                rec["ok"] = False
                continue
            name = rec["query"]
            if name not in cache:
                cache[name] = self.oracle_result(name)
            expected = cache[name]
            if expected is None:
                rec["ok"] = False
                rec["error"] = "no oracle SQL registered"
                continue
            cols, rows = expected
            problems = compare(rec["rows"], rec["cols"], rows, cols)
            rec["ok"] = not problems
            if problems:
                rec["error"] = "; ".join(problems[:3])
            rec.pop("rows", None)


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def layer_metrics(
    execs: list[dict], names, spans: list[dict], event_log_dir: str, cores: int
) -> dict[str, float]:
    """Per-layer figures for one pass of the mix: every query contributes
    the median of its executions, and the mix sums them."""
    per_job = read_event_log(event_log_dir)
    spans_by_exec: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        spans_by_exec[s["exec"]].append(s)
    per_query: dict[str, list[dict]] = defaultdict(list)
    for r in execs:
        if "trace" not in r:
            continue
        t = r["trace"]
        spans = spans_by_exec[r["exec"]]
        it = [s for s in spans if s["name"] == "functions.iterate.min_label_propagate"]
        ov = [s for s in spans if s["name"] == "functions.overlap.materialize_legs"]
        legs = [s for s in spans if s["name"].startswith("functions.overlap.leg[")]
        whole = sum_jobs(per_job, t["top"]["job0"], t["top"]["job1"])
        coll = sum_jobs(per_job, t["plan"]["job0"], t["collect"]["job1"])
        wall = _dur(t["top"])
        m = {
            "operators.build_s": _dur(t["build"]),
            "operators.build_jobs": r["build_counts"]["jobs"],
            "plan.s": _dur(t["plan"]),
            "plan.analysis_ms": r["phases_ms"].get("analysis", 0.0),
            "plan.optimization_ms": r["phases_ms"].get("optimization", 0.0),
            "plan.planning_ms": r["phases_ms"].get("planning", 0.0),
            "execute.collect_s": _dur(t["collect"]),
            "execute.jobs": r["collect_counts"]["jobs"],
            "execute.stages": r["collect_counts"]["stages"],
            "execute.tasks": r["collect_counts"]["tasks"],
            "execute.failed_tasks": r["collect_counts"]["failed_tasks"]
            + r["build_counts"]["failed_tasks"],
            "execute.task_time_s": coll.get("task_time_s", 0.0),
            "execute.shuffle_write_bytes": coll.get("shuffle_write_bytes", 0.0),
            "execute.spill_bytes": whole.get("spill_bytes", 0.0),
            "execute.all_task_time_s": whole.get("task_time_s", 0.0),
            "execute.wall_s": wall,
            "io.input_bytes": whole.get("input_bytes", 0.0),
            "io.input_records": whole.get("input_records", 0.0),
            "iterate.calls": len(it),
            "iterate.s": sum(_dur(s) for s in it),
            "iterate.jobs": sum(s["job1"] - s["job0"] for s in it),
            "overlap.calls": len(ov),
            "overlap.s": sum(_dur(s) for s in ov),
            "overlap.legs": len(legs),
            "overlap.leg_sum_s": sum(_dur(s) for s in legs),
            "overlap.leg_max_s": max((_dur(s) for s in legs), default=0.0),
            "cache.entries_left": r["entries_left"],
        }
        per_query[r["query"]].append(m)
    out: dict[str, float] = defaultdict(float)
    for n in names:
        rows = per_query.get(n)
        if not rows:
            continue
        for k in rows[0]:
            out[k] += median(x[k] for x in rows)
    all_task = out.pop("execute.all_task_time_s", 0.0)
    wall = out.pop("execute.wall_s", 0.0)
    out["execute.busy_frac"] = all_task / (wall * cores) if wall else 0.0
    return dict(out)
