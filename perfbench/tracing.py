"""Spans around the calls into each engine layer, job-id attribution and
the Spark event-log reader used by the traced run.

Spans are kept in memory and written out once, when the run ends. Each
span records its name, start and end, its parent span, the query
execution it belongs to, and the range of Spark job ids submitted while
it was open. Job ids come from the DAG scheduler's job counter, which is
bumped synchronously by every submitting thread; so a span's job range
also covers jobs started in worker threads that drop thread-local job
groups (``functions.overlap.materialize_legs``).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.exec_id: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._dag = None

    def bind(self, spark) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(self) -> int:
        """Number of jobs submitted so far (the next job's id)."""
        return self._dag.numTotalJobs() if self._dag is not None else 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, parent: dict | None = None, **attrs) -> dict:
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "exec": parent["exec"] if parent else self.exec_id,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
            "end": None,
            "job0": self.jobs(),
            **attrs,
        }
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        if span["end"] is not None:
            return
        span["job1"] = self.jobs()
        span["end"] = time.perf_counter()
        stack = self._stack()
        if span in stack:
            stack.remove(span)
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def dump(self, path: str, t0: float) -> None:
        rows = sorted(self.spans, key=lambda s: s["start"])
        with open(path, "w", encoding="utf-8") as fh:
            for s in rows:
                out = dict(s, start=s["start"] - t0, end=s["end"] - t0)
                fh.write(json.dumps(out) + "\n")


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the engine's iterate, overlap and stats-sink entry points.

    Must run before ``bigdata_2025_1_spark.operators`` is imported: the
    operator modules bind ``min_label_propagate`` and
    ``materialize_legs`` with ``from ... import``."""
    if "bigdata_2025_1_spark.operators" in sys.modules:
        raise RuntimeError("install_layer_wrappers must run before the operators import")
    from bigdata_2025_1_spark.functions import iterate, overlap
    from bigdata_2025_1_spark.streaming import consumer

    mlp = iterate.min_label_propagate

    @functools.wraps(mlp)
    def traced_mlp(*args, **kwargs):
        with tracer.span("functions.iterate.min_label_propagate"):
            return mlp(*args, **kwargs)

    legs = overlap.materialize_legs

    @functools.wraps(legs)
    def traced_legs(*builders):
        with tracer.span("functions.overlap.materialize_legs") as parent:
            wrapped = [_traced_leg(tracer, b, parent, i) for i, b in enumerate(builders)]
            try:
                return legs(*(w for w, _ in wrapped))
            finally:
                for _, spans in wrapped:
                    for s in spans:  # a leg whose frame was never checkpointed
                        tracer.close(s)

    write = consumer.StatsSink.write

    @functools.wraps(write)
    def traced_write(self, batch_id, stats_df):
        with tracer.span("streaming.consumer.StatsSink.write", batch=batch_id):
            return write(self, batch_id, stats_df)

    iterate.min_label_propagate = traced_mlp
    overlap.materialize_legs = traced_legs
    consumer.StatsSink.write = traced_write


def _traced_leg(tracer: Tracer, build, parent: dict, i: int):
    """A leg builder whose span runs from the build call until the leg's
    frame is materialized. The parent comes from the closure because the
    leg runs in a pool thread with an empty span stack."""
    opened: list[dict] = []
    name = f"functions.overlap.leg[{i}]:{getattr(build, '__name__', 'leg')}"

    def run():
        span = tracer.open(name, parent=parent)
        opened.append(span)
        try:
            df = build()
        except BaseException:
            tracer.close(span)
            raise
        checkpoint = df.localCheckpoint

        def traced_checkpoint(*args, **kwargs):
            try:
                return checkpoint(*args, **kwargs)
            finally:
                tracer.close(span)

        df.localCheckpoint = traced_checkpoint
        return df

    return run, opened


class JobCounter:
    """Jobs, executed stages and tasks per job-id range, read from the
    StatusTracker once every job in the range has finished.

    Ranges must be read in increasing job-id order: a stage is charged to
    the first job read that lists it, and later jobs that list it reused
    its output."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()
        self._seen: set[int] = set()

    def count(self, job0: int, job1: int) -> dict[str, int]:
        st = self.tracker
        deadline = time.monotonic() + 30
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in range(job0, job1):
            info = st.getJobInfo(jid)
            while (info is None or info.status in ("RUNNING", "UNKNOWN")) and (
                time.monotonic() < deadline
            ):
                time.sleep(0.02)
                info = st.getJobInfo(jid)
            if info is None:
                raise RuntimeError(f"job {jid} never reached the status tracker")
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in self._seen:
                    continue
                stage = st.getStageInfo(sid)
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue  # skipped in this job
                self._seen.add(sid)
                out["stages"] += 1
                out["tasks"] += stage.numCompletedTasks
                out["failed_tasks"] += stage.numFailedTasks
        return out


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded on the frame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out: dict[str, float] = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-job task totals from a finished (uncompressed) Spark event log.

    A stage's tasks are charged to the first job that lists the stage;
    later jobs that list it skipped it."""
    stage_job: dict[int, int] = {}
    per_stage: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    files = sorted(
        os.path.join(d, name)
        for d, _, names in os.walk(log_dir)
        for name in names
        if not name.endswith(".inprogress") and not name.startswith(("appstatus", "."))
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = per_stage[ev["Stage ID"]]
                    acc["task_time_s"] += m.get("Executor Run Time", 0) / 1000
                    acc["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    acc["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    acc["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    per_job: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for sid, acc in per_stage.items():
        job = stage_job.get(sid)
        if job is None:
            continue
        for k, v in acc.items():
            per_job[job][k] += v
    return per_job


def sum_jobs(per_job: dict[int, dict], job0: int, job1: int) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for jid in range(job0, job1):
        for k, v in per_job.get(jid, {}).items():
            out[k] += v
    return out
