"""Benchmark of record for the engine. Run it from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 16 --trace 0

Every run is a fresh process with a ``local[4]`` session. With
``--trace 0`` the program is timed only from outside, around its public
calls, and the last stdout line is one JSON object with the end-to-end
metrics. With ``--trace 1`` the same workload runs with the Spark event
log on and spans around the calls into each layer, and the JSON carries
the per-layer metrics instead. A human-readable report goes to stderr.
See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import random
import shlex
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query_mix", "stream_ingest")
CORES = 4
RUN_LIMIT_S = 170
NOMINAL_PASS_S = 8.0  # one query_mix pass took 6-14 s on a 4-core VM


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> str | None:
    """Environment for the JVM and the Python workers, set before the
    JVM starts: executors import the engine from the checkout, and every
    scratch file stays inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    events = None
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return events


def stop_tree(spark) -> None:
    """Stop Spark, then the JVM and its Python workers; wait for each."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    kill_tree()


def kill_tree() -> None:
    """SIGKILL every descendant and wait until none is left."""
    from perfbench.measure import descendants

    for _ in range(50):
        pids = descendants(os.getpid())
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def abort(work: str, signum, frame) -> None:
    """On the run limit or SIGTERM: kill the JVM and the Python workers,
    remove the work directory and exit without a result."""
    log(f"stopped by signal {signum}")
    kill_tree()
    shutil.rmtree(work, ignore_errors=True)
    os._exit(3)


def pass_orders(names, seed: int):
    """The shuffled order of every pass; the same seed, the same orders."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


def run_queries(args, ctx) -> dict:
    from perfbench.measure import median, percentile, tail_percentile, TreeRssSampler
    from perfbench.queries import QUERY_MIX, QueryRunner, layer_metrics

    names = QUERY_MIX
    tracer = ctx["tracer"]
    runner = QueryRunner(ctx["spark"], ctx["data_dir"], ctx["cache"], ctx["fingerprint"], tracer)
    orders = pass_orders(names, args.seed)
    for i, name in enumerate(next(orders)):  # warm-up pass, part of set-up
        runner.execute(name, -1 - i)
    setup_done = time.time()

    # a fixed number of whole passes, so every run does the same work
    passes = max(1, round(args.seconds / NOMINAL_PASS_S))
    execs: list[dict] = []
    # the sampler scans /proc from a driver thread: traced runs only
    rss = TreeRssSampler() if tracer else contextlib.nullcontext()
    with rss:
        for _ in range(passes):
            for name in next(orders):
                execs.append(runner.execute(name, len(execs)))
    runner.check(execs)
    # failed executions are charged their time like the others
    lat = [r["latency_s"] for r in execs]
    pct = tail_percentile(len(lat))
    res = {
        "setup_done": setup_done,
        "total_s": sum(lat) / passes,  # wall time of the timed phase, per pass
        "latency_p50_s": median(lat),
        "attempted": len(execs),
        "failed": sum(not r.get("ok") for r in execs),
        "failures": [f"{r['query']}: {r['error']}" for r in execs if not r.get("ok")],
        "layers": {
            "latency_tail_s": percentile(lat, pct) if pct else 0.0,
            "latency_tail_pct": pct or 0,
            "latency_samples": len(lat),
        },
        "notes": [
            f"{passes} passes of {len(names)} queries, {len(execs)} executions",
            f"median latency per query: "
            + ", ".join(
                f"{n}={median(r['latency_s'] for r in execs if r['query'] == n):.3f}s"
                for n in names
            ),
        ],
    }
    if tracer is not None:  # reads the event log, complete once Spark stopped
        res["layers"]["process.peak_rss_mb"] = rss.peak / 2**20
        res["after_stop"] = lambda: res["layers"].update(
            layer_metrics(execs, names, tracer.spans, ctx["events"], CORES)
        )
    return res


def run_stream(args, ctx) -> dict:
    from perfbench import stream as S
    from perfbench.measure import median, percentile, tail_percentile, TreeRssSampler

    spark, tracer, work = ctx["spark"], ctx["tracer"], ctx["work"]
    t = time.perf_counter()
    n_paced = max(1, round(S.PACED_RATE * args.seconds))
    rounds = [f"drain{r}" for r in range(S.DRAIN_ROUNDS)]
    msgs = S.generate(
        args.seed,
        {"warm": S.WARM_MESSAGES, **{r: S.DRAIN_MESSAGES for r in rounds}, "paced": n_paced},
    )
    warm, *drains = (S.Phase(spark, work, name, msgs[name]) for name in ["warm", *rounds])
    paced = S.Phase(spark, work, "paced", msgs["paced"], paced=True)
    os.sync()  # the message files are on disk before timing, not written back during it
    ctx["excluded_s"] += time.perf_counter() - t
    warm.drain()
    setup_done = time.time()

    rss = TreeRssSampler() if tracer else contextlib.nullcontext()
    with rss:
        j0 = tracer.jobs() if tracer else 0
        d0 = time.perf_counter()
        walls = [ph.drain() for ph in drains]
        d1 = time.perf_counter()
        j1 = tracer.jobs() if tracer else 0
        pr = paced.paced()
    drain_s = median(walls)

    # every failed micro-batch or unconsumed message counts once
    problems: list[str] = []
    failed = 0

    def fail(msg: str, n: int = 1) -> None:
        nonlocal failed
        problems.append(msg)
        failed += n

    checked = {ph.name: ph.check() for ph in (warm, *drains, paced)}
    for bad, _ in checked.values():
        for msg in bad:
            fail(msg)
    paced_batches = checked["paced"][1]
    if pr["error"] is not None:
        fail(f"paced query failed: {pr['error']}")
    for ph in drains:
        want = S.expected_stats(ph.msgs)
        got = S.merge_stats([S.row_stats(r) for r in ph.sink.rows])
        if got != want:
            fail(f"{ph.name} totals {got} != expected {want}")

    lat = S.latencies(paced_batches, paced.sink.done, pr["due"])
    unconsumed = len(paced.msgs) - len(lat)
    if unconsumed:
        fail(f"{unconsumed} paced messages unconsumed when the phase ended", unconsumed)

    consumed = sum(len(ms) for ph in drains for ms in checked[ph.name][1].values()) + len(lat)
    valid = sum(r["total_documents"] or 0 for ph in (*drains, paced) for r in ph.sink.rows)
    rejected = (consumed - valid) / consumed if consumed else 0.0
    sent = [m for ph in (*drains, paced) for m in ph.msgs]
    injected = sum(m.malformed for m in sent) / len(sent)
    if not unconsumed and rejected != injected:
        fail(f"rejected share {rejected} != injected malformed share {injected}")

    # backlog: published but not yet covered by a finished batch
    batch_of = {m.index: b for b, ms in paced_batches.items() for m in ms}
    events = [(t_, 1) for t_ in pr["published"]]
    events += [(paced.sink.done[batch_of[i]], -1) for i in batch_of if batch_of[i] in paced.sink.done]
    backlog = backlog_max = 0
    for _, step in sorted(events, key=lambda e: (e[0], -e[1])):
        backlog += step
        backlog_max = max(backlog_max, backlog)

    prog = [p for ph in drains for p in ph.progress if p.numInputRows > 0]
    dur = lambda key: median(p.durationMs.get(key, 0) for p in prog)  # noqa: E731
    pct = tail_percentile(len(lat))
    round_docs = S.expected_stats(drains[0].msgs)["total_documents"]
    round_bytes = sum(len(m.line.encode()) + 1 for m in drains[0].msgs)
    n_batches = sum(len(checked[ph.name][1]) for ph in drains)
    layers = {
        "consumer.batches": n_batches,
        "consumer.docs_per_batch": round_docs * len(drains) / n_batches if n_batches else 0.0,
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.backlog_files_max": backlog_max,
        "stream.drain_docs_per_s": round_docs / drain_s,
        "kafka_shape.rejected_frac": rejected,
        "gen.late_max_s": max(pr["late"], default=0.0),
        "latency_tail_s": percentile(lat, pct) if pct and lat else 0.0,
        "latency_tail_pct": pct or 0,
        "latency_samples": len(lat),
    }
    if tracer is not None:
        layers["process.peak_rss_mb"] = rss.peak / 2**20
        writes = [
            s["end"] - s["start"]
            for s in tracer.spans
            if s["name"] == "streaming.consumer.StatsSink.write" and d0 <= s["start"] <= d1
        ]
        layers["consumer.sink_write_s"] = median(writes)
        layers["consumer.jobs_per_batch"] = (j1 - j0) / n_batches if n_batches else 0.0
    return {
        "setup_done": setup_done,
        "total_s": drain_s,
        "latency_p50_s": median(lat) if lat else 0.0,
        "attempted": n_batches + len(paced_batches) + len(paced.msgs),
        "failed": failed,
        "failures": problems,
        "layers": layers,
        "notes": [
            f"drain: {len(drains)} rounds, each a backlog of {S.DRAIN_MESSAGES} messages "
            f"({round_bytes} bytes in the first), {S.DRAIN_FILES_PER_TRIGGER} files per trigger; "
            f"{n_batches} micro-batches in all; wall times "
            + ", ".join(f"{w:.3f}" for w in walls)
            + f" s; {round_docs / drain_s:.1f} docs/s at the median",
            f"paced: {len(paced.msgs)} messages at {S.PACED_RATE}/s in "
            f"{len(paced_batches)} micro-batches; generator late by at most "
            f"{layers['gen.late_max_s']:.3f} s; latencies "
            + ", ".join(f"{x:.3f}" for x in lat)
            + " s",
        ],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bigdata_2025_1_spark", "__init__.py")):
        log(f"engine package bigdata_2025_1_spark/ not found under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.measure import process_start_time

    started = process_start_time()
    cache = os.path.join(ROOT, ".perfbench_cache")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sig in (signal.SIGALRM, signal.SIGTERM):
        signal.signal(sig, functools.partial(abort, work))
    signal.alarm(RUN_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, started, cache, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, started: float, cache: str, work: str) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    events = prepare_env(work, bool(args.trace))
    from perfbench.datagen import ensure_tables
    from perfbench.tracing import Tracer, install_layer_wrappers

    ctx: dict = {"work": work, "cache": cache, "events": events, "excluded_s": 0.0}
    t = time.perf_counter()
    if args.workload != "stream_ingest":
        ctx["data_dir"], ctx["fingerprint"] = ensure_tables(cache)
    ctx["excluded_s"] += time.perf_counter() - t

    tracer = Tracer() if args.trace else None
    ctx["tracer"] = tracer
    if tracer is not None:
        install_layer_wrappers(tracer)
    from bigdata_2025_1_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{CORES}]")
    get_spark_s = time.perf_counter() - t
    ctx["spark"] = spark
    try:
        if tracer is not None:
            tracer.bind(spark)
        from bigdata_2025_1_spark.registry import all_queries

        t = time.perf_counter()
        all_queries()
        registry_import_s = time.perf_counter() - t
        body = run_stream if args.workload == "stream_ingest" else run_queries
        res = body(args, ctx)
    except Exception:
        log("run failed:\n" + traceback.format_exc())
        return 1
    finally:
        stop_tree(spark)
    if "after_stop" in res:
        res["after_stop"]()

    setup_s = res["setup_done"] - started - ctx["excluded_s"]
    failed = res["failed"]
    attempted = max(res["attempted"], 1)
    if tracer is not None:
        values = {k: 0.0 for k in units}  # layers a workload does not use
        values.update(res["layers"])
        values["session.get_spark_s"] = get_spark_s
        values["registry.import_s"] = registry_import_s
        values["failed_frac"] = failed / attempted
        values["trace.total_s"] = res["total_s"]
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(path, time.perf_counter() - (time.time() - started))
        log(f"spans written to {os.path.relpath(path, ROOT)}")
    else:
        values = {
            "setup_s": setup_s,
            "total_s": res["total_s"],
            "latency_p50_s": res["latency_p50_s"],
        }
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}

    for note in res["notes"]:
        log(note)
    for name, m in metrics.items():
        log(f"{name} = {m['value']:.6g} {m['unit']}")
    log(f"attempted = {attempted}, failed = {failed}, failed_frac = {failed / attempted:.4f}")
    for f in res["failures"]:
        log(f"FAILED {f}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
