"""Stream workload: the reference pipeline's consumer over Kafka-shaped
message files.

A seeded generator builds every message before timing: key
``{domain}_{filename}`` and a JSON value ``{domain, filename, content,
file_path}`` per ``sources.kafka_shape``. Content sizes follow the
reference corpus (log-normal, median 43k characters, clipped to
800..3.2M), domains are uneven (weights 1/rank), and a fixed share of
messages is malformed. Each message is one JSON-lines file; a file stream over a
directory stands in for the Kafka topic.

- Drain phase: a fixed backlog is already in the watched directory;
  ``start_consumer(once=True)`` consumes it ``DRAIN_FILES_PER_TRIGGER``
  files per micro-batch. It runs ``DRAIN_ROUNDS`` times, each over its
  own backlog and checkpoint; ``total_s`` is the median wall time.
- Paced phase: an open loop renames one file into a second watched
  directory every ``1 / PACED_RATE`` seconds while
  ``start_consumer(trigger_seconds=0)`` runs. The rate is low enough that
  each message finds the consumer idle, so its latency is the per-batch
  cost rather than a queue that grows or shrinks with host speed. A
  message's latency runs from its scheduled publish time to the end of
  the ``StatsSink.write`` of the micro-batch that consumed it, so a late
  rename is charged its lateness.

Every micro-batch's ``StatsSink`` row is checked against the same
statistics computed directly over the messages that batch consumed.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np

DOMAINS = (
    "tvpl_new",
    "thuvienphapluat",
    "vbpl",
    "chinhphu",
    "luatvietnam",
    "baochinhphu",
    "moj",
    "mof",
)
WORDS = (
    "quyết định thông tư nghị định bộ tài chính cộng hòa xã hội chủ nghĩa "
    "việt nam độc lập tự do hạnh phúc số ngày tháng năm điều khoản mục "
    "chương thuế phí lệ phí quản lý nhà nước văn bản hướng dẫn thi hành "
    "căn cứ luật ban hành kèm theo hiệu lực kể từ trách nhiệm tổ chức cá "
    "nhân cơ quan thủ trưởng bộ trưởng kt tl nơi nhận lưu vt"
).split()
MALFORMED_EVERY = 20  # message 10, 30, 50, ... is malformed (5%)
MEDIAN_CHARS = 43_000
SIGMA = 1.4
MIN_CHARS, MAX_CHARS = 800, 3_200_000

WARM_MESSAGES = 64
DRAIN_MESSAGES = 64  # per round
DRAIN_ROUNDS = 5
DRAIN_FILES_PER_TRIGGER = 32
PACED_RATE = 0.5  # messages per second; a one-file batch takes 0.5-1 s
PACED_GRACE_S = 15.0
DRAIN_TIMEOUT_S = 150.0


@dataclass
class Message:
    index: int
    domain: str | None
    filename: str
    content: str | None
    malformed: bool
    line: str  # the file's JSON line


def generate(seed: int, phases: dict[str, int]) -> dict[str, list[Message]]:
    """``phases[name]`` messages for each phase; the same seed gives the
    same bytes."""
    rng = np.random.default_rng(seed)
    pool = " ".join(rng.choice(WORDS, MAX_CHARS // 2))
    return {name: _messages(rng, pool, name, n) for name, n in phases.items()}


def _messages(rng: np.random.Generator, pool: str, phase: str, n: int) -> list[Message]:
    w = 1.0 / np.arange(1, len(DOMAINS) + 1)
    doms = rng.choice(len(DOMAINS), n, p=w / w.sum())
    # Stratified log-normal sizes, dealt so that every run of
    # DRAIN_FILES_PER_TRIGGER consecutive messages spans the whole range,
    # and malformed messages at fixed positions: every seed then puts the
    # same volume in each micro-batch, and seeds differ in domains and
    # content only.
    z = [NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)]
    ranked = np.clip(np.exp(math.log(MEDIAN_CHARS) + SIGMA * np.array(z)), MIN_CHARS, MAX_CHARS)
    k = math.ceil(n / DRAIN_FILES_PER_TRIGGER)
    sizes = [int(ranked[r]) for j in range(k) for r in range(j, n, k)]
    offs = rng.integers(0, len(pool) - MAX_CHARS, n)
    bad = set(range(MALFORMED_EVERY // 2, n, MALFORMED_EVERY))
    out = []
    for i in range(n):
        domain = DOMAINS[doms[i]]
        filename = f"{phase}_{i:05d}.txt"
        content = pool[offs[i] : offs[i] + sizes[i]]
        payload = {
            "domain": domain,
            "filename": filename,
            "content": content,
            "file_path": f"/data/{domain}/{filename}",
        }
        malformed = i in bad
        if malformed:
            kind = i % 3
            if kind == 0:  # truncated JSON
                value = json.dumps(payload, ensure_ascii=False)[: 40 + i % 50]
            else:  # a required field missing
                payload["content" if kind == 1 else "domain"] = None
                value = json.dumps(payload, ensure_ascii=False)
        else:
            value = json.dumps(payload, ensure_ascii=False)
        line = json.dumps({"key": f"{domain}_{filename}", "value": value}, ensure_ascii=False)
        out.append(
            Message(
                i,
                None if malformed else domain,
                filename,
                None if malformed else content,
                malformed,
                line,
            )
        )
    return out


def write_messages(msgs: list[Message], directory: str) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    paths = []
    for m in msgs:
        p = os.path.join(directory, f"{m.filename}.json")
        with open(p, "w", encoding="utf-8") as fh:
            fh.write(m.line + "\n")
        paths.append(p)
    return paths


def expected_stats(msgs: list[Message]) -> dict:
    """The consumer's batch statistics computed directly over ``msgs``."""
    valid = [m for m in msgs if not m.malformed]
    domains: dict[str, int] = {}
    for m in valid:
        domains[m.domain] = domains.get(m.domain, 0) + 1
    sizes = [len(m.content) for m in valid]
    return {
        "total_documents": len(valid),
        "domains": dict(sorted(domains.items())),
        "min_size": min(sizes, default=None),
        "max_size": max(sizes, default=None),
        "total_size": sum(sizes) if sizes else None,
    }


def row_stats(row: dict) -> dict:
    s = row.get("size_stats") or {}
    return {
        "total_documents": row.get("total_documents") or 0,
        "domains": dict(sorted((row.get("domains") or {}).items())),
        "min_size": s.get("min_size"),
        "max_size": s.get("max_size"),
        "total_size": s.get("total_size"),
    }


def merge_stats(parts: list[dict]) -> dict:
    domains: dict[str, int] = {}
    for p in parts:
        for d, c in p["domains"].items():
            domains[d] = domains.get(d, 0) + c
    mins = [p["min_size"] for p in parts if p["min_size"] is not None]
    maxs = [p["max_size"] for p in parts if p["max_size"] is not None]
    tots = [p["total_size"] for p in parts if p["total_size"] is not None]
    return {
        "total_documents": sum(p["total_documents"] for p in parts),
        "domains": dict(sorted(domains.items())),
        "min_size": min(mins, default=None),
        "max_size": max(maxs, default=None),
        "total_size": sum(tots) if tots else None,
    }


def latencies(batches: dict[int, list[Message]], done: dict[int, float], due: list[float]) -> list[float]:
    """Per consumed message: end of its batch's stats write minus the
    message's scheduled publish time (not its actual one, so a late
    publish is charged its lateness)."""
    out = []
    for b, ms in batches.items():
        if b in done:
            out += [done[b] - due[m.index] for m in ms]
    return out


def batch_files(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    log = os.path.join(checkpoint, "consumer", "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name), encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def timed_sink(parquet_path: str):
    """A ``StatsSink`` that also records when each batch's write ended."""
    from bigdata_2025_1_spark.streaming.consumer import StatsSink

    @dataclass
    class TimedSink(StatsSink):
        done: dict = field(default_factory=dict)

        def write(self, batch_id, stats_df):
            super().write(batch_id, stats_df)
            self.done[batch_id] = time.time()

    return TimedSink(parquet_path=parquet_path)


class Phase:
    """One consumer run over one watched directory."""

    def __init__(self, spark, work: str, name: str, msgs: list[Message], paced: bool = False):
        """Writes the message files: into the watched directory for a
        drain, into a staging directory for a paced phase."""
        self.spark = spark
        self.name = name
        self.msgs = msgs
        self.root = os.path.join(work, name)
        self.watched = os.path.join(self.root, "in")
        self.checkpoint = os.path.join(self.root, "ckpt")
        self.sink = timed_sink(os.path.join(self.root, "stats.parquet"))
        self.progress: list = []  # StreamingQueryProgress of the finished query
        os.makedirs(self.watched, exist_ok=True)
        self.paths = write_messages(msgs, os.path.join(self.root, "staging") if paced else self.watched)

    def source(self, files_per_trigger: int):
        return (
            self.spark.readStream.schema("key STRING, value STRING")
            .option("maxFilesPerTrigger", files_per_trigger)
            .json(self.watched)
        )

    def start(self, files_per_trigger: int, **kwargs):
        from bigdata_2025_1_spark.streaming.consumer import start_consumer

        return start_consumer(
            self.spark, self.source(files_per_trigger), self.sink, self.checkpoint, **kwargs
        )

    def drain(self) -> float:
        """Consume the messages already in the watched directory; return
        the wall time from ``start_consumer`` until the query ends."""
        t0 = time.perf_counter()
        q = self.start(DRAIN_FILES_PER_TRIGGER, once=True)
        finished = q.awaitTermination(DRAIN_TIMEOUT_S)
        wall = time.perf_counter() - t0
        self.progress = list(q.recentProgress)
        if not finished:
            q.stop()
            raise RuntimeError(f"{self.name}: backlog not drained within {DRAIN_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(f"{self.name}: {q.exception()}")
        return wall

    def consumed(self) -> int:
        """Messages in micro-batches whose stats write has finished."""
        done = set(self.sink.done)
        return sum(1 for b in batch_files(self.checkpoint).values() if b in done)

    def paced(self) -> dict:
        """Open loop: publish ``self.msgs`` at ``PACED_RATE`` per second."""
        q = self.start(max(1, len(self.msgs)), trigger_seconds=0)
        due: list[float] = []
        late: list[float] = []
        published: list[float] = []

        def publish():
            t0 = time.time() + 1.0  # let the query reach its first trigger
            for i, p in enumerate(self.paths):
                d = t0 + i / PACED_RATE
                wait = d - time.time()
                if wait > 0:
                    time.sleep(wait)
                os.utime(p)
                os.replace(p, os.path.join(self.watched, os.path.basename(p)))
                now = time.time()
                due.append(d)
                published.append(now)
                late.append(now - d)

        gen = threading.Thread(target=publish, name="paced-publisher")
        gen.start()
        gen.join()
        deadline = time.time() + PACED_GRACE_S
        while time.time() < deadline and q.exception() is None:
            if self.consumed() >= len(self.paths):
                break
            time.sleep(0.1)
        q.stop()
        q.awaitTermination(30)
        self.progress = list(q.recentProgress)
        return {"due": due, "late": late, "published": published, "error": q.exception()}

    def check(self) -> tuple[list[str], dict[int, list[Message]]]:
        """Per-batch stats against the direct computation. Returns one
        problem per failed batch, and the messages each batch consumed."""
        by_file = batch_files(self.checkpoint)
        batches: dict[int, list[Message]] = {}
        for m in self.msgs:
            b = by_file.get(f"{m.filename}.json")
            if b is not None:
                batches.setdefault(b, []).append(m)
        rows = {r["batch_id"]: row_stats(r) for r in self.sink.rows}
        problems = []
        for b, ms in sorted(batches.items()):
            want = expected_stats(ms)
            got = rows.get(b)
            if got is None:
                problems.append(f"{self.name} batch {b}: no StatsSink row")
            elif got != want:
                problems.append(f"{self.name} batch {b}: stats {got} != expected {want}")
        for b in sorted(set(rows) - set(batches)):
            problems.append(f"{self.name} batch {b}: StatsSink row for no consumed message")
        return problems, batches
