"""Traced-run support: Spark event-log parsing and per-op layer spans.

A traced run gives every op two job groups, ``<seq>:<name>:build`` for the
registered call and ``<seq>:<name>:exec`` for materializing its result, and
enables Spark's event log. Spark 4 writes the log as a rolling directory of
zstd files; :func:`read_event_log` decompresses them with
``pyarrow.CompressedInputStream``. :func:`op_spans` then turns each op into
a span tree whose self times partition the op's wall time:

    op ─┬─ build ── build.jobs        (jobs launched inside the build call)
        └─ exec  ── exec.jobs         (jobs materializing the returned plan)

A span's self time is its duration minus the union of its children's
intervals clipped to it, so the self times of one op sum to its wall time
whenever every job lies inside the op's window. ``coverage_error`` reports
how far the sum is from the wall time; the report carries its maximum.

:func:`stream_probe` is the ``StreamingQueryListener`` of a traced run: it
maps each stream's run id (the job group of its micro-batch jobs) to the op
that started it and keeps the progress of every micro-batch.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

import pyarrow as pa

PYTHON_WORKER_OPS = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application logged under ``log_dir``, in file
    order (rolling v2 directories and single files, zstd or plain)."""
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*events*"), recursive=True)):
        if path.endswith(".zstd"):
            with pa.OSFile(path) as raw, pa.CompressedInputStream(raw, "zstd") as f:
                text = f.read().decode()
        else:
            with open(path) as f:
                text = f.read()
        for line in text.splitlines():
            line = line.strip()
            if line:
                try:
                    events.append(json.loads(line))
                except ValueError:  # a torn last line of a log still open
                    continue
    return events


@dataclass
class JobStats:
    group: str
    start: float
    end: float
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_wait_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_worker_stage_s: float = 0.0


def job_stats(events: list[dict]) -> list[JobStats]:
    """One :class:`JobStats` per finished job, with the job group it ran in
    and the metrics of its submitted stages and their tasks."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            t = ev["Submission Time"] / 1000.0
            jobs[ev["Job ID"]] = JobStats(group, t, t)
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = (info.get("Submission Time") or 0) / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            if job is None:
                continue
            job.stages += 1
            scopes = " ".join(r.get("Scope") or "" for r in info.get("RDD Info", []))
            if any(op in scopes for op in PYTHON_WORKER_OPS):
                dur = (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1000.0
                job.python_worker_stage_s += max(dur, 0.0)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            info = ev["Task Info"]
            job.tasks += 1
            job.task_run_s += m.get("Executor Run Time", 0) / 1000.0
            job.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            submit = stage_submit.get(ev.get("Stage ID"))
            if submit:
                job.sched_wait_s += max(info["Launch Time"] / 1000.0 - submit, 0.0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return [j for j in jobs.values() if j.end >= j.start]


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class Span:
    """One layer's interval within an op; ``self_s`` excludes children."""

    name: str
    start: float
    end: float
    self_s: float = 0.0
    children: list["Span"] = field(default_factory=list)

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "start": round(self.start, 6),
            "end": round(self.end, 6),
            "self_s": round(self.self_s, 6),
            "children": [c.to_dict() for c in self.children],
        }


def _child(name: str, jobs: list[JobStats], lo: float, hi: float) -> Span:
    """Span ``[lo, hi]`` whose child holds the union of ``jobs``. The child
    keeps the unclipped union, so a job of this group running outside the
    window shows up as self time beyond the op's wall time."""
    iv = [(j.start, j.end) for j in jobs]
    start = min([a for a, _ in iv] + [lo])
    end = max([b for _, b in iv] + [hi])
    jobs_span = Span(name + ".jobs", start, end, self_s=union_length(iv, start, end))
    return Span(name, lo, hi, self_s=(hi - lo) - union_length(iv, lo, hi), children=[jobs_span])


def op_spans(op: dict, jobs_by_group: dict[str, list[JobStats]]) -> Span:
    """Span tree of one traced op record (``t0``/``tb``/``t1`` epoch
    seconds at op start, build end and op end; ``group`` its job-group
    prefix)."""
    t0, tb, t1 = op["t0"], op["tb"], op["t1"]
    build = _child("build", jobs_by_group.get(op["group"] + ":build", []), t0, tb)
    exe = _child("exec", jobs_by_group.get(op["group"] + ":exec", []), tb, t1)
    return Span(op["name"], t0, t1, self_s=0.0, children=[build, exe])


def self_total(span: Span) -> float:
    return span.self_s + sum(self_total(c) for c in span.children)


def coverage_error(span: Span, wall_s: float) -> float:
    """|sum of self times − wall| / wall for one op."""
    return abs(self_total(span) - wall_s) / wall_s if wall_s > 0 else 0.0


def group_jobs(jobs: list[JobStats]) -> dict[str, list[JobStats]]:
    out: dict[str, list[JobStats]] = {}
    for j in jobs:
        out.setdefault(j.group, []).append(j)
    return out


def stream_probe():
    """A ``StreamingQueryListener`` that records, for every stream started
    while it is registered, its run id and the job-group prefix in
    ``op_group`` at that moment, and every micro-batch's progress."""
    import statistics
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self) -> None:
            self.op_group = ""
            self.started: list[tuple[str, str]] = []  # (run id, op group)
            self.batches: list[dict] = []
            self.terminated = 0

        # start events reach listeners before start() returns, so
        # op_group is the op that started the stream
        def onQueryStarted(self, event) -> None:
            self.started.append((str(event.runId), self.op_group))

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = p.durationMs
            self.batches.append({
                "batch_ms": p.batchDuration,
                "add_batch_ms": d.get("addBatch", 0),
                "wal_commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated += 1

        def drain(self, timeout_s: float = 30.0) -> None:
            """Wait until every started stream's last events arrived;
            progress events reach listeners asynchronously."""
            t_end = time.monotonic() + timeout_s
            while self.terminated < len(self.started) and time.monotonic() < t_end:
                time.sleep(0.05)

        def metrics(self, passes: int) -> dict[str, float]:
            """streaming.* per-layer metrics: micro-batches per pass, the
            median batch, addBatch and WAL commit (walCommit plus
            commitOffsets) times, and the largest state seen."""
            b = self.batches
            med = lambda k: statistics.median(x[k] for x in b) if b else 0.0  # noqa: E731
            return {
                "streaming.batches": len(b) / passes,
                "streaming.batch_p50_ms": med("batch_ms"),
                "streaming.add_batch_ms": med("add_batch_ms"),
                "streaming.wal_commit_ms": med("wal_commit_ms"),
                "streaming.state_rows": max((x["state_rows"] for x in b), default=0),
                "streaming.state_mem_mb": max((x["state_bytes"] for x in b), default=0) / 1e6,
            }

    return StreamProbe()
