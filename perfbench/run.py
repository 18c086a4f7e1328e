#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 5 --trace 0

One process drives one Spark session at ``local[<nproc>]`` over a generated
sf0.1 corpus and issues one op at a time. A run has three phases:

1. Set-up: launch the JVM with a first session and warm it up, then
   ``SETUPS`` times: start a new SparkSession, warm it up, and construct the
   workload's inputs against a fresh copy of the corpus, so every engine
   memo keyed on its input misses again. ``setup_s`` is the median of
   those set-ups; the JVM launch is reported on its own.
2. Check: traced runs compare the last set-up's outputs with DuckDB (see
   ``workloads.py``).
3. Timed passes over the op list until ``--seconds`` have passed and at
   least ``MIN_PASSES`` passes ran. Each op is timed from outside: its build
   call, then materializing the returned DataFrame into the noop sink.
   Each op's output is then checked, untimed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables Spark's
event log, puts every op in its own job groups, registers a
``StreamingQueryListener`` for the timed passes and prints the per-layer
metrics (see ``eventlog.py``). Both print a full report line, then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}``. Everything the
run writes stays under ``perfbench/`` of the checkout it runs from.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("llm_pipeline", "table_rw")
SCALE = 0.1
SETUPS = 2
MIN_PASSES = 1
# an op whose layer self times sum further than this from its wall time
# fails the traced run
MAX_COVERAGE_ERR = 0.10
# a run is flagged contended when other processes and guests (steal) took
# more than this share of its CPUs. Steal accrues only on busy CPUs: on a
# 4-vCPU VM, a table_rw run with 3.6% steal timed its pass a fifth slower
# than calm runs of the same seed.
CONTENDED_SHARE = 0.05
# per-layer metrics summed over the ops of a pass (median over passes)
PER_PASS = (
    "operators.build_s", "operators.eager_jobs", "exec.exec_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.sched_wait_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "python.worker_stage_s", "driver.gap_s",
)


class Recorder:
    """Named samples; every metric of the report is a reduction of these."""

    def __init__(self) -> None:
        self.values: dict[str, list[float]] = defaultdict(list)

    def add(self, name: str, value: float) -> None:
        self.values[name].append(float(value))


def tail_percentile(samples: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile that has at least ten samples above it,
    with its value (None when there are fewer than 20 samples)."""
    n = len(samples)
    if n < 20:
        return None
    p = min(99, math.floor(100 * (n - 10) / n))
    return p, statistics.quantiles(samples, n=100, method="inclusive")[p - 1]


# ------------------------------------------------------------ host probes


def _cpu_jiffies(cpus: set[int]) -> tuple[int, int]:
    """(busy, steal) jiffies summed over ``cpus``; busy leaves out idle,
    iowait and steal (time the hypervisor gave to other guests)."""
    busy = steal = 0
    with open("/proc/stat") as f:
        for line in f:
            head, *vals = line.split()
            if head.startswith("cpu") and head[3:].isdigit() and int(head[3:]) in cpus:
                v = [int(x) for x in vals]
                busy += v[0] + v[1] + v[2] + v[5] + v[6]
                steal += v[7]
    return busy, steal


def _proc_stat(pid: int) -> tuple[int, int]:
    """(ppid, utime+stime+cutime+cstime jiffies) of one process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children[_proc_stat(int(d))[0]].append(int(d))
            except (OSError, ValueError, IndexError):
                continue
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class HostRecord:
    """Contention record of one run: load average, this process tree's CPU
    seconds against wall time, and the share of our CPUs that other
    processes and other guests of the host (steal) took, over the whole
    run and over its timed passes."""

    def __init__(self) -> None:
        self.cpus = os.sched_getaffinity(0)
        self.tick = os.sysconf("SC_CLK_TCK")
        self.load0 = self._load()
        self.start = self.sample()
        self.timed: tuple = ()

    @staticmethod
    def _load() -> float:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])

    def sample(self) -> tuple[float, int, int, int]:
        """(wall, busy, steal, own) now; own is this process tree's CPU."""
        own = 0
        for pid in process_tree(os.getpid()):
            try:
                own += _proc_stat(pid)[1]
            except (OSError, ValueError, IndexError):
                continue
        return (time.perf_counter(), *_cpu_jiffies(self.cpus), own)

    def shares(self, a: tuple, b: tuple) -> tuple[float, float, float, float]:
        """(wall s, own CPU s, others' share, steal share) between samples."""
        wall = b[0] - a[0]
        own = (b[3] - a[3]) / self.tick
        capacity = wall * len(self.cpus)
        others = max((b[1] - a[1]) / self.tick - own, 0.0) / capacity
        return wall, own, others, (b[2] - a[2]) / self.tick / capacity

    def finish(self) -> dict:
        wall, own, others, stolen = self.shares(self.start, self.sample())
        rec = {
            "nproc": len(self.cpus),
            "loadavg_1m_start": self.load0,
            "loadavg_1m_end": self._load(),
            "wall_s": round(wall, 3),
            "cpu_s": round(own, 3),
            "cpu_s_per_wall_s": round(own / wall, 3),
            "others_cpu_share": round(others, 3),
            "steal_share": round(stolen, 3),
        }
        worst = others + stolen
        if self.timed:
            _w, _o, t_others, t_stolen = self.shares(*self.timed)
            rec["timed_others_cpu_share"] = round(t_others, 3)
            rec["timed_steal_share"] = round(t_stolen, 3)
            worst = max(worst, t_others + t_stolen)
        # the numbers stay as measured; the run is only flagged
        rec["contended"] = worst > CONTENDED_SHARE
        return rec


def peak_rss_mb() -> float:
    """Sum of the peak RSS of every process in this tree (Python driver,
    JVM, Python workers): an upper bound on the tree's peak."""
    return sum(_hwm_kb(p) for p in process_tree(os.getpid())) / 1024.0


# ------------------------------------------------------------ the run


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
            }
        )
    return conf


def corpus_copy(corpus: str, run_dir: str, i: int) -> str:
    """A fresh copy of the corpus: same bytes under a new path, inode and
    mtime, so engine memos keyed on the input treat it as unseen."""
    d = os.path.join(run_dir, f"corpus{i}")
    os.makedirs(d)
    for n in os.listdir(corpus):
        if n.endswith(".parquet"):
            shutil.copyfile(os.path.join(corpus, n), os.path.join(d, n))
    return d


def warm_up(spark, python_workers: bool) -> None:
    """One SQL job, and one Arrow Python-worker job for a workload whose
    ops start Python workers."""

    def ident(batches):
        yield from batches

    spark.range(1000).selectExpr("sum(id)").collect()
    if python_workers:
        spark.range(32).repartition(4).mapInPandas(ident, schema="id long").write.format(
            "noop"
        ).mode("overwrite").save()


def jvm_probe(spark) -> tuple[int, float]:
    """(persisted RDDs, JVM heap used MB) right now."""
    sc = spark.sparkContext
    rt = sc._jvm.java.lang.Runtime.getRuntime()
    return sc._jsc.sc().getPersistentRDDs().size(), (rt.totalMemory() - rt.freeMemory()) / 1e6


class Bench:
    """One run. ``data_root`` and ``scale`` place and size the corpus; the
    self-test shrinks them."""

    def __init__(self, args, run_dir: str, out_dir: str,
                 data_root: str = os.path.join(BENCH_DIR, ".data"), scale: float = SCALE):
        self.args, self.run_dir, self.out_dir = args, run_dir, out_dir
        self.data_root, self.scale = data_root, scale
        self.trace = bool(args.trace)
        self.rec = Recorder()
        self.ops: list[dict] = []  # one record per timed op
        self.failures: dict[str, list[str]] = {}  # failed op -> why
        self.delete_files_live = 0
        self.spark = None
        self.streams = None  # the StreamProbe of a traced run's timed passes

    def fail(self, op: str, why: str) -> None:
        self.failures.setdefault(op, []).append(why)

    def make_workload(self):
        from perfbench import workloads as W

        if self.args.workload == "llm_pipeline":
            return W.QueryWorkload(W.LLM_PIPELINE, self.args.seed)
        return W.TableRWWorkload(self.args.seed)

    def start_session(self):
        from iceberg_poc_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="spark-graft-bench",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf=session_conf(self.run_dir, self.trace),
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self, wl, corpus: str) -> list[float]:
        """Launch the JVM once, then set up ``SETUPS`` times on it; returns
        the set-up samples, which leave the JVM launch out."""
        t0 = time.perf_counter()
        self.start_session()
        warm_up(self.spark, wl.python_workers)
        self.rec.add("session.jvm_launch_s", time.perf_counter() - t0)
        samples = []
        for i in range(SETUPS):
            sf_dir = corpus_copy(corpus, self.run_dir, i)
            t0 = time.perf_counter()
            self.start_session()
            self.rec.add("session.start_s", time.perf_counter() - t0)
            warm_up(self.spark, wl.python_workers)
            wl.setup(self.spark, sf_dir, self.rec, os.path.join(self.run_dir, f"work{i}"))
            samples.append(time.perf_counter() - t0)
        return samples

    def run_op(self, op, seq: int) -> dict:
        from pyspark.sql import DataFrame

        sc = self.spark.sparkContext
        group = f"{seq}:{op.name}"
        rec = {"seq": seq, "name": op.name, "kind": op.kind, "layer": op.layer, "group": group}
        if self.trace:
            sc.setJobGroup(group + ":build", op.name)
            self.streams.op_group = group
        rec["t0"], p0 = time.time(), time.perf_counter()
        out, err, pb = None, None, None
        try:
            out = op.call()
            rec["tb"], pb = time.time(), time.perf_counter()
            if self.trace:
                sc.setJobGroup(group + ":exec", op.name)
            if isinstance(out, DataFrame):
                if op.collect:
                    out = out.collect()
                else:
                    out.write.format("noop").mode("overwrite").save()
        except Exception as e:
            err = f"raised {type(e).__name__}: {str(e)[:300]}"
        rec["t1"], p1 = time.time(), time.perf_counter()
        if pb is None:
            rec["tb"], pb = rec["t1"], p1
        if self.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec["wall_s"], rec["build_s"], rec["exec_s"] = p1 - p0, pb - p0, p1 - pb
        if err is None and op.check is not None:
            try:
                err = op.check(out)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {str(e)[:300]}"
        rec["error"] = err
        if self.trace:
            # leftover state: the engine names its temp-dir warehouses
            # <kind>_<pid>_<key>
            rec["persisted_rdds"], rec["jvm_heap_mb"] = jvm_probe(self.spark)
            tag = f"_{os.getpid()}_"
            rec["temp_dirs"] = sum(tag in n for n in os.listdir(tempfile.gettempdir()))
        return rec

    def timed_passes(self, wl) -> list[float]:
        """Run whole passes until the time is up; returns each pass's timed
        wall time (the sum of its ops' wall times, excluding checks)."""
        from perfbench.workloads import TABLE, dir_bytes

        pass_s, seq = [], 0
        t_end = time.perf_counter() + self.args.seconds
        table = os.path.join(wl.wh, TABLE) if hasattr(wl, "wh") else None
        while len(pass_s) < MIN_PASSES or time.perf_counter() < t_end:
            total = 0.0
            for make in wl.pass_ops():
                op = make()
                seq += 1
                measure = self.trace and table is not None and op.kind == "write"
                if measure:
                    data0, meta0 = dir_bytes(table + "/data"), dir_bytes(table + "/_meta")
                rec = self.run_op(op, seq)
                rec["pass"] = len(pass_s)
                if measure and rec["error"] is None:
                    data1, meta1 = dir_bytes(table + "/data"), dir_bytes(table + "/_meta")
                    rec["data_bytes"], rec["data_files"] = data1[0] - data0[0], data1[1] - data0[1]
                    rec["meta_bytes"] = meta1[0] - meta0[0]
                self.ops.append(rec)
                total += rec["wall_s"]
            pass_s.append(total)
        return pass_s

    def run(self) -> dict:
        from perfbench.datagen import ensure_corpus

        host = HostRecord()
        phases: dict[str, float] = {}
        t_mark = time.perf_counter()

        def mark(phase: str) -> None:
            nonlocal t_mark
            now = time.perf_counter()
            phases[phase], t_mark = round(now - t_mark, 3), now

        wl = self.make_workload()
        corpus = ensure_corpus(self.data_root, self.scale)
        mark("prepare")
        setup_s = self.setup(wl, corpus)
        mark("setup")

        # every timed result is checked in run_op. Traced runs also check
        # the DataFrames the last set-up built (memo misses): that executes
        # every query once more, which the run budget affords only on the
        # few traced runs. Every timed run of a query wrong there counts.
        wrong: dict[str, str] = {}
        if hasattr(wl, "load_oracles"):
            wl.load_oracles(os.path.join(corpus, "oracle"))
            if self.trace:
                results = wl.check_setup()
                wrong = {n: f"set-up build: {e}" for n, e in results.items() if e is not None}
        mark("check")
        if self.trace:
            from perfbench.eventlog import stream_probe

            self.streams = stream_probe()
            self.spark.streams.addListener(self.streams)
        t0 = host.sample()
        pass_s = self.timed_passes(wl)
        host.timed = (t0, host.sample())
        mark("timed")
        if self.trace:
            self.streams.drain()
            self.spark.streams.removeListener(self.streams)

        extra_attempts = 0
        if hasattr(wl, "final_check"):
            extra_attempts = 1
            try:
                err = wl.final_check()
            except Exception as e:
                err = f"raised {type(e).__name__}: {str(e)[:300]}"
            if err:
                self.fail("final_table", err)
        for r in self.ops:
            err = "; ".join(filter(None, (r["error"], wrong.get(r["name"]))))
            if err:
                self.fail(f"{r['seq']}:{r['name']}", err)

        report = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": int(self.trace),
            "setup_samples_s": [round(x, 4) for x in setup_s],
            "pass_s": [round(x, 4) for x in pass_s],
        }
        report["op_median_s"] = {
            n: round(statistics.median(r["wall_s"] for r in self.ops if r["name"] == n), 4)
            for n in sorted({r["name"] for r in self.ops})
        }
        report["setup_build_s"] = {
            k.split(".", 2)[2]: [round(x, 3) for x in v]
            for k, v in self.rec.values.items() if k.startswith("setup.build_s.")
        }
        report["end_to_end"] = self.end_to_end(setup_s, pass_s)
        # read while the JVM still runs; per_layer() stops it
        self.peak_rss = peak_rss_mb()
        report["end_to_end"]["peak_rss_mb"] = {"value": self.peak_rss, "unit": "MB", "n": 1}
        if self.args.workload == "table_rw":
            self.table_metrics(wl, report["end_to_end"])
        if self.trace:
            layers = report["per_layer"] = self.per_layer(pass_s)
            for k in ("write_p50_s", "read_p50_s", "bytes_per_user_byte"):
                e = report["end_to_end"].get(k)
                layers["tables." + k] = e["value"] if e else 0.0
        self.stop_spark()
        if self.trace:
            report["spans"] = self.write_spans()
        attempted = len(self.ops) + extra_attempts
        report["attempted"], report["failed"] = attempted, len(self.failures)
        report["failed_share"] = len(self.failures) / attempted
        report["failed_ops"] = [f"{op}: {'; '.join(why)}" for op, why in self.failures.items()]
        mark("finish")
        report["phases_s"] = phases
        report["host"] = host.finish()
        return report

    # ------------------------------------------------------------ metrics

    def end_to_end(self, setup_s: list[float], pass_s: list[float]) -> dict:
        lat = [r["wall_s"] for r in self.ops]
        e2e = {
            "setup_s": {"value": statistics.median(setup_s), "unit": "s", "n": len(setup_s)},
            "run_s": {"value": statistics.median(pass_s), "unit": "s", "n": len(pass_s)},
            "op_geomean_s": {
                "value": math.exp(statistics.fmean(math.log(max(x, 1e-9)) for x in lat)),
                "unit": "s",
                "n": len(lat),
            },
            "op_p50_s": {"value": statistics.median(lat), "unit": "s", "n": len(lat)},
        }
        tail = tail_percentile(lat)
        if tail is not None:
            e2e[f"op_p{tail[0]}_s"] = {"value": tail[1], "unit": "s", "n": len(lat)}
        return e2e

    def table_metrics(self, wl, e2e: dict) -> None:
        """table_rw's end-to-end figures: commit and read latency, and the
        table's on-disk bytes per byte of live rows."""
        for label, kinds in (("write", ("write", "maint")), ("read", ("read",))):
            lat = [r["wall_s"] for r in self.ops if r["kind"] in kinds]
            e2e[f"{label}_p50_s"] = {"value": statistics.median(lat), "unit": "s", "n": len(lat)}
            tail = tail_percentile(lat)
            if tail is not None:
                e2e[f"{label}_p{tail[0]}_s"] = {"value": tail[1], "unit": "s", "n": len(lat)}
        from perfbench.workloads import TABLE, dir_bytes

        table_bytes = dir_bytes(os.path.join(wl.wh, TABLE))[0]
        user = wl.user_bytes(os.path.join(self.run_dir, "live_rows.parquet"))
        e2e["bytes_per_user_byte"] = {"value": table_bytes / user, "unit": "ratio", "n": 1}
        self.delete_files_live = wl.live_delete_files()

    def per_layer(self, pass_s: list[float]) -> dict:
        from perfbench import eventlog as T

        # the event log is complete only once the session stops
        self.stop_spark()
        jobs = T.group_jobs(T.job_stats(T.read_event_log(os.path.join(self.run_dir, "eventlog"))))
        # a stream's micro-batch jobs run in a job group named by its run
        # id; they belong to the build call of the op that started it
        for run_id, group in self.streams.started:
            jobs.setdefault(group + ":build", []).extend(jobs.pop(run_id, []))
        self.spans = []
        per_pass = {k: [0] * len(pass_s) for k in PER_PASS}
        cover_err = 0.0
        for r in self.ops:
            span = T.op_spans(r, jobs)
            err = T.coverage_error(span, r["t1"] - r["t0"])
            cover_err = max(cover_err, err)
            if err > MAX_COVERAGE_ERR:
                self.fail(
                    f"{r['seq']}:{r['name']}",
                    f"trace: layer self times miss the op's wall time by {err:.3f} of it "
                    "(a job of its groups ran outside its window)",
                )
            self.spans.append({
                "seq": r["seq"], "error": r["error"], "persisted_rdds": r["persisted_rdds"],
                "jvm_heap_mb": r["jvm_heap_mb"], "temp_dirs": r["temp_dirs"], **span.to_dict(),
            })
            bj = jobs.get(r["group"] + ":build", [])
            ej = jobs.get(r["group"] + ":exec", [])
            p, i = per_pass, r["pass"]
            p["operators.build_s"][i] += r["build_s"]
            p["operators.eager_jobs"][i] += len(bj)
            p["exec.exec_s"][i] += r["exec_s"]
            p["exec.jobs"][i] += len(ej)
            for j in ej:
                for f in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "sched_wait_s",
                          "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
                    p["exec." + f][i] += getattr(j, f)
            p["python.worker_stage_s"][i] += sum(j.python_worker_stage_s for j in bj + ej)
            p["driver.gap_s"][i] += (r["t1"] - r["t0"]) - T.union_length(
                [(j.start, j.end) for j in bj + ej], r["t0"], r["t1"]
            )
        out = {k: statistics.median(v) for k, v in per_pass.items()}
        # bytes are summed as integers so equal work reads exactly equal
        for k in ("exec.shuffle_write", "exec.shuffle_read", "exec.spill"):
            out[k + "_mb"] = out.pop(k + "_bytes") / 1e6
        v = self.rec.values
        med = lambda name: statistics.median(v[name]) if v.get(name) else 0.0  # noqa: E731
        out["session.start_s"] = med("session.start_s")
        out["session.jvm_launch_s"] = med("session.jvm_launch_s")
        out["sources.load_table_miss_s"] = med("sources.load_table_miss_s")
        out["sources.load_table_hit_s"] = med("sources.load_table_hit_s")
        out["driver.persisted_rdds_after"] = max(r["persisted_rdds"] for r in self.ops)
        out["driver.jvm_heap_mb_after"] = max(r["jvm_heap_mb"] for r in self.ops)
        out["driver.temp_dirs_after"] = max(r["temp_dirs"] for r in self.ops)
        for layer in ("tables.append_s", "tables.upsert_equality_s", "tables.delete_s",
                      "tables.compact_deletes_s", "tables.expire_snapshots_s",
                      "tables.scan_plan_s", "tables.read_plan_s"):
            xs = [r["build_s"] for r in self.ops if r["layer"] == layer and not r["error"]]
            out[layer] = statistics.median(xs) if xs else 0.0
        reads = [r["exec_s"] for r in self.ops if r["kind"] == "read" and not r["error"]]
        out["tables.read_exec_s"] = statistics.median(reads) if reads else 0.0
        out["tables.files_planned_share"] = med("tables.files_planned_share")
        out["tables.delete_files_live"] = self.delete_files_live
        commits = [r for r in self.ops if "meta_bytes" in r]
        for name, key in (("data_bytes_per_commit", "data_bytes"),
                          ("files_per_commit", "data_files"),
                          ("meta_bytes_per_commit", "meta_bytes")):
            out["tables." + name] = statistics.median(r[key] for r in commits) if commits else 0.0
        out.update(self.streams.metrics(len(pass_s)))
        out["driver.peak_rss_mb"] = self.peak_rss
        out["trace.run_s"] = statistics.median(pass_s)
        out["trace.span_coverage_err"] = cover_err
        return out

    def write_spans(self) -> str:
        path = os.path.join(
            self.out_dir, f"{self.args.workload}-seed{self.args.seed}-spans.json"
        )
        with open(path, "w") as f:
            json.dump(self.spans, f)
        return os.path.relpath(path, ROOT)

    def stop_spark(self) -> None:
        """Stop the session, then the JVM and its Python workers, and wait
        for them to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        except Exception as e:  # a broken gateway must not keep the JVM alive
            print(f"perfbench: stopping the session failed: {e}", file=sys.stderr)
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception as e:
            print(f"perfbench: closing the gateway failed: {e}", file=sys.stderr)
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def result_line(report: dict, names: dict[str, str]) -> dict:
    src = report["per_layer"] if report["trace"] else report["end_to_end"]
    metrics = {}
    for name, unit in names.items():
        v = src[name]["value"] if isinstance(src[name], dict) else src[name]
        metrics[name] = {"value": v, "unit": unit}
    return {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "iceberg_poc_spark")):
        print("perfbench: the engine package iceberg_poc_spark is not in this checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(BENCH_DIR, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(BENCH_DIR, ".out")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # everything the engine, Spark, the JVMs and Python workers write lands
    # in run_dir; -XX:-UsePerfData keeps the JVMs out of /tmp/hsperfdata_*
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"))
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # import the engine and this package from the checkout root, and keep
    # this directory's module names off the import path
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != BENCH_DIR]

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    bench = Bench(args, run_dir, out_dir)
    try:
        report = bench.run()
    finally:
        try:
            bench.stop_spark()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    names = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    line = result_line(report, names)
    for f in report["failed_ops"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    if report["host"]["contended"]:
        print(f"perfbench: contended run {report['host']}", file=sys.stderr)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
