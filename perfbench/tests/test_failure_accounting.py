"""Self-test of the benchmark's failure accounting.

One op returns a result with one corrupted row and another raises. A
third is right on its first build over a corpus but returns no rows on
every later build (a broken memo hit, which only the timed builds take);
a fourth returns no rows on its first build only (a broken memo miss,
which only the set-up check of a traced run sees). All four must count
toward ``failed_share`` and be named, while a correct op does not count.
Runs one short traced benchmark pass over a tiny generated corpus:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from iceberg_poc_spark.registry import Query  # noqa: E402
from perfbench import run, workloads  # noqa: E402

OPS = ("q_tpch_q6", "q_tpch_q1", "q_dedup_exact", "q_tpch_q14", "q_tpch_q12")


def _corrupt_one_row(fn):
    def corrupted(spark, sf_dir):
        df = fn(spark, sf_dir)
        rn = F.row_number().over(Window.orderBy(*df.columns))
        return (
            df.withColumn("_rn", rn)
            .withColumn(
                "l_returnflag",
                F.when(F.col("_rn") == 1, F.lit("corrupt")).otherwise(F.col("l_returnflag")),
            )
            .drop("_rn")
        )

    return corrupted


def _empty_on(first: bool, fn):
    """``fn`` returning no rows on the first build per corpus when
    ``first``, else on every later one."""
    seen: set[str] = set()

    def wrong_on_one_path(spark, sf_dir):
        df = fn(spark, sf_dir)
        is_first = sf_dir not in seen
        seen.add(sf_dir)
        return df.limit(0) if is_first == first else df

    return wrong_on_one_path


def _raise(spark, sf_dir):
    raise RuntimeError("injected failure")


class FaultyBench(run.Bench):
    def make_workload(self):
        wl = workloads.QueryWorkload(OPS, self.args.seed)
        q = dict(wl.queries)
        q1, dx, q14, q12 = (q[n] for n in OPS[1:])
        q["q_tpch_q1"] = Query(q1.name, _corrupt_one_row(q1.fn), q1.oracle)
        q["q_dedup_exact"] = Query(dx.name, _raise, dx.oracle)
        q["q_tpch_q14"] = Query(q14.name, _empty_on(False, q14.fn), q14.oracle)
        q["q_tpch_q12"] = Query(q12.name, _empty_on(True, q12.fn), q12.oracle)
        wl.queries = q
        return wl


def test_wrong_row_raise_and_wrong_memo_paths_all_count(tmp_path):
    args = argparse.Namespace(workload="llm_pipeline", seed=3, seconds=0.0, trace=1)
    (tmp_path / "out").mkdir()
    bench = FaultyBench(
        args, str(tmp_path / "run"), str(tmp_path / "out"),
        data_root=str(tmp_path / "data"), scale=0.001,
    )
    try:
        report = bench.run()
    finally:
        bench.stop_spark()
    passes = len(report["pass_s"])
    assert report["attempted"] == len(OPS) * passes
    assert report["failed"] == 4 * passes
    assert report["failed_share"] == report["failed"] / report["attempted"]
    failed = " ".join(report["failed_ops"])
    assert "q_tpch_q1" in failed and "rows differ" in failed
    assert "q_dedup_exact" in failed and "injected failure" in failed
    hit = [f for f in report["failed_ops"] if "q_tpch_q14" in f]
    assert len(hit) == passes
    assert all("0 rows vs oracle" in f and "set-up build" not in f for f in hit)
    miss = [f for f in report["failed_ops"] if "q_tpch_q12" in f]
    assert len(miss) == passes
    assert all(f.count("rows vs oracle") == 1 and "set-up build: 0 rows" in f for f in miss)
    assert "q_tpch_q6" not in failed
    line = run.result_line(report, {"trace.run_s": "s"})
    assert line["correct"] is False and line["failed"] == report["failed"]
