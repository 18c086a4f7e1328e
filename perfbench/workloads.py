"""The benchmark's workloads and the checks on their outputs.

``llm_pipeline`` runs a fixed list of registered queries; the run seed
permutes their order in every pass. ``table_rw`` runs a closed loop of
``ParquetTableManager`` calls on one table; the run seed draws its write
batches, keys and predicates. Every output is checked against DuckDB:
registered queries against their oracle SQL, table_rw reads and the final
table against a DuckDB model that replays the same op sequence.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import re
import time
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_poc_spark.registry import load_all
from iceberg_poc_spark.sources import TABLES, load_table
from tests.test_oracle_parity import canon_type, duck_con, normalize

# The full families do not fit the run budget, so the list keeps the
# shapes its layer claims rest on; README.md maps them to families.
# q_stream_live_sliding is the one streaming drain: it keeps
# streaming.pipelines and operators/sessionize.py measured.
LLM_PIPELINE = (
    "q_dedup_exact",
    "q_dedup_near",
    "q_decontaminate",
    "q_sim_ann_pq",
    "q_text_quality",
    "q_udtf_sentences",
    "q_stream_live_sliding",
)


@dataclass
class Op:
    """One timed operation. ``call`` is the build (the registered query
    function, or one public ``ParquetTableManager`` call); when it returns
    a DataFrame the harness materializes it into the noop sink, or collects
    it when ``collect`` is set. ``check`` runs untimed afterwards on the
    collected rows or the call's return value, and returns an error text,
    or None when the output is correct."""

    name: str
    kind: str  # "query", "write", "maint" or "read"
    call: Callable[[], DataFrame | None]
    check: Callable[[DataFrame | None], str | None] | None = None
    layer: str = ""  # per-layer metric the build time feeds, e.g. "tables.append_s"
    collect: bool = False  # materialize by collecting the rows, which check() gets


def compare_with_oracle(rows: list[tuple], cols: list[str], oracle_tab: pa.Table) -> str | None:
    """The oracle-parity comparison of tests/test_oracle_parity.py: column
    names, per-column type category, row count and every canonical value."""
    dcols = list(oracle_tab.schema.names)
    drows = [tuple(r[c] for c in dcols) for r in oracle_tab.to_pylist()]
    s_cols, s_norm = normalize(rows, cols)
    d_cols, d_norm = normalize(drows, dcols)
    if s_cols != d_cols:
        return f"columns {s_cols} vs oracle {d_cols}"
    for i, c in enumerate(cols):
        st = {canon_type(r[i]) for r in rows} - {None}
        j = dcols.index(c)
        dt_ = {canon_type(r[j]) for r in drows} - {None}
        if st and dt_ and st != dt_:
            return f"column {c} type {st} vs oracle {dt_}"
    if len(s_norm) != len(d_norm):
        return f"{len(s_norm)} rows vs oracle {len(d_norm)}"
    bad = sum(a != b for a, b in zip(s_norm, d_norm))
    return f"{bad} rows differ from oracle" if bad else None


class QueryWorkload:
    """A fixed list of registered queries over the plain-parquet corpus."""

    python_workers = True

    def __init__(self, names: tuple[str, ...], seed: int):
        self.queries = load_all()
        self.names = names
        self.rng = random.Random(seed)
        self.built: dict[str, DataFrame | Exception] = {}
        # the corpus tables the queries read: those their oracle SQL names
        self.tables = [
            t for t in TABLES
            if any(re.search(rf"\b{t}\b", self.queries[n].oracle or "") for n in names)
        ]

    def setup(self, spark: SparkSession, sf_dir: str, rec, work_dir: str) -> None:
        """Input construction: the scan-plan memo (first and repeated
        ``load_table`` per table the queries read), then one build call per
        query, which pays the queries' table and index builds."""
        for t in self.tables:
            t0 = time.perf_counter()
            load_table(spark, sf_dir, t)
            t1 = time.perf_counter()
            load_table(spark, sf_dir, t)
            rec.add("sources.load_table_miss_s", t1 - t0)
            rec.add("sources.load_table_hit_s", time.perf_counter() - t1)
        self.spark, self.sf_dir = spark, sf_dir
        self.built = {}
        for n in self.names:
            t0 = time.perf_counter()
            try:
                self.built[n] = self.queries[n].fn(spark, sf_dir)
            except Exception as e:  # counted as a failed op by check()
                self.built[n] = e
            rec.add(f"setup.build_s.{n}", time.perf_counter() - t0)

    def oracle(self, name: str, con, cache_dir: str) -> pa.Table:
        """The oracle's result, cached by its SQL in ``cache_dir``. The cache
        sits inside the corpus directory, which datagen rebuilds whenever
        the corpus would change, so a cached result is never stale."""
        sql = self.queries[name].oracle
        key = hashlib.sha256(sql.encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{name}-{key}.arrow")
        if os.path.exists(path):
            with pa.memory_map(path) as src:
                return pa.ipc.open_file(src).read_all()
        tab = con.execute(sql).arrow()
        tmp = path + f".{os.getpid()}"
        with pa.OSFile(tmp, "wb") as sink, pa.ipc.new_file(sink, tab.schema) as w:
            w.write_table(tab)
        os.replace(tmp, path)
        return tab

    def load_oracles(self, cache_dir: str) -> None:
        """Every query's oracle result, or the exception computing it raised."""
        os.makedirs(cache_dir, exist_ok=True)
        con = duck_con(self.sf_dir)
        self.oracles: dict[str, pa.Table | Exception] = {}
        for n in self.names:
            try:
                self.oracles[n] = self.oracle(n, con, cache_dir)
            except Exception as e:
                self.oracles[n] = e
        con.close()

    def check_setup(self) -> dict[str, str | None]:
        """Collect each query the last setup built (its memo misses) and
        compare it with its oracle; query name -> error text or None."""
        return {n: self.compare(n, self.built[n]) for n in self.names}

    def compare(self, name: str, df: DataFrame | Exception) -> str | None:
        """Collect ``df`` and compare it with query ``name``'s oracle."""
        try:
            for x in (df, self.oracles[name]):
                if isinstance(x, Exception):
                    raise x
            rows = [tuple(r) for r in df.collect()]
            return compare_with_oracle(rows, df.columns, self.oracles[name])
        except Exception as e:
            return f"raised {type(e).__name__}: {str(e)[:200]}"

    def pass_ops(self) -> list[Callable[[], Op]]:
        order = list(self.names)
        self.rng.shuffle(order)
        q, spark, sf = self.queries, self.spark, self.sf_dir
        # each timed result is checked too: the timed builds take the
        # memo-hit paths (scan plans, index warehouses) the set-up builds
        # did not
        return [
            (lambda n=n: Op(n, "query", lambda: q[n].fn(spark, sf),
                            lambda out: self.compare(n, out), "operators.build_s"))
            for n in order
        ]


# ----------------------------------------------------------------- table_rw

TABLE = "ev"
EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DAY0 = dt.datetime(2024, 1, 1)
# checksums sum microseconds since DAY0: raw epoch micros overflow a long
DAY0_US = int(DAY0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
# The traffic follows the repo's own table-layer queries at sf0.1
# (README.md, "table_rw traffic"): an upsert is a CDC batch of the last
# event per user in one 5-day slice (q_compact_deletes' epochs), an append
# is one day of the corpus's arrivals, a delete removes the rows of one
# day whose value lies below the corpus's 10th percentile (the share
# q_delete_mor's first delete takes of its year), and compaction follows
# every six commits, as in q_compact_deletes. The mix of commit kinds
# (two each of upserts, appends and deletes per six commits) has no such
# basis and is unverified.
SLICE_DAYS = 5
N_SLICES = 6  # the corpus's 30 days
DELETE_SHARE = 0.10
# q_snapshot_expiry keeps one snapshot; time travel here reads the one
# before the newest, so expiry keeps two
KEEP_LAST = 2
# One pass: six commits and six reads in a fixed order, then compaction
# and expiry. Each commit and scan names a role 0-5: pass k gives role i
# the slice ``order[(k + i) % 6]`` of a per-run permutation ``order``.
# Within a pass every commit touches another slice, and which slices two
# passes share depends on k alone, so the seed draws which slices an op
# touches, its batch and its keys, but not which ops share a partition,
# and so not the shape of the merge-on-read work a read finds. An append
# writes day APPEND_DAY of its slice, a delete hits day DELETE_DAY, and a
# scan reads day APPEND_DAY of its role's slice. read_new follows a commit
# (read-plan cache miss); read_repeat re-reads that unchanged snapshot
# (hit).
APPEND_DAY, DELETE_DAY = 2, 4
PASS = (
    ("upsert_equality", 0), ("read_new", None), ("read_repeat", None), ("append", 2),
    ("scan", 2), ("delete", 4), ("time_travel", None), ("upsert_equality", 1),
    ("scan", 1), ("append", 3), ("delete", 5), ("read_new", None),
)


def _checksum_df(df: DataFrame) -> DataFrame:
    """Row count and order-insensitive column sums of a read: reading every
    column of every live row, with deletes applied, is the materialization
    a table_rw read is timed on."""
    return df.agg(
        F.count(F.lit(1)),
        F.sum("event_id"),
        F.sum("user_id"),
        F.sum(F.round(F.col("value") * 100).cast("long")),
        F.sum(F.unix_micros(F.col("ts").cast("timestamp")) - DAY0_US),
        F.sum(F.length("event_type")),
    )


def _checksum_sql(rel: str, where: str = "TRUE") -> str:
    return (
        "SELECT count(*), sum(event_id), sum(user_id), "
        f"sum(CAST(round(value * 100) AS BIGINT)), sum(epoch_us(ts) - {DAY0_US}), "
        f"sum(length(event_type)) FROM {rel} WHERE {where}"
    )


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) of regular files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


class TableRWWorkload:
    """Seeded closed loop of writes and reads on one snapshot table seeded
    from the corpus ``events``, mirrored by a DuckDB model."""

    python_workers = False

    def __init__(self, seed: int):
        self.seed = seed

    def setup(self, spark: SparkSession, sf_dir: str, rec, work_dir: str) -> None:
        """Input construction: a fresh warehouse holding the day-partitioned
        events table with every corpus event appended in one commit."""
        from iceberg_poc_spark.tables.manager import ParquetTableManager, days

        self.rng = random.Random(self.seed)
        self.spark, self.rec = spark, rec
        self.wh = os.path.join(work_dir, "warehouse")
        self.mgr = ParquetTableManager(spark, self.wh)
        ev = load_table(spark, sf_dir, "events").select(*EVENT_COLS)
        self.schema = ev.schema
        self.mgr.create_table(TABLE, ev.schema, [days("ts")])
        v = self.mgr.append(TABLE, ev)
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE t AS SELECT " + ", ".join(EVENT_COLS) + " FROM read_parquet(?)",
            [os.path.join(sf_dir, "events.parquet")],
        )
        self.next_id = self.con.execute("SELECT max(event_id) + 1 FROM t").fetchone()[0]
        n_rows, n_days, cut = self.con.execute(
            f"SELECT count(*), count(DISTINCT CAST(ts AS DATE)), "
            f"round(quantile_cont(value, {DELETE_SHARE}), 2) FROM t"
        ).fetchone()
        self.append_rows, self.delete_below = round(n_rows / n_days), cut
        self.versions: list[int] = []
        self._snapshot(v)
        self.order = self.rng.sample(range(N_SLICES), N_SLICES)
        self.passes = 0

    # -- model ------------------------------------------------------------
    def _snapshot(self, v: int) -> None:
        self.con.execute(f"CREATE TABLE s_{v} AS SELECT * FROM t")
        self.versions.append(v)
        for old in self.versions[:-3]:
            self.con.execute(f"DROP TABLE s_{old}")
        self.versions = self.versions[-3:]

    def _model_sum(self, rel: str, where: str = "TRUE") -> tuple:
        return tuple(int(x or 0) for x in self.con.execute(_checksum_sql(rel, where)).fetchone())

    def _read_check(self, rel: str, where: str = "TRUE"):
        def check(rows: list) -> str | None:
            got = tuple(int(v or 0) for v in rows[0])
            want = self._model_sum(rel, where)
            return None if got == want else f"checksum {got} vs model {want}"

        return check

    def _commit_check(self, apply_model: Callable[[], None]):
        def check(v) -> str | None:
            apply_model()
            self._snapshot(v)
            return None

        return check

    # -- op generation ----------------------------------------------------
    def _to_spark(self, tab: pa.Table) -> DataFrame:
        return self.spark.createDataFrame(tab.to_pandas(), schema=self.schema)

    def _append_op(self, slice_: int) -> Op:
        n = self.append_rows
        start = DAY0 + dt.timedelta(days=SLICE_DAYS * slice_ + APPEND_DAY)
        rows = {
            "event_id": list(range(self.next_id, self.next_id + n)),
            "ts": sorted(
                start + dt.timedelta(microseconds=self.rng.randrange(86_400_000_000))
                for _ in range(n)
            ),
            "user_id": [self.rng.randrange(1500) for _ in range(n)],
            "event_type": [self.rng.choice(EVENT_TYPES) for _ in range(n)],
            "value": [round(self.rng.expovariate(1 / 50), 2) for _ in range(n)],
            "props": [f'{{"k": {self.rng.randrange(100)}}}' for _ in range(n)],
        }
        self.next_id += n
        tab = pa.table(rows).cast(
            pa.schema(
                [
                    ("event_id", pa.int64()),
                    ("ts", pa.timestamp("us")),
                    ("user_id", pa.int64()),
                    ("event_type", pa.string()),
                    ("value", pa.float64()),
                    ("props", pa.string()),
                ]
            )
        )
        df = self._to_spark(tab)

        def model() -> None:
            self.con.register("batch", tab)
            self.con.execute("INSERT INTO t SELECT * FROM batch")
            self.con.unregister("batch")

        return Op("append", "write", lambda: self.mgr.append(TABLE, df),
                  self._commit_check(model), "tables.append_s")

    def _upsert_op(self, slice_: int) -> Op:
        lo = DAY0 + dt.timedelta(days=SLICE_DAYS * slice_)
        hi = lo + dt.timedelta(days=SLICE_DAYS)
        bump = round(self.rng.uniform(1, 9), 2)
        tab = self.con.execute(
            "SELECT event_id, ts, user_id, event_type, round(value + ?, 2) AS value, props "
            "FROM t WHERE ts >= ? AND ts < ? QUALIFY row_number() OVER "
            "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1 ORDER BY event_id",
            [bump, lo, hi],
        ).arrow()
        df = self._to_spark(tab)

        def model() -> None:
            self.con.register("batch", tab)
            self.con.execute("DELETE FROM t WHERE event_id IN (SELECT event_id FROM batch)")
            self.con.execute("INSERT INTO t SELECT * FROM batch")
            self.con.unregister("batch")

        return Op(
            "upsert_equality", "write",
            lambda: self.mgr.upsert_equality(TABLE, df, ["event_id"]),
            self._commit_check(model), "tables.upsert_equality_s",
        )

    def _delete_op(self, slice_: int) -> Op:
        lo = DAY0 + dt.timedelta(days=SLICE_DAYS * slice_ + DELETE_DAY)
        hi = lo + dt.timedelta(days=1)
        cut = self.delete_below

        def model() -> None:
            self.con.execute("DELETE FROM t WHERE ts >= ? AND ts < ? AND value < ?", [lo, hi, cut])

        where = [("ts", ">=", lo), ("ts", "<", hi), ("value", "<", cut)]
        return Op(
            "delete", "write",
            lambda: self.mgr.delete(TABLE, where, mode="mor"),
            self._commit_check(model), "tables.delete_s",
        )

    def _maint_ops(self) -> list[Op]:
        def compact() -> int:
            return self.mgr.compact_deletes(TABLE)

        def expire():
            self.mgr.expire_snapshots(TABLE, keep_last=KEEP_LAST)

        return [
            Op("compact_deletes", "maint", compact, self._commit_check(lambda: None),
               "tables.compact_deletes_s"),
            Op("expire_snapshots", "maint", expire, None, "tables.expire_snapshots_s"),
        ]

    def _read_op(self, slot: str, slice_: int | None) -> Op:
        if slot in ("read_new", "read_repeat"):
            return Op(slot, "read", lambda: _checksum_df(self.mgr.read(TABLE)),
                      self._read_check("t"), "tables.read_plan_s", collect=True)
        if slot == "time_travel":
            v = self.versions[-2]
            return Op(slot, "read", lambda: _checksum_df(self.mgr.read(TABLE, snapshot_id=v)),
                      self._read_check(f"s_{v}"), "tables.read_plan_s", collect=True)
        lo = DAY0 + dt.timedelta(days=SLICE_DAYS * slice_ + APPEND_DAY)
        hi = lo + dt.timedelta(days=1)

        def scan() -> DataFrame:
            df, planned, total = self.mgr.scan(TABLE, [("ts", ">=", lo), ("ts", "<", hi)])
            self.rec.add("tables.files_planned_share", planned / total if total else 0.0)
            return _checksum_df(df)

        return Op("scan", "read", scan, self._read_check("t", f"ts >= '{lo}' AND ts < '{hi}'"),
                  "tables.scan_plan_s", collect=True)

    def pass_ops(self) -> list[Callable[[], Op]]:
        """Op factories for one pass. Each op is made just before it runs,
        so a write batch is drawn from the state the ops before it left."""
        writes = {"append": self._append_op, "upsert_equality": self._upsert_op,
                  "delete": self._delete_op}
        k, self.passes = self.passes, self.passes + 1
        plan: list[Callable[[], Op]] = []
        for slot, role in PASS:
            sl = None if role is None else self.order[(k + role) % N_SLICES]
            make = writes.get(slot) or (lambda sl, r=slot: self._read_op(r, sl))
            plan.append(lambda make=make, sl=sl: make(sl))
        return plan + [lambda m=m: m for m in self._maint_ops()]

    def final_check(self) -> str | None:
        """The whole live table against the model, row by row."""
        got = self.mgr.read(TABLE).select(*EVENT_COLS).orderBy("event_id").toArrow()
        want = self.con.execute(
            "SELECT " + ", ".join(EVENT_COLS) + " FROM t ORDER BY event_id"
        ).arrow()
        got = got.cast(want.schema)
        if got.num_rows != want.num_rows:
            return f"final table {got.num_rows} rows vs model {want.num_rows}"
        return None if got.equals(want) else "final table differs from model"

    def user_bytes(self, path: str) -> int:
        """Bytes of the live rows written once as zstd parquet."""
        self.con.execute(f"COPY t TO '{path}' (FORMAT parquet, COMPRESSION zstd)")
        return os.path.getsize(path)

    def live_delete_files(self) -> int:
        m = self.mgr._load_manifest(TABLE)
        seen = {
            repr(d)
            for e in m["files"]
            for k in ("deletes", "eq_deletes", "pos_deletes")
            for d in e.get(k, [])
        }
        return len(seen) + len(m.get("global_eq_deletes", [])) + len(
            m.get("global_pos_deletes", [])
        )

