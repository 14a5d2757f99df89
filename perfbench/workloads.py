"""The three benchmark workloads. Each is one client in a closed loop: the
next operation starts only after the previous one returned.

Every workload has the same shape:

1. warm-up: each operation type a fixed number of times at the workload's
   own scale, counted in set-up time (``setup.warm_s``);
2. a fixed number of loops (from ``--seconds`` through a constant, never a
   clock read), each starting from the same state, with the seed choosing
   only operation order and which slices and keys are touched;
3. output checks outside the timed operations, counted into the run's
   attempted and failed checks.

Each returns nothing; the run's timed operations and checks are on ``run``.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import numpy as np
import pyarrow.parquet as pq

from spans import catalyst_phases

# -- analytic --------------------------------------------------------------

# sf0.05 keeps per-row work visible next to fixed cost (pricing_summary
# runs ~1.0 s warm at sf0.1 and ~0.6 s at sf0.01) while one run, cold JVM
# and warm-up included, stays under a minute on a 4-vCPU host.
ANALYTIC_SF = 0.05
# One of each ROADMAP direction's targets: the flagship already on the
# two-tier int64 sum kernel, an execution-bound dsum join, a query with
# build-time jobs, and a driver-coordinated iterative build.
ANALYTIC_QUERIES = (
    "pricing_summary",
    "tpch_q9_product_profit",
    "graph_pagerank",
    "text_bpe_train_merges",
)
ANALYTIC_WARM = 2  # passes before the window
ANALYTIC_PASS_S = 6.0  # nominal seconds one measured pass takes

# -- lakehouse_commit ------------------------------------------------------

LAKEHOUSE_SF = 0.01
APPENDS = 6  # SnapshotTable appends per loop
READ_AT = (3, 6)  # read-backs after these appends
COW_AT = 4  # the copy-on-write delete after this append
# Time travel reads the snapshot this many commits before the head: a
# fixed position, so the files it reads do not depend on the seed.
TRAVEL_BACK = 2
SLICE_KEYS = 50  # width of one appended slice in order keys (~200 rows)
LAKEHOUSE_TYPES = ("pipeline", "append", "cow_delete", "count", "time_travel",
                   "metadata_count")
LAKEHOUSE_WARM_APPENDS = 4  # one warm loop, cut short after the delete
LAKEHOUSE_LOOP_S = 6.0  # nominal seconds one measured loop takes

# -- stream_replay ---------------------------------------------------------

STREAM_SF = 0.01
STREAM_QUERIES = ("stream_tumbling_window", "stream_session_window")
STREAM_WARM = 1  # replays of each query before the window
STREAM_ROUND_S = 6.0  # nominal seconds of one round (one replay of each)


def loops_for(seconds: float, loop_s: float) -> int:
    """Loops in a run of ``seconds``: at least two, so the window has a
    first and a second half."""
    return max(2, round(seconds / loop_s))


class Collected:
    """Rows already collected, shaped for ``plans.check.compare`` so a
    measured result is checked without running the query again."""

    def __init__(self, rows, columns):
        self.rows = rows
        self.columns = columns

    def collect(self):
        return self.rows


class _Result:
    def __init__(self, description, rows):
        self.description = description
        self._rows = rows

    def fetchall(self):
        return list(self._rows)


class MemoOracle:
    """A DuckDB connection over the run's inputs that runs each oracle SQL
    once: every checked operation is compared with the oracle's rows, and
    the inputs never change within a run."""

    def __init__(self, sf_dir: str):
        from biglake_iceberg_python_spark.plans.check import duckdb_connect

        self._con = duckdb_connect(sf_dir)
        self._memo: dict[str, _Result] = {}

    def execute(self, sql: str) -> _Result:
        if sql not in self._memo:
            cur = self._con.execute(sql)
            self._memo[sql] = _Result(cur.description, cur.fetchall())
        return self._memo[sql]


def check_oracle(run, oracle: MemoOracle, spec, sf_dir: str, rows, columns) -> bool:
    from biglake_iceberg_python_spark.plans.check import compare
    from biglake_iceberg_python_spark.plans.registry import resolve_oracle

    sql = resolve_oracle(spec, sf_dir)
    if run.wrong_once():
        sql = f"SELECT * FROM ({sql}) AS expected LIMIT 0"
    return compare(Collected(rows, columns), oracle, sql)["ok"]


def _query_op(run, spec, sf_dir: str, measured: bool):
    """One query as an operation: ``spec.fn`` (the build), then
    ``.collect()`` (execution); in a traced run also Catalyst's phase
    times."""
    run.housekeeping()
    with run.op(spec.name, measured) as rec:
        df = spec.fn(run.spark, sf_dir)
        rec.built()
        rows = df.collect()
    if run.trace:
        rec.extra.update(catalyst_phases(df))
    return rec, df, rows


def analytic(run, sf_dir: str, loops: int) -> None:
    reg = run.registry
    for _ in range(ANALYTIC_WARM):
        for n in ANALYTIC_QUERIES:
            _query_op(run, reg[n], sf_dir, measured=False)
    run.mark_setup_done()

    oracle = MemoOracle(sf_dir)
    rng = random.Random(run.seed)
    for _ in range(loops):
        order = list(ANALYTIC_QUERIES)
        rng.shuffle(order)
        for n in order:
            _, df, rows = _query_op(run, reg[n], sf_dir, measured=True)
            run.check(check_oracle(run, oracle, reg[n], sf_dir, rows, df.columns),
                      f"analytic:{n}")
        run.loops += 1
    run.end_window()


# -- lakehouse_commit ------------------------------------------------------


def lakehouse(run, sf_dir: str, loops: int) -> None:
    from pyspark.sql import functions as F

    from biglake_iceberg_python_spark.lakehouse.catalog import LakehouseCatalog
    from biglake_iceberg_python_spark.lakehouse.snapshots import SnapshotTable

    spark = run.spark
    li_path = os.path.join(sf_dir, "lineitem.parquet")
    keys = pq.read_table(li_path, columns=["l_orderkey"]).column(0).to_numpy()
    run.ingest_rows = len(keys)
    n_keys = int(keys.max()) + 1
    schema = spark.read.parquet(li_path).schema
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)
    columns = schema.fieldNames()
    cat = LakehouseCatalog(spark)
    rng = random.Random(run.seed)

    def one_loop(k: str, measured: bool, appends: int = APPENDS) -> None:
        db = f"perfbench_{k}"
        root = os.path.join(run.work, "snapshots", k)
        run.housekeeping()
        with run.op("pipeline", measured):
            cat.create_namespace(db)
            cat.create_table(db, "lineitem", ddl)
            cat.ingest_parquet(db, "lineitem", li_path, columns)
            head = cat.sql_scan(db, "lineitem").collect()
        if measured:
            n = cat.table(db, "lineitem").count()
            run.check(n == len(keys) + (1 if run.wrong_once() else 0), "ingest count")
            run.check(len(head) == min(10, len(keys)), "sql_scan rows")

        table = SnapshotTable(spark, root)
        live = np.empty(0, dtype=keys.dtype)  # l_orderkey of every live row
        at_snapshot: dict[int, int] = {}
        acked = 0
        user_rows = 0
        for i in range(1, appends + 1):
            lo = rng.randrange(0, n_keys - SLICE_KEYS)
            hi = lo + SLICE_KEYS
            df = spark.read.parquet(li_path).where(
                (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)
            )
            run.housekeeping()
            with run.op("append", measured):
                sid = table.write(df)
            acked += 1
            added = keys[(keys >= lo) & (keys < hi)]
            live = np.concatenate([live, added])
            at_snapshot[sid] = len(live)
            user_rows += len(added)
            if i == COW_AT:
                r = rng.randrange(5)
                run.housekeeping()
                with run.op("cow_delete", measured):
                    sid = table.delete_where(F.col("l_orderkey") % 5 == r)
                acked += 1
                live = live[live % 5 != r]
                at_snapshot[sid] = len(live)
            if i in READ_AT:
                _read_back(run, table, live, at_snapshot, measured)
        if measured:
            with open(table.meta_path) as fh:
                run.check(len(json.load(fh)) == acked, "acknowledged commits == log entries")
            run.loops += 1
            if run.trace:
                run.shape.append(_snapshot_shape(table, acked, user_rows, li_path, len(keys)))
        cat.drop_namespace(db)
        shutil.rmtree(root, ignore_errors=True)

    one_loop("warm", measured=False, appends=LAKEHOUSE_WARM_APPENDS)
    run.mark_setup_done()
    for k in range(loops):
        one_loop(f"t{k}", measured=True)
    run.end_window()


def _read_back(run, table, live, at_snapshot, measured: bool) -> None:
    """The read-backs at a fixed position of the loop, each checked against
    the rows the loop knows it wrote (tracked outside Spark)."""
    run.housekeeping()
    with run.op("count", measured) as rec:
        df = table.read()
        rec.built()
        n = df.count()
    sid = sorted(at_snapshot)[-1 - TRAVEL_BACK]
    run.housekeeping()
    with run.op("time_travel", measured):
        n_sid = table.read(sid).count()
    with run.op("metadata_count", measured):
        m = table.metadata_row_count()
    if measured:
        run.check(n == len(live) + (1 if run.wrong_once() else 0), "read().count()")
        run.check(n_sid == at_snapshot[sid], f"time travel to {sid}")
        run.check(m == len(live), "metadata_row_count == rows appended - rows deleted")


def _snapshot_shape(table, commits: int, user_rows: int, li_path: str, li_rows: int) -> dict:
    """Size of the metadata log and the stored data against what the user
    wrote (appended rows at the source file's bytes per row)."""
    log_bytes = os.path.getsize(table.meta_path)
    stored = files = 0
    for root, _dirs, names in os.walk(os.path.join(table.root, "data")):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                stored += os.path.getsize(os.path.join(root, f))
    user_bytes = user_rows * os.path.getsize(li_path) / li_rows
    # The log is rewritten whole on every commit: bytes written per commit
    # is the mean of its sizes, about half the final size.
    return {
        "log_bytes": log_bytes,
        "log_bytes_written_per_commit": log_bytes * (commits + 1) / 2 / commits,
        "data_files_per_commit": files / commits,
        "stored_bytes_per_user_byte": stored / user_bytes,
    }


# -- stream_replay ---------------------------------------------------------


def stream(run, sf_dir: str, loops: int) -> None:
    from biglake_iceberg_python_spark.streaming import queries as sq

    spark, reg = run.spark, run.registry
    # Every event has an event time, so the replay stages all of them plus
    # the one watermark-flush sentinel row.
    staged = pq.ParquetFile(os.path.join(sf_dir, "events.parquet")).metadata.num_rows + 1
    oracle = MemoOracle(sf_dir)

    def replay(n: str, measured: bool) -> None:
        rec, df, rows = _query_op(run, reg[n], sf_dir, measured)
        q = sq.LAST_STREAMING_QUERIES[n]
        progress = q.recentProgress
        n_in = sum(p.numInputRows for p in progress)
        spark.catalog.dropTempView(q.name)
        if not measured:
            return
        rec.extra["progress"] = [
            (p.numInputRows, dict(p.durationMs),
             sum(o.numRowsTotal for o in p.stateOperators),
             sum(o.memoryUsedBytes for o in p.stateOperators))
            for p in progress
        ]
        run.check(check_oracle(run, oracle, reg[n], sf_dir, rows, df.columns), f"stream:{n}")
        run.check(n_in == staged + (1 if run.wrong_once() else 0), f"stream:{n} input rows")

    for _ in range(STREAM_WARM):
        for n in STREAM_QUERIES:
            replay(n, measured=False)
    run.mark_setup_done()
    rng = random.Random(run.seed)
    for _ in range(loops):
        order = list(STREAM_QUERIES)
        rng.shuffle(order)
        for n in order:
            replay(n, measured=True)
        run.loops += 1
    run.end_window()


# name -> (body, default scale factor, nominal seconds of one loop,
# operation types)
WORKLOADS = {
    "analytic": (analytic, ANALYTIC_SF, ANALYTIC_PASS_S, ANALYTIC_QUERIES),
    "lakehouse_commit": (lakehouse, LAKEHOUSE_SF, LAKEHOUSE_LOOP_S, LAKEHOUSE_TYPES),
    "stream_replay": (stream, STREAM_SF, STREAM_ROUND_S, STREAM_QUERIES),
}
