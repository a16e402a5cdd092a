"""The benchmark's workloads: batch passes over registry queries and
streaming drains of the reference's windowed and stateful jobs.

Every operation runs as three steps, traced or not: build (the
registry call), plan (forcing the executed plan of the consuming
DataFrame) and execute (the materializing action). The consuming
action hashes every output column, so column pruning cannot skip work.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, NamedTuple

from pyspark.sql import functions as F

from flink_user_behavior_analysis_spark import queries as Q
from flink_user_behavior_analysis_spark.operators import windowed_count
from flink_user_behavior_analysis_spark.streaming import jobs as J
from flink_user_behavior_analysis_spark.streaming import stateful as S
from tests import oracle_util

from layers import Tracer

# one registry query per kind of reference analytics: windowed top-N,
# a sketch distinct count, broadcast dimension joins, the blacklist cap,
# a CEP-style pattern and an order timeout
EVENT_QUERIES = [
    "hot_items", "unique_visitors_approx", "ad_stats_by_province",
    "blacklist_warnings", "login_fail", "order_timeout",
]
# the data-heavy shapes: window explode + rank, per-window distinct,
# broadcast join, per-user ordered scan (the Zipf-hot user) and an
# interval join
LARGE_QUERIES = [
    "hot_items", "unique_visitors", "ad_stats_by_province", "login_fail",
    "tx_interval_join",
]
# set-up runs this many untimed passes (JIT and codegen warm-up)
WARM_PASSES = 1
# the post-run result checks run on this many driver threads
CHECK_THREADS = 4
# the benchmark's inputs hold only the tables these queries read
INPUT_TABLES = ("region", "nation", "customer", "events")


def consume(df):
    """Row count plus a hash of every column, as one aggregate."""
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])
              % F.lit(10**6)).alias("h"),
    )


class _Collected:
    """A result already collected to pandas, in the shape
    ``oracle_util.compare`` expects of a Spark DataFrame."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class Outcome:
    """Operations attempted and failed, with the first few errors."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def record(self, what: str, fn):
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 - every failure counts
            self.fail(f"{what}: {type(exc).__name__}: "
                      f"{(str(exc).splitlines() or [''])[0][:300]}")
            return None
        with self._lock:
            self.attempted += 1
        return result

    def fail(self, error: str) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(error)


# ------------------------------------------------------------------ batch

class BatchWorkload:
    def __init__(self, spark, data_dir: str, names: list[str],
                 input_rows: int):
        self.spark, self.dir, self.names = spark, data_dir, names
        self.input_rows = input_rows
        self.counts: dict[str, set] = {name: set() for name in names}

    def warm(self, outcome: Outcome) -> None:
        """Untimed passes of the timed actions (set-up)."""
        for n in range(WARM_PASSES):
            self.run_pass(Tracer(False), outcome, -1 - n)

    def run_pass(self, tracer, outcome: Outcome, pass_no: int):
        """One closed-loop pass; returns (wall, per-op walls, rows)."""
        op_walls = []
        t_pass = time.perf_counter()
        sp_pass = tracer.open("pass", group=f"pass{pass_no}")
        for name in self.names:
            t0 = time.perf_counter()
            sp_q = tracer.open("query", group=f"p{pass_no}:{name}", query=name)
            row = outcome.record(name, lambda: self._run_one(tracer, name))
            tracer.close(sp_q)
            op_walls.append(time.perf_counter() - t0)
            if row is not None:
                self.counts[name].add(row["n"])
        tracer.close(sp_pass)
        wall = time.perf_counter() - t_pass
        return wall, op_walls, self.input_rows * len(self.names), sp_pass

    def _run_one(self, tracer, name):
        sp = tracer.open("build")
        df = Q.QUERIES[name](self.spark, self.dir)
        tracer.close(sp)
        sp = tracer.open("plan")
        c = consume(df)
        c._jdf.queryExecution().executedPlan()
        tracer.close(sp)
        sp = tracer.open("exec")
        row = c.collect()[0]
        tracer.close(sp)
        return row

    def check(self, outcome: Outcome) -> None:
        """Collect every query, compare it with its DuckDB oracle, and
        require every timed action to have counted the same rows. The
        queries are checked on ``CHECK_THREADS`` driver threads."""
        def check_one(name):
            pdf = outcome.record(
                f"{name} collect",
                lambda: Q.QUERIES[name](self.spark, self.dir).toPandas())
            if pdf is None:
                return
            outcome.record(f"{name} oracle", lambda: oracle_util.compare(
                _Collected(pdf), Q.ORACLES[name], self.dir))
            if self.counts[name] - {len(pdf)}:
                outcome.fail(f"{name}: timed actions counted "
                             f"{sorted(self.counts[name])} rows, the "
                             f"checked result has {len(pdf)}")

        all_tables = oracle_util.TABLES
        oracle_util.TABLES = INPUT_TABLES
        try:
            with ThreadPoolExecutor(CHECK_THREADS) as pool:
                list(pool.map(check_one, self.names))
        finally:
            oracle_util.TABLES = all_tables


# ----------------------------------------------------------------- stream

def _hot_items_twin(spark, d):
    ev = Q._with_item(Q._events(spark, d).where(F.col("event_type") == "view"))
    return windowed_count(ev, "ts", ["item_id"], "1 hour", "15 minutes")


def _consecutive_fail(spark, d):
    ev = J.stream_events(spark, d, watermark="0 seconds")
    return S.consecutive_fail_stateful(ev, n=2, within_seconds=6 * 3600)


class StreamJob(NamedTuple):
    name: str
    make: Callable  # (spark, sf_dir) -> streaming DataFrame
    mode: str  # output mode
    twin: Callable  # (spark, sf_dir) -> batch DataFrame
    keys: list
    values: list
    # "rows": the same multiset of rows as the twin; "final": update
    # mode re-emits a key as its count grows, so a key's final value
    # is its largest emission
    check: str
    prefix: bool  # drains only the stream's first files


STREAM_JOBS = [
    StreamJob("hot_items_counts", J.hot_items_counts_stream, "update",
              _hot_items_twin, ["window_end_us", "item_id"], ["cnt"],
              "final", prefix=False),
    StreamJob("consecutive_fail_stateful", _consecutive_fail, "append",
              Q.QUERIES["login_fail"],
              ["user_id", "first_fail_us", "last_fail_us"], [], "rows",
              prefix=True),
]


class Mismatch(Exception):
    """A drained stream differs from its batch twin."""


def check_stream(got_rows, want_rows, keys, values, how) -> None:
    def split(r):
        return tuple(r[c] for c in keys), tuple(r[c] for c in values)

    if how == "rows":
        got = sorted(split(r)[0] for r in got_rows)
        want = sorted(split(r)[0] for r in want_rows)
        if got != want:
            raise Mismatch(f"{len(got)} rows streamed, {len(want)} in batch")
        return
    got: dict = {}
    for r in got_rows:
        k, v = split(r)
        got[k] = max(got.get(k, v), v)
    want = dict(split(r) for r in want_rows)
    if got != want:
        raise Mismatch(
            f"{len(got)} keys streamed, {len(want)} in batch, "
            f"{sum(1 for k in got if got[k] != want.get(k))} differ")


class StreamWorkload:
    """Drains every streaming job with ``trigger(availableNow)`` and a
    fixed ``maxFilesPerTrigger`` of 1 (the file replay source's
    default), so each file is one trigger. Jobs marked ``prefix`` read
    ``prefix_dir`` (the first files), the others ``data_dir``."""

    def __init__(self, spark, data_dir: str, prefix_dir: str,
                 ckpt_root: str):
        self.spark, self.dir, self.prefix = spark, data_dir, prefix_dir
        self.ckpt_root = ckpt_root
        self.last_sink: dict[str, str] = {}

    def _drain(self, tracer, job: StreamJob, data_dir: str):
        """Run one job to termination; returns (wall, run span,
        progress list)."""
        sink = f"bench_{job.name}_{uuid.uuid4().hex[:8]}"
        ckpt = os.path.join(self.ckpt_root, sink)
        sp = tracer.open("build")
        sdf = job.make(self.spark, data_dir)
        tracer.close(sp)
        sp = tracer.open("run")
        t0 = time.perf_counter()
        q = (sdf.writeStream.format("memory").queryName(sink)
             .outputMode(job.mode).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        wall = time.perf_counter() - t0
        tracer.close(sp)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = q.recentProgress
        shutil.rmtree(ckpt, ignore_errors=True)
        self.last_sink[job.name] = sink
        return wall, sp, progress

    def warm(self, outcome: Outcome) -> None:
        """Untimed rounds (set-up)."""
        for n in range(WARM_PASSES):
            self.run_pass(Tracer(False), outcome, -1 - n)

    def run_pass(self, tracer, outcome: Outcome, pass_no: int):
        """One round: drain every job once. Returns (wall, per-trigger
        latencies, input rows, pass span, per-job progress)."""
        wall, triggers, rows, progress = 0.0, [], 0, {}
        sp_pass = tracer.open("pass", group=f"pass{pass_no}")
        for job in STREAM_JOBS:
            sp_job = tracer.open("job", group=f"p{pass_no}:{job.name}",
                                 job=job.name)
            res = outcome.record(job.name, lambda: self._drain(
                tracer, job, self._dir(job)))
            tracer.close(sp_job)
            if res is None:
                continue
            w, sp_run, prog = res
            wall += w
            progress[job.name] = (sp_run, prog)
            for p in prog:
                if p["numInputRows"] > 0:
                    rows += p["numInputRows"]
                    triggers.append(p["durationMs"]["triggerExecution"] / 1e3)
        tracer.close(sp_pass)
        return wall, triggers, rows, sp_pass, progress

    def _dir(self, job: StreamJob) -> str:
        return self.prefix if job.prefix else self.dir

    def check(self, outcome: Outcome) -> None:
        """Compare each job's last drained output with its batch twin."""
        for job in STREAM_JOBS:
            sink = self.last_sink.get(job.name)
            if sink is None:
                continue
            outcome.record(f"{job.name} vs batch", lambda: check_stream(
                self.spark.table(sink).collect(),
                job.twin(self.spark, self._dir(job)).collect(),
                job.keys, job.values, job.check))
