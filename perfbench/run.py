"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload events_small --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs
from the seed (cached under ``.perfbench/`` by seed, outside timing),
builds the engine's SparkSession on ``local[nproc]``, warms and checks
every operation, then runs closed-loop passes for ``--seconds`` (at
least one pass). ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Inputs per workload: rows, users, days, Zipf skew, layout and its parts
# (row groups or files). "smoke" is the tiny size the tests run.
SIZES = {
    "full": {
        "events_small": dict(n_rows=100_000, n_users=1_500, days=30,
                             zipf=False, layout="single", parts=1),
        "events_large": dict(n_rows=1_000_000, n_users=15_000, days=30,
                             zipf=True, layout="row_groups", parts=32),
        "events_stream": dict(n_rows=18_000, n_users=15_000, days=9,
                              zipf=True, layout="files", parts=9),
    },
    "smoke": {
        "events_small": dict(n_rows=1_000, n_users=100, days=3,
                             zipf=False, layout="single", parts=1),
        "events_large": dict(n_rows=4_000, n_users=300, days=3,
                             zipf=True, layout="row_groups", parts=4),
        "events_stream": dict(n_rows=900, n_users=100, days=9,
                              zipf=True, layout="files", parts=9),
    },
}

# the pandas state machine drains only the first files of the stream,
# which puts it at about a third of a round's wall; the windowed job's
# 9 triggers keep the pooled median off its slower first triggers
STREAM_PREFIX_FILES = 2

END_TO_END = {  # name -> unit
    "setup_s": "s", "suite_s": "s", "rows_per_s": "1/s",
    "op_p50_s": "s", "op_p90_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.warm_s": "s",
    "session.peak_rss_mb": "MB",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sched_delay_s": "s", "spark.driver_only_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_share": "share", "spark.core_busy": "share",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "sources.input_bytes": "B", "sources.read_s": "s",
    "operators.py_bytes": "B", "operators.py_run_share": "share",
    "operators.py_init_share": "share",
    "streaming.triggers": "count",
    "streaming.add_batch_share": "share",
    "streaming.query_planning_share": "share",
    "streaming.wal_commit_share": "share",
    "streaming.commit_offsets_share": "share",
    "streaming.latest_offset_share": "share",
    "streaming.state_commit_share": "share",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "B",
    "streaming.rows_dropped_by_watermark": "count",
    "trace.overhead_s": "s", "trace.accounted_share": "share",
}


def process_start() -> float:
    """perf_counter() reading at the moment this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - max(age, 0.0)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(SIZES["full"]))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    return p.parse_args(argv)


def jvm_options(tmp: str) -> str:
    return f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def isolate_environment() -> dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and let the workers import the engine."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "local", "ckpt")}
    dirs["warehouse"] = os.path.join(WORK, f"warehouse-{os.getpid()}")
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    # no hsperfdata files in /tmp, JVM temp files in the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_options(dirs["tmp"])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    return dirs


def prepare_inputs(workload: str, seed: int, size: str) -> tuple[str, str]:
    """(sf_dir, prefix sf_dir): the prefix holds the stream's first
    STREAM_PREFIX_FILES files (the same as sf_dir for batch layouts)."""
    import gen

    spec = dict(SIZES[size][workload], seed=seed)
    main = gen.cached_dataset(os.path.join(WORK, "data"),
                              f"{size}-{workload}", **spec)
    if spec["layout"] != "files":
        return main, main
    prefix = os.path.join(main, "prefix")
    if not os.path.exists(os.path.join(prefix, "_DONE")):
        shutil.rmtree(prefix, ignore_errors=True)
        os.makedirs(os.path.join(prefix, "events.parquet"))
        files = sorted(os.listdir(os.path.join(main, "events.parquet")))
        for f in files[:STREAM_PREFIX_FILES]:
            shutil.copy2(os.path.join(main, "events.parquet", f),
                         os.path.join(prefix, "events.parquet"))
        open(os.path.join(prefix, "_DONE"), "w").close()
    return main, prefix


def quantile(values, q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[
        round(q * 100) - 1]


# ---------------------------------------------------------------- layers

def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def spark_layers(tracer, sp_pass, jobs, stages, execs, cores) -> dict:
    """Per-layer figures of one traced pass from its spans and the
    status-store records of the jobs it launched."""
    from layers import sql_metric_totals, union_length

    wall = sp_pass.dur
    build_jobs = 0
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        t = (j.get("submissionTime") or 0) / 1e3
        if tracer.leaf_at(t, sp_pass).name == "build":
            build_jobs += 1
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    st = [s for sid, s in stages.items() if sid in owner]
    run_ms = sum(s["executorRunTime"] for s in st)
    ivs = [(s["submissionTime"] / 1e3, s["completionTime"] / 1e3)
           for s in st if s.get("submissionTime") and s.get("completionTime")]
    sql = sql_metric_totals(execs)
    leaves = [s for s in tracer.spans if s.sid > sp_pass.sid
              and tracer.descends(s, sp_pass)]

    def total(name):
        return sum(s.dur for s in leaves if s.name == name)

    def share(seconds):  # of executor run time
        return seconds * 1e3 / run_ms if run_ms else 0.0

    return {
        "queries.build_s": total("build"),
        "spark.plan_s": total("plan"),
        "spark.exec_s": total("exec"),
        "queries.build_jobs": build_jobs,
        "spark.jobs": len(jobs),
        "spark.stages": len(st),
        "spark.tasks": sum(s["numCompleteTasks"] for s in st),
        "spark.sched_delay_s": sum(
            (s["firstTaskLaunchedTime"] - s["submissionTime"]) / 1e3
            for s in st
            if s.get("firstTaskLaunchedTime") and s.get("submissionTime")),
        "spark.driver_only_s": wall - union_length(
            ivs, sp_pass.start, sp_pass.end),
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
        "spark.gc_share": share(sum(s["jvmGcTime"] for s in st) / 1e3),
        "spark.core_busy": run_ms / 1e3 / (wall * cores),
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in st),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
        "spark.spill_bytes": sum(s["diskBytesSpilled"] for s in st),
        "sources.input_bytes": sum(s["inputBytes"] for s in st),
        "sources.read_s": sql.get("scan time", 0.0),
        "operators.py_bytes": (sql.get("data sent to Python workers", 0)
                               + sql.get("data returned from Python workers",
                                         0)),
        "operators.py_run_share": share(
            sql.get("time to run Python workers", 0)),
        "operators.py_init_share": share(
            sql.get("time to initialize Python workers", 0)),
        "_sql": sql,
    }


def stream_layers(tracer, progress: dict, executor_run_s: float) -> dict:
    """Streaming figures from the progress events of one round; also
    records one child span per trigger under each job's run span."""
    d = {k: 0.0 for k in ("addBatch", "queryPlanning", "walCommit",
                          "commitOffsets", "latestOffset",
                          "triggerExecution")}
    out = {"streaming.triggers": 0, "streaming.state_rows": 0,
           "streaming.state_mem_bytes": 0,
           "streaming.rows_dropped_by_watermark": 0}
    state_commit_ms = 0.0
    for sp_run, prog in progress.values():
        for p in prog:
            dur = p["durationMs"]
            start = _epoch(p["timestamp"])
            tracer.add("trigger", start, start + dur["triggerExecution"] / 1e3,
                       sp_run, rows=p["numInputRows"])
            if p["numInputRows"] > 0:
                out["streaming.triggers"] += 1
            for k in d:
                d[k] += dur.get(k, 0)
            for op in p.get("stateOperators", []):
                state_commit_ms += op.get("commitTimeMs", 0)
                out["streaming.rows_dropped_by_watermark"] += op.get(
                    "numRowsDroppedByWatermark", 0)
        if prog:
            ops = prog[-1].get("stateOperators", [])
            out["streaming.state_rows"] += sum(o["numRowsTotal"] for o in ops)
            out["streaming.state_mem_bytes"] += sum(
                o["memoryUsedBytes"] for o in ops)
    trig = d["triggerExecution"] or 1.0
    out.update({
        "spark.plan_s": d["queryPlanning"] / 1e3,
        "spark.exec_s": d["addBatch"] / 1e3,
        "streaming.add_batch_share": d["addBatch"] / trig,
        "streaming.query_planning_share": d["queryPlanning"] / trig,
        "streaming.wal_commit_share": d["walCommit"] / trig,
        "streaming.commit_offsets_share": d["commitOffsets"] / trig,
        "streaming.latest_offset_share": d["latestOffset"] / trig,
        # commit time is summed over state-store partitions, so it is a
        # share of executor run time, not of trigger time
        "streaming.state_commit_share": (state_commit_ms / 1e3
                                         / executor_run_s
                                         if executor_run_s else 0.0),
        "_trigger_s": d["triggerExecution"] / 1e3,
    })
    return out


# ------------------------------------------------------------- teardown

def shutdown(spark, sampler) -> None:
    """Stop the session, end the JVM and wait for every process this
    run started (the JVM and its Python workers)."""
    from layers import _stat

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    sampler.stop()
    deadline = time.monotonic() + 20
    left = dict(sampler.seen)
    while left:
        left = {p: s for p, s in left.items()
                if (st := _stat(p)) and st[1] == s}
        if not left:
            break
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


# ------------------------------------------------------------------ main

def main(argv=None) -> int:
    t_start = process_start()
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import flink_user_behavior_analysis_spark  # noqa: F401
        from tests import oracle_util  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from layers import RssSampler

    dirs = isolate_environment()
    t = time.perf_counter()
    data, prefix = prepare_inputs(args.workload, args.seed, args.size)
    gen_s = time.perf_counter() - t

    from flink_user_behavior_analysis_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    sampler = RssSampler()
    t = time.perf_counter()
    spark = get_spark(cpus=cores, extra_conf={
        "spark.driver.extraJavaOptions": jvm_options(dirs["tmp"]),
    })
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t
    try:
        return _measure(args, spark, data, prefix, cores, sampler,
                        t_start, gen_s, get_spark_s)
    finally:
        shutdown(spark, sampler)
        shutil.rmtree(dirs["warehouse"], ignore_errors=True)
        shutil.rmtree(dirs["ckpt"], ignore_errors=True)


def _measure(args, spark, data, prefix, cores, sampler, t_start, gen_s,
             get_spark_s) -> int:
    import workloads as W
    from layers import StatusStore, Tracer

    outcome = W.Outcome()
    stream = args.workload == "events_stream"
    if stream:
        wl = W.StreamWorkload(spark, data, prefix, os.path.join(WORK, "ckpt"))
    else:
        names = (W.EVENT_QUERIES if args.workload == "events_small"
                 else W.LARGE_QUERIES)
        wl = W.BatchWorkload(spark, data, names,
                             SIZES[args.size][args.workload]["n_rows"])

    t = time.perf_counter()
    wl.warm(outcome)
    warm_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t_start - gen_s

    store = StatusStore(spark) if args.trace else None
    walls, ops, rates, layer_rows = [], [], [], []
    sampler.active.set()
    t_loop = time.perf_counter()
    n = 0
    tracer = Tracer(bool(args.trace))  # one span tree for the whole run
    # whole passes that fit in --seconds, at least one
    while n == 0 or (time.perf_counter() - t_loop + walls[-1]
                     <= args.seconds):
        tracer_s = tracer.self_time
        res = wl.run_pass(tracer, outcome, n)
        wall, op_lat, rows, sp_pass = res[:4]
        walls.append(wall)
        ops.extend(op_lat)
        rates.append(rows / wall)
        if stream:
            for job, (_, prog) in res[4].items():
                print(f"pass {n} {job} triggers " + " ".join(
                    f"{p['durationMs']['triggerExecution'] / 1e3:.3f}"
                    for p in prog if p["numInputRows"] > 0))
        if args.trace:
            lay = spark_layers(tracer, sp_pass, *store.read(), cores)
            if stream:
                lay.update(stream_layers(tracer, res[4],
                                         lay["spark.executor_run_s"]))
                covered = lay["queries.build_s"] + lay.pop("_trigger_s")
            else:
                lay.update({k: 0 for k in PER_LAYER
                            if k.startswith("streaming.")})
                covered = (lay["queries.build_s"] + lay["spark.plan_s"]
                           + lay["spark.exec_s"])
            lay["trace.overhead_s"] = tracer.self_time - tracer_s
            lay["trace.accounted_share"] = covered / sp_pass.dur
            layer_rows.append(lay)
        n += 1
    sampler.active.clear()
    t = time.perf_counter()
    wl.check(outcome)
    check_s = time.perf_counter() - t

    e2e = {
        "setup_s": setup_s,
        "suite_s": statistics.median(walls),
        "rows_per_s": statistics.median(rates),
        "op_p50_s": quantile(ops, 0.5),
        "op_p90_s": quantile(ops, 0.9),
    }
    print(f"workload {args.workload} seed {args.seed} size {args.size} "
          f"cores {cores} passes {len(walls)} op samples {len(ops)} "
          f"({'triggers' if stream else 'queries'})")
    print(f"inputs {gen_s:.3f} s, checks {check_s:.3f} s (neither timed),"
          f" pass walls " + " ".join(f"{w:.3f}" for w in walls))
    for k, v in e2e.items():
        print(f"  {k:<22} {v:14.4f} {END_TO_END[k]}")
    ratio = outcome.failed / max(outcome.attempted, 1)
    print(f"  {'failed_ratio':<22} {ratio:14.4f} ({outcome.failed}/"
          f"{outcome.attempted})")
    print(f"  {'peak_rss_mb':<22} {sampler.peak / 2**20:14.4f} MB")
    for err in outcome.errors:
        print(f"  FAILED {err}")

    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(
            WORK, "traces", f"{args.workload}-{args.seed}.json"))
        layers = {k: statistics.median(r[k] for r in layer_rows)
                  for k in PER_LAYER
                  if not k.startswith("session.")}
        layers["session.get_spark_s"] = get_spark_s
        layers["session.warm_s"] = warm_s
        layers["session.peak_rss_mb"] = sampler.peak / 2**20
        for k in PER_LAYER:
            print(f"  {k:<36} {layers[k]:16.4f} {PER_LAYER[k]}")
        sql = layer_rows[-1]["_sql"]
        print("  sql metrics: " + ", ".join(
            f"{k}={v:.4g}" for k, v in sorted(sql.items())))
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k]}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": outcome.failed == 0,
                      "attempted": outcome.attempted,
                      "failed": outcome.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
