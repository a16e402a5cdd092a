"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke runs start one Spark session each (about a minute apiece).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_benchmark_json_lists_the_metrics_run_reports():
    spec = _bench_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.SIZES["full"])


@pytest.mark.parametrize("layout,parts", [("single", 1), ("row_groups", 4),
                                          ("files", 3)])
def test_generator_is_deterministic(tmp_path, layout, parts):
    spec = dict(n_rows=3_000, n_users=300, days=3, zipf=True,
                layout=layout, parts=parts)
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_dataset(str(tmp_path / name), seed=seed, **spec)
    same = filecmp.dircmp(tmp_path / "a", tmp_path / "b")
    assert not same.diff_files and not same.left_only and \
        not same.right_only
    if layout == "files":
        sub = same.subdirs["events.parquet"]
        assert not sub.diff_files and len(sub.same_files) == parts
    ev = "events.parquet"
    if layout != "files":
        assert not filecmp.cmp(tmp_path / "a" / ev, tmp_path / "c" / ev,
                               shallow=False)


def test_generator_layouts_and_join_range(tmp_path):
    import pyarrow.parquet as pq

    gen.write_dataset(str(tmp_path), seed=1, n_rows=5_000, n_users=15_000,
                      days=2, zipf=True, layout="row_groups", parts=5)
    events = pq.ParquetFile(tmp_path / "events.parquet")
    assert events.metadata.num_row_groups == 5
    users = events.read(columns=["user_id"]).column(0).to_numpy()
    keys = pq.read_table(tmp_path / "customer.parquet").column(
        "c_custkey").to_numpy()
    assert set(users) <= set(keys)


def test_stream_check_takes_the_final_update_per_key():
    from workloads import Mismatch, check_stream

    got = [{"k": 1, "cnt": 1}, {"k": 1, "cnt": 3}, {"k": 2, "cnt": 2}]
    check_stream(got, [{"k": 1, "cnt": 3}, {"k": 2, "cnt": 2}],
                 ["k"], ["cnt"], "final")
    with pytest.raises(Mismatch):
        check_stream(got, [{"k": 1, "cnt": 4}, {"k": 2, "cnt": 2}],
                     ["k"], ["cnt"], "final")
    with pytest.raises(Mismatch):
        check_stream([{"k": 1}], [{"k": 1}, {"k": 1}], ["k"], [], "rows")


def _last_json(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(run.SIZES["smoke"]))
def test_smoke_run_reports_every_metric(workload):
    traced = _run(ROOT, "--workload", workload, "--seed", "3",
                  "--seconds", "1", "--trace", "1", "--size", "smoke")
    assert traced.returncode == 0, traced.stderr[-3000:]
    out = _last_json(traced.stdout)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.PER_LAYER
    # the traced run also prints every end-to-end metric with its unit
    for name, unit in run.END_TO_END.items():
        assert any(line.split()[:1] == [name] and line.split()[-1] == unit
                   for line in traced.stdout.splitlines()), name

    plain = _run(ROOT, "--workload", workload, "--seed", "3",
                 "--seconds", "1", "--trace", "0", "--size", "smoke")
    assert plain.returncode == 0, plain.stderr[-3000:]
    out = _last_json(plain.stdout)
    assert out["correct"] and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    res = _run(str(tmp_path), "--workload", "events_small", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout
