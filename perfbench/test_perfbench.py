"""Tests of the benchmark itself: a small run of every workload through the
real entry point, and the checks catching corrupted outputs. Each case
starts Spark, so the file takes a few minutes:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from perfbench import checks, run

BENCH = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
SMALL = ["--seed", "3", "--seconds", "1", "--rows", "2000"]


def _run(*argv, cwd=run.ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *argv], cwd=cwd,
        capture_output=True, text=True, timeout=300)


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _units(metrics) -> dict:
    return {m["name"]: m["unit"] for m in metrics}


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_small_run_prints_every_end_to_end_metric(workload):
    r = _result(_run("--workload", workload, "--trace", "0", *SMALL))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 2
    assert {k: v["unit"] for k, v in r["metrics"].items()} == _units(BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_small_traced_run_prints_every_per_layer_metric():
    r = _result(_run("--workload", "full_scan", "--trace", "1", *SMALL))
    assert r["correct"] and r["failed"] == 0
    assert {k: v["unit"] for k, v in r["metrics"].items()} == _units(BENCH["per_layer"])
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["datasource.files_per_lookup"] >= 1
    assert m["engine.persist_files"] >= 1
    assert m["codecs.bytes_per_tok.tokens.values"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(run.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "full_scan", "--trace", "0", *SMALL, cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_corrupted_outputs_are_caught():
    """A wrong lookup row and a checkpoint missing a file are both caught:
    as failed operations, and by bulk_encode's persisted-checkpoint check."""
    args = argparse.Namespace(workload="point_lookup", seed=4, seconds=1,
                              trace=1, rows=2000)
    work = os.path.join(run.ROOT, ".bench_work", f"test-{os.getpid()}-{time.time_ns()}")
    saved = dict(os.environ)
    run.pin_environment(work)
    bench = run.Bench(args, work)
    try:
        bench.setup()
        assert bench.failed == 0

        hit = next(k for k in bench.keys if k in bench.expected)
        bench.attempt(bench.lookup_op, hit)
        assert bench.failed == 0
        row = bench.expected[hit]
        bench.expected[hit] = dict(row, tokens=row["tokens"][:-1] + [row["tokens"][-1] + 1])
        bench.attempt(bench.lookup_op, hit)
        assert bench.failed == 1

        bench.attempt(bench.scan_op, bench.ckpt)
        assert bench.failed == 1
        assert checks.checkpoint_matches(bench.ckpt, bench.source)
        os.remove(checks.data_files(bench.ckpt)[0])
        bench.attempt(bench.scan_op, bench.ckpt)
        assert bench.failed == 2
        assert not checks.checkpoint_matches(bench.ckpt, bench.source)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        os.environ.clear()
        os.environ.update(saved)


def test_lookup_plan_is_seeded_and_misses_are_absent():
    from wills_columnar_format_spark.data import token_table_arrow

    src = token_table_arrow(3000, seed=9)
    keys, expected = checks.lookup_plan(src, 5, 500)
    assert (keys, expected) == checks.lookup_plan(src, 5, 500)
    assert keys != checks.lookup_plan(src, 6, 500)[0]
    ids = set(src.column("doc_id").to_pylist())
    misses = [k for k in keys if k not in ids]
    assert 0.1 < len(misses) / len(keys) < 0.3
    assert set(expected) == {k for k in keys if k in ids}
    # hot keys repeat
    assert max(keys.count(k) for k in expected) > 10
