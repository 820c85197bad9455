"""Smoke tests for the benchmark itself, at a tiny corpus size.

    python3 -m pytest perfbench/test_smoke.py -q

Each run starts its own Spark session, so the module takes a few
minutes; it is not part of the repository's ``tests/`` suite.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
ALL_WORKLOADS = ("roundtrip_small", "extract_job_long", "minhash_dedup")


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_benchmark_json_names_listed_workloads():
    assert {w["name"] for w in BENCH["workloads"]} <= set(ALL_WORKLOADS)
    assert "setup_s" in {m["name"] for m in BENCH["end_to_end"]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_every_metric_printed_and_nothing_fails(workload, trace):
    res = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "0",
               "--trace", str(trace), "--scale", "0.02")
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    if workload == "extract_job_long":
        assert "processed_this_run=0" in res.stdout


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(tmp_path, "--workload", "minhash_dedup", "--seed", "1", "--seconds", "1",
               "--trace", "0")
    assert res.returncode != 0
    assert not res.stdout.strip()


@pytest.fixture(scope="module")
def spark_work(tmp_path_factory):
    """A pinned session and work directory, as run.py sets them up."""
    from perfbench import run

    work = tmp_path_factory.mktemp("perfbench")
    run.pin_env(work)
    spark, _, _ = run.start_session()
    yield spark, work
    run.stop_session(spark)


@pytest.mark.parametrize("workload,profile,n_docs", [
    ("roundtrip_small", "small", 200),
    ("extract_job_long", "long", 8),
    ("minhash_dedup", "neardup", 300),
])
def test_check_catches_a_corrupted_reference(spark_work, workload, profile, n_docs):
    from perfbench import corpus
    from perfbench.workloads import WORKLOADS

    spark, work = spark_work
    corpus_dir = str(work / workload)
    corpus.generate(profile, n_docs, 3, corpus_dir)
    wl = WORKLOADS[workload](spark, corpus_dir, str(work))
    wl.prepare()
    wl.run_pass(checked=True)
    assert wl.attempted > 0 and wl.failed == 0
    key = next(iter(wl.expected))
    wl.expected[key] = "corrupted"
    wl.run_pass(checked=True)
    assert wl.failed == 1
