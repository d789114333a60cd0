"""Smoke tests for the benchmark itself: metric schema, names, units and
the output checks, on the tiny input size.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.workloads import CheckFailed, KgBuild  # noqa: E402

WORKLOADS = ["kg_build", "kg_fixpoint"]
KEYS = {"correct", "attempted", "failed", "metrics"}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=900,
    )


@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_tiny_run_reports_every_metric(trace, kind):
    proc = _run(ROOT, "--workload", "all", "--seed", "3", "--seconds", "1",
                "--size", "tiny", "--trace", str(trace))
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == KEYS
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 3
    units = {m["name"]: m["unit"] for m in _spec()[kind]}
    want = {f"{w}.{name}": unit for w in WORKLOADS for name, unit in units.items()}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for key, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), key
    if trace == 0:
        for key, m in result["metrics"].items():
            assert m["value"] > 0, key
    else:
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        # each workload exercises its own layers and leaves the others idle
        assert metrics["kg_build.mentions.rows_out"] > 0
        assert metrics["kg_build.checkpoint.batches_skipped_on_resume"] == 1
        assert metrics["kg_build.ontology.jobs"] == 0
        assert metrics["kg_fixpoint.ontology.rounds"] >= 2
        assert metrics["kg_fixpoint.mentions.jobs"] == 0
        assert metrics["kg_fixpoint.checkpoint.jobs"] == 0
    run = json.loads(proc.stdout.strip().splitlines()[-2])["run"]
    for key in ("nproc", "master", "spark_version", "driver_java_options"):
        assert run[key], key


def test_oracle_closed_forms():
    assert inputs.tree_closure_pairs(0) == 0
    assert inputs.tree_closure_pairs(1) == 4
    assert inputs.tree_closure_pairs(2) == 4 + 2 * 16


def test_oracle_resolves_the_ladder():
    spans = [
        ("d1", "text", "hash join scan", None),
        ("d1", "media", None, "media://d1/0"),
        ("d1", "text", "zzz", None),
    ]
    got = {o for _, _, o in inputs.expected_triples(spans)}
    terms = "https://nexus-forge-spark.org/terms/"
    # "hash join", "join" and "scan" exact; "hash" by containment in the
    # shortest label ("hash join"); "join scan" and "zzz" unresolved
    assert got == {
        terms + "HashJoin",
        terms + "Join",
        terms + "Scan",
        "media://d1/0",
    }


def test_pin_mismatch_fails_the_check():
    expected = {"docs": 1, "triples": 2, "h1": 3, "h2": 4}
    KgBuild("unused", expected, {"triples": 2, "h1": 3, "h2": 4})
    with pytest.raises(CheckFailed):
        KgBuild("unused", expected, {"triples": 2, "h1": 3, "h2": 5})


def test_failed_verify_counts_as_a_failed_check():
    from perfbench.run import Counter

    ops = Counter()
    ops.verify(True, "inside the tolerance")
    ops.verify(False, "outside the tolerance")
    assert (ops.attempted, ops.failed) == (2, 1)


def test_exits_nonzero_without_the_program():
    bare = os.path.join(inputs.DATA_DIR, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(
        BENCH_DIR,
        os.path.join(bare, "perfbench"),
        ignore=shutil.ignore_patterns(".data", "__pycache__"),
    )
    try:
        proc = _run(bare, "--workload", "kg_build", "--seed", "1", "--seconds", "1")
    finally:
        shutil.rmtree(bare)
    assert proc.returncode != 0
    last = (proc.stdout.strip().splitlines() or [""])[-1]
    assert '"correct"' not in last
