"""Tiny-size runs of every workload through the benchmark's command line,
each exercising all of its correctness checks."""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)

READS = {"search", "ann"}
BUILD = {"chunk_count", "embedding_sample", "dedup_precision"}
EXPECTED = {
    "bulk_ingest": BUILD | {"build"},
    "search_serve": BUILD | READS,
    "ingest_while_serving": BUILD | READS | {"admit"},
}


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "searchbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [
    ("bulk_ingest", "0"), ("search_serve", "0"),
    ("ingest_while_serving", "0"), ("search_serve", "1")])
def test_tiny_run_checks_everything(tmp_path, workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, p.stdout
    assert result["attempted"] >= len(EXPECTED[workload])
    (checks,) = [ln for ln in lines if ln.startswith("checks:")]
    want = EXPECTED[workload] | (BUILD | READS | {"admit"}
                                 if trace == "1" else set())
    assert set(checks.split()[1:]) == want
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if workload in {w["name"] for w in bench["workloads"]}:
        declared = bench["per_layer" if trace == "1" else "end_to_end"]
        assert ({m["name"]: m["unit"] for m in declared}
                == {k: m["unit"] for k, m in result["metrics"].items()})


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    shutil.copytree(HERE, tmp_path / "searchbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "search_serve", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
