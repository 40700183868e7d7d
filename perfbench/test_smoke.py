"""Smoke tests of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

- every workload, traced and untraced, at the tiny size: the run succeeds
  and prints exactly the metrics BENCHMARK.json names, each with its unit;
- every correctness check fires on a deliberately corrupted output;
- without the engine next to it, the benchmark exits non-zero and prints no
  result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    r = _run("--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny")
    assert r.returncode == 0, r.stdout + r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        name: m["unit"] for name, m in out["metrics"].items()}
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    for line in ("setup_s", "per_s", "peak_rss_mb", "fail_ratio"):
        assert line in r.stdout


def test_without_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    r = _run("--workload", "discovery", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


# ---------------------------------------------------------------- checks

def _scheduled():
    return pd.DataFrame({
        "wave": [0, 0, 1],
        "canonical_url": ["https://a.example/", "https://a.example/p1",
                          "https://b.example/p2"],
        "host": ["a.example", "a.example", "b.example"],
    })


def _robots():
    return pd.DataFrame({
        "host": ["a.example", "b.example"],
        "disallow_prefixes": [["/private"], []],
        "crawl_delay_ms": [0, 5000],
    })


def test_clean_outputs_pass():
    assert checks.budget_violations(_scheduled(), _robots(), 2, 10_000, 5) == 0
    assert checks.robots_violations(_scheduled(), _robots()) == 0


def test_budget_check_fires():
    over = pd.concat([_scheduled(), pd.DataFrame({
        "wave": [1, 1], "canonical_url": ["https://b.example/p3", "https://b.example/p4"],
        "host": ["b.example", "b.example"]})])
    # b.example's 5 s crawl delay leaves 10_000 // 5000 = 2 per wave; it gets 3
    assert checks.budget_violations(over, _robots(), 10, 10_000, None) == 1
    # a global wave limit of 1: wave 0 schedules 2
    assert checks.budget_violations(_scheduled(), _robots(), 10, 10_000, 1) == 1


def test_robots_check_fires():
    bad = pd.concat([_scheduled(), pd.DataFrame({
        "wave": [1], "canonical_url": ["https://a.example/private/p5"],
        "host": ["a.example"]})])
    assert checks.robots_violations(bad, _robots()) == 1


def test_text_check_fires():
    golden = pd.DataFrame({"url_hash": [1, 2], "text": ["alpha", "bravo"]})
    assert checks.text_mismatches(golden, golden) == 0
    corrupted = golden.assign(text=["alpha", "bravo "])
    assert checks.text_mismatches(corrupted, golden) == 1
    unknown = pd.DataFrame({"url_hash": [3], "text": ["x"]})
    assert checks.text_mismatches(unknown, golden) == 1


def test_digest_check_fires():
    order = pd.DataFrame({"wave": [0, 0], "seq": [1, 2], "canonical_url": ["a", "b"]})
    swapped = order.assign(canonical_url=["b", "a"])
    d = checks.frame_digest(order)
    assert checks.digest_disagreements([d, checks.frame_digest(order)]) == 0
    assert checks.digest_disagreements([d, checks.frame_digest(swapped)]) == 1
    # sorted digests ignore row order, not content
    assert checks.frame_digest(order.iloc[::-1], ["seq"]) == checks.frame_digest(order, ["seq"])


def test_pair_check_fires():
    pairs = pd.DataFrame({"id_a": [1, 2], "id_b": [2, 3], "jaccard": [0.9, 0.8]})
    assert checks.pair_violations(pairs, 0.8) == 0
    assert checks.pair_violations(pairs.assign(jaccard=[0.9, 0.79]), 0.8) == 1
    assert checks.pair_violations(pairs.assign(id_a=[1, 3]), 0.8) == 1
