"""Self-checks of the benchmark (not of the engine).

    python3 -m pytest perfbench -q -p no:cacheprovider

The two end-to-end checks start Spark on a tiny corpus (about a minute
each)."""

from __future__ import annotations

import json
import re
import shutil
import subprocess
from pathlib import Path

import pytest

from perfbench import harness, report
from perfbench.queries import Query
from perfbench.workloads import same_answer

ROOT = Path(__file__).resolve().parents[1]
RUN = ["python3", "perfbench/run.py"]
TINY = ["--seed", "3", "--seconds", "1", "--docs", "600"]
METRIC_LINE = re.compile(r"^metric (\S+) = (\S+) (\S+)")


def _run(args, cwd=ROOT):
    return subprocess.run(RUN + args, cwd=cwd, capture_output=True,
                          text=True, timeout=600)


def _printed(stdout: str) -> dict[str, str]:
    return {m.group(1): m.group(3) for line in stdout.splitlines()
            if (m := METRIC_LINE.match(line))}


def test_benchmark_json_declares_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == report.END_TO_END
    assert layer == report.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["serve", "live"]


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 49)]
    v, pct = harness.tail(xs)
    assert sum(x > v for x in xs) == 10 and pct == 79
    assert harness.tail([1.0, 2.0]) == (2.0, 100)


def test_same_answer_is_rank_and_value_exact():
    q = Query("k", "search", "a b")
    want = [(7, 1.2345), (3, 1.0)]
    assert same_answer(q, [(7, 1.2345), (3, 1.0)], want)
    assert not same_answer(q, [(3, 1.0), (7, 1.2345)], want)
    assert not same_answer(q, [(7, 1.2355), (3, 1.0)], want)
    p = Query("p", "phrase", "a b")
    assert not same_answer(p, [(7, 2)], [(7, 1)])


@pytest.mark.parametrize("workload,trace", [("serve", 0), ("live", 1)])
def test_tiny_run_prints_every_metric(workload, trace):
    out = _run(["--workload", workload, "--trace", str(trace)] + TINY)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] > 0
    want = report.PER_LAYER if trace else report.END_TO_END
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want
    printed = _printed(out.stdout)
    for name, unit in {**report.END_TO_END, **want}.items():
        assert printed.get(name) == unit, name
    assert float(re.search(r"^metric error_rate = (\S+)", out.stdout,
                           re.M).group(1)) == 0


def test_corrupted_oracle_answer_counts_as_error():
    out = _run(["--workload", "serve", "--trace", "0", "--corrupt-oracle"]
               + TINY)
    assert out.returncode == 1
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert not result["correct"] and result["failed"] > 0
    assert float(re.search(r"^metric error_rate = (\S+)", out.stdout,
                           re.M).group(1)) > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(["--workload", "serve", "--seed", "1", "--seconds", "1",
                "--trace", "0"], cwd=tmp_path)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
