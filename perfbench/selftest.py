"""Fast self-test of the benchmark: every workload for a few passes on
the fixed documents table and a tiny AACT snapshot, traced and untraced,
through the command line the way the benchmark is run.

    python3 -m pytest perfbench/selftest.py -q -p no:cacheprovider

The file name keeps it out of a plain ``pytest`` run of the repository.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPECS = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPECS["workloads"]]
TINY = ["--seconds", "1", "--passes", "2", "--aact-studies", "300"]


def _cli(args: list[str], cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


_RUNS: dict[tuple, tuple[dict, dict]] = {}


def bench(workload: str, trace: int, seed: int = 1) -> tuple[dict, dict]:
    """(result, details) of one tiny run, cached for the session."""
    key = (workload, trace, seed)
    if key not in _RUNS:
        proc = _cli(["--workload", workload, "--seed", str(seed), "--trace", str(trace), *TINY])
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        _RUNS[key] = json.loads(lines[-1]), json.loads(lines[-2])
    return _RUNS[key]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_run_prints_every_metric_and_is_correct(workload, trace):
    result, details = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, details["errors"]
    assert result["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    expected = {m["name"]: m["unit"] for m in SPECS[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert details["settings"]["SPARK_GRAFT_CPUS"].isdigit()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_spans_nest_and_cover_the_pass(workload):
    _, details = bench(workload, 1)
    assert details["spans"], "no traced pass"
    for pass_span in details["spans"]:

        def check(span):
            children = span["children"]
            for child in children:
                assert span["start"] <= child["start"] <= child["end"] <= span["end"]
                check(child)
            self_time = (span["end"] - span["start"]) - sum(c["end"] - c["start"] for c in children)
            assert self_time >= 0, span["name"]

        check(pass_span)
        wall = pass_span["end"] - pass_span["start"]
        covered = sum(c["end"] - c["start"] for c in pass_span["children"])
        assert covered >= 0.95 * wall


def test_traced_passes_are_balanced_against_warm_up():
    _, details = bench("python_udf", 1)
    n = len(details["pass_walls_s"])
    assert n % 4 == 0 and len(details["traced_pass_s"]) == n // 2


def test_layers_show_the_workload_contrast():
    aact = bench("aact_etl", 1)[0]["metrics"]
    udf = bench("python_udf", 1)[0]["metrics"]
    assert aact["sinks.bytes_written_mb"]["value"] > 0
    assert udf["sinks.bytes_written_mb"]["value"] == 0
    assert udf["python.total_s"]["value"] > 0 and udf["python.nodes"]["value"] > 0
    assert aact["python.total_s"]["value"] == 0 and aact["python.nodes"]["value"] == 0
    assert aact["domain.build_s"]["value"] > 0 and udf["queries.build_s"]["value"] > 0


def test_reset_peak_rss_forgets_earlier_peaks():
    import tracing

    block = b"\x01" * (200 * 2**20)
    del block
    before = tracing.tree_peak_rss_mb()
    if not tracing.reset_peak_rss():
        pytest.skip("the kernel refuses clear_refs; runs sample VmRSS instead")
    assert tracing.tree_peak_rss_mb() < before - 150


def test_seed_changes_input_and_order_but_not_correctness():
    first, first_details = bench("aact_etl", 0, seed=1)
    second, second_details = bench("aact_etl", 0, seed=2)
    assert first["correct"] and second["correct"]
    assert first_details["input_digest"] != second_details["input_digest"]
    assert first_details["pass_orders"] != second_details["pass_orders"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _cli(["--workload", "aact_etl", "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
