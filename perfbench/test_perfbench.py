"""Self-test of the benchmark at tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

The statistics and the metric declarations are checked directly; the
benchmark itself runs as a subprocess on tiny inputs, once clean and once
with a planted wrong output (one row dropped before every check).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402
from stats import median, quartiles  # noqa: E402
from tracing import parse_metric  # noqa: E402


def test_median_of_even_count_is_mean_of_middle_pair():
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([1.0, 10.0]) == 5.5
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_quartiles():
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)
    q1, q2, q3 = quartiles([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert (q1, q2, q3) == (2.75, 5.5, 8.25)


def test_parse_metric():
    assert parse_metric("3.6 s") == 3.6
    assert parse_metric("total (min, med, max (stageId: taskId))\n7.5 s (1.8 s, 1.9 s)") == 7.5
    assert parse_metric("237.0 KiB") == 237.0 * 1024
    assert parse_metric("12 ms") == 0.012


def test_benchmark_json_declares_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _run(*extra) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "3", "--seconds", "1",
         "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, declared: list[tuple[str, str]]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {name for name, _ in declared}
    for name, unit in declared:
        m = result["metrics"][name]
        assert m["unit"] == unit, name
        assert isinstance(m["value"], (int, float)), name


@pytest.mark.parametrize("workload", ["clips_cold", "clips_resume", "corpus_ops"])
def test_every_end_to_end_metric_prints_with_its_unit(workload):
    result = _run("--workload", workload, "--trace", "0")
    _assert_metrics(result, END_TO_END)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert all(result["metrics"][name]["value"] > 0 for name, _ in END_TO_END)


def test_traced_run_prints_every_per_layer_metric():
    result = _run("--workload", "clips_cold", "--trace", "1")
    _assert_metrics(result, PER_LAYER)
    assert result["correct"]
    m = result["metrics"]
    assert m["trace.span_coverage"]["value"] >= 0.9
    assert m["audio.jobs"]["value"] > 0 and m["audio.arrow_mb"]["value"] > 0
    assert m["similarity.jobs"]["value"] == 0


@pytest.mark.parametrize("workload", ["clips_cold", "corpus_ops"])
def test_planted_wrong_output_counts_as_failed(workload):
    result = _run("--workload", workload, "--trace", "0", "--plant-fault")
    assert not result["correct"]
    assert result["failed"] >= 1 and result["failed"] <= result["attempted"]
