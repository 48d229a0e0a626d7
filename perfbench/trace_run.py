"""The traced run: the set-up's tiny-input pass with the Python probe on
(the Python workers start there), then pairs of an untraced and a traced
iteration in alternating order (so JIT warm-up and machine drift fall on
both alike), then the per-layer roll-up from Spark's status stores and the
probe records, and an untraced ``local[1]`` iteration for the scaling
efficiency."""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

import pyprobe
from measure import Loop
from stats import median
from tracing import (
    LAYERS,
    PYTHON_LAYERS,
    Patcher,
    Tracer,
    layer_metrics,
    read_jobs,
    read_scans,
    spans_json,
    wait_listener_bus,
)

COVERAGE_MIN = 0.9


def _probe_dir(work: str) -> str:
    path = os.path.join(work, "probe", f"{os.getpid()}")
    os.makedirs(path, exist_ok=True)
    return path


@contextmanager
def probed_setup(spark, work: str, since_boot: float):
    """Run the body (the set-up's tiny-input pass) with the layer wrappers
    and the Python probe on.  The Python workers start during that pass, so
    this is where their start-up is measured: the yielded dict is filled
    with ``{layer: py_init_s}`` on exit, counting every worker that started
    after ``since_boot`` (``CLOCK_BOOTTIME`` seconds, the clock of the
    process start times in ``/proc``)."""
    patcher = Patcher()
    tracer = Tracer(
        spark.sparkContext, "setup", os.path.join(_probe_dir(work), "setup.jsonl"), since_boot
    )
    patcher.tracer = tracer
    init: dict[str, float] = {}
    patcher.install()
    tracer.start("setup")
    try:
        yield init
    finally:
        tracer.finish()
        patcher.uninstall()
    for tag, rec in pyprobe.read(tracer.probe_path).items():
        layer = tag.split("|", 1)[1]
        init[layer] = init.get(layer, 0.0) + rec["py_init_s"]


def traced(spark, w, cores: int, seconds: float, work: str, restart, setup_py: dict):
    """Returns (per-layer metrics, report, spark, untraced loop, attempted,
    failed).  ``setup_py``: the set-up's ``{layer: py_init_s}``."""
    patcher = Patcher()
    tracers: list[Tracer] = []
    probe_dir = _probe_dir(work)

    def make_tracer(i: int) -> Tracer:
        tracer = Tracer(spark.sparkContext, f"t{i}", os.path.join(probe_dir, f"t{i}.jsonl"))
        tracers.append(tracer)
        patcher.tracer = tracer
        return tracer

    def traced_one(i: int) -> None:
        # the wrappers exist only during traced iterations
        patcher.install()
        try:
            loop.one(spark, w, make_tracer(i))
        finally:
            patcher.uninstall()

    # pairs in alternating order (untraced first, then traced first), so
    # the workload's remaining warm-up does not fall on one side only
    untraced, loop = Loop(), Loop()
    deadline = time.perf_counter() + seconds
    i = 0
    while i == 0 or time.perf_counter() < deadline:
        if i % 2 == 0:
            untraced.one(spark, w)
            traced_one(i)
        else:
            traced_one(i)
            untraced.one(spark, w)
        i += 1
    wait_listener_bus(spark.sparkContext)
    jobs = read_jobs(spark.sparkContext, "t")
    scans = read_scans(spark, "t", w.scan_tables())

    runs = []
    failed = loop.failed
    for tracer, out in zip(tracers, loop.outputs):
        layers, coverage = layer_metrics(tracer, jobs, scans, pyprobe.read(tracer.probe_path))
        if coverage < COVERAGE_MIN:
            print(f"perfbench: layer spans cover only {coverage:.1%} of run {tracer.run_id}")
            failed += 1
        runs.append({
            "run": tracer.run_id,
            "coverage": coverage,
            "layers": layers,
            "ratios": w.ratios(out, scans.get(tracer.tag("audio"), {})) if out is not None else {},
            "spans": spans_json(tracer),
        })

    shutil.rmtree(probe_dir, ignore_errors=True)

    # single-threaded baseline of the same workload (untraced)
    spark = restart(w, 1, spark)
    single = Loop()
    single.one(spark, w)
    wall_n = median(untraced.wall)
    scaling_eff = single.wall[0] / (cores * wall_n)

    per_layer = {
        f"{layer}.{m}": median([r["layers"][layer][m] for r in runs])
        for layer in LAYERS
        for m in runs[0]["layers"][layer]
    }
    # workers are reused across iterations: they start in the set-up
    for layer in PYTHON_LAYERS:
        per_layer[f"{layer}.py_init_s"] = setup_py.get(layer, 0.0)
    for key in ("audio.payload_read_ratio", "checkpoint.skipped_shard_frac"):
        per_layer[key] = median([r["ratios"].get(key, 0.0) for r in runs])
    per_layer["trace.overhead_s"] = median(loop.wall) - wall_n
    per_layer["trace.span_coverage"] = median([r["coverage"] for r in runs])
    per_layer["scaling_eff"] = scaling_eff

    report = {
        "traced_wall_s": loop.wall,
        "untraced_wall_s": untraced.wall,
        "overhead_s": per_layer["trace.overhead_s"],
        "local1_wall_s": single.wall[0],
        "scaling_eff": scaling_eff,
        "setup_py_init_s": setup_py,
        "runs": runs,
        "jobs": [{k: v for k, v in j.items() if k != "stage_metrics"} for j in jobs],
        "per_layer": per_layer,
    }
    os.makedirs(os.path.join(work, "trace"), exist_ok=True)
    path = os.path.join(work, "trace", f"{w.name}-seed{w.seed}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(f"perfbench trace: {path}")
    return (
        per_layer,
        {k: v for k, v in report.items() if k not in ("runs", "jobs")} | {"path": path},
        spark,
        untraced,
        untraced.attempted + loop.attempted + single.attempted,
        untraced.failed + failed + single.failed,
    )
