#!/usr/bin/env python3
"""valor-spark benchmark: the clips pipeline cold and resumed, and the
corpus operators, on one local-mode Spark process sized to this host.

    python3 perfbench/run.py --workload clips_cold --seed 1 --seconds 14 --trace 0

Run from the repository root.  A run sets up once (JVM and session,
Python workers, table registration, one untimed pass on a tiny input) and
reports the time from process start to ready, then repeats the workload until
``--seconds`` have passed, checks every output against an oracle outside
the timed region, and prints one JSON line last.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` additionally runs the workload with
every layer entry point wrapped, reads Spark's status stores, and reports
the per-layer metrics, the tracing overhead, and the scaling efficiency
against a ``local[1]`` run.  Inputs and caches live in ``perfbench/.work``.
"""

from __future__ import annotations

import time

T_START = time.time()
T_START_BOOT = time.clock_gettime(time.CLOCK_BOOTTIME)  # the clock of /proc start times

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import session  # noqa: E402
from measure import Loop  # noqa: E402
from stats import median, summary  # noqa: E402
from tracing import LAYERS, PYTHON_LAYERS, GENERIC, PYTHON  # noqa: E402

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB")]


def _unit(metric: str) -> str:
    if metric in ("jobs", "failed_tasks"):
        return "count"
    return "MB" if metric.endswith("_mb") else "s"


PER_LAYER = (
    [(f"{layer}.{m}", _unit(m)) for layer in LAYERS for m in GENERIC]
    + [(f"{layer}.{m}", _unit(m)) for layer in PYTHON_LAYERS for m in PYTHON]
    + [
        ("audio.payload_read_ratio", "ratio"),
        ("checkpoint.skipped_shard_frac", "ratio"),
        ("trace.overhead_s", "s"),
        ("trace.span_coverage", "ratio"),
        ("scaling_eff", "ratio"),
    ]
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["clips_cold", "clips_resume", "corpus_ops"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; 'tiny' is for the self-test")
    p.add_argument("--plant-fault", action="store_true",
                   help="drop one output row before each check (self-test)")
    return p.parse_args(argv)


def restart(w, cores: int, spark):
    """A new session on ``cores`` CPUs in the running JVM, with the tables
    registered and the tiny-input pass run (the traced run's ``local[1]``
    baseline)."""
    spark.stop()  # the session only: the JVM stays up
    spark = session.start(cores, WORK)
    w.register(spark)
    w.warm_pass(spark)
    return spark


def main(argv=None) -> int:
    args = parse_args(argv)
    session.prepare_env(ROOT, WORK)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import valor_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    cores = session.host_cpus()
    w = WORKLOADS[args.workload](args.workload, WORK, args.seed, args.size, args.plant_fault)
    spark = None
    try:
        # set-up runs from process start (imports, JVM launch, session,
        # registration, the tiny-input pass that starts the Python workers);
        # preparing the (cached) inputs is excluded from it
        phases = {"imports": time.time() - T_START}
        spark = session.start(cores, WORK)
        phases["session"] = time.time() - T_START
        t = time.time()
        w.prepare_data(spark)
        prep_s = time.time() - t
        w.register(spark)
        phases["register"] = time.time() - T_START - prep_s
        if args.trace:
            from trace_run import probed_setup

            with probed_setup(spark, WORK, T_START_BOOT) as setup_py:
                w.warm_pass(spark)
        else:
            w.warm_pass(spark)
        setup_s = time.time() - T_START - prep_s
        conf = session.effective_conf(spark)
        w.prepare_run(spark)
        # untimed full-size iterations before the timed loop
        warm = Loop()
        for _ in range(w.warm_iterations):
            warm.one(spark, w)

        if args.trace:
            from trace_run import traced

            per_layer, trace_report, spark, loop, attempted, failed = traced(
                spark, w, cores, args.seconds, WORK, restart, setup_py
            )
            attempted += warm.attempted
            failed += warm.failed
            out_metrics = {n: {"value": per_layer[n], "unit": u} for n, u in PER_LAYER}
        else:
            loop = Loop()
            loop.run(spark, w, args.seconds)
            attempted, failed = loop.attempted + warm.attempted, loop.failed + warm.failed
        metrics = {
            "setup_s": setup_s,
            "wall_s": median(loop.wall),
            "cpu_s": median(loop.cpu),
            "peak_rss_mb": median(loop.rss),
        }
        if not args.trace:
            out_metrics = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END}
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "config": conf,
            "setup_s": setup_s,
            "prepare_s": prep_s,
            "phases": phases,
            "warm_wall_s": warm.wall,
            "iterations": {"wall_s": loop.wall, "cpu_s": loop.cpu, "peak_rss_mb": loop.rss,
                           "jvm_heap_mb": loop.heap},
            "summary": {k: summary(v) for k, v in (
                ("wall_s", loop.wall),
                ("cpu_s", loop.cpu), ("peak_rss_mb", loop.rss))},
        }
        if args.trace:
            report["trace"] = trace_report
    finally:
        w.close()
        session.shutdown(spark)

    report["attempted"], report["failed"] = attempted, failed
    report["failed_frac"] = failed / attempted
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    path = os.path.join(
        WORK, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print("perfbench config: " + json.dumps(conf, sort_keys=True))
    shown = (
        ("trace.overhead_s", "trace.span_coverage", "scaling_eff")
        if args.trace
        else [n for n, _ in END_TO_END]
    )
    print(
        "perfbench "
        + " ".join(f"{n}={out_metrics[n]['value']:.6g}{out_metrics[n]['unit']}" for n in shown)
        + f" failed_frac={failed / attempted:.6g} attempted={attempted} report={path}"
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
