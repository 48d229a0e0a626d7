"""The benchmark's SparkSession: one local-mode process fitted to this host.

Parallelism comes from the CPUs this process may use, not from a fixed core
count, and the driver heap from the host's memory.  Every directory Spark,
the JVM and the Python workers write to lies under the work directory.
"""

from __future__ import annotations

import os
import time

from proctree import tree


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_gb() -> int:
    """An eighth of physical memory, rounded, between 1 and 4 GiB: the
    working sets here are small, the host is shared, and four Python
    workers run beside the JVM."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return max(1, min(4, round(total / 8)))


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and its Python workers inherit.  Must run before
    pyspark is imported: its gateway launcher writes into ``TMPDIR``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the JVMs' perf-data files would go to /tmp, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # workers import valor_spark, and in the traced run the probe module
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, os.path.dirname(os.path.abspath(__file__)), os.environ.get("PYTHONPATH", "")]
    )
    # one BLAS thread per Python worker
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"


def spark_conf(cores: int, work: str) -> dict[str, str]:
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{driver_memory_gb()}g",
        # a fixed heap (never shrunk after the full collection before each
        # iteration) with a fixed young generation: the collector's schedule
        # then follows the bytes allocated, not its pause-time feedback, so
        # the heap's peak use in an iteration repeats from run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{driver_memory_gb()}g "
            f"-Xmn{driver_memory_gb() * 256}m -XX:-UsePerfData"
        ),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
        "spark.task.cpus": "1",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of a run back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def start(cores: int, work: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in spark_conf(cores, work).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def effective_conf(spark) -> dict[str, str]:
    keys = list(spark_conf(1, "")) + ["spark.default.parallelism"]
    sc_conf = spark.sparkContext.getConf()
    out = {k: sc_conf.get(k) for k in keys if sc_conf.get(k) is not None}
    out["spark.default.parallelism"] = str(spark.sparkContext.defaultParallelism)
    out["spark.version"] = spark.version
    return out


def shutdown(spark) -> None:
    """Stop the session, end the JVM and wait until every descendant
    process (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    kids = [p for p in tree() if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}") and _not_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"
