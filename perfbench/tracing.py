"""Per-layer tracing of one workload iteration, from outside the program.

The benchmark replaces each layer's entry point (a module or class
attribute) with a wrapper.  A wrapper records a span (name, start, end,
parent, run id) and sets the Spark job group to ``<run>|<layer>``.  Spark
defers work until an action runs, so the job group of a layer that builds a
lazy plan stays in effect after its entry point returns: the actions that
follow execute that layer's plan and are charged to it, until the next
layer's entry point.  A checkpoint *write* opens a nested span but keeps the
producing layer's job group, because the write job computes the producer's
plan; a checkpoint *read-back* is a layer of its own.

After the run the benchmark reads Spark's status stores (per-job stage
metrics, and the file bytes each SQL execution's scans selected) and the
worker-side Python-boundary records of ``pyprobe``, and rolls them up per
layer.
Each instant of the iteration belongs to exactly one layer: to the layer of
the Spark job running then, or, between jobs, to the innermost open span.
So the layers' ``wall_s`` partition the iteration's wall time, and
``driver_s`` is the part of a layer's time no Spark job covers.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

LAYERS = [
    "pipeline.fingerprint",
    "engine.row_rules",
    "constraints",
    "audio",
    "drift",
    "checkpoint",
    "engine.verdicts",
    "similarity",
    "dedup",
    "text",
]
PYTHON_LAYERS = ["audio", "similarity", "dedup", "text"]


class Tracer:
    """Spans and job groups of one traced iteration (one run id)."""

    def __init__(self, sc, run_id: str, probe_path: str, since_boot: float | None = None):
        self.sc = sc
        self.run_id = run_id
        self.probe_path = probe_path  # worker-side Python boundary records
        # workers started after this instant (CLOCK_BOOTTIME) count their
        # start-up in py_init_s
        self.since_boot = (
            time.clock_gettime(time.CLOCK_BOOTTIME) if since_boot is None else since_boot
        )
        self.spans: list[dict] = []
        self.root: dict | None = None
        self.sticky: dict | None = None
        self.nested_stack: list[dict] = []
        self.audio_frames: list = []  # frames built by the audio layer

    def _open(self, name: str, parent: dict | None) -> dict:
        span = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "id": len(self.spans),
            "nested": False,
        }
        self.spans.append(span)
        return span

    def start(self, workload: str) -> None:
        self.root = self._open(workload, None)

    def finish(self) -> None:
        now = time.time()
        if self.sticky is not None:
            self.sticky["end"] = now
        self.root["end"] = now
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def enter(self, layer: str) -> None:
        """Make ``layer`` the active layer from now until the next entry."""
        if self.sticky is not None and self.sticky["name"] == layer:
            return
        if self.nested_stack:
            # a producer called inside a nested span is charged to the
            # enclosing producer's job group like the rest of that span
            return
        if self.sticky is not None:
            self.sticky["end"] = time.time()
        self.sticky = self._open(layer, self.root)
        # the description tags the SQL executions the layer starts
        tag = self.tag(layer)
        self.sc.setJobGroup(tag, tag, False)

    def tag(self, layer: str | None = None) -> str:
        return f"{self.run_id}|{layer or self.sticky['name']}"

    @contextmanager
    def nested(self, layer: str):
        parent = self.nested_stack[-1] if self.nested_stack else self.sticky or self.root
        span = self._open(layer, parent)
        span["nested"] = True
        self.nested_stack.append(span)
        try:
            yield
        finally:
            self.nested_stack.pop()
            span["end"] = time.time()


class Patcher:
    """Installs the wrappers around every layer entry point, and removes
    them again.  Without an active tracer a wrapper only forwards."""

    def __init__(self):
        self.tracer: Tracer | None = None
        self._saved: list[tuple[object, str, object]] = []

    def _sticky(self, layer: str, orig, pick_layer=None, remember=None):
        patcher = self

        def wrapper(*args, **kwargs):
            tr = patcher.tracer
            if tr is None:
                return orig(*args, **kwargs)
            tr.enter(pick_layer(tr, args) if pick_layer else layer)
            out = orig(*args, **kwargs)
            if remember is not None:
                remember(tr, out)
            return out

        return wrapper

    def _nested(self, layer: str, orig):
        patcher = self

        def wrapper(*args, **kwargs):
            tr = patcher.tracer
            if tr is None:
                return orig(*args, **kwargs)
            with tr.nested(layer):
                return orig(*args, **kwargs)

        return wrapper

    def _set(self, owner, name: str, value) -> None:
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def install(self) -> None:
        from valor_spark.operators import constraints as C
        from valor_spark.operators import dedup as DD
        from valor_spark.operators import drift as D
        from valor_spark.operators import similarity as SIM
        from valor_spark.operators import text as TX
        from valor_spark.plans import pipeline as P
        from valor_spark.plans.checkpoint import RunManifest

        def validate_layer(tr: Tracer, args) -> str:
            # the pipeline validates twice: its row rules, and the audio
            # invariant frame built by with_audio_invariant
            frame = args[0] if args else None
            if any(frame is f for f in tr.audio_frames):
                return "audio"
            return "engine.row_rules"

        def remember_audio(tr: Tracer, out) -> None:
            tr.audio_frames.append(out)

        for owner, name, layer in (
            (P, "shard_fingerprint_frame", "pipeline.fingerprint"),
            (C, "uniqueness_violations", "constraints"),
            (C, "referential_violations", "constraints"),
            (D, "drift_report", "drift"),
            (P, "_per_shard_metrics", "checkpoint"),
            (RunManifest, "read_violations", "checkpoint"),
            (SIM, "knn_graph", "similarity"),
            (DD, "minhash_lsh_pairs", "dedup"),
            (TX, "winnow_pairs", "text"),
        ):
            self._set(owner, name, self._sticky(layer, getattr(owner, name)))
        self._set(P, "validate", self._sticky("", P.validate, pick_layer=validate_layer))
        self._set(
            P,
            "with_audio_invariant",
            self._sticky("audio", P.with_audio_invariant, remember=remember_audio),
        )
        for name in ("write_violations", "append"):
            self._set(RunManifest, name, self._nested("checkpoint", getattr(RunManifest, name)))
        from pyspark.sql.classic.dataframe import DataFrame

        for name in ("mapInArrow", "mapInPandas"):
            self._set(DataFrame, name, self._probed(getattr(DataFrame, name)))

    def _probed(self, orig):
        """Wrap the function handed to Spark with the worker-side probe,
        tagged with the layer that builds the plan."""
        import pyprobe

        patcher = self

        def wrapper(df, func, *args, **kwargs):
            tr = patcher.tracer
            if tr is None or tr.sticky is None:
                return orig(df, func, *args, **kwargs)
            probed = pyprobe.wrap(func, tr.tag(), tr.probe_path, tr.since_boot)
            return orig(df, probed, *args, **kwargs)

        return wrapper

    def uninstall(self) -> None:
        while self._saved:
            owner, name, value = self._saved.pop()
            setattr(owner, name, value)
        self.tracer = None


# ---------------------------------------------------------------------------
# reading Spark's status stores
# ---------------------------------------------------------------------------

_INTS = re.compile(r"-?\d+")
_VALUE = re.compile(r"([\d.]+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")
_SCALE = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ('3.6 s', 'total (...)\\n7.5 s (...)')
    in seconds or bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(line)
    return float(m.group(1)) * _SCALE[m.group(2)] if m else 0.0


def _opt(opt):
    return opt.get() if opt.isDefined() else None


def wait_listener_bus(sc) -> None:
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(2.0)


def read_jobs(sc, groups_prefix: str) -> list[dict]:
    """Every job whose group starts with ``groups_prefix``, with the
    metrics of its executed stages."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        group = _opt(j.jobGroup())
        if group is None or not group.startswith(groups_prefix):
            continue
        start, end = _opt(j.submissionTime()), _opt(j.completionTime())
        out.append(
            {
                "id": j.jobId(),
                "group": group,
                "start": start.getTime() / 1000.0 if start else None,
                "end": end.getTime() / 1000.0 if end else None,
                "stages": [int(s) for s in _INTS.findall(j.stageIds().toString())],
                "failed_tasks": j.numFailedTasks(),
            }
        )
    seen: set[int] = set()
    for job in out:
        job["stage_metrics"] = []
        for sid in job["stages"]:
            if sid in seen:
                continue
            seen.add(sid)
            st = _read_stage(store, sid)
            if st is not None:  # None: skipped, its output was reused
                job["stage_metrics"].append(st)
    return out


def _read_stage(store, sid: int) -> dict | None:
    try:
        s = store.lastStageAttempt(sid)
    except Exception:
        return None
    if s.status().toString() == "SKIPPED":
        return None
    return {
        "run_s": s.executorRunTime() / 1000.0,
        "cpu_s": s.executorCpuTime() / 1e9,
        "shuffle_write_bytes": s.shuffleWriteBytes(),
        "spill_bytes": s.diskBytesSpilled(),
        "failed_tasks": s.numFailedTasks() + s.numKilledTasks(),
        "attempt": s.attemptId(),
    }


_READ_SCHEMA = re.compile(r"ReadSchema: struct<(.*?)>(?:,|$)")


_BUCKETS = re.compile(r"SelectedBucketsCount: (\d+) out of (\d+)")


def read_scans(spark, prefix: str, tables: dict) -> dict[str, dict[str, float]]:
    """``{execution description: {table: bytes}}``: the bytes each parquet
    scan of a SQL execution reads.  Spark's task-level input bytes do not
    count parquet column reads here, so the benchmark derives them from the
    plan: for a table in ``tables`` (``{name: {"file_bytes", "columns":
    {col: bytes}}}``) the on-disk bytes of the columns in the scan's read
    schema, times the share of buckets it selects; for any other scan the
    file bytes it selected ("size of files read").  A plan the engine
    materializes through a lazy ``localCheckpoint`` runs under a later
    execution, so its driver-side scan metrics may be missing, while the
    plan itself is always recorded."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out: dict[str, dict[str, float]] = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        tag = e.description()
        if not tag.startswith(prefix):
            continue
        eid = e.executionId()
        values = None
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            name = node.name()
            if not name.startswith("Scan parquet"):
                continue
            table = name.split(".")[-1]
            stats = tables.get(table)
            if stats is not None:
                desc = node.desc()
                schema = _READ_SCHEMA.search(desc)
                cols = re.findall(r"(\w+):", schema.group(1)) if schema else list(stats["columns"])
                buckets = _BUCKETS.search(desc)
                share = int(buckets.group(1)) / int(buckets.group(2)) if buckets else 1.0
                read = sum(stats["columns"].get(c, 0) for c in cols) * share
            else:
                values = values or store.executionMetrics(eid)
                read = 0.0
                metrics = node.metrics()
                for q in range(metrics.size()):
                    m = metrics.apply(q)
                    if m.name() == "size of files read":
                        v = values.get(m.accumulatorId())
                        read = parse_metric(v.get()) if v.isDefined() else 0.0
            acc = out.setdefault(tag, {})
            acc[table] = acc.get(table, 0.0) + read
    return out


# ---------------------------------------------------------------------------
# roll-up
# ---------------------------------------------------------------------------

GENERIC = ["wall_s", "driver_s", "jobs", "task_s", "task_cpu_s", "scan_mb",
           "shuffle_mb", "spill_mb", "failed_tasks"]
PYTHON = ["py_init_s", "py_run_s", "arrow_mb"]


def layer_metrics(
    tracer: Tracer, jobs: list[dict], scans: dict[str, dict], py: dict[str, dict]
) -> tuple[dict, float]:
    """Per-layer metrics of one traced iteration, and the share of the
    iteration's wall time that the layers cover."""
    root = tracer.root
    t0 = root["start"]
    n = max(1, int(round((root["end"] - t0) * 1000)))
    owner: list[str | None] = [None] * n
    covered = [False] * n

    def ticks(a: float, b: float) -> tuple[int, int]:
        return max(0, int((a - t0) * 1000)), min(n, int((b - t0) * 1000))

    # producers first, then the nested spans inside them
    for nested in (False, True):
        for s in tracer.spans:
            if s is root or s["nested"] != nested or s["end"] is None:
                continue
            a, b = ticks(s["start"], s["end"])
            owner[a:b] = [s["name"]] * max(0, b - a)
    prefix = tracer.run_id + "|"
    out = {layer: dict.fromkeys(GENERIC + PYTHON, 0.0) for layer in LAYERS}
    for job in sorted(jobs, key=lambda j: j["start"] or 0):
        if not job["group"].startswith(prefix):
            continue
        layer = job["group"][len(prefix):]
        m = out[layer]
        m["jobs"] += 1
        m["failed_tasks"] += job["failed_tasks"]
        for st in job["stage_metrics"]:
            m["task_s"] += st["run_s"]
            m["task_cpu_s"] += st["cpu_s"]
            m["shuffle_mb"] += st["shuffle_write_bytes"] / 1e6
            m["spill_mb"] += st["spill_bytes"] / 1e6
        if job["start"] is not None and job["end"] is not None:
            a, b = ticks(job["start"], job["end"])
            owner[a:b] = [layer] * max(0, b - a)
            covered[a:b] = [True] * max(0, b - a)
    for layer in LAYERS:
        tag = prefix + layer
        out[layer]["scan_mb"] = sum(scans.get(tag, {}).values()) / 1e6
        for key, v in py.get(tag, {}).items():
            out[layer][key] = v
    wall_ticks = dict.fromkeys(LAYERS, 0)
    driver_ticks = dict.fromkeys(LAYERS, 0)
    for layer, cov in zip(owner, covered):
        if layer is not None:
            wall_ticks[layer] += 1
            if not cov:
                driver_ticks[layer] += 1
    for layer in LAYERS:
        out[layer]["wall_s"] = wall_ticks[layer] / 1000.0
        out[layer]["driver_s"] = driver_ticks[layer] / 1000.0
    coverage = sum(wall_ticks.values()) / n
    return out, coverage


def spans_json(tracer: Tracer) -> list[dict]:
    return [
        {k: s[k] for k in ("name", "start", "end", "parent", "run", "id")}
        for s in tracer.spans
    ]
