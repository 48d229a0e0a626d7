"""Checkpoint / lineage / resume (north_rule).

Plain parquet + JSON-lines bookkeeping — no custom Spark machinery.  Data
files are written once and committed by an append to a log (the Delta Lake
pattern, VLDB 2020).  A run directory holds:

* ``manifest.jsonl`` — the commit log.  Its first line is the format
  header ``{"format": 2}``; every further line is one committed (stage,
  shard) record: ``{stage, shard, rows, violations, wall_s, fingerprint,
  finished_at, by_rule, run_id}``.  The fingerprint is
  ``bit_xor(xxhash64(rule-relevant columns))`` over the shard's input rows,
  so a resumed run detects that a shard's input changed since the
  checkpoint and recomputes it.  Resume decisions compare the **(rows,
  fingerprint) pair** — XOR alone self-cancels when an even number of
  identical rows is added, but that always changes the row count.
* ``violations/<stage>/<run_id>/`` — the violation rows of one stage run,
  one unpartitioned parquet file set (``shard`` is a column), written once
  and never modified.

Commit protocol: a stage run writes its run directory, then appends one
record per shard it computed, each naming the ``run_id``.  The append is
the commit: readers take the latest record for each shard and read only
the run directories those records name, filtered to the shards each one
commits.  A crash before or during the append leaves the previous records
in force, and their run directories untouched.  After the append, every
run directory of the stage that no latest record names (superseded runs,
writes that were never committed) is deleted.  A torn trailing line counts
as not committed: its shard recomputes.

Shard-local stages (row rules, audio) skip shards whose recorded key still
matches by filtering the scan — at production scale that filter prunes
Iceberg partitions.  A whole-table stage (constraints) commits one record
with shard ``GLOBAL_SHARD`` (-1); its run directory is read whole, because
its rows carry shard NULL.

One writer per checkpoint dir: a ``RunManifest`` parses ``manifest.jsonl``
once, when it is opened, and from then on keeps each stage's latest
records in memory, updated by its own ``append``.  The sweep makes the
same assumption — a second process committing to the same dir would have
its run directories swept and its records unseen until it reopens.

Deployment note: the run directory must be a filesystem every retry of the
DRIVER can reach (HDFS/S3/DBFS mount on a cluster; local disk suffices in
local mode).  Executors never touch the manifest — only violation parquet
goes through Spark writers.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import asdict, dataclass, field as dc_field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GLOBAL_SHARD = -1
FORMAT = 2
_HEADER = {"format": FORMAT}


class CheckpointFormatError(RuntimeError):
    """The run directory was written in another checkpoint format."""


def in_shards(shard_sql: str, shards) -> Column:
    """``shard_sql IN (shards...)`` as one SQL expression (``isin`` builds
    one literal Column per shard, a driver round trip each)."""
    if not shards:
        return F.lit(False)
    return F.expr(f"{shard_sql} IN ({', '.join(str(int(s)) for s in shards)})")


@dataclass
class ShardRecord:
    stage: str
    shard: int
    rows: int
    violations: int
    wall_s: float
    fingerprint: int
    finished_at: float
    #: the run directory holding this shard's violation rows
    run_id: str
    #: per-rule violation counts for this (stage, shard) — the north_rule's
    #: "per-partition lineage + rule metrics"
    by_rule: dict = dc_field(default_factory=dict)


class RunManifest:
    def __init__(self, run_dir: str):
        if "://" in run_dir:
            # manifest.jsonl uses plain open()/fsync and the sweep of
            # uncommitted run directories uses shutil.rmtree — both silently
            # no-op or fail on hdfs://, s3a://, etc.  Refuse loudly; mount
            # the store (DBFS/fuse) or point run_dir at a driver-reachable
            # local path instead.
            raise ValueError(
                f"RunManifest requires a local filesystem path, got URI "
                f"{run_dir!r} (the manifest append and the sweep of "
                f"uncommitted run directories use local file APIs)"
            )
        self.run_dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self.path = os.path.join(run_dir, "manifest.jsonl")
        if not os.path.exists(self.path) or os.path.getsize(self.path) == 0:
            # header via rename: the manifest never exists without it
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                f.write(json.dumps(_HEADER) + "\n")
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self.path)
        else:
            with open(self.path) as f:
                first = f.readline()
            try:
                header = json.loads(first)
            except json.JSONDecodeError:
                header = None
            if header != _HEADER:
                raise CheckpointFormatError(
                    f"{self.path} is not a format-{FORMAT} checkpoint manifest "
                    f"(first line {first.strip()[:80]!r}); start from a fresh "
                    f"checkpoint_dir"
                )
        self._latest: dict[str, dict[int, ShardRecord]] = {}
        self._remember(self.records())

    def _remember(self, records: list[ShardRecord]) -> None:
        for r in records:
            self._latest.setdefault(r.stage, {})[r.shard] = r

    def records(self) -> list[ShardRecord]:
        """Parse every committed record of the manifest file."""
        out = []
        with open(self.path) as f:
            f.readline()  # the header, checked on open
            for line in f:
                try:
                    out.append(ShardRecord(**json.loads(line)))
                except (json.JSONDecodeError, TypeError):
                    # a crash mid-append leaves a torn line: not committed
                    # (the shard reruns)
                    continue
        return out

    def latest(self, stage: str) -> dict[int, ShardRecord]:
        """The committed record of each shard of ``stage``: its last one."""
        return dict(self._latest.get(stage, {}))

    def append(self, records: list[ShardRecord]) -> None:
        """Commit: append ``records`` (fsync'd), then sweep the run
        directories of their stages that no latest record names."""
        with open(self.path, "a+b") as f:
            f.seek(-1, os.SEEK_END)
            # a torn last line must not swallow the first new record
            torn = f.read(1) != b"\n"
            text = "".join(json.dumps(asdict(r)) + "\n" for r in records)
            f.write((("\n" if torn else "") + text).encode())
            f.flush()
            os.fsync(f.fileno())
        self._remember(records)
        for stage in {r.stage for r in records}:
            named = {r.run_id for r in self._latest[stage].values()}
            stage_dir = self.violations_path(stage)
            for run_id in os.listdir(stage_dir):
                if run_id not in named:
                    shutil.rmtree(os.path.join(stage_dir, run_id), ignore_errors=True)

    def violations_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, "violations", stage)

    def write_violations(self, stage: str, df: DataFrame) -> str:
        """Write a stage run's violation rows once, unpartitioned, to a new
        run directory; return its ``run_id``.  Nothing reads it until an
        ``append`` of records naming the ``run_id`` commits it."""
        run_id = uuid.uuid4().hex
        df.write.parquet(os.path.join(self.violations_path(stage), run_id))
        return run_id

    def read_violations(self, spark, stage: str, schema, shards=None) -> DataFrame:
        """The committed violation rows of ``stage`` (of ``shards`` only, if
        given): each run directory a latest record names, filtered to the
        shards it commits.  The schema is EXPLICIT — an empty write (clean
        data) leaves a directory with no data files, and schema inference
        would throw UNABLE_TO_INFER_SCHEMA on it."""
        by_run: dict[str, list[int]] = {}
        for s, rec in sorted(self.latest(stage).items()):
            if shards is None or s in shards:
                by_run.setdefault(rec.run_id, []).append(s)
        reader = spark.read.schema(schema)
        frames = []
        for run_id, run_shards in by_run.items():
            df = reader.parquet(os.path.join(self.violations_path(stage), run_id))
            if GLOBAL_SHARD not in run_shards:
                df = df.filter(in_shards("shard", run_shards))
            frames.append(df)
        return reduce(DataFrame.unionByName, frames) if frames else reader.parquet()
