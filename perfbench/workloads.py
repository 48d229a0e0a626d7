"""The benchmark workloads: what one iteration runs, and how its output is
checked.

* ``clips_cold``   — the full clips pipeline into a fresh checkpoint dir.
* ``clips_resume`` — the same pipeline into a copy of a checkpoint dir
  primed by a run that lacked 8 of the 64 shards (the seed picks them).
* ``corpus_ops``   — ``knn_graph``, ``minhash_lsh_pairs`` and
  ``winnow_pairs`` from ``__spark_entry__.queries()``.

An iteration returns its materialized outputs; ``check`` compares them with
an oracle outside the timed region and returns ``(attempted, failed)``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections import Counter

import data
from canon import CORPUS_QUERIES, corpus_oracle, rows_hash

SIZES = {
    # clips rows, payload samples, documents, embeddings
    "full": {"clips": 3000, "samples": 2048, "docs": 5000, "vecs": 2000},
    "tiny": {"clips": 400, "samples": 256, "docs": 300, "vecs": 150},
}
# the tiny input of the set-up pass: the same rows for every seed, enough
# of them that every bucket holds some (an empty Arrow partition can leave
# its Python worker unreusable, which changes the worker count per seed)
WARM_ROWS = 256

ROW_RULES = ("sr_valid", "dur_positive", "codec_allowed", "transcript_nonempty")
ALLOWED_SR = (8000, 16000, 22050, 24000, 44100, 48000)
ALLOWED_CODECS = ("pcm_s16le", "wav")


class ClipsWorkload:
    """The staged clips pipeline over the bucketed synthetic tables."""

    def __init__(self, name: str, work: str, seed: int, size: str, plant_fault: bool):
        self.name = name
        self.resume = name == "clips_resume"
        # untimed full-size runs before the timed loop, which JIT compilation
        # still speeds up; resume makes its warm-up runs in prepare_run
        self.warm_iterations = 0 if self.resume else 2
        self.work = work
        self.seed = seed
        self.n = SIZES[size]["clips"]
        self.samples = SIZES[size]["samples"]
        self.plant_fault = plant_fault
        self.ckpt: str | None = None
        self._oracle: Counter | None = None

    # -- set-up -------------------------------------------------------------

    def prepare_data(self, spark) -> None:
        self.meta = data.ensure_clips_tables(spark, self.work, self.n, self.samples)

    def register(self, spark) -> None:
        from pyspark.sql import functions as F

        from valor_spark.operators import drift as D

        self.clips, self.ref = data.register_clips(
            spark, self.work, self.n, self.samples, self.seed
        )
        ok = self.clips.filter((F.col("dur_ms") > 0) & (F.col("sr_hz") > 0))
        self.baseline = D.baseline_from(
            ok, numeric_cols={"dur_ms": (0.0, 1001.0, 20)}, categorical_cols=["sr_hz"]
        ).cache()
        self.baseline.count()

    def _run(self, spark, clips, ckpt: str | None, tracer=None) -> dict:
        from valor_spark.plans.pipeline import run_pipeline

        rep = run_pipeline(spark, clips, self.ref, self.baseline, checkpoint_dir=ckpt)
        if tracer is not None:
            tracer.enter("engine.verdicts")
        vio = rep.violations.collect()
        ver = rep.shard_verdicts.collect()
        rep.release()
        return {"violations": vio, "verdicts": ver, "skipped": dict(rep.skipped)}

    def warm_pass(self, spark) -> None:
        """The pipeline on the tiny input, without a checkpoint dir (the
        untimed full-size warm-up then exercises the checkpoint path before
        timing starts)."""
        from pyspark.sql import functions as F

        self._run(spark, self.clips.filter(F.col("id") < WARM_ROWS), None)

    def _new_ckpt_dir(self) -> str:
        base = os.path.join(self.work, "ckpt")
        os.makedirs(base, exist_ok=True)
        return tempfile.mkdtemp(prefix=f"{self.name}-", dir=base)

    def prepare_run(self, spark) -> None:
        """Resume only: prime the checkpoint with a run that lacks the
        seed's missing shards, and run the pipeline cold to get the outputs
        the resumed runs must reproduce.  Both run in every process, so the
        warm-up they give is the same in every run."""
        if not self.resume:
            return
        from pyspark.sql import functions as F

        missing = data.missing_shards(self.seed)
        self.primed = self._new_ckpt_dir()
        self._run(spark, self.clips.filter(~F.col("shard").isin(missing)), self.primed)
        ckpt = self._new_ckpt_dir()
        try:
            out = self._run(spark, self.clips, ckpt)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        problems = self.cold_problems(out)
        if problems:
            raise RuntimeError(f"cold reference run is wrong: {problems}")
        self.expected = self._hashes(out)

    # -- one iteration --------------------------------------------------------

    def before_iteration(self) -> None:
        self.after_iteration()
        self.ckpt = self._new_ckpt_dir()
        if self.resume:
            shutil.rmtree(self.ckpt)
            shutil.copytree(self.primed, self.ckpt)

    def iteration(self, spark, tracer=None) -> dict:
        return self._run(spark, self.clips, self.ckpt, tracer)

    def after_iteration(self) -> None:
        if self.ckpt is not None:
            shutil.rmtree(self.ckpt, ignore_errors=True)
            self.ckpt = None

    def close(self) -> None:
        self.after_iteration()
        if self.resume and hasattr(self, "primed"):
            shutil.rmtree(self.primed, ignore_errors=True)

    # -- correctness ----------------------------------------------------------

    def check(self, out: dict) -> tuple[int, int]:
        if self.plant_fault:
            out = dict(out, violations=out["violations"][1:])
        problems = self.resume_problems(out) if self.resume else self.cold_problems(out)
        if problems:
            print(f"perfbench: {self.name} output wrong: {problems}", flush=True)
            return 1, 1
        return 1, 0

    def _oracle_counts(self) -> Counter:
        """Row-rule violations the generator planted, from the plain-Python
        generator spec (the oracle ``tests/test_pipeline.py`` uses)."""
        if self._oracle is None:
            from valor_spark.sources.rowspec import expected_clips

            want: Counter = Counter()
            for s in expected_clips(self.n, self.samples):
                if s.sr_hz <= 0:
                    want[(s.clip_id, "SampleRateNonPositive")] += 1
                elif s.sr_hz not in ALLOWED_SR:
                    want[(s.clip_id, "SampleRateNotAllowed")] += 1
                if s.dur_ms <= 0:
                    want[(s.clip_id, "DurationNonPositive")] += 1
                if s.codec not in ALLOWED_CODECS:
                    want[(s.clip_id, f"CodecNotAllowed:{s.codec}")] += 1
                if s.transcript == "":
                    want[(s.clip_id, "TranscriptEmpty")] += 1
            self._oracle = want
        return self._oracle

    def cold_problems(self, out: dict) -> list[str]:
        problems = []
        got = Counter(
            (r["clip_id"], r["error"]) for r in out["violations"] if r["rule"] in ROW_RULES
        )
        if got != self._oracle_counts():
            problems.append(
                f"row-rule violations differ from the oracle "
                f"(got {sum(got.values())}, want {sum(self._oracle_counts().values())})"
            )
        ver = out["verdicts"]
        shards = Counter(r["shard"] for r in ver)
        if set(shards) != set(range(data.N_SHARDS)) | {-1} or max(shards.values()) != 1:
            problems.append("verdict rows do not cover every shard plus the global row once")
        if sum(r["rows"] for r in ver) != self.n:
            problems.append(f"verdict rows sum to {sum(r['rows'] for r in ver)}, not {self.n}")
        per_shard = Counter(-1 if r["shard"] is None else r["shard"] for r in out["violations"])
        if any(r["violations"] != per_shard.get(r["shard"], 0) for r in ver):
            problems.append("verdict violation counts differ from the violation rows")
        return problems

    @staticmethod
    def _hashes(out: dict) -> dict:
        return {
            "violations": list(rows_hash(
                ["clip_id", "shard", "rule", "path", "error"], out["violations"]
            )),
            "verdicts": list(rows_hash(
                ["shard", "rows", "violations", "passed", "fingerprint"], out["verdicts"]
            )),
        }

    def resume_problems(self, out: dict) -> list[str]:
        got = self._hashes(out)
        return [
            f"{k} differ from clips_cold ({got[k][0]} rows vs {self.expected[k][0]})"
            for k in ("violations", "verdicts")
            if got[k] != self.expected[k]
        ]

    # -- traced-run ratios ----------------------------------------------------

    def scan_tables(self) -> dict:
        return self.meta["tables"]

    def ratios(self, out: dict, audio_scans: dict) -> dict:
        """Waste ratios of one traced iteration.  ``audio_scans``: bytes the
        audio layer's scans read, per table."""
        stages = ("row_rules", "audio")
        skipped = sum(len(out["skipped"].get(s, [])) for s in stages)
        audio_skipped = set(out["skipped"].get("audio", []))
        rows = {r["shard"]: r["rows"] for r in out["verdicts"] if r["shard"] >= 0}
        redo = sum(v for s, v in rows.items() if s not in audio_skipped)
        # a shard's share of the payload columns is its share of the rows
        tables = self.meta["tables"]
        payload = tables["perfbench_clips"]["columns"]["bytes"] + tables["perfbench_ref"]["columns"]["pcm_ref"]
        needed = payload * redo / self.n
        read = sum(v for t, v in audio_scans.items() if t in tables)
        return {
            "audio.payload_read_ratio": read / needed if needed else 0.0,
            "checkpoint.skipped_shard_frac": skipped / (len(stages) * data.N_SHARDS),
        }


QUERY_LAYER = {"knn_graph": "similarity", "minhash_lsh_pairs": "dedup", "winnow_pairs": "text"}


class CorpusWorkload:
    """One query per training-data operator module."""

    name = "corpus_ops"
    warm_iterations = 2

    def __init__(self, name: str, work: str, seed: int, size: str, plant_fault: bool):
        self.work = work
        self.seed = seed
        self.size = SIZES[size]
        self.plant_fault = plant_fault

    def prepare_data(self, spark) -> None:
        self.dir = data.ensure_corpus(self.work, self.seed, self.size["docs"], self.size["vecs"])
        self.tiny_dir = data.ensure_corpus(self.work, self.seed, 200, 100)
        self.oracle = corpus_oracle(self.dir)

    def register(self, spark) -> None:
        import __spark_entry__ as entry

        self.queries = {q: entry.queries()[q] for q in CORPUS_QUERIES}
        for t in ("documents", "embeddings"):
            spark.read.parquet(os.path.join(self.dir, f"{t}.parquet")).schema

    def _run(self, spark, sf_dir: str, tracer=None) -> dict:
        out = {}
        for q, fn in self.queries.items():
            if tracer is not None:
                tracer.enter(QUERY_LAYER[q])
            df = fn(spark, sf_dir)
            out[q] = (df.columns, df.collect())
        return out

    def warm_pass(self, spark) -> None:
        self._run(spark, self.tiny_dir)

    def prepare_run(self, spark) -> None:
        pass

    def before_iteration(self) -> None:
        pass

    def iteration(self, spark, tracer=None) -> dict:
        return self._run(spark, self.dir, tracer)

    def after_iteration(self) -> None:
        pass

    def close(self) -> None:
        pass

    def check(self, out: dict) -> tuple[int, int]:
        failed = 0
        for q, (cols, rows) in out.items():
            if self.plant_fault and q == CORPUS_QUERIES[0]:
                rows = rows[1:]
            got = list(rows_hash(cols, rows))
            if got != self.oracle[q]:
                print(
                    f"perfbench: {q} output differs from the DuckDB oracle "
                    f"({got[0]} rows vs {self.oracle[q][0]})",
                    flush=True,
                )
                failed += 1
        return len(out), failed

    def scan_tables(self) -> dict:
        return {}

    def ratios(self, out: dict, audio_scans: dict) -> dict:
        return {"audio.payload_read_ratio": 0.0, "checkpoint.skipped_shard_frac": 0.0}


WORKLOADS = {
    "clips_cold": ClipsWorkload,
    "clips_resume": ClipsWorkload,
    "corpus_ops": CorpusWorkload,
}
