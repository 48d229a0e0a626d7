"""Full pipeline end-to-end + checkpoint/resume."""

import os

import pytest
from pyspark.sql import functions as F

from valor_spark.operators import drift as D
from valor_spark.plans.pipeline import run_pipeline
from valor_spark.sources import synthetic as S

from oracle_clips import expected_clips, ref_present

N = 2200
MAX_SAMPLES = 256


@pytest.fixture(scope="module")
def tables(spark):
    clips = S.clips(spark, n=N, n_shards=8, max_samples=MAX_SAMPLES).cache()
    ref = S.clips_ref(spark, n=N, n_shards=8, max_samples=MAX_SAMPLES).cache()
    ok = clips.filter((F.col("dur_ms") > 0) & (F.col("sr_hz") > 0))
    baseline = D.baseline_from(
        ok, numeric_cols={"dur_ms": (0.0, 1001.0, 20)}, categorical_cols=["sr_hz"]
    ).cache()
    return clips, ref, baseline


@pytest.fixture(scope="module")
def report(spark, tables):
    clips, ref, baseline = tables
    return run_pipeline(spark, clips, ref, baseline)


def test_row_rule_violations_match_oracle(report):
    specs = expected_clips(N, MAX_SAMPLES)
    got = {
        (r["clip_id"], r["error"])
        for r in report.violations.filter(
            F.col("rule").isin(
                "sr_valid", "dur_positive", "codec_allowed", "transcript_nonempty"
            )
        ).collect()
    }
    expected = set()
    for s in specs:
        if s.sr_hz <= 0:
            expected.add((s.clip_id, "SampleRateNonPositive"))
        elif s.sr_hz not in (8000, 16000, 22050, 24000, 44100, 48000):
            expected.add((s.clip_id, "SampleRateNotAllowed"))
        if s.dur_ms <= 0:
            expected.add((s.clip_id, "DurationNonPositive"))
        if s.codec not in ("pcm_s16le", "wav"):
            expected.add((s.clip_id, f"CodecNotAllowed:{s.codec}"))
        if s.transcript == "":
            expected.add((s.clip_id, "TranscriptEmpty"))
    assert got == expected


def test_no_drift_on_clean_input(report):
    assert all(d.passed for d in report.drift)
    assert report.rows == N


def test_shard_verdicts_cover_all_shards(report):
    rows = report.shard_verdicts.collect()
    # table-level violations (uniqueness, referential) carry shard=NULL and
    # surface as the GLOBAL (-1) verdict row — they must not vanish
    assert {r["shard"] for r in rows} == set(range(8)) | {-1}
    assert sum(r["rows"] for r in rows) == N
    # with planted violations at every stride, no shard is fully clean at N=2200
    assert all(r["violations"] > 0 for r in rows)
    glob = [r for r in rows if r["shard"] == -1][0]
    assert glob["violations"] > 0 and glob["passed"] is False


def test_schema_gate_flags_bad_frame(spark, tables):
    clips, _, _ = tables
    bad = clips.withColumnRenamed("transcript", "text").withColumn(
        "sr_hz", F.col("sr_hz").cast("long")
    )
    rep = run_pipeline(spark, bad.withColumn("transcript", F.lit(None).cast("string")), None)
    kinds = {e.split(":")[0] for e in rep.schema_errors}
    assert "type_mismatch" in kinds  # sr_hz long != int
    assert "unexpected_column" in kinds  # text


def test_checkpoint_resume_skips_completed(spark, tables, tmp_path_factory):
    clips, ref, _ = tables
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    rep1 = run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)
    v1 = {
        (r["clip_id"], r["rule"], r["error"])
        for r in rep1.violations.collect()
    }
    assert os.path.exists(os.path.join(ckpt, "manifest.jsonl"))
    # second run must skip all shard work and reproduce identical violations
    rep2 = run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)
    assert rep2.skipped.get("row_rules") == list(range(8))
    assert rep2.skipped.get("constraints") == [-1]
    # audio resumes at SHARD granularity (round 3): all 8 skipped
    assert rep2.skipped.get("audio") == list(range(8))
    v2 = {
        (r["clip_id"], r["rule"], r["error"])
        for r in rep2.violations.collect()
    }
    assert v1 == v2


def test_fingerprint_invalidation_recomputes_changed_shard(
    spark, tables, tmp_path_factory
):
    """Lineage check: if a shard's input changes after checkpointing, resume
    must recompute THAT shard (and only it), replacing its violations."""
    clips, _, _ = tables
    ckpt = str(tmp_path_factory.mktemp("ckpt_fp"))
    rep1 = run_pipeline(spark, clips, None, checkpoint_dir=ckpt)
    rep1.violations.count()

    # mutate shard 3: change both the key and a content column (either alone
    # must invalidate the fingerprint — content-only is covered separately by
    # test_fingerprint_invalidated_by_content_only_change)
    mutated = clips.withColumn(
        "clip_id",
        F.when(F.col("shard") == 3, F.concat(F.col("clip_id"), F.lit("_x")))
        .otherwise(F.col("clip_id")),
    ).withColumn(
        "transcript",
        F.when(F.col("shard") == 3, F.lit("")).otherwise(F.col("transcript")),
    )
    rep2 = run_pipeline(spark, mutated, None, checkpoint_dir=ckpt)
    # shard 3 recomputed, the others skipped
    assert sorted(rep2.skipped["row_rules"]) == [0, 1, 2, 4, 5, 6, 7]
    vio2 = rep2.violations
    n_shard3_empty = vio2.filter(
        (F.col("shard") == 3) & (F.col("error") == "TranscriptEmpty")
    ).count()
    rows_shard3 = mutated.filter(F.col("shard") == 3).count()
    assert n_shard3_empty == rows_shard3  # every shard-3 transcript now empty
    # the committed stage rows serve shard 3 from the new run only
    from valor_spark.operators.constraints import VIOLATION_SCHEMA
    from valor_spark.plans.checkpoint import RunManifest

    stage_rows = RunManifest(ckpt).read_violations(spark, "row_rules", VIOLATION_SCHEMA)
    # the superseded run's shard-3 rows carry the unmutated clip ids
    assert stage_rows.filter(
        (F.col("shard") == 3) & ~F.col("clip_id").endswith("_x")
    ).count() == 0
    # the planted hot key legitimately repeats within a shard; any OTHER
    # duplicated violation row would mean both runs' shard-3 rows are served
    dup_check = (
        stage_rows.filter(~F.col("clip_id").startswith("clip_hotkey"))
        .groupBy("clip_id", "shard", "rule", "error")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup_check == 0


def _clean_clips(spark, n=20, n_shards=2):
    """A hand-built clips table with ZERO violations (every column valid,
    non-empty payload, unique ids)."""
    rows = [
        (f"clean_{i:04d}", bytearray(b"\x00\x01\x02\x03"), 16000, 500,
         "pcm_s16le", "hello world", i % n_shards)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string, shard int",
    )


def test_checkpoint_clean_data_runs_and_resumes(spark, tmp_path_factory):
    """Regression: a checkpointed run over CLEAN data writes an empty
    violations partition dir; the immediate read-back (and the resume
    read-back) must not throw UNABLE_TO_INFER_SCHEMA."""
    clips = _clean_clips(spark)
    ckpt = str(tmp_path_factory.mktemp("ckpt_clean"))
    rep1 = run_pipeline(spark, clips, None, checkpoint_dir=ckpt)
    assert rep1.violations.count() == 0
    rep2 = run_pipeline(spark, clips, None, checkpoint_dir=ckpt)
    assert sorted(rep2.skipped["row_rules"]) == [0, 1]
    assert rep2.violations.count() == 0
    assert rep2.shard_verdicts.filter(~F.col("passed")).count() == 0


def test_resume_clears_stale_violations_when_shard_becomes_clean(
    spark, tmp_path_factory
):
    """Regression: a fingerprint-invalidated shard whose recomputation yields
    ZERO violations must not serve the previous run's stale rows."""
    dirty = _clean_clips(spark).withColumn(
        "transcript",
        F.when(F.col("shard") == 1, F.lit("")).otherwise(F.col("transcript")),
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_stale"))
    rep1 = run_pipeline(spark, dirty, None, checkpoint_dir=ckpt)
    assert rep1.violations.filter(F.col("shard") == 1).count() > 0
    # fix the data: shard 1 is now clean -> must recompute and come back empty
    fixed = _clean_clips(spark)
    rep2 = run_pipeline(spark, fixed, None, checkpoint_dir=ckpt)
    assert rep2.skipped["row_rules"] == [0]  # shard 0 unchanged, 1 recomputed
    assert rep2.violations.filter(F.col("shard") == 1).count() == 0
    assert rep2.violations.count() == 0


def test_fingerprint_invalidated_by_content_only_change(spark, tmp_path_factory):
    """Regression: the resume fingerprint must cover rule-relevant CONTENT
    columns, not just clip_id — a transcript change with identical keys must
    recompute the shard."""
    clips = _clean_clips(spark)
    ckpt = str(tmp_path_factory.mktemp("ckpt_content"))
    run_pipeline(spark, clips, None, checkpoint_dir=ckpt)
    mutated = clips.withColumn(
        "transcript",
        F.when(F.col("shard") == 1, F.lit("")).otherwise(F.col("transcript")),
    )
    rep = run_pipeline(spark, mutated, None, checkpoint_dir=ckpt)
    assert rep.skipped["row_rules"] == [0]
    got = rep.violations.filter(F.col("shard") == 1)
    assert got.filter(F.col("error") == "TranscriptEmpty").count() == 10


def test_fingerprint_invalidated_by_even_duplicate_rows(spark, tmp_path_factory):
    """Regression: XOR fingerprints self-cancel on an even number of added
    identical rows — the (rows, fingerprint) pair comparison must still
    invalidate the shard."""
    clips = _clean_clips(spark)
    ckpt = str(tmp_path_factory.mktemp("ckpt_xor"))
    run_pipeline(spark, clips, None, checkpoint_dir=ckpt)
    dup2 = clips.filter(F.col("shard") == 1).limit(1)
    grown = clips.unionByName(dup2).unionByName(dup2)
    rep = run_pipeline(spark, grown, None, checkpoint_dir=ckpt)
    assert rep.skipped["row_rules"] == [0]  # shard 1 recomputed
    # the tripled clip_id is now a uniqueness violation in the fresh result
    assert rep.violations.filter(F.col("rule") == "uniqueness").count() > 0


def test_resume_invalidated_by_ref_table_change(spark, tmp_path_factory):
    """The constraints stage consumes clips_ref — resume must recompute when
    the ref changes (previously only the clips side keyed the skip)."""
    clips = _clean_clips(spark)
    ref_full = clips.select("clip_id", F.lit("t").alias("transcript_ref"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_ref"))
    r1 = run_pipeline(spark, clips, ref_full, checkpoint_dir=ckpt)
    assert r1.violations.filter(F.col("rule") == "referential").count() == 0
    # shrink the ref: same clips -> referential orphans must now appear
    ref_small = ref_full.filter(F.col("clip_id") > "clean_0009")
    r2 = run_pipeline(spark, clips, ref_small, checkpoint_dir=ckpt)
    assert r2.skipped["constraints"] == []  # recomputed, not served stale
    got = r2.violations.filter(F.col("rule") == "referential").count()
    assert got == 10  # clean_0000..0009 lost their ref rows


def test_resume_invalidated_by_config_change(spark, tmp_path_factory):
    """A changed rule config (snr threshold) must not serve the previous
    threshold's checkpointed audio verdicts."""
    import numpy as np

    from valor_spark.sources.synthetic import wrap_wav  # noqa: F401 (env check)

    pcm = np.arange(0, 256, dtype="<i2")
    noisy = (pcm + (np.arange(256) % 7 - 3)).astype("<i2")  # SNR ~ 35 dB
    clips = spark.createDataFrame(
        [("a", pcm.tobytes(), 16000, 16, "pcm_s16le", "t", 0),
         ("b", noisy.tobytes(), 16000, 16, "pcm_s16le", "t", 1)],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
        "transcript string, shard int",
    )
    ref = spark.createDataFrame(
        [("a", pcm.tobytes(), "t"), ("b", pcm.tobytes(), "t")],
        "clip_id string, pcm_ref binary, transcript_ref string",
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_cfg"))
    r1 = run_pipeline(spark, clips, ref, checkpoint_dir=ckpt, snr_db_min=30.0)
    assert r1.violations.filter(F.col("rule") == "audio_snr").count() == 0
    r2 = run_pipeline(spark, clips, ref, checkpoint_dir=ckpt, snr_db_min=60.0)
    assert r2.violations.filter(F.col("rule") == "audio_snr").count() == 1


def test_row_rules_resume_invalidated_by_same_name_gate_change(
    spark, tmp_path_factory, monkeypatch
):
    """The row-rules resume key hashes the gate text, not the rule names:
    a narrower ``ALLOWED_SR`` under the same ``sr_valid`` name recomputes
    every shard, and an unchanged rerun still skips them all."""
    from valor_spark.plans import pipeline as P

    clips = _clean_clips(spark)
    ckpt = str(tmp_path_factory.mktemp("ckpt_gate_row"))
    assert run_pipeline(spark, clips, None, checkpoint_dir=ckpt).violations.count() == 0
    assert run_pipeline(spark, clips, None, checkpoint_dir=ckpt).skipped["row_rules"] == [0, 1]

    monkeypatch.setattr(P, "ALLOWED_SR", [8000, 44100, 48000])
    r = run_pipeline(spark, clips, None, checkpoint_dir=ckpt)
    assert r.skipped["row_rules"] == []
    got = {(x["rule"], x["error"]) for x in r.violations.collect()}
    assert got == {("sr_valid", "SampleRateNotAllowed")}
    assert r.violations.count() == clips.count()
    again = run_pipeline(spark, clips, None, checkpoint_dir=ckpt)
    assert again.skipped["row_rules"] == [0, 1]
    assert again.violations.count() == clips.count()


def test_audio_resume_invalidated_by_same_name_gate_change(
    spark, tmp_path_factory, monkeypatch
):
    """A changed ``audio_snr`` gate body at the same ``snr_db_min`` (a
    non-finite SNR now fails too) recomputes every audio shard instead of
    serving the old gate's verdicts."""
    from valor_spark import gates
    from valor_spark.operators import audio as A
    from valor_spark.plans import pipeline as P

    clips, ref = _audio_clips_ref(spark)
    ckpt = str(tmp_path_factory.mktemp("ckpt_gate_audio"))
    run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)
    r1 = run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)
    assert sorted(r1.skipped["audio"]) == [0, 1, 2, 3]
    assert r1.violations.filter(F.col("rule") == "audio_snr").count() == 0

    def finite_snr_rules(snr_db_min):
        rules = A.audio_rules(snr_db_min)
        rules.update(gates({"audio_snr": [(
            f"decode_error IS NULL AND NOT (snr_db >= {snr_db_min!r}D "
            "AND snr_db < CAST('Infinity' AS DOUBLE))",
            "concat('SnrBelowThreshold:', CAST(round(snr_db, 2) AS STRING))",
        )]}))
        return rules

    monkeypatch.setattr(P, "audio_rules", finite_snr_rules)
    r2 = run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)
    assert r2.skipped["audio"] == []
    snr = r2.violations.filter(F.col("rule") == "audio_snr")
    assert {x["error"] for x in snr.collect()} == {"SnrBelowThreshold:Infinity"}
    assert snr.count() == clips.count()
    r3 = run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)
    assert sorted(r3.skipped["audio"]) == [0, 1, 2, 3]


def test_resume_drops_violations_of_removed_shards(spark, tmp_path_factory):
    """A shard removed from the input must not resurface its old violations
    from the stage directory on resume."""
    dirty = _clean_clips(spark).withColumn(
        "transcript",
        F.when(F.col("shard") == 1, F.lit("")).otherwise(F.col("transcript")),
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_rm"))
    r1 = run_pipeline(spark, dirty, None, checkpoint_dir=ckpt)
    assert r1.violations.filter(F.col("shard") == 1).count() == 10
    only0 = dirty.filter(F.col("shard") == 0)
    r2 = run_pipeline(spark, only0, None, checkpoint_dir=ckpt)
    assert r2.skipped["row_rules"] == [0]
    assert r2.violations.count() == 0  # shard 1's stale rows filtered out
    assert r2.rows == 10


def test_null_shard_rows_tolerated_and_revalidated(spark, tmp_path_factory):
    """Regression: a NULL shard value (dirty metadata) crashed checkpointed
    runs on int(None) and silently escaped the resume filter; NULL shards
    now group under the UNSHARDED (-2) pseudo-shard and validate normally."""
    clips = _clean_clips(spark, n=10, n_shards=2)
    nulled = clips.withColumn(
        "shard", F.when(F.col("clip_id") == "clean_0003", F.lit(None)).otherwise(F.col("shard"))
    ).withColumn(
        "transcript",
        F.when(F.col("clip_id") == "clean_0003", F.lit("")).otherwise(F.col("transcript")),
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_nullshard"))
    rep = run_pipeline(spark, nulled, None, checkpoint_dir=ckpt)
    vio = rep.violations.collect()
    assert [(r["clip_id"], r["shard"], r["error"]) for r in vio] == [
        ("clean_0003", -2, "TranscriptEmpty")
    ]
    # resume over the identical input skips everything, including -2
    rep2 = run_pipeline(spark, nulled, None, checkpoint_dir=ckpt)
    assert sorted(rep2.skipped["row_rules"]) == [-2, 0, 1]
    assert rep2.violations.count() == 1


def test_checkpoint_manifest_has_lineage(spark, tables, tmp_path_factory):
    clips, _, _ = tables
    ckpt = str(tmp_path_factory.mktemp("ckpt2"))
    run_pipeline(spark, clips, None, checkpoint_dir=ckpt)
    from valor_spark.plans.checkpoint import RunManifest

    recs = RunManifest(ckpt).records()
    row_recs = [r for r in recs if r.stage == "row_rules"]
    assert {r.shard for r in row_recs} == set(range(8))
    assert all(r.rows > 0 for r in row_recs)
    assert all(r.fingerprint != 0 for r in row_recs)
    # fingerprints are per-shard content hashes: all distinct here
    assert len({r.fingerprint for r in row_recs}) == 8
    # per-rule metrics ride the lineage (north_rule): plants are sparse per
    # shard, but corpus-wide each rule fires, and per shard the rule counts
    # must sum to the recorded total
    total_by_rule: dict = {}
    for r in row_recs:
        for rule, n in r.by_rule.items():
            total_by_rule[rule] = total_by_rule.get(rule, 0) + n
    assert total_by_rule.get("transcript_nonempty", 0) > 0
    assert total_by_rule.get("sr_valid", 0) > 0
    assert all(sum(r.by_rule.values()) == r.violations for r in row_recs)


#: Spark jobs of one checkpointed run_pipeline over the module tables
#: (inputs already cached).  A change here is a change in the number of
#: actions the pipeline takes — fingerprint, stage writes, metric counts.
#: The row-rule and audio writes are one unpartitioned job each (no
#: pre-write shuffle).
RUN_PIPELINE_JOBS = 20


def test_checkpointed_run_job_count_and_observed_constraint_count(
    spark, tables, tmp_path_factory
):
    from valor_spark.operators.constraints import VIOLATION_SCHEMA
    from valor_spark.plans.checkpoint import RunManifest

    clips, ref, baseline = tables
    # earlier runs' persisted fingerprint frames would serve this run's
    # fingerprint from cache; start from the module tables alone
    spark.catalog.clearCache()
    for df in tables:
        df.cache().count()  # fill the caches outside the counted group
    ckpt = str(tmp_path_factory.mktemp("ckpt_jobs"))
    sc = spark.sparkContext
    group = "test-run-pipeline-jobs"
    sc.setJobGroup(group, group, False)
    try:
        rep = run_pipeline(spark, clips, ref, baseline, checkpoint_dir=ckpt)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    rep.release()
    assert jobs == RUN_PIPELINE_JOBS
    # the constraints count is observed on the write, not read back
    manifest = RunManifest(ckpt)
    (rec,) = [r for r in manifest.records() if r.stage == "constraints"]
    written = manifest.read_violations(spark, "constraints", VIOLATION_SCHEMA)
    assert rec.violations == written.count() > 0


def test_drift_violation_rows_are_built_in_the_jvm(spark, tables):
    """A drifting baseline puts one ``drift_<metric>`` row per failed metric
    into ``violations`` (shard NULL, so it counts under the global verdict
    row), and those rows come from no Python-RDD scan."""
    clips, _, _ = tables
    ok = clips.filter((F.col("dur_ms") > 0) & (F.col("sr_hz") > 0))
    drifted = D.baseline_from(
        ok.withColumn("dur_ms", F.lit(5)),
        numeric_cols={"dur_ms": (0.0, 1001.0, 20)},
        categorical_cols=["sr_hz"],
    )
    rep = run_pipeline(spark, clips, None, drifted)
    failed = [d for d in rep.drift if not d.passed]
    assert failed
    got = {
        tuple(r)
        for r in rep.violations.filter(F.col("rule").startswith("drift_")).collect()
    }
    assert got == {
        (None, None, f"drift_{d.metric}", f".{d.column}",
         f"DriftExceeded:{d.metric}={d.value:.4f}>{d.threshold}")
        for d in failed
    }
    (glob,) = rep.shard_verdicts.filter(F.col("shard") == -1).collect()
    assert glob["violations"] == rep.violations.filter(F.col("shard").isNull()).count()
    # the only Python-RDD scan is the row rules' localCheckpoint, with or
    # without the drift rows
    plain = run_pipeline(spark, clips, None)

    def rdd_scans(r):
        return r.violations._jdf.queryExecution().executedPlan().toString().count("ExistingRDD")

    assert rdd_scans(rep) == rdd_scans(plain) == 1
    rep.release()
    plain.release()


def _audio_clips_ref(spark, n=8, n_shards=4):
    """Matching pcm clips + reference (zero audio violations)."""
    import numpy as np

    pcm = np.arange(0, 256, dtype="<i2")
    clips = spark.createDataFrame(
        [
            (f"c{i}", pcm.tobytes(), 16000, 16, "pcm_s16le", "t", i % n_shards)
            for i in range(n)
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
        "transcript string, shard int",
    )
    ref = spark.createDataFrame(
        [(f"c{i}", pcm.tobytes(), "t") for i in range(n)],
        "clip_id string, pcm_ref binary, transcript_ref string",
    )
    return clips, ref


def test_audio_resume_is_shard_granular(spark, tmp_path_factory):
    """The audio stage (the dominant cost at scale) must resume per shard:
    a killed-then-resumed run re-decodes ONLY shards without a matching
    checkpoint record, and a clips-side change re-decodes only its shard."""
    clips, ref = _audio_clips_ref(spark)
    ckpt = str(tmp_path_factory.mktemp("ckpt_audio_shard"))

    # "killed" run: only shards 0/1 completed before the crash
    partial = clips.filter(F.col("shard") < 2)
    r0 = run_pipeline(spark, partial, ref, checkpoint_dir=ckpt)
    assert r0.violations.filter(F.col("rule").startswith("audio")).count() == 0

    # resumed full run: shards 0/1 skip, 2/3 decode
    r1 = run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)
    assert sorted(r1.skipped["audio"]) == [0, 1]
    # identical rerun now skips every audio shard
    r2 = run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)
    assert sorted(r2.skipped["audio"]) == [0, 1, 2, 3]

    # clips-side change on shard 2 re-decodes only shard 2; its fresh
    # transcript-mismatch violations land, other shards stay clean/skipped
    mutated = clips.withColumn(
        "transcript",
        F.when(F.col("shard") == 2, F.lit("other")).otherwise(F.col("transcript")),
    )
    r3 = run_pipeline(spark, mutated, ref, checkpoint_dir=ckpt)
    assert sorted(r3.skipped["audio"]) == [0, 1, 3]
    tmm = r3.violations.filter(F.col("rule") == "transcript_equal")
    assert {r["shard"] for r in tmm.collect()} == {2}
    assert tmm.count() == mutated.filter(F.col("shard") == 2).count()


def test_audio_resume_invalidated_by_ref_change(spark, tmp_path_factory):
    """A changed reference table conservatively invalidates EVERY audio
    shard (the ref has no shard alignment of its own)."""
    clips, ref = _audio_clips_ref(spark)
    ckpt = str(tmp_path_factory.mktemp("ckpt_audio_ref"))
    run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)
    ref2 = ref.withColumn(
        "transcript_ref",
        F.when(F.col("clip_id") == "c0", F.lit("CHANGED")).otherwise(
            F.col("transcript_ref")
        ),
    )
    r2 = run_pipeline(spark, clips, ref2, checkpoint_dir=ckpt)
    assert r2.skipped.get("audio") == []  # all shards recomputed
    assert r2.violations.filter(F.col("rule") == "transcript_equal").count() == 1


@pytest.mark.parametrize(
    "fingerprint_payload, alt_samples, rule",
    [
        # same length, different content: only a content hash sees it
        ("content", 256, "audio_snr"),
        # a length change: the length-only payload fingerprint sees it
        (True, 128, "audio_decode"),
    ],
    ids=["content", "length"],
)
def test_ref_payload_fingerprint_coverage(
    spark, tmp_path_factory, fingerprint_payload, alt_samples, rule
):
    """``fingerprint_payload`` extends resume validity to the REF payload:
    an in-place pcm_ref swap (same row count, same metadata) must re-decode
    instead of serving stale audio verdicts."""
    import numpy as np

    clips, ref = _audio_clips_ref(spark, n=4, n_shards=2)
    ckpt = str(tmp_path_factory.mktemp("ckpt_refpayload"))
    r1 = run_pipeline(
        spark, clips, ref, checkpoint_dir=ckpt, fingerprint_payload=fingerprint_payload
    )
    assert r1.violations.filter(F.col("rule").startswith("audio")).count() == 0
    alt = np.arange(alt_samples - 1, -1, -1, dtype="<i2")
    ref2 = spark.createDataFrame(
        [
            ("c0", alt.tobytes(), "t"),
            *[(f"c{i}", np.arange(0, 256, dtype="<i2").tobytes(), "t") for i in (1, 2, 3)],
        ],
        "clip_id string, pcm_ref binary, transcript_ref string",
    )
    r2 = run_pipeline(
        spark, clips, ref2, checkpoint_dir=ckpt, fingerprint_payload=fingerprint_payload
    )
    assert r2.skipped.get("audio") == []  # recomputed, not served stale
    got = r2.violations.filter(F.col("rule").startswith("audio")).collect()
    assert [(r["clip_id"], r["rule"]) for r in got] == [("c0", rule)]


@pytest.mark.parametrize(
    "stage, rule, bad_transcript",
    [("row_rules", "transcript_nonempty", ""), ("audio", "transcript_equal", "other")],
    ids=["row_rules", "audio"],
)
def test_resume_keeps_violations_of_shards_absent_from_a_run(
    spark, tmp_path_factory, stage, rule, bad_transcript
):
    """A run over a subset of the shards must not delete the checkpointed
    violations of the others: a later run that skips them serves their
    rows from the stage dir."""
    clips, ref = _audio_clips_ref(spark, n=4, n_shards=2)
    if stage == "row_rules":
        ref = None
    full = clips.withColumn(
        "transcript",
        F.when(F.col("shard") == 1, F.lit(bad_transcript)).otherwise(F.col("transcript")),
    )
    ckpt = str(tmp_path_factory.mktemp(f"ckpt_absent_{stage}"))
    r1 = run_pipeline(spark, full, ref, checkpoint_dir=ckpt)
    assert r1.violations.filter(F.col("rule") == rule).count() == 2
    # only shard 0, changed: it recomputes, shard 1 is absent
    only0 = full.filter(F.col("shard") == 0).withColumn("sr_hz", F.lit(16001))
    r2 = run_pipeline(spark, only0, ref, checkpoint_dir=ckpt)
    assert r2.skipped[stage] == []
    # the first input again: shard 1 skips and keeps its 2 violations
    r3 = run_pipeline(spark, full, ref, checkpoint_dir=ckpt)
    assert r3.skipped[stage] == [1]
    assert r3.violations.filter(F.col("rule") == rule).count() == 2


def _outputs(rep):
    """A report's violation and verdict rows, as multisets."""
    from collections import Counter

    out = (
        Counter(map(tuple, rep.violations.collect())),
        Counter(map(tuple, rep.shard_verdicts.collect())),
    )
    rep.release()
    return out


def test_resume_after_crash_between_write_and_commit(
    spark, tmp_path_factory, monkeypatch
):
    """A stage run that dies after writing its run directory but before the
    manifest append commits nothing: a resume over the first input serves
    the first run's rows, identical to a cold run, and the next commit
    sweeps the uncommitted directory."""
    from valor_spark.plans.checkpoint import RunManifest

    dirty = _clean_clips(spark).withColumn(
        "transcript",
        F.when(F.col("shard") == 1, F.lit("")).otherwise(F.col("transcript")),
    )
    cold = _outputs(
        run_pipeline(spark, dirty, None, checkpoint_dir=str(tmp_path_factory.mktemp("cold")))
    )
    assert sum(cold[0].values()) == 10
    ckpt = str(tmp_path_factory.mktemp("ckpt_crash"))
    _outputs(run_pipeline(spark, dirty, None, checkpoint_dir=ckpt))

    def crash(self, records):
        raise RuntimeError("injected crash before the commit")

    with monkeypatch.context() as m:
        m.setattr(RunManifest, "append", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_pipeline(spark, _clean_clips(spark), None, checkpoint_dir=ckpt)
    stage_dir = RunManifest(ckpt).violations_path("row_rules")
    assert len(os.listdir(stage_dir)) == 2  # the first run's + the uncommitted one

    resumed = run_pipeline(spark, dirty, None, checkpoint_dir=ckpt)
    assert resumed.skipped["row_rules"] == [0, 1]
    assert _outputs(resumed) == cold
    # a committed run over the fixed input supersedes shard 1 and sweeps
    # the uncommitted directory; shard 0 stays in the first run's
    fixed = run_pipeline(spark, _clean_clips(spark), None, checkpoint_dir=ckpt)
    assert fixed.skipped["row_rules"] == [0]
    assert fixed.violations.count() == 0
    fixed.release()
    assert len(os.listdir(stage_dir)) == 2


def test_resume_after_manifest_truncated_mid_line(spark, tmp_path_factory):
    """A manifest cut mid-line (a crash mid-append) loses the torn record
    and every one after it: those stages recompute, the resume matches a
    cold run, and the next append does not run into the torn line."""
    from valor_spark.plans.checkpoint import GLOBAL_SHARD, RunManifest

    clips, ref = _audio_clips_ref(spark)
    clips = clips.withColumn(
        "transcript",
        F.when(F.col("shard") == 1, F.lit(""))
        .when(F.col("shard") == 2, F.lit("other"))
        .otherwise(F.col("transcript")),
    )
    ref = ref.filter(F.col("clip_id") != "c3")  # a referential orphan
    cold = _outputs(
        run_pipeline(spark, clips, ref, checkpoint_dir=str(tmp_path_factory.mktemp("cold")))
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_torn"))
    _outputs(run_pipeline(spark, clips, ref, checkpoint_dir=ckpt))
    manifest = RunManifest(ckpt)
    lines = open(manifest.path, "rb").read().split(b"\n")
    # header, 4 row_rules records, then the constraints record: cut it
    assert b'"constraints"' in lines[5]
    cut = sum(len(line) + 1 for line in lines[:5]) + len(lines[5]) // 2
    with open(manifest.path, "r+b") as f:
        f.truncate(cut)

    resumed = run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)
    assert resumed.skipped == {"row_rules": [0, 1, 2, 3], "constraints": [], "audio": []}
    assert _outputs(resumed) == cold
    again = run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)
    assert again.skipped == {
        "row_rules": [0, 1, 2, 3], "constraints": [GLOBAL_SHARD], "audio": [0, 1, 2, 3]
    }
    assert _outputs(again) == cold


def test_checkpointed_run_parses_manifest_once(spark, tmp_path_factory, monkeypatch):
    """A checkpointed run reads ``manifest.jsonl`` once, when it opens the
    manifest; the resume tests, the commit sweep and the violation reads of
    every stage use the records kept in memory."""
    from valor_spark.plans.checkpoint import RunManifest

    clips, ref = _audio_clips_ref(spark)
    ckpt = str(tmp_path_factory.mktemp("ckpt_parse"))
    parses = []
    parse = RunManifest.records

    def counted(self):
        parses.append(self.path)
        return parse(self)

    monkeypatch.setattr(RunManifest, "records", counted)
    cold = _outputs(run_pipeline(spark, clips, ref, checkpoint_dir=ckpt))
    assert len(parses) == 1
    # a second run over a changed shard: one stage part resumed, part recomputed
    changed = clips.withColumn(
        "transcript", F.when(F.col("shard") == 1, F.lit("")).otherwise(F.col("transcript"))
    )
    rep = run_pipeline(spark, changed, ref, checkpoint_dir=ckpt)
    assert rep.skipped["row_rules"] == [0, 2, 3]
    _outputs(rep)
    assert len(parses) == 2
    # and the in-memory records serve the same rows as a fresh parse
    assert _outputs(run_pipeline(spark, clips, ref, checkpoint_dir=ckpt)) == cold
    assert len(parses) == 3


def test_parent_format_checkpoint_refused(spark, tmp_path):
    """A run directory of the shard-partitioned layout, whose manifest has
    no format header, is refused with a named error instead of being
    misread."""
    import json

    from valor_spark.plans.checkpoint import CheckpointFormatError

    (tmp_path / "violations" / "stage=row_rules" / "shard=0").mkdir(parents=True)
    (tmp_path / "manifest.jsonl").write_text(
        json.dumps(
            {"stage": "row_rules", "shard": 0, "rows": 20, "violations": 0,
             "wall_s": 0.0, "fingerprint": 1, "finished_at": 0.0, "by_rule": {}}
        ) + "\n"
    )
    with pytest.raises(CheckpointFormatError, match="fresh checkpoint_dir"):
        run_pipeline(spark, _clean_clips(spark), None, checkpoint_dir=str(tmp_path))


def test_failed_run_releases_fingerprint_cache(spark):
    """A run that raises leaves no report to release, so it must not leave
    its fingerprint frame cached."""
    from valor_spark.plans.pipeline import shard_fingerprint_frame

    clips = _clean_clips(spark).withColumn(
        "shard", F.when(F.col("clip_id") == "clean_0001", F.lit(-1)).otherwise(F.col("shard"))
    )
    with pytest.raises(ValueError, match="non-negative"):
        run_pipeline(spark, clips, None)
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.lookupCachedData(shard_fingerprint_frame(clips)._jdf).isEmpty()


def test_negative_shard_rejected(spark):
    """Negative shard values collide with the GLOBAL (-1) / UNSHARDED (-2)
    sentinels — intake fails fast instead of corrupting verdicts."""
    import pytest as _pytest

    clips = _clean_clips(spark).withColumn(
        "shard",
        F.when(F.col("clip_id") == "clean_0001", F.lit(-1)).otherwise(
            F.col("shard")
        ),
    )
    with _pytest.raises(ValueError, match="non-negative"):
        run_pipeline(spark, clips, None)


def test_uri_run_dir_rejected():
    """The manifest append and the sweep of uncommitted run directories
    are local-FS operations — a URI-schemed run_dir would make the sweep a
    silent no-op on object stores."""
    import pytest as _pytest

    from valor_spark.plans.checkpoint import RunManifest

    with _pytest.raises(ValueError, match="local filesystem"):
        RunManifest("s3a://bucket/run")


def test_speech_rate_rules(spark):
    from valor_spark.plans.engine import validate
    from valor_spark.plans.pipeline import speech_rate_rules

    rows = [
        # 3 words / 1000 ms = 180 wpm -> in [40, 400]: pass
        ("ok", "one two three", 1000),
        # 3 words / 300 ms = 600 wpm -> TooFast
        ("fast", "one two three", 300),
        # 1 word / 2000 ms = 30 wpm -> TooSlow
        ("slow", "word", 2000),
        # out of scope: single-field rules own these
        ("empty", "", 1000),
        ("null_tr", None, 1000),
        ("bad_dur", "one two three", 0),
        ("null_dur", "one two three", None),
        # boundary: 2 words / 300 ms = 400 wpm exactly -> NOT > 400: pass
        ("edge", "one two", 300),
    ]
    df = spark.createDataFrame(rows, "clip_id string, transcript string, dur_ms int")
    got = {
        (r["clip_id"], r["error"])
        for r in validate(df, speech_rate_rules(), key_cols=["clip_id"])
        .violations()
        .collect()
    }
    assert got == {("fast", "SpeechTooFast"), ("slow", "SpeechTooSlow")}
