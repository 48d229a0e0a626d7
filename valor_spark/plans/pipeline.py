"""The full clips-validation pipeline (north_rule assembly).

Stages (SURVEY.md §2.6): (0) schema gate -> (1) vectorized row rules ->
(2) whole-table constraints (uniqueness, referential, stats) -> (3) audio
payload invariant -> (4) distribution drift -> (5) verdict assembly.  Every
stage emits violation rows in one uniform shape and per-shard metrics into
the checkpoint manifest; a resumed run skips completed shards/stages.

The module also holds the product's corpus rule sets (row rules, speech
rate, loudness, defects, channels, bandwidth, FLAC claims and their fused
merge).  Each is a table of SQL-text gates handed to
:func:`~valor_spark.functions.rules.gates`, so its thresholds and error
strings are plain text.  The row-rule and audio stages hash that text into
their resume keys: a changed gate under the same rule name recomputes the
stage instead of serving the old gate's violations.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field as dc_field
from typing import Literal

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from valor_spark.functions.rules import gates
from valor_spark.operators import constraints as C
from valor_spark.operators import drift as D
from valor_spark.operators.audio import DECODE_GATE, audio_rules, with_audio_invariant
from valor_spark.plans.checkpoint import GLOBAL_SHARD, RunManifest, ShardRecord, in_shards
from valor_spark.plans.engine import validate
from valor_spark.utils import sql_lit

CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("transcript", T.StringType()),
    ]
)

ALLOWED_SR = [8000, 16000, 22050, 24000, 44100, 48000]
ALLOWED_CODECS = ["pcm_s16le", "wav"]

#: rows whose shard value is NULL (dirty metadata — exactly what a
#: validation engine must tolerate) group under this pseudo-shard instead of
#: crashing the fingerprint collect or silently escaping the resume filter
#: (NULL `isin` evaluates to NULL -> filtered out -> never re-validated)
UNSHARDED = -2


def _shard_sql(has_shard: bool) -> str:
    if not has_shard:
        return "CAST(0 AS INT)"
    return f"coalesce(CAST(shard AS INT), {UNSHARDED})"


#: speech-rate plausibility window (words per minute).  Conversational
#: speech sits around 110-180 wpm; transcripts implying rates far outside
#: the window signal transcript/audio mismatch (wrong pairing, truncated
#: audio, machine-generated filler) — a cross-COLUMN consistency check the
#: single-field rules above cannot express.
MIN_WPM = 40
MAX_WPM = 400


def speech_rate_rules(min_wpm: int = MIN_WPM, max_wpm: int = MAX_WPM) -> dict:
    """Transcript-vs-duration consistency rule over the full row struct
    (a multi-column gate: it reads two columns of the row).

    All-integer decision: ``n_tokens * 60000`` vs ``wpm_bound * dur_ms``
    (bigint — no float division, so the verdict is exact and
    engine-portable).  Rows with NULL/empty transcripts or non-positive
    durations are OUT of scope — the single-field rules already flag them,
    and a rate over garbage inputs would double-report."""
    in_scope = "transcript != '' AND dur_ms > 0"
    words = (
        r"CAST(size(filter(split(lower(transcript), '\\s+'), t -> t != '')) "
        "AS BIGINT) * 60000"
    )
    dur = "CAST(dur_ms AS BIGINT)"
    return gates({
        "speech_rate": [
            (f"{in_scope} AND {words} > {sql_lit(max_wpm)} * {dur}", "'SpeechTooFast'"),
            (f"{in_scope} AND {words} < {sql_lit(min_wpm)} * {dur}", "'SpeechTooSlow'"),
        ]
    })


#: EBU R128-style corpus loudness gate (milli-units of operators/loudness.py)
MIN_LUFS_MILLI = -30_000
MAX_LUFS_MILLI = -10_000
MAX_TRUE_PEAK_MILLI = -1_000


#: upsample-provenance gates (units of operators/bandwidth.py)
UPSAMPLE_NYQ_FACTOR = 4     # content's 99% rolloff * 4 <= claimed rate
UPSAMPLE_HF_PERMILLE_MAX = 5


def bandwidth_rules(
    nyq_factor: int = UPSAMPLE_NYQ_FACTOR,
    hf_permille_max: int = UPSAMPLE_HF_PERMILLE_MAX,
) -> dict:
    """Provenance gates over the ``audio_bandwidth`` OUTPUT frame
    (operators/bandwidth.py) in the reference's rule algebra:

    * ``audio_decode`` — decode errors surface as rule violations;
    * ``bandwidth_unmeasurable`` — decodable but silent/empty content has
      no spectrum to judge;
    * ``upsample_provenance`` — the container claims a rate whose Nyquist
      is ``nyq_factor/2`` times above the content's 99 % rolloff AND
      essentially no power sits above claimed-rate/4: the clip was
      upsampled from a lower-rate original (or lossy-transcoded through
      one), i.e. the metadata overstates the information content — the
      corpus fault a sample-rate whitelist cannot see."""
    return gates({
        "audio_decode": [DECODE_GATE],
        "bandwidth_unmeasurable": [
            ("decode_error IS NULL AND rolloff99_hz IS NULL", "'Unmeasurable'")],
        "upsample_provenance": [(
            f"rolloff99_hz * {sql_lit(nyq_factor)} <= src_sr "
            f"AND hf_permille <= {sql_lit(hf_permille_max)}", "'Upsampled:' || rolloff99_hz")],
    })


#: waveform-defect corpus gates (units of operators/defects.py)
CLIP_RUN_LIMIT = 4          # >= 4 consecutive pinned samples = hard clip
DROPOUT_MS_LIMIT = 20       # >= 20 ms of exact zero inside audio = dropout
DC_PERMILLE_LIMIT = 20      # |mean| >= 2 % of full scale = DC fault


def defect_rules(
    clip_run_limit: int = CLIP_RUN_LIMIT,
    dropout_ms_limit: int = DROPOUT_MS_LIMIT,
    dc_permille_limit: int = DC_PERMILLE_LIMIT,
) -> dict:
    """Waveform-defect gates over the ``audio_defects`` OUTPUT frame
    (operators/defects.py), as SQL-text gates over all-integer columns
    (one shuffle-free Project):

    * ``audio_decode`` — decode errors surface as rule violations;
    * ``clipping``     — a pinned-sample RUN of ``clip_run_limit`` or more
      (a run separates a hard-clipped chain from a legitimate single
      full-scale peak, which passes);
    * ``silence``      — every sample is exactly zero: the clip carries no
      signal at all (kept distinct from ``dropout`` so downstream triage
      differs — silence is a recording/upload fault, a dropout is a
      splice/buffer fault);
    * ``dropout``      — an exact-zero run of ``dropout_ms_limit`` ms or
      longer INSIDE otherwise non-silent audio;
    * ``dc_offset``    — |mean| at or above ``dc_permille_limit`` per-mille
      of full scale.

    Decode-error rows carry zeroed metrics, so the waveform rules are
    naturally inert on them (passIf semantics, no explicit guard)."""
    return gates({
        "audio_decode": [DECODE_GATE],
        "clipping": [(f"max_clip_run >= {sql_lit(clip_run_limit)}",
                      "'HardClipped:' || max_clip_run")],
        "silence": [("n_samples > 0 AND max_zero_run = n_samples", "'AllSilence'")],
        "dropout": [(
            f"max_zero_run < n_samples AND max_zero_run_ms >= {sql_lit(dropout_ms_limit)}",
            "'Dropout:' || max_zero_run_ms")],
        "dc_offset": [(f"abs(dc_offset_permille) >= {sql_lit(dc_permille_limit)}",
                       "'DCOffset:' || dc_offset_permille")],
    })


#: inter-channel corpus gates (units of operators/channels.py)
PHASE_INVERT_PERMILLE = -900   # correlation <= -0.9 = polarity inversion
IMBALANCE_HI_PERMILLE = 990    # >= 99 % of energy on one side = dead channel
IMBALANCE_LO_PERMILLE = 10


def channel_rules(
    phase_invert_permille: int = PHASE_INVERT_PERMILLE,
    imbalance_hi: int = IMBALANCE_HI_PERMILLE,
    imbalance_lo: int = IMBALANCE_LO_PERMILLE,
) -> dict:
    """Inter-channel gates over the ``audio_channels`` OUTPUT frame
    (operators/channels.py), as SQL-text gates over all-integer columns
    (one shuffle-free Project):

    * ``audio_decode``      — decode errors surface as rule violations;
    * ``phase_inversion``   — normalized inter-channel correlation at or
      below ``phase_invert_permille`` per-mille (a mono downmix of the
      clip cancels toward silence);
    * ``channel_imbalance`` — the energy split leaves less than
      ``imbalance_lo`` per-mille on one side (dead/broken channel);
    * ``dual_mono``         — both channels bit-identical in a clip that
      actually carries signal (store it mono instead).

    Mono clips carry the pair metrics as NULL, so every stereo rule is
    naturally inert on them (SQL null semantics, no explicit guard) —
    the same pattern as decode-error rows in ``defect_rules``."""
    return gates({
        "audio_decode": [DECODE_GATE],
        "phase_inversion": [(f"phase_permille <= {sql_lit(phase_invert_permille)}",
                             "'PhaseInverted:' || phase_permille")],
        "channel_imbalance": [(
            f"balance_permille >= {sql_lit(imbalance_hi)} "
            f"OR balance_permille <= {sql_lit(imbalance_lo)}",
            "'Imbalance:' || balance_permille")],
        "dual_mono": [("dual_mono = 1 AND ssq_l > 0", "'DualMono'")],
    })


def flac_rules() -> dict:
    """Metadata-claims gates over the ``probe_flac`` OUTPUT frame
    (operators/flac.py) in the reference's rule algebra — the
    tier-validation question for a lossless corpus is "does the
    container's STREAMINFO tell the truth about the audio?":

    * ``flac_decode``       — malformed streams, CRC failures, claimed
      total-sample counts the frames don't deliver (typed errors);
    * ``flac_md5``          — the PCM MD5 claim does not match the
      decoded samples (payload corruption a header-only scan misses);
    * ``flac_rate_claim``   — STREAMINFO's sample rate disagrees with
      the corpus metadata's ``sr_hz`` (the same header-vs-metadata gate
      the WAV path runs as ``sr_header_consistent``);
    * ``flac_unknown_length`` — ``total_samples = 0``: legal but
      unbounded (duration unknowable without a full decode), which an
      intake tier wants surfaced.

    Rows with NULL metrics (unparseable streams) keep every claims rule
    inert via SQL null semantics; the decode rule carries them."""
    return gates({
        "flac_decode": [DECODE_GATE],
        "flac_md5": [("md5_ok = 0", "'Md5Mismatch'")],
        "flac_rate_claim": [("claim_sample_rate != sr_hz",
                             "'RateClaimMismatch:' || claim_sample_rate || '!=' || sr_hz")],
        "flac_unknown_length": [("claim_total_samples = 0", "'UnknownLength'")],
    })


def corpus_audio_rules() -> dict:
    """EVERY program-level audio gate over the FUSED one-decode frame
    (operators/fused.py::audio_all_stats): the loudness window + true
    peak, the waveform-defect gates, and the upsample-provenance line,
    merged into one rule dict — so a 10^12-clip intake runs ONE payload
    scan (audio_all_stats) and ONE shuffle-free Project (this rule tree)
    for the whole audio gate.  The three families share the
    ``audio_decode`` rule (identical definition), so the merge keeps a
    single copy."""
    return {**loudness_rules(), **defect_rules(), **bandwidth_rules()}


def loudness_rules(
    min_lufs_milli: int = MIN_LUFS_MILLI,
    max_lufs_milli: int = MAX_LUFS_MILLI,
    max_true_peak_milli: int = MAX_TRUE_PEAK_MILLI,
) -> dict:
    """Program-level audio gates over the ``audio_loudness`` OUTPUT frame
    (operators/loudness.py) — the R128-style corpus window re-expressed as
    SQL-text gates over integer milli-units (one shuffle-free Project):

    * ``audio_decode``   — decode errors surface as rule violations;
    * ``loudness_measurable`` — a decodable clip whose every gating block
      fell under the -70 LKFS absolute gate has no program loudness
      (silence / sub-400 ms) and cannot be level-checked;
    * ``loudness_range`` — integrated loudness outside
      [min_lufs_milli, max_lufs_milli];
    * ``true_peak``      — inter-sample peak above max_true_peak_milli
      (clipping risk under any downstream resample/encode).

    NULL inputs are out of scope for range/peak rules (NULL comparisons
    are NULL -> no error), mirroring the reference's passIf semantics."""
    return gates({
        "audio_decode": [DECODE_GATE],
        "loudness_measurable": [("decode_error IS NULL AND lufs_milli IS NULL", "'Unmeasurable'")],
        "loudness_range": [
            (f"lufs_milli < {sql_lit(min_lufs_milli)}", "'TooQuiet:' || lufs_milli"),
            (f"lufs_milli > {sql_lit(max_lufs_milli)}", "'TooLoud:' || lufs_milli"),
        ],
        "true_peak": [(f"true_peak_milli_dbtp > {sql_lit(max_true_peak_milli)}",
                       "'ClippingRisk:' || true_peak_milli_dbtp")],
    })


def clips_row_rules() -> dict:
    """Per-row schema/sanity rules over the input_hint columns, as SQL-text
    gates (one narrow select, no shuffle)."""
    return gates({
        "clip_id_valid": [("clip_id IS NULL OR clip_id = ''", "'ClipIdEmpty'")],
        "sr_valid": [
            ("sr_hz IS NULL OR sr_hz <= 0", "'SampleRateNonPositive'"),
            (f"sr_hz > 0 AND sr_hz NOT IN {sql_lit(ALLOWED_SR)}", "'SampleRateNotAllowed'"),
        ],
        "dur_positive": [("dur_ms IS NULL OR dur_ms <= 0", "'DurationNonPositive'")],
        "codec_allowed": [(f"codec IS NULL OR codec NOT IN {sql_lit(ALLOWED_CODECS)}",
                           "'CodecNotAllowed:' || coalesce(codec, 'null')")],
        "transcript_nonempty": [("transcript IS NULL OR transcript = ''", "'TranscriptEmpty'")],
        "bytes_present": [("bytes IS NULL OR length(bytes) = 0", "'BytesEmpty'")],
    })


def _fingerprint_cols(
    df: DataFrame,
    meta_cols: tuple[str, ...],
    payload_col: str,
    fingerprint_payload: bool | Literal["content"],
) -> list:
    """Columns hashed into a resume fingerprint: the ``meta_cols`` present
    in ``df`` (else its first column), plus ``payload_col`` as
    ``fingerprint_payload`` asks (see :func:`shard_fingerprint_frame`)."""
    cols = [F.col(c) for c in meta_cols if c in df.columns] or [F.col(df.columns[0])]
    if fingerprint_payload and payload_col in df.columns:
        cols.append(
            F.col(payload_col)
            if fingerprint_payload == "content"
            else F.coalesce(F.length(payload_col), F.lit(-1))
        )
    return cols


def shard_fingerprint_frame(
    clips: DataFrame, fingerprint_payload: bool | Literal["content"] = False
) -> DataFrame:
    """Per-shard (rows, fingerprint) used for checkpoint-resume decisions.

    The content fingerprint covers every rule-relevant METADATA column, not
    just the key (a changed transcript/sr_hz/dur_ms must invalidate the
    shard).  The payload is deliberately excluded by default: parquet BINARY
    lengths live in the data pages, so even ``length(bytes)`` forces a full
    payload scan — at 100 TB the resume-decision aggregation must stay a
    metadata-column read, orders of magnitude cheaper than the work it
    skips.  ``fingerprint_payload`` opts payload coverage in for callers
    whose payloads can change under identical metadata: any truthy value
    adds length(bytes); the string ``"content"`` hashes the bytes themselves
    (catches in-place same-length payload swaps — a full payload scan per
    resume decision, the price of that guarantee).  With the default
    metadata-only fingerprint, an in-place payload mutation is outside the
    resume contract: a checkpointed audio stage will skip on matching
    metadata.

    ``bit_xor``: order-independent combine that cannot overflow (ANSI mode
    makes sum(hash) throw on long overflow); XOR self-cancellation is
    handled by comparing (rows, fingerprint) PAIRS, never fingerprint alone.
    """
    has_shard = "shard" in clips.columns
    meta = ("clip_id", "sr_hz", "dur_ms", "codec", "transcript")
    fp_cols = _fingerprint_cols(clips, meta, "bytes", fingerprint_payload)
    # raw_min rides the same aggregate for free and lets the intake guard
    # distinguish a REAL negative shard value from the NULL->UNSHARDED(-2)
    # coalescing above: min() skips NULLs, so a group whose rows were all
    # NULL-shard has raw_min NULL while any genuine negative value surfaces.
    raw_shard = (
        F.col("shard").cast("int") if has_shard else F.lit(0).cast("int")
    )
    return clips.groupBy(F.expr(_shard_sql(has_shard)).alias("shard")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*fp_cols)).alias("fingerprint"),
        F.min(raw_shard).alias("raw_min"),
    )


def _cfg_fingerprint(*parts) -> int:
    """Stable 64-bit hash of a rule/stage configuration, mixed (XOR) into
    the resume fingerprints so a config change (thresholds, enabled rules,
    a changed reference table) invalidates checkpointed results the same
    way a data change does.  md5-based: Python's ``hash()`` is salted per
    process and useless across runs."""
    import hashlib

    digest = hashlib.md5(repr(parts).encode()).digest()[:8]
    return int.from_bytes(digest, "big", signed=True)


def _gate_text(rules: dict) -> tuple:
    """A rule set's resume-key part: every rule's name with its gate text,
    so a changed threshold, list or error string under the same rule name
    invalidates like a data change."""
    return tuple((name, rule.sql) for name, rule in rules.items())


@dataclass
class PipelineReport:
    rows: int = 0
    violations: DataFrame | None = None
    shard_verdicts: DataFrame | None = None
    stats: DataFrame | None = None
    drift: list = dc_field(default_factory=list)
    schema_errors: list = dc_field(default_factory=list)
    stage_wall_s: dict = dc_field(default_factory=dict)
    skipped: dict = dc_field(default_factory=dict)
    _persisted: DataFrame | None = None

    def release(self) -> None:
        """Unpersist the cached per-shard fingerprint frame.  Call when done
        with the report in a long-lived session — ``run_pipeline`` collects
        it once (``rows`` is already a number), but the lazy
        ``shard_verdicts`` join it again and would otherwise pin executor
        storage memory per run_pipeline call (later actions still work,
        they just recompute)."""
        if self._persisted is not None:
            self._persisted.unpersist()
            self._persisted = None


def _per_shard_metrics(
    vio: DataFrame,
    shard_stats: dict,
    stage: str,
    run_id: str,
    started: float,
    written: Observation | None = None,
) -> list[ShardRecord]:
    """The records that commit a stage run: one per computed shard, naming
    ``run_id``, with (rows, fingerprint) from the input stats and total and
    per-rule violation counts from ``vio``, the frame just written (the
    north_rule's per-partition lineage + rule metrics).  A rule stage's
    ``vio`` sits above the ``violations()`` localCheckpoint barrier, so one
    groupBy counts it without running the stage again or reading parquet
    back.  A whole-table stage's rows sit below no barrier: its one record
    takes the row count ``written`` observed on the write."""
    vio_counts: dict = {}
    rule_counts: dict = {}
    if written is not None:
        vio_counts[GLOBAL_SHARD] = written.get["n"]
    else:
        by_shard_rule = vio.groupBy("shard", "rule").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
        for r in by_shard_rule:
            vio_counts[r["shard"]] = vio_counts.get(r["shard"], 0) + r["n"]
            rule_counts.setdefault(r["shard"], {})[r["rule"]] = r["n"]
    now = time.time()
    return [
        ShardRecord(
            stage=stage,
            shard=int(s),
            rows=rows,
            violations=int(vio_counts.get(s, 0)),
            wall_s=now - started,
            fingerprint=fp,
            finished_at=now,
            run_id=run_id,
            by_rule=rule_counts.get(s, {}),
        )
        for s, (rows, fp) in shard_stats.items()
    ]


def _sharded_stage(
    spark: SparkSession,
    clips: DataFrame,
    manifest: RunManifest | None,
    stage: str,
    keys: dict[int, tuple[int, int]],
    prepare,
    rules: dict | None,
    report: PipelineReport,
) -> DataFrame:
    """Run one checkpointed stage and return its violation rows.

    ``keys`` maps each shard of the stage to its resume key (rows,
    fingerprint XOR the stage config); a whole-table stage has the one
    shard ``GLOBAL_SHARD``.  Shards whose key matches their committed record
    are skipped by filtering the scan.  The rest run as
    ``validate(prepare(todo), rules)``, or with ``rules=None`` as
    ``prepare(todo)``, which then builds the violation rows itself (the
    constraints).  With a manifest, those rows are written once to a new
    run directory and committed by one record per computed shard; the
    stage's result is read from the committed run directories."""
    latest = manifest.latest(stage) if manifest else {}
    done = sorted(
        s for s, key in keys.items()
        if s in latest and (latest[s].rows, latest[s].fingerprint) == key
    )
    report.skipped[stage] = done
    if manifest and len(done) == len(keys):
        return manifest.read_violations(spark, stage, C.VIOLATION_SCHEMA, shards=keys)
    started = time.time()
    todo = clips
    if done:
        todo = clips.filter(~in_shards(_shard_sql("shard" in clips.columns), done))
    frame = prepare(todo)
    written = None
    if rules is None:
        vio = frame
        if manifest:
            written = Observation()
            vio = vio.observe(written, F.count(F.lit(1)).alias("n"))
    else:
        has_shard = "shard" in frame.columns
        res = validate(
            frame,
            rules=rules,
            key_cols=["clip_id"],
            shard_col="shard" if has_shard else None,
        )
        vio = res.violations().select(
            "clip_id", F.expr(_shard_sql(has_shard)).alias("shard"), "rule", "path", "error"
        )
    if not manifest:
        return vio
    todo_keys = {s: key for s, key in keys.items() if s not in done}
    run_id = manifest.write_violations(stage, vio)
    manifest.append(_per_shard_metrics(vio, todo_keys, stage, run_id, started, written))
    return manifest.read_violations(spark, stage, C.VIOLATION_SCHEMA, shards=keys)


def run_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    clips_ref: DataFrame | None = None,
    baseline: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    snr_db_min: float = 30.0,
    fingerprint_payload: bool | Literal["content"] = False,
) -> PipelineReport:
    """Validate ``clips`` through every stage; resumable when
    ``checkpoint_dir`` is set.

    The audio stage runs when ``clips_ref`` carries ``pcm_ref``.  Empty or
    null payloads then surface there as decode errors, so the row-rule
    stage drops the ``bytes_present`` rule and PRUNES bytes from its scan
    (metadata-only columnar read) — at 100 TB that's the difference between
    a KB-scale and a PB-scale stage input.  ``fingerprint_payload`` extends
    the resume fingerprints to the payloads (see
    :func:`shard_fingerprint_frame`).

    Spark actions: ONE collect of the persisted per-shard fingerprint frame
    (shard guard, resume keys and ``report.rows``) and the drift histograms;
    with ``checkpoint_dir`` also the ``clips_ref`` fingerprint aggregate and,
    per stage that runs, one write of its new run directory; the row-rule
    and audio stages add one per-(shard, rule) count of the frame just
    written (the constraints count is observed on their write).
    ``violations``, ``shard_verdicts`` and ``stats`` stay lazy."""
    report = PipelineReport()
    manifest = RunManifest(checkpoint_dir) if checkpoint_dir else None
    # persist: the verdict join reads this 1-row-per-shard aggregate again;
    # without the cache it would re-scan the input's metadata columns.  Its
    # ONE collect feeds the shard guard, the resume keys and the row total.
    # A run that raises has no report to release it, so it releases here.
    report._persisted = shard_fingerprint_frame(clips, fingerprint_payload).persist()
    try:
        _run_stages(
            spark, clips, clips_ref, baseline, manifest, snr_db_min,
            fingerprint_payload, report,
        )
    except BaseException:
        report.release()
        raise
    return report


def _run_stages(
    spark: SparkSession,
    clips: DataFrame,
    clips_ref: DataFrame | None,
    baseline: DataFrame | None,
    manifest: RunManifest | None,
    snr_db_min: float,
    fingerprint_payload: bool | Literal["content"],
    report: PipelineReport,
) -> None:
    """The stages of :func:`run_pipeline`, filling ``report``."""
    run_audio = clips_ref is not None and "pcm_ref" in clips_ref.columns
    vio_frames: list[DataFrame] = []
    shards_fp = report._persisted
    shard_rows = shards_fp.collect()
    # Negative shard values would collide with the GLOBAL (-1) / UNSHARDED
    # (-2) sentinels — a real shard=-1's violations would merge into the
    # global verdict row and resume keys would alias.  Fail fast at intake.
    # raw_min is NULL for the NULL-shard (tolerated, revalidated) group;
    # any non-NULL negative means a genuine negative shard value.
    neg = [r["raw_min"] for r in shard_rows if r["raw_min"] is not None and r["raw_min"] < 0]
    if neg:
        raise ValueError(
            f"run_pipeline: shard values must be non-negative (found "
            f"{neg[0]}); negative values are reserved for the "
            f"GLOBAL ({GLOBAL_SHARD}) and UNSHARDED ({UNSHARDED}) sentinels"
        )
    raw_stats = {
        int(r["shard"]): (int(r["rows"]), int(r["fingerprint"])) for r in shard_rows
    }

    # Reference-table fingerprint: the constraints (referential) and audio
    # stages consume clips_ref, so their resume validity must cover it —
    # otherwise a changed/shrunk ref serves stale verdicts on resume.
    # ``fingerprint_payload`` extends coverage to the ref PAYLOAD too: an
    # in-place pcm_ref swap under unchanged metadata is otherwise outside
    # the resume contract (same trade as the clips-side fingerprint — the
    # default keeps the resume decision a metadata-only read).
    ref_rows, ref_fp = 0, 0
    if manifest and clips_ref is not None:
        ref_cols = _fingerprint_cols(
            clips_ref, ("clip_id", "transcript_ref"), "pcm_ref", fingerprint_payload
        )
        r = clips_ref.agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.bit_xor(F.xxhash64(*ref_cols)), F.lit(0)).alias("fp"),
        ).collect()[0]
        ref_rows, ref_fp = int(r["rows"]), int(r["fp"])

    def stage_keys(cfg: int) -> dict[int, tuple[int, int]]:
        """Per-shard resume keys with a stage's config hash mixed in:
        enabling/disabling rules or changing a threshold must recompute
        shards, not serve the old configuration's violations."""
        return {s: (rows, fp ^ cfg) for s, (rows, fp) in raw_stats.items()}

    # ---- stage 0: schema gate -------------------------------------------
    t0 = time.time()
    core = clips.drop("shard", "id", "gen_id")  # engine columns are not part of the contract
    report.schema_errors = C.schema_violations(core, CLIPS_SCHEMA)
    if report.schema_errors:
        vio_frames.append(
            C.global_violations(spark, [("schema", "", e) for e in report.schema_errors])
        )
    report.stage_wall_s["schema"] = time.time() - t0

    # ---- stage 1: row rules (shard-granular resume) ----------------------
    t0 = time.time()
    rules = clips_row_rules()
    if run_audio:
        del rules["bytes_present"]
    vio_frames.append(
        _sharded_stage(
            spark, clips, manifest, "row_rules",
            stage_keys(_cfg_fingerprint("row_rules", _gate_text(rules))),
            (lambda todo: todo.drop("bytes")) if run_audio else (lambda todo: todo),
            rules, report,
        )
    )
    report.stage_wall_s["row_rules"] = time.time() - t0

    # Global (whole-table) stages resume at stage granularity, validated by
    # a table-level (rows, fingerprint) key covering BOTH inputs (XOR of
    # per-shard XORs == XOR over all clips rows; the ref table's fingerprint
    # and each stage's config hash are mixed in, so a changed clips_ref or a
    # changed threshold recomputes instead of serving stale results).
    global_rows = sum(rows for rows, _ in raw_stats.values())
    global_fp = 0
    for _, fp in raw_stats.values():
        global_fp ^= fp
    key_rows = global_rows + ref_rows
    cons_fp = global_fp ^ ref_fp ^ _cfg_fingerprint(
        "constraints", clips_ref is not None
    )

    # ---- stage 2: whole-table constraints (global resume) ---------------
    t0 = time.time()
    stage = "constraints"

    def constraints(todo: DataFrame) -> DataFrame:
        cons = C.uniqueness_violations(todo, "clip_id")
        if clips_ref is not None:
            cons = cons.unionByName(C.referential_violations(todo, clips_ref, "clip_id"))
        return cons

    vio_frames.append(
        _sharded_stage(
            spark, clips, manifest, stage, {GLOBAL_SHARD: (key_rows, cons_fp)},
            constraints, None, report,
        )
    )
    report.stats = C.column_stats(
        clips.select("clip_id", "sr_hz", "dur_ms", "codec", "transcript")
    )
    report.stage_wall_s[stage] = time.time() - t0

    # ---- stage 3: audio payload invariant (SHARD-granular resume) --------
    # At 100 TB the audio decode pass is the dominant cost: a 99%-complete
    # run that dies must not re-decode everything.  Resume keys mix in the
    # GLOBAL ref fingerprint and the stage config (snr threshold + ref row
    # count) — the ref table has no shard alignment of its own, so a ref
    # change conservatively invalidates every shard, while the dominant case
    # (appended / changed clips shards) recomputes only the affected shards.
    if run_audio:
        t0 = time.time()
        rules = audio_rules(snr_db_min)
        vio_frames.append(
            _sharded_stage(
                spark, clips, manifest, "audio",
                stage_keys(_cfg_fingerprint("audio", _gate_text(rules), ref_rows) ^ ref_fp),
                lambda todo: with_audio_invariant(todo, clips_ref),
                rules, report,
            )
        )
        report.stage_wall_s["audio"] = time.time() - t0

    # ---- stage 4: distribution drift (ALL metrics from one scan) ---------
    if baseline is not None:
        t0 = time.time()
        report.drift = D.drift_report(
            clips,
            baseline,
            numeric={
                "dur_ms": dict(
                    lo=0.0, hi=1001.0, nbins=20, threshold=0.1,
                    pred=F.col("dur_ms") > 0,
                )
            },
            categorical={"sr_hz": dict(threshold=0.2, pred=F.col("sr_hz") > 0)},
        )
        drifted = [
            (f"drift_{d.metric}", f".{d.column}",
             f"DriftExceeded:{d.metric}={d.value:.4f}>{d.threshold}")
            for d in report.drift
            if not d.passed
        ]
        if drifted:
            vio_frames.append(C.global_violations(spark, drifted))
        report.stage_wall_s["drift"] = time.time() - t0

    # ---- stage 5: verdict assembly ---------------------------------------
    t0 = time.time()
    all_vio = vio_frames[0]  # stage 1 always contributes a frame
    for v in vio_frames[1:]:
        all_vio = all_vio.unionByName(v)
    report.violations = all_vio
    # Table-level violations (uniqueness, referential orphans, schema,
    # drift) carry shard=NULL — they must not vanish from the verdicts
    # (a NULL key never matches a left join).  They aggregate under the
    # GLOBAL_SHARD (-1) verdict row, present only when such violations
    # exist, so a failing table can never read as all-shards-passed
    # without a failing global row beside them.
    vio_counts = all_vio.groupBy(
        F.coalesce(F.col("shard"), F.lit(GLOBAL_SHARD)).alias("shard")
    ).agg(F.count(F.lit(1)).alias("violations"))
    per_shard = (
        shards_fp.alias("s")
        .join(vio_counts, on="shard", how="left")
        .select(
            "shard",
            "rows",
            F.coalesce("violations", F.lit(0)).alias("violations"),
            (F.coalesce("violations", F.lit(0)) == 0).alias("passed"),
            "fingerprint",
        )
    )
    global_verdict = vio_counts.filter(F.col("shard") == GLOBAL_SHARD).select(
        F.lit(GLOBAL_SHARD).alias("shard"),
        F.lit(0).cast("long").alias("rows"),
        F.col("violations"),
        F.lit(False).alias("passed"),
        F.lit(0).cast("long").alias("fingerprint"),
    )
    report.shard_verdicts = per_shard.unionByName(global_verdict)
    report.rows = global_rows
    report.stage_wall_s["verdicts"] = time.time() - t0
