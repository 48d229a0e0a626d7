"""The decode-error contract of every per-clip audio operator.

One small clip table runs through all 13 payload operators: one good
``pcm_s16le`` clip and one clip per bad input (NULL bytes, an odd byte
count, an unsupported codec, a WAV container that is not RIFF/WAVE, a
zero and a NULL sample rate).  For each operator the test pins its output
schema and its FULL output row for every bad input: the error string, and
which metrics read 0 and which read NULL.  The expanding operators
(``audio_segments``, ``audio_fingerprints``) emit no rows for an
undecodable clip.  ``with_audio_invariant`` additionally meets a NULL and an
odd-length reference decode."""

import math

import numpy as np
import pytest

from valor_spark.operators import audio as A
from valor_spark.operators.audio_fp import audio_fingerprints
from valor_spark.operators.bandwidth import audio_bandwidth
from valor_spark.operators.channels import audio_channels
from valor_spark.operators.defects import audio_defects
from valor_spark.operators.flac import probe_flac
from valor_spark.operators.fused import audio_all_stats
from valor_spark.operators.loudness import audio_loudness
from valor_spark.operators.resample import audio_resample_stats

SR = 16000
#: a 1 s four-note melody: every operator has something to measure
_F = np.repeat([440.0, 660.0, 880.0, 550.0], SR // 4)
GOOD = (8000 * np.sin(2 * np.pi * np.cumsum(_F) / SR)).astype("<i2").tobytes()
#: 64 samples at +1000: the hand-checkable signal of the rate rows
CONST = np.full(64, 1000, "<i2").tobytes()

CLIPS = [
    # clip_id, bytes, codec, sr_hz
    ("good", GOOD, "pcm_s16le", SR),
    ("null", None, "pcm_s16le", SR),
    ("odd", b"\x01\x02\x03", "pcm_s16le", SR),
    ("mp3", b"\xff\xfb\x90\x00" * 4, "mp3", SR),
    ("riff", b"RIFFgarbage", "wav", SR),
    ("zero_sr", CONST, "pcm_s16le", 0),
    ("null_sr", CONST, "pcm_s16le", None),
    ("noref", CONST, "pcm_s16le", SR),
    ("oddref", CONST, "pcm_s16le", SR),
]
#: reference decodes: exact copies, except a NULL and a 3-byte one
REFS = {"noref": None, "oddref": b"\x00\x01\x02"}

DECODE_ERRORS = {
    "null": "null_bytes",
    "odd": "odd_byte_length",
    "mp3": "unsupported_codec:mp3",
    "riff": "decode_failed:not_riff_wave",
}
CONST_HASH = "b177362320ad5ba018dcc07c90ebdf15"


def _errs(metrics: tuple, keys: tuple = ()) -> dict:
    """The same error row (``keys``, then ``metrics``, then the error) for
    every undecodable clip."""
    return {cid: (*keys, *metrics, err) for cid, err in DECODE_ERRORS.items()}


def _rate_rows(row_at_zero: tuple, row_at_null: tuple | None = None) -> dict:
    return {"zero_sr": row_at_zero, "null_sr": row_at_null or row_at_zero}


def _invariant_rows():
    out = {
        cid: (True, SR, "nan", 0, err, None)
        for cid, err in DECODE_ERRORS.items()
    }
    out["zero_sr"] = (True, 0, math.inf, 64, None, None)
    out["null_sr"] = (True, None, math.inf, 64, None, None)
    out["noref"] = (True, SR, "nan", 0, "missing_reference", None)
    out["oddref"] = (True, SR, "nan", 0, "reference_odd_byte_length", None)
    return out


_FUSED_ERR = (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, None, None, None,
              None, None, None, 0, 0, None, 0)
_FUSED_CONST = (64, 1000, 64000000, 0, 0, 0, 0, 0, 0, 0, 0, None, None, None,
                None, None, None, 0, 0, None, 31, None)

# operator -> (output dtypes, {clip_id: full row after clip_id (and shard)})
CASES = {
    "with_audio_invariant": (
        [("clip_id", "string"), ("shard", "int"), ("transcript_ok", "boolean"),
         ("sr_hz", "int"), ("snr_db", "double"), ("n_samples", "int"),
         ("decode_error", "string"), ("header_sr_hz", "int")],
        _invariant_rows(),
    ),
    "audio_profile": (
        [("clip_id", "string"), ("n_samples", "int"), ("peak_abs", "int"),
         ("sum_sq", "bigint"), ("n_clipped", "int"), ("n_silent", "int"),
         ("lead_silence", "int"), ("trail_silence", "int"),
         ("decode_error", "string")],
        {**_errs((0, 0, 0, 0, 0, 0, 0)),
         **_rate_rows((64, 1000, 64000000, 0, 0, 0, 0, None))},
    ),
    "audio_spectrum": (
        [("clip_id", "string"), ("n_samples", "int"), ("dom_bin", "int"),
         ("dom_hz", "int"), ("second_bin", "int"), ("impurity_milli", "int"),
         ("decode_error", "string")],
        {**_errs((0, 0, 0, 0, 0)), **_rate_rows((64, 0, 0, 0, 0, None))},
    ),
    "audio_segments": (
        [("clip_id", "string"), ("seg_idx", "int"), ("start_sample", "int"),
         ("end_sample", "int")],
        {**{cid: None for cid in DECODE_ERRORS}, **_rate_rows((0, 0, 64))},
    ),
    "audio_content_hash": (
        [("clip_id", "string"), ("content_hash", "string"),
         ("decode_error", "string")],
        {**_errs((None,)), **_rate_rows((CONST_HASH, None))},
    ),
    "audio_bandwidth": (
        [("clip_id", "string"), ("src_sr", "int"), ("n_samples", "int"),
         ("rolloff95_hz", "int"), ("rolloff99_hz", "int"),
         ("hf_permille", "int"), ("decode_error", "string")],
        {**_errs((0, None, None, None), keys=(SR,)),
         **_rate_rows((0, 64, None, None, None, None))},
    ),
    "audio_defects": (
        [("clip_id", "string"), ("n_samples", "int"),
         ("clipped_samples", "int"), ("max_clip_run", "int"),
         ("max_zero_run", "int"), ("max_zero_run_ms", "int"),
         ("dc_offset_permille", "int"), ("decode_error", "string")],
        {**_errs((0, 0, 0, 0, None, 0)),
         **_rate_rows((64, 0, 0, 0, None, 31, None))},
    ),
    "audio_loudness": (
        [("clip_id", "string"), ("n_samples", "int"), ("n_blocks", "int"),
         ("gated_blocks", "int"), ("lufs_milli", "int"),
         ("peak_milli_dbfs", "int"), ("true_peak_milli_dbtp", "int"),
         ("decode_error", "string")],
        {**_errs((0, 0, 0, None, None, None)),
         **_rate_rows((64, 0, 0, None, None, None, None))},
    ),
    "audio_resample_stats": (
        [("clip_id", "string"), ("src_sr", "int"), ("out_sr", "int"),
         ("n_in", "int"), ("n_out", "int"), ("dom_hz", "int"),
         ("decode_error", "string")],
        {**_errs((0, 0, 0), keys=(SR, SR)),
         **_rate_rows((0, SR, 0, 0, 0, "bad_rate"))},
    ),
    "audio_fingerprints": (
        [("clip_id", "string"), ("fp_hash", "bigint"), ("t_frame", "int")],
        {**{cid: None for cid in DECODE_ERRORS}, **_rate_rows(None)},
    ),
    "audio_all_stats": (
        [("clip_id", "string"), ("src_sr", "int")]
        + [(n, "bigint" if n == "sum_sq" else "int") for n in (
            "n_samples", "peak_abs", "sum_sq", "n_clipped", "n_silent",
            "lead_silence", "trail_silence", "dom_hz", "impurity_milli",
            "n_blocks", "gated_blocks", "lufs_milli", "peak_milli_dbfs",
            "true_peak_milli_dbtp", "rolloff95_hz", "rolloff99_hz",
            "hf_permille", "max_clip_run", "max_zero_run",
            "max_zero_run_ms", "dc_offset_permille")]
        + [("decode_error", "string")],
        {**_errs(_FUSED_ERR, keys=(SR,)), **_rate_rows((0, *_FUSED_CONST))},
    ),
    "audio_channels": (
        [("clip_id", "string"), ("n_channels", "int"), ("n_frames", "int"),
         ("ssq_l", "bigint"), ("ssq_r", "bigint"), ("dot_lr", "bigint"),
         ("dual_mono", "int"), ("balance_permille", "int"),
         ("phase_permille", "int"), ("decode_error", "string")],
        {**_errs((0, 0, None, None, None, None, None, None)),
         **_rate_rows((1, 64, 64000000, None, None, None, None, None, None))},
    ),
    "probe_flac": (
        [("clip_id", "string"), ("sr_hz", "int"), ("claim_sample_rate", "int"),
         ("claim_channels", "int"), ("claim_bps", "int"),
         ("claim_total_samples", "bigint"), ("claim_min_blocksize", "int"),
         ("claim_max_blocksize", "int"), ("has_md5", "int"),
         ("decoded_samples", "bigint"), ("decoded_rate", "int"),
         ("md5_ok", "int"), ("decode_error", "string")],
        {
            **{
                cid: (SR, *([None] * 10),
                      "null_bytes" if cid == "null" else "decode_failed:not_flac")
                for cid in DECODE_ERRORS
            },
            **_rate_rows(
                (0, *([None] * 10), "decode_failed:not_flac"),
                (None, *([None] * 10), "decode_failed:not_flac"),
            ),
        },
    ),
}

OPERATORS = {
    "with_audio_invariant": lambda clips, ref: A.with_audio_invariant(clips, ref),
    "audio_profile": lambda clips, ref: A.audio_profile(clips),
    "audio_spectrum": lambda clips, ref: A.audio_spectrum(clips),
    "audio_segments": lambda clips, ref: A.audio_segments(clips),
    "audio_content_hash": lambda clips, ref: A.audio_content_hash(clips),
    "audio_bandwidth": lambda clips, ref: audio_bandwidth(clips),
    "audio_defects": lambda clips, ref: audio_defects(clips),
    "audio_loudness": lambda clips, ref: audio_loudness(clips),
    "audio_resample_stats": lambda clips, ref: audio_resample_stats(clips),
    "audio_fingerprints": lambda clips, ref: audio_fingerprints(clips),
    "audio_all_stats": lambda clips, ref: audio_all_stats(clips),
    "audio_channels": lambda clips, ref: audio_channels(clips),
    "probe_flac": lambda clips, ref: probe_flac(clips),
}


@pytest.fixture(scope="module")
def tables(spark):
    clips = spark.createDataFrame(
        [(cid, raw, codec, sr, "t", k) for k, (cid, raw, codec, sr) in enumerate(CLIPS)],
        "clip_id string, bytes binary, codec string, sr_hz int, "
        "transcript string, shard int",
    )
    ref = spark.createDataFrame(
        [(cid, REFS.get(cid, CONST if raw is None else raw), "t")
         for cid, raw, _codec, _sr in CLIPS],
        "clip_id string, pcm_ref binary, transcript_ref string",
    )
    return clips, ref


def _norm(v):
    return "nan" if isinstance(v, float) and math.isnan(v) else v


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_decode_error_contract(tables, name):
    clips, ref = tables
    df = OPERATORS[name](clips, ref)
    dtypes, expected = CASES[name]
    assert df.dtypes == dtypes
    n_id = 2 if name == "with_audio_invariant" else 1  # clip_id (+ shard)
    got: dict[str, list[tuple]] = {}
    for r in df.collect():
        got.setdefault(r.clip_id, []).append(tuple(_norm(v) for v in tuple(r)[n_id:]))
    if name == "with_audio_invariant":
        shards = {r.clip_id: r.shard for r in df.select("clip_id", "shard").collect()}
        assert shards == {cid: k for k, (cid, *_rest) in enumerate(CLIPS)}
    # the good clip decodes everywhere (probe_flac: it is no FLAC stream)
    good = got["good"]
    assert good, name
    if "decode_error" in df.columns:
        want = "decode_failed:not_flac" if name == "probe_flac" else None
        assert good[0][-1] == want, good
    for cid, row in expected.items():
        assert got.get(cid, []) == ([] if row is None else [row]), (name, cid)
