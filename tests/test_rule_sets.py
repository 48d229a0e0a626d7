"""The contract of every rule set the product ships: rule names and their
order, and the exact multiset of violation rows on a small hand-written
frame whose rows sit on NULLs, empty strings, NaN and one below / at / one
above every threshold.  Each set's verdicts must also stay one
shuffle-free, Python-free projection."""

import pytest

from valor_spark.operators.audio import audio_quality_rules, audio_rules
from valor_spark.operators.text import doc_quality_rules
from valor_spark.plans.engine import validate
from valor_spark.plans.pipeline import (
    bandwidth_rules,
    channel_rules,
    clips_row_rules,
    corpus_audio_rules,
    defect_rules,
    flac_rules,
    loudness_rules,
    speech_rate_rules,
)

NAN = float("nan")

CLIPS_ROW = (
    clips_row_rules,
    "k int, clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
    "transcript string",
    [
        (1, "a", b"x", 16000, 1, "wav", "hi"),
        (2, None, None, None, None, None, None),
        (3, "", b"", 0, 0, "", ""),
        (4, "b", b"x", -1, -1, "WAV", "x"),
        (5, "c", b"x", 1, 1, "pcm_s16le", "x"),
        (6, "d", b"x", 15999, 2, "wav", "x"),
        (7, "e", b"x", 16001, 2, "mp3", "x"),
        (8, "f", b"x", 48000, 2, "it's", " "),
    ],
    ["clip_id_valid", "sr_valid", "dur_positive", "codec_allowed",
     "transcript_nonempty", "bytes_present"],
    [
        (2, "clip_id_valid", "ClipIdEmpty"),
        (2, "sr_valid", "SampleRateNonPositive"),
        (2, "dur_positive", "DurationNonPositive"),
        (2, "codec_allowed", "CodecNotAllowed:null"),
        (2, "transcript_nonempty", "TranscriptEmpty"),
        (2, "bytes_present", "BytesEmpty"),
        (3, "clip_id_valid", "ClipIdEmpty"),
        (3, "sr_valid", "SampleRateNonPositive"),
        (3, "dur_positive", "DurationNonPositive"),
        (3, "codec_allowed", "CodecNotAllowed:"),
        (3, "transcript_nonempty", "TranscriptEmpty"),
        (3, "bytes_present", "BytesEmpty"),
        (4, "sr_valid", "SampleRateNonPositive"),
        (4, "dur_positive", "DurationNonPositive"),
        (4, "codec_allowed", "CodecNotAllowed:WAV"),
        (5, "sr_valid", "SampleRateNotAllowed"),
        (6, "sr_valid", "SampleRateNotAllowed"),
        (7, "sr_valid", "SampleRateNotAllowed"),
        (7, "codec_allowed", "CodecNotAllowed:mp3"),
        (8, "codec_allowed", "CodecNotAllowed:it's"),
    ],
)

# 2 tokens: 400 wpm is dur 300 ms, 40 wpm is dur 3000 ms
SPEECH_RATE = (
    speech_rate_rules,
    "k int, transcript string, dur_ms int",
    [
        (1, "one two", 300),
        (2, "one two", 299),
        (3, "one two", 301),
        (4, "one two", 3000),
        (5, "one two", 3001),
        (6, "one two", 2999),
        (7, None, 1000),
        (8, "", 1000),
        (9, "one two", 0),
        (10, "one two", None),
        (11, "  One \t TWO  ", 299),
        (12, "   ", 1000),
        (13, "one two", -1),
    ],
    ["speech_rate"],
    [
        (2, "speech_rate", "SpeechTooFast"),
        (5, "speech_rate", "SpeechTooSlow"),
        (11, "speech_rate", "SpeechTooFast"),
        (12, "speech_rate", "SpeechTooSlow"),
    ],
)

BANDWIDTH = (
    bandwidth_rules,
    "k int, decode_error string, rolloff99_hz int, src_sr int, hf_permille int",
    [
        (1, "bad", None, 16000, None),
        (2, "", None, None, None),
        (3, None, None, 16000, None),
        (4, None, 4000, 16000, 5),
        (5, None, 4001, 16000, 5),
        (6, None, 3999, 16000, 6),
        (7, None, 3999, 16000, 4),
        (8, None, 4000, 16001, 5),
        (9, None, 4000, None, 0),
    ],
    ["audio_decode", "bandwidth_unmeasurable", "upsample_provenance"],
    [
        (1, "audio_decode", "DecodeError:bad"),
        (2, "audio_decode", "DecodeError:"),
        (3, "bandwidth_unmeasurable", "Unmeasurable"),
        (4, "upsample_provenance", "Upsampled:4000"),
        (7, "upsample_provenance", "Upsampled:3999"),
        (8, "upsample_provenance", "Upsampled:4000"),
    ],
)

DEFECTS = (
    defect_rules,
    "k int, decode_error string, max_clip_run int, n_samples int, "
    "max_zero_run int, max_zero_run_ms int, dc_offset_permille int",
    [
        (1, "trunc", 0, 0, 0, None, 0),
        (2, None, 3, 100, 0, 0, 19),
        (3, None, 4, 100, 0, 0, 20),
        (4, None, 5, 100, 0, 0, -20),
        (5, None, 0, 100, 0, 0, -19),
        (6, None, 0, 100, 50, 19, 21),
        (7, None, 0, 100, 50, 20, 0),
        (8, None, 0, 100, 50, 21, 0),
        (9, None, 0, 100, 100, 30, 0),
        (10, None, 0, 100, 99, 30, 0),
        (11, None, 0, 100, 101, 30, 0),
        (12, None, None, None, None, None, None),
        (13, None, 0, 0, 0, 20, 0),
    ],
    ["audio_decode", "clipping", "silence", "dropout", "dc_offset"],
    [
        (1, "audio_decode", "DecodeError:trunc"),
        (3, "clipping", "HardClipped:4"),
        (3, "dc_offset", "DCOffset:20"),
        (4, "clipping", "HardClipped:5"),
        (4, "dc_offset", "DCOffset:-20"),
        (6, "dc_offset", "DCOffset:21"),
        (7, "dropout", "Dropout:20"),
        (8, "dropout", "Dropout:21"),
        (9, "silence", "AllSilence"),
        (10, "dropout", "Dropout:30"),
    ],
)

CHANNELS = (
    channel_rules,
    "k int, decode_error string, phase_permille int, balance_permille int, "
    "dual_mono int, ssq_l bigint",
    [
        (1, "x", None, None, None, None),
        (2, None, -899, 500, 0, 10),
        (3, None, -900, 989, 0, 10),
        (4, None, -901, 990, 0, 10),
        (5, None, 0, 991, 0, 10),
        (6, None, 0, 9, 0, 10),
        (7, None, 0, 10, 0, 10),
        (8, None, 0, 11, 1, 10),
        (9, None, 0, 500, 1, 0),
        (10, None, None, None, None, 5),
        (11, None, 1000, 500, 2, 1),
    ],
    ["audio_decode", "phase_inversion", "channel_imbalance", "dual_mono"],
    [
        (1, "audio_decode", "DecodeError:x"),
        (3, "phase_inversion", "PhaseInverted:-900"),
        (4, "phase_inversion", "PhaseInverted:-901"),
        (4, "channel_imbalance", "Imbalance:990"),
        (5, "channel_imbalance", "Imbalance:991"),
        (6, "channel_imbalance", "Imbalance:9"),
        (7, "channel_imbalance", "Imbalance:10"),
        (8, "dual_mono", "DualMono"),
    ],
)

FLAC = (
    flac_rules,
    "k int, decode_error string, md5_ok int, claim_sample_rate int, sr_hz int, "
    "claim_total_samples bigint",
    [
        (1, "CrcMismatch", None, None, 16000, None),
        (2, None, 1, 16000, 16000, 100),
        (3, None, 0, 16000, 16001, 0),
        (4, None, 2, 15999, 16000, 1),
        (5, None, None, None, None, None),
        (6, None, 1, 16000, None, -1),
    ],
    ["flac_decode", "flac_md5", "flac_rate_claim", "flac_unknown_length"],
    [
        (1, "flac_decode", "DecodeError:CrcMismatch"),
        (3, "flac_md5", "Md5Mismatch"),
        (3, "flac_rate_claim", "RateClaimMismatch:16000!=16001"),
        (3, "flac_unknown_length", "UnknownLength"),
        (4, "flac_rate_claim", "RateClaimMismatch:15999!=16000"),
    ],
)

LOUDNESS = (
    loudness_rules,
    "k int, decode_error string, lufs_milli int, true_peak_milli_dbtp int",
    [
        (1, "bad", None, None),
        (2, None, None, None),
        (3, None, -30001, -1001),
        (4, None, -30000, -1000),
        (5, None, -29999, -999),
        (6, None, -10001, None),
        (7, None, -10000, 0),
        (8, None, -9999, -2000),
    ],
    ["audio_decode", "loudness_measurable", "loudness_range", "true_peak"],
    [
        (1, "audio_decode", "DecodeError:bad"),
        (2, "loudness_measurable", "Unmeasurable"),
        (3, "loudness_range", "TooQuiet:-30001"),
        (5, "true_peak", "ClippingRisk:-999"),
        (7, "true_peak", "ClippingRisk:0"),
        (8, "loudness_range", "TooLoud:-9999"),
    ],
)

CORPUS_AUDIO = (
    corpus_audio_rules,
    "k int, decode_error string, lufs_milli int, true_peak_milli_dbtp int, "
    "max_clip_run int, n_samples int, max_zero_run int, max_zero_run_ms int, "
    "dc_offset_permille int, rolloff99_hz int, src_sr int, hf_permille int",
    [
        (1, "trunc", None, None, 0, 0, 0, None, 0, None, 16000, None),
        (2, None, None, None, 0, 0, 0, None, 0, None, 16000, None),
        (3, None, -20000, -2000, 4, 100, 50, 20, 20, 4000, 16000, 5),
        (4, None, -30001, -999, 0, 100, 100, 50, 0, 3000, 48000, 100),
        (5, None, -20000, -2000, 3, 100, 0, 0, 19, 4001, 16000, 5),
    ],
    ["audio_decode", "loudness_measurable", "loudness_range", "true_peak",
     "clipping", "silence", "dropout", "dc_offset", "bandwidth_unmeasurable",
     "upsample_provenance"],
    [
        (1, "audio_decode", "DecodeError:trunc"),
        (2, "loudness_measurable", "Unmeasurable"),
        (2, "bandwidth_unmeasurable", "Unmeasurable"),
        (3, "clipping", "HardClipped:4"),
        (3, "dropout", "Dropout:20"),
        (3, "dc_offset", "DCOffset:20"),
        (3, "upsample_provenance", "Upsampled:4000"),
        (4, "loudness_range", "TooQuiet:-30001"),
        (4, "true_peak", "ClippingRisk:-999"),
        (4, "silence", "AllSilence"),
    ],
)

_AUDIO_DDL = (
    "k int, decode_error string, snr_db double, transcript_ok boolean, "
    "header_sr_hz int, sr_hz int"
)
_AUDIO_ROWS = [
    (1, "bad", 5.0, True, 16000, 16000),
    (2, None, 29.0, True, 16000, 16000),
    (3, None, 30.0, True, 16000, 16000),
    (4, None, 31.0, True, 16000, 16000),
    (5, None, 29.994, True, 16000, 16000),
    (6, None, NAN, True, 16000, 16000),
    (7, None, None, None, None, 16000),
    (8, None, 40.0, False, 16000, 16000),
    (9, None, 40.0, True, 22050, 16000),
    (10, None, 40.0, True, 22050, 0),
    (11, None, 40.0, True, None, 16000),
    (12, None, -1.5, True, 16000, 16000),
    (13, None, 29.999, True, 16000, 16000),
    (14, None, 25.0, True, 16000, 16000),
    (15, None, 24.5, True, 16000, 16000),
]
_AUDIO_NAMES = ["audio_decode", "audio_snr", "transcript_equal", "sr_header_consistent"]
_AUDIO_COMMON = [
    (1, "audio_decode", "DecodeError:bad"),
    (8, "transcript_equal", "TranscriptMismatch"),
    (9, "sr_header_consistent", "SampleRateHeaderMismatch:22050!=16000"),
    (12, "audio_snr", "SnrBelowThreshold:-1.5"),
    (15, "audio_snr", "SnrBelowThreshold:24.5"),
]

AUDIO = (
    audio_rules,
    _AUDIO_DDL,
    _AUDIO_ROWS,
    _AUDIO_NAMES,
    _AUDIO_COMMON + [
        (2, "audio_snr", "SnrBelowThreshold:29.0"),
        (5, "audio_snr", "SnrBelowThreshold:29.99"),
        (13, "audio_snr", "SnrBelowThreshold:30.0"),
        (14, "audio_snr", "SnrBelowThreshold:25.0"),
    ],
)

# an integer threshold compares as the double it was before
AUDIO_INT_THRESHOLD = (
    lambda: audio_rules(25), _AUDIO_DDL, _AUDIO_ROWS, _AUDIO_NAMES, _AUDIO_COMMON,
)

AUDIO_QUALITY = (
    audio_quality_rules,
    "k int, decode_error string, n_samples int, n_clipped int, n_silent int, "
    "peak_abs int",
    [
        (1, "bad", 0, 0, 0, 0),
        (2, None, 1000, 10, 900, 5),
        (3, None, 1000, 11, 901, 5),
        (4, None, 1000, 9, 899, 0),
        (5, None, 0, 0, 0, 0),
        (6, None, None, None, None, None),
        (7, None, 1000, 1000, 1000, 0),
    ],
    ["audio_decode", "audio_clipping", "audio_silence", "audio_zero_signal"],
    [
        (1, "audio_decode", "DecodeError:bad"),
        (3, "audio_clipping", "ClippingDetected:11/1000"),
        (3, "audio_silence", "MostlySilent:901/1000"),
        (4, "audio_zero_signal", "ZeroSignal"),
        (7, "audio_clipping", "ClippingDetected:1000/1000"),
        (7, "audio_silence", "MostlySilent:1000/1000"),
        (7, "audio_zero_signal", "ZeroSignal"),
    ],
)

# defaults: 15 tokens, 600 distinct per mille, mean word length in [3.0, 10.0]
DOC_QUALITY = (
    doc_quality_rules,
    "k int, n_tokens int, n_distinct_tokens int, sum_token_chars bigint",
    [
        (1, 14, 14, 70),
        (2, 15, 9, 45),
        (3, 15, 8, 44),
        (4, 15, 10, 150),
        (5, 16, 10, 161),
        (6, 0, 0, 0),
        (7, None, None, None),
        (8, 20, 12, 59),
    ],
    ["min_tokens", "repetition", "word_length"],
    [
        (1, "min_tokens", "TooFewTokens"),
        (3, "repetition", "TooRepetitive"),
        (3, "word_length", "WordsTooShort"),
        (5, "word_length", "WordsTooLong"),
        (6, "min_tokens", "TooFewTokens"),
        (8, "word_length", "WordsTooShort"),
    ],
)

CASES = {
    "clips_row_rules": CLIPS_ROW,
    "speech_rate_rules": SPEECH_RATE,
    "bandwidth_rules": BANDWIDTH,
    "defect_rules": DEFECTS,
    "channel_rules": CHANNELS,
    "flac_rules": FLAC,
    "loudness_rules": LOUDNESS,
    "corpus_audio_rules": CORPUS_AUDIO,
    "audio_rules": AUDIO,
    "audio_rules_int_threshold": AUDIO_INT_THRESHOLD,
    "audio_quality_rules": AUDIO_QUALITY,
    "doc_quality_rules": DOC_QUALITY,
}


@pytest.mark.parametrize("name", list(CASES))
def test_rule_set_contract(spark, name):
    build, ddl, rows, names, expected = CASES[name]
    rules = build()
    assert list(rules) == names
    res = validate(spark.createDataFrame(rows, ddl), rules, key_cols=["k"])
    got = sorted(
        (r["k"], r["rule"], r["path"], r["error"])
        for r in res.violations().collect()
    )
    assert got == sorted((k, rule, "", err) for k, rule, err in expected)
    plan = res.annotated._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "EvalPython", "PythonUDF", "MapInArrow"):
        assert node not in plan, (node, plan)
