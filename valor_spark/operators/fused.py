"""Fused one-decode audio analytics: every per-clip metric family in ONE
pass over the payload column.

At 10^12-clip scale the dominant cost of the audio tier is scanning and
decoding ``bytes`` — and the five per-family operators (audio_profile,
audio_spectrum, audio_loudness, audio_bandwidth, audio_defects) each
read and decode the payload independently.  A corpus intake job wants
ALL of them; running them separately multiplies the scan+decode cost by
five.

The fused pass is the COMPOSITION of the family kernels under the shared
payload driver (operators/audio.py ``map_payload`` + ``per_clip``): one
columnar scan of (clip_id, bytes, codec, sr_hz), one ``decode_one`` per
clip, then ``profile_ints``, ``spectral_ints``, ``loudness_ints``,
``bandwidth_ints`` and ``defect_ints`` on the same signal; zero shuffle,
24 integer/error columns out.  Each FUSED_SCHEMA metric is picked BY NAME
from the concatenation of the family field lists, and the error row is
the same pick from the concatenation of the family error rows — this
module holds no metric arithmetic, no error row and no Arrow type of its
own, so the fused row equals the join of the five family operators on the
same input by construction (asserted over every fixture plant in
tests/test_fused.py, and gated against a spec-side expected parquet in
the driver contract).

Reference parity note: the reference engine (mastarija/valor,
lib/Data/Valor.hs) has no audio layer; this is the scan-efficiency
composition of the graft's payload operators.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from valor_spark.operators.audio import (
    PROFILE_ERR,
    PROFILE_FIELDS,
    SPECTRUM_ERR,
    SPECTRUM_FIELDS,
    field_names,
    map_payload,
    per_clip,
    profile_ints,
    sample_rate,
    spectral_ints,
)
from valor_spark.operators.bandwidth import BANDWIDTH_ERR, BANDWIDTH_FIELDS, bandwidth_ints
from valor_spark.operators.defects import DEFECT_ERR, DEFECT_FIELDS, defect_ints
from valor_spark.operators.loudness import LOUDNESS_ERR, LOUDNESS_FIELDS, loudness_ints

#: fused output schema — family order: identity, profile, spectrum,
#: loudness, bandwidth, defects, error
FUSED_SCHEMA = (
    "clip_id string, src_sr int, n_samples int, "
    "peak_abs int, sum_sq bigint, n_clipped int, n_silent int, "
    "lead_silence int, trail_silence int, "
    "dom_hz int, impurity_milli int, "
    "n_blocks int, gated_blocks int, lufs_milli int, "
    "peak_milli_dbfs int, true_peak_milli_dbtp int, "
    "rolloff95_hz int, rolloff99_hz int, hf_permille int, "
    "max_clip_run int, max_zero_run int, max_zero_run_ms int, "
    "dc_offset_permille int, decode_error string"
)


#: position of each fused metric in the concatenated family outputs (the
#: first family that names it)
_FAMILY_NAMES = field_names(
    ", ".join(
        (PROFILE_FIELDS, SPECTRUM_FIELDS, LOUDNESS_FIELDS, BANDWIDTH_FIELDS, DEFECT_FIELDS)
    )
)
_PICK = [_FAMILY_NAMES.index(n) for n in field_names(FUSED_SCHEMA)[2:-1]]
#: the fused error row: the family error rows, concatenated and picked
FUSED_ERR = tuple(
    (PROFILE_ERR + SPECTRUM_ERR + LOUDNESS_ERR + BANDWIDTH_ERR + DEFECT_ERR)[k]
    for k in _PICK
)


def fused_ints(sig: np.ndarray, sr: int) -> tuple:
    """All five families' integers for one decoded int16 signal, in
    FUSED_SCHEMA order (minus clip_id/src_sr/decode_error)."""
    full = (
        profile_ints(sig)
        + spectral_ints(sig, sr)
        + loudness_ints(sig, sr)
        + bandwidth_ints(sig, sr)
        + defect_ints(sig, sr)
    )
    return tuple(full[k] for k in _PICK)


def audio_all_stats(clips: DataFrame) -> DataFrame:
    """Per-clip FUSED metric table (see FUSED_SCHEMA) in ONE mapInArrow
    pass: one scan, one decode, all families.  An undecodable clip's row
    is FUSED_ERR, so each metric reads 0 or NULL exactly as its family
    operator's error row does."""
    return map_payload(
        clips.select("clip_id", sample_rate().alias("src_sr"), "bytes", "codec", sample_rate()),
        FUSED_SCHEMA,
        per_clip(fused_ints, FUSED_ERR),
    )
