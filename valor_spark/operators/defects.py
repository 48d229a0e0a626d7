"""Waveform-defect detection: clipping, dropouts, DC offset.

The recording/ingest defects a training corpus needs screened that no
spectral or loudness pass reports directly:

* **Clipping** — samples pinned at full scale (>= +32767 or <= -32768)
  and, more tellingly, the longest consecutive pinned RUN: a clipped
  recording chain produces flat-topped runs, while a single full-scale
  sample is usually a legitimate peak.  (The loudness pass's true-peak
  catches *inter-sample* overs; this catches the hard-clipped waveform
  itself, which can sit well below 0 dBTP after normalization.)
* **Dropouts** — the longest run of EXACTLY zero samples inside
  otherwise non-silent audio: buffer underruns and splice faults write
  digital zero, which no level meter flags (silence is quiet, not
  broken).  Reported in samples and milliseconds.
* **DC offset** — mean sample value in per-mille of full scale: a
  miscalibrated ADC / bad filter chain shifts the waveform off zero,
  wasting headroom and biasing downstream feature extraction.

All-integer outputs from fixed-order numpy (canonicalizer-safe), ONE
shuffle-free ``mapInArrow`` pass over the pruned payload projection,
every ``decode_one`` codec inherited.

Reference parity note: the reference engine (mastarija/valor,
lib/Data/Valor.hs) has no audio layer; this extends the graft's payload
validation surface (operators/audio.py, loudness.py, bandwidth.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

#: full-scale pin thresholds for int16
CLIP_HI = 32767
CLIP_LO = -32768
#: ``defect_ints``'s output fields, and its metrics for an undecodable clip
DEFECT_FIELDS = (
    "n_samples int, clipped_samples int, max_clip_run int, max_zero_run int, "
    "max_zero_run_ms int, dc_offset_permille int"
)
DEFECT_ERR = (0, 0, 0, 0, None, 0)


def _max_run(mask: np.ndarray) -> int:
    """Length of the longest True run (0 for all-False) — one pass over
    run boundaries, no Python loop over samples."""
    if mask.size == 0 or not mask.any():
        return 0
    m = np.concatenate(([False], mask, [False]))
    edges = np.flatnonzero(m[1:] != m[:-1])
    return int(np.max(edges[1::2] - edges[0::2]))


def defect_ints(
    sig: np.ndarray, sr: int
) -> tuple[int, int, int, int, int | None, int]:
    """``(n_samples, clipped_samples, max_clip_run, max_zero_run,
    max_zero_run_ms, dc_offset_permille)`` for one int16 PCM signal.
    ``max_zero_run_ms`` is NULL when the rate is unusable.  Pure integer
    /float64 numpy in a fixed order."""
    m = int(len(sig))
    if m == 0:
        return 0, 0, 0, 0, (0 if sr > 0 else None), 0
    s = np.asarray(sig)
    clip_mask = (s >= CLIP_HI) | (s <= CLIP_LO)
    zero_mask = s == 0
    clipped = int(np.count_nonzero(clip_mask))
    max_clip = _max_run(clip_mask)
    max_zero = _max_run(zero_mask)
    zero_ms = int(max_zero * 1000 // sr) if sr > 0 else None
    dc = int(round(1000.0 * float(np.mean(s.astype(np.float64))) / 32768.0))
    return m, clipped, max_clip, max_zero, zero_ms, dc


def audio_defects(clips: DataFrame) -> DataFrame:
    """Per-clip defect table ``(clip_id, n_samples, clipped_samples,
    max_clip_run, max_zero_run, max_zero_run_ms, dc_offset_permille,
    decode_error)`` in ONE mapInArrow pass."""
    from valor_spark.operators.audio import map_payload, per_clip, sample_rate

    return map_payload(
        clips.select("clip_id", "bytes", "codec", sample_rate()),
        f"clip_id string, {DEFECT_FIELDS}, decode_error string",
        per_clip(defect_ints, DEFECT_ERR),
    )
