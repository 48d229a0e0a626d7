"""Effective-bandwidth estimation: the upsample/transcode-provenance check.

A crawled audio corpus is full of clips whose CONTAINER says 44.1/48 kHz
but whose CONTENT was upsampled from telephony (4 kHz) or low-bitrate
sources — sample-rate metadata lies, the spectrum doesn't.  Training a
codec/TTS/ASR model on silently-upsampled audio wastes capacity on empty
spectrum and poisons any bandwidth-conditioned pipeline stage.  The
amplitude profile, spectrum two-peak check and loudness pass cannot see
this; the spectral ROLLOFF can.

Per clip, over Welch-averaged Hann frames (~64 ms, 50 % overlap — the
same rate-scaled geometry as the fingerprint pass, so bins are ~15.6 Hz
at every rate):

* ``rolloff95_hz`` / ``rolloff99_hz`` — the frequency below which 95 % /
  99 % of total spectral power lies (integer Hz, NULL for silence);
* ``hf_permille`` — the per-mille of power above ``sr/4`` (the half-
  Nyquist line): a clip honestly occupying its rate keeps substantial
  energy here, an upsampled one reads ~0.

A "claims 48 kHz, contains 8 kHz" plant shows up as
``rolloff99_hz ~4000`` with ``hf_permille = 0`` — the corpus rule is a
plain Column predicate over these ints (see the bandwidth entry in the
gate and tests).

Scale shape: ONE shuffle-free ``mapInArrow`` pass over the pruned
``(clip_id, bytes, codec, sr_hz)`` projection, batched rFFT per clip,
integer outputs from a fixed float64 op order (canonicalizer-safe).

Reference parity note: the reference engine (mastarija/valor,
lib/Data/Valor.hs) has no audio layer; this extends the graft's payload
validation surface (operators/audio.py, operators/loudness.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

#: Welch geometry — seconds, so Hz resolution is rate-independent
FRAME_S = 0.064
#: power fractions for the two rolloff outputs
ROLLOFF_LO = 0.95
ROLLOFF_HI = 0.99
#: ``bandwidth_ints``'s output fields, and its metrics for an undecodable clip
BANDWIDTH_FIELDS = "n_samples int, rolloff95_hz int, rolloff99_hz int, hf_permille int"
BANDWIDTH_ERR = (0, None, None, None)


def bandwidth_ints(
    sig: np.ndarray, sr: int
) -> tuple[int, int | None, int | None, int | None]:
    """``(n_samples, rolloff95_hz, rolloff99_hz, hf_permille)`` for one
    int16 PCM signal.  All-NULL analysis for empty/zero/sub-frame
    signals.  Pure float64 numpy in a fixed order."""
    m = int(len(sig))
    if m == 0 or sr <= 0:
        return m, None, None, None
    frame = int(round(sr * FRAME_S))
    hop = frame // 2
    if m < frame:
        # short clip: single zero-padded frame keeps the check usable
        frames = np.zeros((1, frame))
        frames[0, :m] = sig.astype(np.float64)
    else:
        frames = np.lib.stride_tricks.sliding_window_view(
            sig.astype(np.float64), frame
        )[::hop]
    spec = np.fft.rfft(frames * np.hanning(frame), axis=1)
    power = np.sum(spec.real**2 + spec.imag**2, axis=0)
    total = float(np.sum(power))
    if total <= 0.0:
        return m, None, None, None
    cum = np.cumsum(power)
    freqs = np.arange(power.size) * (sr / frame)
    i95 = int(np.searchsorted(cum, ROLLOFF_LO * total))
    i99 = int(np.searchsorted(cum, ROLLOFF_HI * total))
    half_nyq = sr / 4.0
    hf = float(np.sum(power[freqs > half_nyq]))
    return (
        m,
        int(round(freqs[min(i95, power.size - 1)])),
        int(round(freqs[min(i99, power.size - 1)])),
        int(round(1000.0 * hf / total)),
    )


def audio_bandwidth(clips: DataFrame) -> DataFrame:
    """Per-clip effective-bandwidth table ``(clip_id, src_sr, n_samples,
    rolloff95_hz, rolloff99_hz, hf_permille, decode_error)`` in ONE
    mapInArrow pass over the pruned payload projection — inherits every
    ``decode_one`` codec.  ``src_sr`` (the container's claimed rate) is
    carried through so downstream provenance rules can compare content
    bandwidth against the claimed Nyquist without a join back to the
    clips table."""
    from valor_spark.operators.audio import map_payload, per_clip, sample_rate

    return map_payload(
        clips.select("clip_id", sample_rate().alias("src_sr"), "bytes", "codec", sample_rate()),
        f"clip_id string, src_sr int, {BANDWIDTH_FIELDS}, decode_error string",
        per_clip(bandwidth_ints, BANDWIDTH_ERR),
    )
