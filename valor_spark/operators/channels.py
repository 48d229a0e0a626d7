"""Multi-channel layout + inter-channel QC: stereo decode, balance,
phase inversion, dual-mono detection.

A speech/music corpus arrives with whatever channel layout the uploader
recorded; the validation tier needs the layout FACTS and the classic
inter-channel faults that no mono metric can see:

* **Phase inversion** — one channel is the negation of the other
  (miswired balanced cable, bad polarity flip): a mono downmix cancels
  to silence, so the clip is poison for any pipeline that downmixes.
  Detected as a strongly negative normalized inter-channel correlation.
* **Hard channel imbalance** — essentially all energy on one side
  (broken mic / dead channel): the energy split between channels, in
  per-mille, from exact integer sums of squares.
* **Dual mono** — both channels bit-identical: the file wastes half its
  bytes and should be stored mono.  Exact equality, not a similarity
  score, so a true stereo pair with high correlation does NOT trip it.

Stereo (and N-channel) 16-bit PCM WAV is decoded HERE — ``decode_one``
(operators/audio.py) keeps its mono contract for every other operator,
and this pass parses the container itself; multi-channel FLAC decodes
through operators/flac.py, and raw PCM / G.711 / ADPCM payloads fall
back to the shared mono decode (``n_channels = 1``, inter-channel
metrics NULL).  Clips with more than two channels report
``n_channels`` honestly and compute the pair metrics over the first two
channels (the front L/R of every standard layout).

All outputs are exact integers (sums of squares / dot products in
int64; the two per-mille ratios are single scalar roundings of exact
integer inputs), computed in ONE shuffle-free ``mapInArrow`` pass over
the pruned ``(clip_id, bytes, codec)`` projection — canonicalizer-safe
and engine-exact, like operators/defects.py.

Reference parity note: the reference engine (mastarija/valor,
lib/Data/Valor.hs) has no audio layer; this extends the graft's payload
validation surface (operators/audio.py, defects.py, loudness.py).
"""

from __future__ import annotations

import io
import math
import wave

import numpy as np
from pyspark.sql import DataFrame


def channel_frames(
    raw: bytes | None, codec: str | None
) -> tuple[np.ndarray | None, str | None]:
    """Decode one payload to an ``(n_frames, n_channels)`` int16 array.

    WAV containers are parsed here so multi-channel PCM is REAL (stdlib
    ``wave`` reads any channel count); non-PCM WAV tags and every other
    codec delegate to the shared mono ``decode_one`` and come back as a
    single column.  Returns ``(frames, None)`` or ``(None, error)``."""
    from valor_spark.operators.audio import decode_one

    if raw is None:
        return None, "null_bytes"
    if codec == "flac":
        from valor_spark.operators.flac import FlacError, decode_flac

        try:
            frames, _rate, _info = decode_flac(bytes(raw))
        except FlacError as exc:
            return None, str(exc)
        except Exception as exc:  # malformed container
            return None, f"decode_failed:{type(exc).__name__}"
        return frames, None
    if codec == "wav":
        try:
            with wave.open(io.BytesIO(raw), "rb") as w:
                if w.getsampwidth() != 2:
                    return None, "unsupported_wav_layout"
                nch = w.getnchannels()
                frames = w.readframes(w.getnframes())
        except wave.Error:
            # non-PCM format tag (G.711 / IMA-ADPCM): shared mono decode
            sig, _rate, err = decode_one(raw, codec)
            if err is not None:
                return None, err
            return sig.reshape(-1, 1), None
        except Exception as exc:  # malformed container
            return None, f"decode_failed:{type(exc).__name__}"
        if nch < 1:
            return None, "unsupported_wav_layout"
        a = np.frombuffer(frames, dtype="<i2")
        n = len(a) // nch
        return a[: n * nch].reshape(n, nch), None
    sig, _rate, err = decode_one(raw, codec)
    if err is not None:
        return None, err
    return sig.reshape(-1, 1), None


def channel_ints(
    frames: np.ndarray,
) -> tuple[int, int, int, int | None, int | None, int | None, int | None, int | None]:
    """``(n_channels, n_frames, ssq_l, ssq_r, dot_lr, dual_mono,
    balance_permille, phase_permille)`` for one decoded frame matrix.

    * ``ssq_l`` / ``ssq_r`` — EXACT integer sums of squares of channels
      0 and 1 (int64 accumulation; exact below ~2^33 frames);
    * ``dot_lr``  — exact integer inner product of the pair;
    * ``dual_mono`` — 1 iff the two channels are bit-identical;
    * ``balance_permille`` — ``round(1000 * ssq_l / (ssq_l + ssq_r))``,
      NULL when both channels are digital silence;
    * ``phase_permille`` — normalized correlation
      ``round(1000 * dot_lr / sqrt(ssq_l * ssq_r))`` (-1000 = exact
      polarity inversion), NULL when either channel is silent.

    Mono input returns the pair metrics as NULL (``ssq_l`` still carries
    the mono energy).  Channels beyond the first two only contribute to
    ``n_channels``."""
    n, nch = int(frames.shape[0]), int(frames.shape[1])
    l = frames[:, 0].astype(np.int64)
    ssq_l = int(np.sum(l * l, dtype=np.int64))
    if nch == 1:
        return nch, n, ssq_l, None, None, None, None, None
    r = frames[:, 1].astype(np.int64)
    ssq_r = int(np.sum(r * r, dtype=np.int64))
    dot = int(np.sum(l * r, dtype=np.int64))
    dual = int(np.array_equal(frames[:, 0], frames[:, 1]))
    tot = ssq_l + ssq_r
    balance = int(round(1000.0 * ssq_l / tot)) if tot > 0 else None
    phase = (
        int(round(1000.0 * dot / math.sqrt(ssq_l) / math.sqrt(ssq_r)))
        if ssq_l > 0 and ssq_r > 0
        else None
    )
    return nch, n, ssq_l, ssq_r, dot, dual, balance, phase


def audio_channels(clips: DataFrame) -> DataFrame:
    """Per-clip channel-layout table ``(clip_id, n_channels, n_frames,
    ssq_l, ssq_r, dot_lr, dual_mono, balance_permille, phase_permille,
    decode_error)`` in ONE mapInArrow pass, zero shuffle; the scan is
    pruned to ``(clip_id, bytes, codec)``."""
    from valor_spark.operators.audio import map_payload

    def row(raw, codec):
        frames, err = channel_frames(raw, codec)
        if err is not None:
            return [(0, 0, None, None, None, None, None, None, err)]
        return [(*channel_ints(frames), None)]

    return map_payload(
        clips.select("clip_id", "bytes", "codec"),
        "clip_id string, n_channels int, n_frames int, ssq_l bigint, "
        "ssq_r bigint, dot_lr bigint, dual_mono int, "
        "balance_permille int, phase_permille int, decode_error string",
        row,
    )
