"""K-weighted gated loudness (ITU-R BS.1770-4 style) as a Spark operator.

Program-loudness measurement is the audio-tier validation a speech/music
training corpus actually needs: clips mastered at wildly different levels
poison loudness-sensitive augmentation and normalization stages, and a
plain RMS check cannot see it (RMS counts silence and rumble; loudness
gates them out and weights the spectrum the way hearing does).

Algorithm (public spec, ITU-R BS.1770-4):

* **K-weighting** — the spec's two-stage filter (stage 1: +4 dB
  high-shelf, f0 = 1681.97 Hz; stage 2: RLB high-pass, f0 = 38.14 Hz).
  Coefficients are derived for ANY sample rate from the analog
  prototypes via the audio-EQ-cookbook bilinear forms; at 48 kHz they
  reproduce the spec's published table to 1e-10 (pytest landmark).
* **Gating blocks** — 400 ms rectangular blocks, 75 % overlap (100 ms
  hop), mean-square per block.
* **Two-stage gate** — absolute at -70 LKFS, then relative at 10 LU
  below the loudness of the absolutely-gated set; integrated loudness is
  the mean square of the doubly-gated blocks.

Engine twist for vectorization: the K-filter is applied in the
FREQUENCY domain per block — each block's rFFT power spectrum is
multiplied by |H_K(f)|^2 and summed (Parseval), which computes the mean
square of the circularly-filtered block.  That makes the whole pass two
matrix ops (one batched rFFT over all blocks, one weighted row sum)
instead of a sequential IIR over every sample — the 100 TB shape.  For
steady program material the circular-edge error is far below the 1
milli-LU output quantum; the 997 Hz calibration pytest pins the
absolute accuracy (-3.01 LKFS for a 0 dBFS sine, per the spec's own
calibration point).

Outputs are INTEGER milli-units from bit-identical float64 pipelines
(canonicalizer-safe): ``lufs_milli`` (1000 x integrated LKFS, NULL when
every block is gated out — true silence has no loudness), gating
diagnostics (``n_blocks``, ``gated_blocks``), ``peak_milli_dbfs``
(sample peak, NULL for all-zero signals), and ``true_peak_milli_dbtp``
(BS.1770-4 Annex 2 shape: 4x-oversampled inter-sample peak through a
48-tap windowed-sinc polyphase — catches overs the sample peak misses,
e.g. a full-scale tone sampled off its crest).

Scale shape: ONE ``mapInArrow`` pass over the pruned
``(clip_id, bytes, codec, sr_hz)`` projection — no shuffle, zero-copy
payload views, per-clip cost O(n log n) in the block FFTs,
embarrassingly parallel across executors.  The |H|^2 grid is cached per
``(block_len, sr)`` on each worker.

Reference parity note: the reference engine (mastarija/valor,
lib/Data/Valor.hs) has no audio layer at all — this module is part of
the payload-validation surface the graft adds on top of the ported rule
algebra (clips gated by ``make``/``failIf`` rules ride the same
invariant machinery; see operators/audio.py).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame

#: BS.1770-4 gating parameters
BLOCK_MS = 400
HOP_MS = 100
ABS_GATE_LKFS = -70.0
REL_GATE_LU = 10.0
#: the spec's mean-square -> LKFS offset
LKFS_OFFSET = -0.691
#: ``loudness_ints``'s output fields, and its metrics for an undecodable clip
LOUDNESS_FIELDS = (
    "n_samples int, n_blocks int, gated_blocks int, lufs_milli int, "
    "peak_milli_dbfs int, true_peak_milli_dbtp int"
)
LOUDNESS_ERR = (0, 0, 0, None, None, None)

#: analog prototype parameters behind the spec's 48 kHz coefficient table
#: (stage 1 pre-filter shelf; stage 2 RLB high-pass) — public derivation
_SHELF_F0 = 1681.974450955533
_SHELF_GAIN_DB = 3.999843853973347
_SHELF_Q = 0.7071752369554196
#: the shelf's band-gain exponent from the published BS.1770 filter
#: derivation (De Man, "Evaluation of Implementations of the EBU R128
#: Loudness Measurement", AES 2014 — the parameterization that
#: reproduces the spec's 48 kHz table exactly)
_SHELF_VB_EXP = 0.4996667741545416
_HP_F0 = 38.13547087602444
_HP_Q = 0.5003270373238773


def k_biquads(sr: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """K-weighting biquad coefficients ``(b_shelf, a_shelf, b_hp, a_hp)``
    derived for sample rate ``sr`` (a0-normalized; the high-pass numerator
    is the spec's exact ``[1, -2, 1]`` form).  At sr=48000 these match the
    BS.1770-4 published table."""
    # stage 1: high shelf (De Man tan-prewarped bilinear parameterization)
    K = np.tan(np.pi * _SHELF_F0 / sr)
    Vh = 10.0 ** (_SHELF_GAIN_DB / 20.0)
    Vb = Vh**_SHELF_VB_EXP
    denom = 1.0 + K / _SHELF_Q + K * K
    b_shelf = (
        np.array(
            [
                Vh + Vb * K / _SHELF_Q + K * K,
                2.0 * (K * K - Vh),
                Vh - Vb * K / _SHELF_Q + K * K,
            ]
        )
        / denom
    )
    a_shelf = np.array(
        [
            1.0,
            2.0 * (K * K - 1.0) / denom,
            (1.0 - K / _SHELF_Q + K * K) / denom,
        ]
    )
    # stage 2: RLB high-pass; numerator fixed at [1, -2, 1] per the spec
    K = np.tan(np.pi * _HP_F0 / sr)
    denom = 1.0 + K / _HP_Q + K * K
    b_hp = np.array([1.0, -2.0, 1.0])
    a_hp = np.array(
        [1.0, 2.0 * (K * K - 1.0) / denom, (1.0 - K / _HP_Q + K * K) / denom]
    )
    return b_shelf, a_shelf, b_hp, a_hp


@lru_cache(maxsize=64)
def k_power_response(n_fft: int, sr: int) -> np.ndarray:
    """``|H_K(f)|^2`` of the two-stage K-weighting filter on the rFFT bin
    grid of an ``n_fft``-sample block at rate ``sr`` — cached per worker
    so each (block length, rate) pair pays the trig once."""
    b1, a1, b2, a2 = k_biquads(sr)
    w = 2.0 * np.pi * np.arange(n_fft // 2 + 1) / n_fft
    z1 = np.exp(-1j * w)
    z2 = z1 * z1

    def h2(b, a):
        num = b[0] + b[1] * z1 + b[2] * z2
        den = a[0] + a[1] * z1 + a[2] * z2
        return (num.real**2 + num.imag**2) / (den.real**2 + den.imag**2)

    return h2(b1, a1) * h2(b2, a2)


#: true-peak estimator (BS.1770-4 Annex 2 shape): 4x oversampling with a
#: 48-tap windowed-sinc polyphase interpolator (12 taps per phase)
_TP_L = 4
_TP_TAPS = 48


@lru_cache(maxsize=1)
def tp_phases() -> np.ndarray:
    """``(L, taps/L)`` polyphase decomposition of the Kaiser-windowed sinc
    interpolation prototype — cached per worker.  Phase p evaluates the
    band-limited reconstruction at inter-sample position p/L."""
    c = (_TP_TAPS - 1) / 2.0
    n = np.arange(_TP_TAPS)
    h = np.sinc((n - c) / _TP_L) * np.kaiser(_TP_TAPS, 8.0)
    return np.stack([h[p::_TP_L] for p in range(_TP_L)])


def true_peak(x: np.ndarray) -> float:
    """Inter-sample (true) peak of float signal ``x``: max |value| over the
    4x band-limited reconstruction — catches the overs a sample-peak meter
    misses (e.g. a full-scale tone sampled off its crest).

    All four phases evaluate as ONE (n, taps) x (taps, 4) BLAS matmul
    over a zero-padded sliding view (each output row = the 4 interpolated
    values inside one sample interval) — ~4x faster than four separate
    convolutions and bit-stable for the milli-dB outputs."""
    if len(x) == 0:
        return 0.0
    peak = float(np.max(np.abs(x)))
    phases = tp_phases()
    taps = phases.shape[1]
    xp = np.concatenate([np.zeros(taps - 1), x, np.zeros(taps - 1)])
    frames = np.lib.stride_tricks.sliding_window_view(xp, taps)
    v = frames @ phases[:, ::-1].T
    m = float(np.max(np.abs(v)))
    return m if m > peak else peak


def _block_mean_squares(x: np.ndarray, sr: int) -> np.ndarray:
    """K-weighted mean square of every 400 ms / 100 ms-hop block of
    float signal ``x`` — one batched rFFT over all blocks, one weighted
    row-sum (Parseval with the rFFT's half-spectrum double-count)."""
    block = int(round(sr * BLOCK_MS / 1000.0))
    hop = int(round(sr * HOP_MS / 1000.0))
    if len(x) < block or block <= 0 or hop <= 0:
        return np.empty(0, np.float64)
    frames = np.lib.stride_tricks.sliding_window_view(x, block)[::hop]
    spec = np.fft.rfft(frames, axis=1)
    power = spec.real**2 + spec.imag**2
    weights = k_power_response(block, sr) * 2.0
    weights = weights.copy()
    weights[0] /= 2.0
    if block % 2 == 0:
        weights[-1] /= 2.0
    return power @ weights / (float(block) * float(block))


def loudness_ints(
    sig: np.ndarray, sr: int
) -> tuple[int, int, int, int | None, int | None, int | None]:
    """Integer loudness summary of one int16 PCM signal:
    ``(n_samples, n_blocks, gated_blocks, lufs_milli, peak_milli_dbfs,
    true_peak_milli_dbtp)``.

    ``lufs_milli`` is NULL when no block survives the two-stage gate
    (silence / sub-400 ms clips); both peaks are NULL for all-zero
    signals.  Pure float64 numpy in a fixed order — the same input
    yields the same ints on every engine and partitioning."""
    m = int(len(sig))
    if m == 0 or sr <= 0:
        return m, 0, 0, None, None, None
    x = sig.astype(np.float64) / 32768.0
    peak = float(np.max(np.abs(x)))
    peak_milli = (
        int(round(1000.0 * 20.0 * np.log10(peak))) if peak > 0.0 else None
    )
    tp = true_peak(x)
    tp_milli = int(round(1000.0 * 20.0 * np.log10(tp))) if tp > 0.0 else None
    ms = _block_mean_squares(x, sr)
    n_blocks = int(len(ms))
    if n_blocks == 0:
        return m, 0, 0, None, peak_milli, tp_milli
    with np.errstate(divide="ignore"):
        lk = LKFS_OFFSET + 10.0 * np.log10(ms)
    abs_mask = lk > ABS_GATE_LKFS
    if not abs_mask.any():
        return m, n_blocks, 0, None, peak_milli, tp_milli
    rel_gate = (
        LKFS_OFFSET + 10.0 * np.log10(np.mean(ms[abs_mask])) - REL_GATE_LU
    )
    mask = abs_mask & (lk > rel_gate)
    if not mask.any():
        return m, n_blocks, 0, None, peak_milli, tp_milli
    lufs = LKFS_OFFSET + 10.0 * np.log10(np.mean(ms[mask]))
    return (
        m,
        n_blocks,
        int(mask.sum()),
        int(round(1000.0 * lufs)),
        peak_milli,
        tp_milli,
    )


def audio_loudness(clips: DataFrame) -> DataFrame:
    """Per-clip K-weighted gated loudness in ONE ``mapInArrow`` pass over
    the pruned ``(clip_id, bytes, codec, sr_hz)`` projection:
    ``(clip_id, n_samples, n_blocks, gated_blocks, lufs_milli,
    peak_milli_dbfs, decode_error)``.

    Inherits every codec ``decode_one`` speaks (PCM/WAV, G.711 raw and
    WAV-contained, IMA ADPCM).  The level check the amplitude profile and
    the spectrum pass cannot make: a clip whose waveform stats look
    healthy but that was mastered 20 LU hot (or whose speech sits under a
    gated-out noise floor) shows up directly in ``lufs_milli``."""
    from valor_spark.operators.audio import map_payload, per_clip, sample_rate

    return map_payload(
        clips.select("clip_id", "bytes", "codec", sample_rate()),
        f"clip_id string, {LOUDNESS_FIELDS}, decode_error string",
        per_clip(loudness_ints, LOUDNESS_ERR),
    )
