"""Perceptual audio fingerprinting and transcode-robust near-duplicate
detection (Shazam-style spectral landmark hashing, Wang ISMIR 2003).

``audio_dedup`` (operators/audio.py) is content-addressed over DECODED
PCM — it catches re-containered bit-identical audio but NOT the same
recording after lossy transcoding (G.711, ADPCM) or a gain change, which
is how duplicated speech/music actually re-enters a crawled corpus.
This module closes that gap with the classic landmark constellation:

* **STFT peaks** — Hann frames of ~64 ms (bin width ~15.6 Hz at every
  sample rate: frame length scales with ``sr``, so peak positions are
  quantized in *hertz*, not bins, and fingerprints are comparable across
  rates), ~32 ms hop; per frame keep the strongest local maxima above a
  noise floor relative to the frame's mean magnitude.  Spectral peaks
  survive companding/ADPCM quantization noise and are invariant to
  overall gain.
* **Landmark hashes** — each anchor peak pairs with the next few peaks
  within a small forward window; ``hash = (f1_q << 22) | (f2_q << 8) |
  dt`` packs (anchor Hz-bin, target Hz-bin, frame delta) into one
  int64.  A clip yields O(frames x fanout) hashes.
* **Near-dup join** — pure DataFrame ops, the winnowing shape
  (text.py::winnow_pairs): explode (clip, hash, t); drop hashes seen in
  more than ``max_fp_freq`` clips (boilerplate tones / codec artifacts —
  the same frequency cap that keeps the self-join from exploding at
  corpus scale); self-join the inverted index on hash; score each
  candidate pair by its count of TIME-ALIGNED matches (the mode of
  ``t_a - t_b`` — Wang's offset-histogram vote, computed as a
  count/max aggregate, no UDF); keep pairs with ``min_matches`` aligned
  hits.

100 TB shape: one shuffle keyed by fp_hash (narrow: three ints), one by
(clip_a, clip_b, dt); the frequency cap bounds per-key join fan-out to
``max_fp_freq**2`` regardless of corpus size; no all-pairs stage
anywhere.  The decode+FFT pass is ONE mapInArrow over the pruned
payload projection, embarrassingly parallel.

Reference parity note: the reference engine (mastarija/valor,
lib/Data/Valor.hs) has no audio layer; this is part of the graft's
payload-validation surface (see operators/audio.py, operators/loudness.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

#: analysis geometry — seconds, so Hz resolution is rate-independent
FRAME_S = 0.064
HOP_S = 0.032
#: Hz quantum of one rFFT bin at the nominal frame length
BIN_HZ = 1.0 / FRAME_S
#: per-frame peak cap, pairing fan-out, forward pairing window (frames)
MAX_PEAKS_PER_FRAME = 3
FANOUT = 3
MAX_DT = 8
#: peaks must clear this multiple of the frame's mean magnitude
PEAK_FLOOR = 4.0
#: analysis band (Hz) — telephony-safe so G.711-band dups still match
FMIN_HZ = 100.0
FMAX_FRAC_NYQ = 0.9


def fingerprint_ints(sig: np.ndarray, sr: int) -> tuple[np.ndarray, np.ndarray]:
    """Landmark hashes of one int16 PCM signal: ``(hashes, t_frames)``
    int64/int32 arrays (possibly empty).  Pure float64/int numpy in a
    fixed order — deterministic across engines and partitionings."""
    if sr <= 0 or len(sig) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int32)
    frame = int(round(sr * FRAME_S))
    hop = int(round(sr * HOP_S))
    if len(sig) < frame or frame <= 0 or hop <= 0:
        return np.empty(0, np.int64), np.empty(0, np.int32)
    x = sig.astype(np.float64)
    frames = np.lib.stride_tricks.sliding_window_view(x, frame)[::hop]
    mag = np.abs(np.fft.rfft(frames * np.hanning(frame), axis=1))
    # band limits in bin space of THIS frame length
    lo = max(1, int(np.ceil(FMIN_HZ * frame / sr)))
    hi = min(mag.shape[1] - 2, int(FMAX_FRAC_NYQ * (frame // 2)))
    if hi <= lo:
        return np.empty(0, np.int64), np.empty(0, np.int32)
    band = mag[:, lo : hi + 1]
    # local maxima above the adaptive floor
    is_peak = (
        (band > mag[:, lo - 1 : hi])
        & (band >= mag[:, lo + 1 : hi + 2])
        & (band > PEAK_FLOOR * np.mean(mag, axis=1, keepdims=True))
    )
    peaks: list[tuple[int, int]] = []  # (t_frame, f_q) strongest-first/frame
    for t in range(band.shape[0]):
        idx = np.flatnonzero(is_peak[t])
        if idx.size == 0:
            continue
        order = np.argsort(band[t, idx], kind="stable")[::-1]
        for j in idx[order[:MAX_PEAKS_PER_FRAME]]:
            f_hz = (j + lo) * sr / frame
            peaks.append((t, int(round(f_hz / BIN_HZ))))
    if len(peaks) < 2:
        return np.empty(0, np.int64), np.empty(0, np.int32)
    peaks.sort()  # time order, ties by f_q — deterministic pairing
    hashes, times = [], []
    for i, (t1, f1) in enumerate(peaks):
        taken = 0
        for t2, f2 in peaks[i + 1 :]:
            dt = t2 - t1
            if dt == 0 or f2 == f1:
                # same-instant peaks carry no delta; SAME-FREQUENCY pairs
                # are the steady-tone degenerate (a sustained tone or
                # mains hum floods (f, f, dt) hashes at every offset —
                # measured: they alone pair a third of a random-melody
                # corpus below the frequency cap).  A landmark must
                # encode a spectral TRANSITION.
                continue
            if dt > MAX_DT or taken >= FANOUT:
                break
            hashes.append((f1 << 22) | (f2 << 8) | dt)
            times.append(t1)
            taken += 1
    return np.asarray(hashes, np.int64), np.asarray(times, np.int32)


def audio_fingerprints(clips: DataFrame) -> DataFrame:
    """Exploded landmark table ``(clip_id, fp_hash, t_frame)`` in ONE
    mapInArrow pass over the pruned ``(clip_id, bytes, codec, sr_hz)``
    projection — inherits every ``decode_one`` codec; undecodable or
    sub-frame clips simply contribute no rows (the near-dup contract:
    no fingerprints, no candidates)."""
    from valor_spark.operators.audio import decode_one, map_payload, sample_rate

    def row(raw, codec, sr):
        sig, _rate, err = decode_one(raw, codec)
        if err is not None:
            return []
        h, t = fingerprint_ints(sig, sr)
        return list(zip(h.tolist(), t.tolist()))

    return map_payload(
        clips.select("clip_id", "bytes", "codec", sample_rate()),
        "clip_id string, fp_hash long, t_frame int",
        row,
    )


def audio_near_dup_fp(
    clips: DataFrame,
    min_matches: int = 4,
    max_fp_freq: int = 64,
    min_match_frac: float = 0.5,
) -> DataFrame:
    """Transcode/gain-robust near-duplicate pairs
    ``(clip_a, clip_b, aligned_matches)`` with ``clip_a < clip_b``:
    candidate pairs share landmark hashes; the score is the number of
    DISTINCT COARSE ANCHOR-FREQUENCY GROUPS (``f1_q >> 2``, ~62.5 Hz
    bands) matched at the MOST COMMON frame offset (Wang's histogram
    vote — random collisions scatter across offsets, true dups
    concentrate at one), thresholded at ``min_matches`` AND at
    ``min_match_frac`` of the smaller clip's total coarse-group count.

    Why coarse groups, not raw hash-match counts: a SINGLE spectral
    element shared by two unrelated clips (one common note, one hum
    burst) emits many matched hashes that all land on the same
    ``t_a - t_b`` — up to MAX_DT forward deltas, several anchor frames,
    plus onset/offset splatter pairs within a couple of bins (measured:
    24 aligned raw votes, 5 aligned distinct (f1, f2) transitions, from
    ONE coincidence — 224k false pairs / 0.05 precision at a 12k-clip
    melody corpus under an absolute raw-vote bar).  All of that
    multiplicity collapses into ONE coarse anchor group; genuinely
    duplicated audio aligns groups across its whole spectral range.
    Measured on the same corpus: precision 1.0 AND recall 1.0 at 1x and
    10x with the group vote + 50 % relative bar.

    Hashes appearing in more than ``max_fp_freq`` clips are dropped
    before the self-join (corpus-boilerplate guard, same cap shape as
    winnow_pairs) — bounding join fan-out per hash at
    ``max_fp_freq**2`` independent of corpus size; the per-clip
    group-count side table is O(corpus) narrow rows."""
    # distinct (clip, hash, t) — repeated identical landmarks in one clip
    # would double-vote an offset
    fp = audio_fingerprints(clips).distinct()
    freq = fp.groupBy("fp_hash").agg(
        F.countDistinct("clip_id").alias("n_clips")
    )
    rare = fp.join(freq.filter(F.col("n_clips") <= max_fp_freq), on="fp_hash")
    a = rare.select(
        F.col("clip_id").alias("clip_a"),
        "fp_hash",
        F.col("t_frame").alias("t_a"),
    )
    b = rare.select(
        F.col("clip_id").alias("clip_b"),
        "fp_hash",
        F.col("t_frame").alias("t_b"),
    )
    # f1_q >> 2: hash = (f1 << 22) | (f2 << 8) | dt, so the coarse
    # anchor group is simply hash >> 24
    group = F.shiftright("fp_hash", 24)
    votes = (
        a.join(b, "fp_hash")
        .filter(F.col("clip_a") < F.col("clip_b"))
        .groupBy("clip_a", "clip_b", (F.col("t_a") - F.col("t_b")).alias("dt"))
        .agg(F.countDistinct(group).alias("votes"))
    )
    marks = (
        fp.select("clip_id", group.alias("grp"))
        .distinct()
        .groupBy("clip_id")
        .agg(F.count(F.lit(1)).alias("n_marks"))
    )
    scored = (
        votes.groupBy("clip_a", "clip_b")
        .agg(F.max("votes").alias("aligned_matches"))
        .join(
            marks.select(
                F.col("clip_id").alias("clip_a"),
                F.col("n_marks").alias("n_marks_a"),
            ),
            "clip_a",
        )
        .join(
            marks.select(
                F.col("clip_id").alias("clip_b"),
                F.col("n_marks").alias("n_marks_b"),
            ),
            "clip_b",
        )
    )
    # the absolute floor is capped at the smaller clip's own group count:
    # a clip whose whole spectrum spans 3 coarse groups can never score 4,
    # yet aligning ALL of its groups is the strongest possible evidence —
    # the relative bar carries the discrimination for group-poor clips
    n_min = F.least("n_marks_a", "n_marks_b")
    bar = F.greatest(
        F.least(F.lit(int(min_matches)), n_min),
        F.ceil(n_min * F.lit(float(min_match_frac))).cast("int"),
    )
    return scored.filter(F.col("aligned_matches") >= bar).select(
        "clip_a", "clip_b", "aligned_matches"
    )
