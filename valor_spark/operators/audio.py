"""Audio payload checks: Arrow-batched decode + SNR invariant.

north_rule / input_hint contract: decode PCM inside Arrow UDF batches and
assert SNR >= 30 dB allclose against reference decodes plus exact transcript
equality — never per-row Python UDFs.  (The reference library has no audio;
this is the engine-level payload check mandated by BASELINE.json — the rule
*algebra* consuming the decoded features is pure Valor semantics.)

Codecs supported without external audio libs (none are installed):
``pcm_s16le`` via ``numpy.frombuffer``, ``wav`` via stdlib ``wave``, and
the G.711 telephony codecs ``pcm_mulaw`` / ``pcm_alaw`` via 256-entry
lookup tables (ITU-T G.711 segment expansion — one vectorized gather per
clip), both raw and inside WAV containers (format tags 6/7, which stdlib
``wave`` rejects — a manual RIFF walk handles them), and IMA/DVI ADPCM
WAV containers (format tag 0x11, block-vectorized decode in
operators/adpcm.py).  Unknown codecs
produce a decode error (and are separately flagged by the codec-whitelist
row rule).

Scale notes (100 TB of audio):

* every per-clip audio operator (this module, bandwidth, defects,
  loudness, resample, audio_fp, fused, channels, flac) runs through ONE
  payload driver, :func:`map_payload`: one ``mapInArrow`` batch loop with
  zero-copy views of the binary columns, the key columns passed through in
  Arrow, and the output schema built once from the operator's DDL.  Each
  operator keeps only its projection, its per-clip kernel, its output
  fields and its error row; :func:`decode_one` is the one place a payload
  becomes PCM.  The driver's batch loop is where the planned per-batch
  fault-injection hook (ROADMAP, failure injection) attaches;
* the decode+SNR pass touches ``bytes`` exactly once, inside one
  ``mapInArrow`` pass evaluated per Arrow batch (zero-copy buffer views); tune
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch is ~64-128 MB;
* the clips↔ref join shuffles both sides on ``clip_id`` (sort-merge at this
  width — broadcasting a 100 TB ref is impossible); callers can pre-bucket
  both tables by ``clip_id`` to eliminate the shuffle entirely;
* columns are pruned before the join so only (clip_id, bytes, codec,
  transcript) move through the exchange.
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from valor_spark.functions.rules import gates
from valor_spark.operators.adpcm import decode_ima_adpcm
from valor_spark.utils import sql_lit

SNR_DB_MIN = 30.0

#: the one gate every audio rule set reports decode failures with
DECODE_GATE = ("decode_error IS NOT NULL", "'DecodeError:' || decode_error")


def _build_g711_luts() -> tuple[np.ndarray, np.ndarray]:
    """code byte -> int16 sample for mu-law and A-law (ITU-T G.711 segment
    expansion, the classic CCITT/Sun reference formulas).  Built once at
    import; decode is then a single vectorized table gather."""
    ulaw = np.zeros(256, np.int16)
    for code in range(256):
        u = ~code & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        ulaw[code] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    alaw = np.zeros(256, np.int16)
    for code in range(256):
        a = code ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[code] = t if (a & 0x80) else -t
    return ulaw, alaw


ULAW_DECODE_LUT, ALAW_DECODE_LUT = _build_g711_luts()


def encode_g711(samples: np.ndarray, law: str) -> bytes:
    """int16 PCM -> G.711 code bytes (mu-law or A-law) — the synthesis side
    for tests/fixtures, via exact inverse search of the decode LUT: each
    sample maps to the code whose decoded value is nearest, so
    ``decode(encode(x))`` is the closest representable level and
    ``decode(encode(decode(c))) == decode(c)`` for every code (mu-law's
    +0/-0 codes alias the same level, so code-level idempotence holds up
    to that pair)."""
    lut = ULAW_DECODE_LUT if law == "mulaw" else ALAW_DECODE_LUT
    order = np.argsort(lut.astype(np.int32), kind="stable")
    sorted_vals = lut.astype(np.int32)[order]
    x = np.asarray(samples, np.int32)
    pos = np.searchsorted(sorted_vals, x)
    pos = np.clip(pos, 1, 255)
    lo, hi = sorted_vals[pos - 1], sorted_vals[pos]
    take_lo = (x - lo) <= (hi - x)
    idx = np.where(take_lo, pos - 1, pos)
    return order[idx].astype(np.uint8).tobytes()


def _wav_nonpcm_fallback(
    raw: bytes,
) -> tuple[np.ndarray | None, int | None, str | None]:
    """RIFF/WAVE with non-PCM payloads — G.711 (format tag 6 = A-law, 7 =
    mu-law) and IMA/DVI ADPCM (tag 0x11): stdlib ``wave`` rejects non-PCM
    format tags, so compressed containers parse here — a manual chunk walk
    (fmt + fact + data, odd sizes padded), then the per-codec expansion
    (G.711 LUT gather; block-vectorized ADPCM via operators/adpcm.py).
    Returns (samples, header_rate, None) or (None, None, error)."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        return None, None, "decode_failed:not_riff_wave"
    pos, fmt, data, fact = 12, None, None, None
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        (sz,) = struct.unpack_from("<I", raw, pos + 4)
        body = raw[pos + 8 : pos + 8 + sz]
        if len(body) < sz:
            return None, None, "decode_failed:wav_chunk_truncated"
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        elif cid == b"fact":
            fact = body
        pos += 8 + sz + (sz & 1)  # chunks pad to even offsets
    if fmt is None or len(fmt) < 16 or data is None:
        return None, None, "decode_failed:wav_missing_chunks"
    tag, nch, rate = struct.unpack_from("<HHI", fmt, 0)
    block_align, bits = struct.unpack_from("<HH", fmt, 12)
    if tag in (6, 7):
        if nch != 1 or bits != 8:
            return None, None, f"unsupported_wav_layout:tag={tag},ch={nch},bits={bits}"
        lut = ALAW_DECODE_LUT if tag == 6 else ULAW_DECODE_LUT
        return lut[np.frombuffer(data, np.uint8)], rate, None
    if tag == 0x11:
        if nch != 1 or bits != 4:
            return None, None, f"unsupported_wav_layout:tag=17,ch={nch},bits={bits}"
        total = None
        if fact is not None and len(fact) >= 4:
            (total,) = struct.unpack_from("<I", fact, 0)
        try:
            return decode_ima_adpcm(data, block_align, total), rate, None
        except ValueError as exc:
            return None, None, f"decode_failed:{exc}"
    return None, None, f"unsupported_wav_layout:tag={tag},ch={nch},bits={bits}"


def decode_one(
    raw: bytes | np.ndarray | None, codec: str | None
) -> tuple[np.ndarray | None, int | None, str | None]:
    """Decode one payload to int16 PCM; returns (samples, header_rate, error).
    ``header_rate`` is the container's sample rate (WAV) or None for raw PCM.

    The one place a payload becomes PCM.  ``raw`` is ``bytes``, a zero-copy
    ``uint8`` view over an Arrow buffer (what :func:`map_payload` hands its
    row functions), or None.  ``pcm_s16le`` stays a zero-copy view; every
    other codec parses a ``bytes`` copy."""
    if raw is None:
        return None, None, "null_bytes"
    if codec == "pcm_s16le":
        if len(raw) % 2:
            return None, None, "odd_byte_length"
        return np.frombuffer(raw, dtype="<i2"), None, None
    raw = bytes(raw)
    try:
        if codec == "wav":
            try:
                with wave.open(io.BytesIO(raw), "rb") as w:
                    if w.getsampwidth() != 2 or w.getnchannels() != 1:
                        return None, None, "unsupported_wav_layout"
                    rate = w.getframerate()
                    frames = w.readframes(w.getnframes())
                return np.frombuffer(frames, dtype="<i2"), rate, None
            except wave.Error:
                # non-PCM format tag: G.711 / IMA-ADPCM containers land here
                return _wav_nonpcm_fallback(raw)
        if codec == "pcm_mulaw":
            return ULAW_DECODE_LUT[np.frombuffer(raw, np.uint8)], None, None
        if codec == "pcm_alaw":
            return ALAW_DECODE_LUT[np.frombuffer(raw, np.uint8)], None, None
        if codec == "flac":
            from valor_spark.operators.flac import decode_flac_mono

            return decode_flac_mono(raw)
        return None, None, f"unsupported_codec:{codec}"
    except Exception as exc:  # malformed container
        return None, None, f"decode_failed:{type(exc).__name__}"


def snr_db(sig: np.ndarray, ref: np.ndarray) -> float:
    """10*log10(P_ref / P_noise) with noise = sig - ref; inf when identical."""
    if len(sig) != len(ref):
        return float("nan")
    if len(ref) == 0:
        return float("inf")
    r = ref.astype(np.float64)
    d = sig.astype(np.float64) - r
    p_noise = float(np.dot(d, d))
    if p_noise == 0.0:
        return float("inf")
    p_ref = float(np.dot(r, r))
    if p_ref == 0.0:
        return float("-inf")
    return 10.0 * np.log10(p_ref / p_noise)


def _binary_views(col):
    """Zero-copy row views over a pyarrow (Large)Binary array.

    Returns (get(i) -> np.uint8 view | None).  Avoids per-row ``as_py``
    copies — at millions of rows the Python-object churn of pandas
    conversion saturates memory bandwidth and the stage stops scaling."""
    import pyarrow as pa

    off_dtype = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    bufs = col.buffers()
    offs = np.frombuffer(bufs[1], dtype=off_dtype)[col.offset : col.offset + len(col) + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    if col.null_count:
        valid = np.array(pa.compute.is_valid(col).to_pandas(), dtype=bool)
    else:
        valid = None

    def get(i: int):
        if valid is not None and not valid[i]:
            return None
        return data[offs[i] : offs[i + 1]]

    return get


def sample_rate() -> Column:
    """The clip's metadata sample rate, NULL read as 0 (the kernels' "no
    usable rate"), computed in the JVM before the payload pass."""
    return F.coalesce(F.col("sr_hz"), F.lit(0)).alias("sr")


def field_names(ddl: str) -> list[str]:
    """The field names of a ``name type, ...`` DDL string."""
    return [f.split()[0] for f in ddl.split(",")]


def map_payload(df: DataFrame, out_ddl: str, row_fn) -> DataFrame:
    """The one Arrow payload driver of the audio operators:
    ``df.mapInArrow`` over a per-row function.

    The leading columns of ``df`` that are also the leading fields of
    ``out_ddl`` are KEYS (``clip_id``, and ``shard``, ``transcript_ok``,
    ``sr_hz``, ``src_sr`` or ``out_sr`` where an operator carries them):
    they never enter Python — they pass to the output as they came in, or
    repeated by an Arrow ``take`` where rows expand.
    ``row_fn`` is called once per input row with the values of the other
    columns — binary columns as zero-copy ``uint8`` views (None for NULL),
    the rest as Python values — and returns a list of output rows, each a
    tuple of the non-key fields: one row for a per-clip operator, none or
    many for an expanding one.  Every output row repeats the keys of the
    input row it came from.

    The Arrow schema is built once, here, from ``out_ddl``; the batch loop
    below is the only one in the audio tier, so it is where a per-batch
    hook (fault injection, timing) attaches."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(T.DataType.fromDDL(out_ddl))
    n_keys = 0
    for col, name in zip(df.columns, schema.names):
        if col != name:
            break
        n_keys += 1
    value_types = schema.types[n_keys:]

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            getters = [
                _binary_views(c)
                if pa.types.is_binary(c.type) or pa.types.is_large_binary(c.type)
                else c.to_pylist().__getitem__
                for c in b.columns[n_keys:]
            ]
            take: list[int] = []
            rows: list[tuple] = []
            for i in range(b.num_rows):
                out = row_fn(*[get(i) for get in getters])
                take.extend([i] * len(out))
                rows.extend(out)
            keys = b.columns[:n_keys]
            if take != list(range(b.num_rows)):
                # Arrow's take always adds a validity bitmap: one-row-per-
                # input batches pass their keys on as they came in
                idx = pa.array(take, pa.int64())
                keys = [c.take(idx) for c in keys]
            cols = list(zip(*rows)) or [()] * len(value_types)
            yield pa.RecordBatch.from_arrays(
                keys + [pa.array(c, t) for c, t in zip(cols, value_types)],
                schema=schema,
            )

    return df.mapInArrow(gen, out_ddl)


def per_clip(kernel, err_row: tuple):
    """Row function of a one-row-per-clip operator over ``(bytes, codec,
    *args)``: ``kernel(sig, *args)`` and a NULL error for a clip that
    decodes, else ``err_row`` and the decode error."""

    def row(raw, codec, *args):
        sig, _rate, err = decode_one(raw, codec)
        if err is not None:
            return [(*err_row, err)]
        return [(*kernel(sig, *args), None)]

    return row


def _invariant_row(raw, codec, ref) -> list[tuple]:
    """``(snr_db, n_samples, decode_error, header_sr_hz)`` of one clip
    against its reference decode (raw int16 PCM)."""
    sig, rate, err = decode_one(raw, codec)
    n = 0
    if err is None:
        if ref is None:
            err = "missing_reference"
        elif len(ref) % 2:
            err = "reference_odd_byte_length"
        else:
            n = len(sig)
            ref = ref.view("<i2")
            if n == len(ref):
                return [(snr_db(sig, ref), n, None, rate)]
            err = f"length_mismatch:{n}!={len(ref)}"
    return [(math.nan, n, err, rate)]


def with_audio_invariant(clips: DataFrame, clips_ref: DataFrame) -> DataFrame:
    """Join clips to reference decodes on ``clip_id`` and attach the decoded
    invariant columns ``snr_db / n_samples / decode_error / transcript_ok``.

    Inner join: rows without a reference are the referential-integrity
    check's concern (anti-join, see constraints), not the SNR check's.

    Physical design (each choice measured, see BENCH/BASELINE.md):

    * the decode runs via ``mapInArrow`` (a map *operator*, not a pandas_udf
      expression — Catalyst's projection collapsing can duplicate a UDF
      expression, which doubled the Arrow transfer of the audio bytes);
    * transcript equality is computed JVM-side BEFORE the map, so no string
      column ever crosses into Python;
    * inside Python, PCM rows are decoded as zero-copy numpy views over the
      Arrow buffers — no pandas conversion, no per-row bytes objects.
    """
    has_shard = "shard" in clips.columns
    left = clips.select(
        "clip_id", "bytes", "codec", "transcript", "sr_hz",
        *(["shard"] if has_shard else []),
    )
    right = clips_ref.select("clip_id", "pcm_ref", "transcript_ref")
    joined = left.join(right, on="clip_id", how="inner").select(
        "clip_id",
        *(["shard"] if has_shard else []),
        F.col("transcript").eqNullSafe(F.col("transcript_ref")).alias("transcript_ok"),
        "sr_hz",
        "bytes",
        "codec",
        "pcm_ref",
    )
    shard_field = "shard int, " if has_shard else ""
    return map_payload(
        joined,
        f"clip_id string, {shard_field}transcript_ok boolean, sr_hz int, "
        "snr_db double, n_samples int, decode_error string, header_sr_hz int",
        _invariant_row,
    )


def audio_rules(snr_db_min: float = SNR_DB_MIN) -> dict:
    """Row rules over the invariant columns, as SQL-text gates."""
    return gates({
        "audio_decode": [DECODE_GATE],
        "audio_snr": [(f"decode_error IS NULL AND snr_db < {sql_lit(snr_db_min)}",
                       "'SnrBelowThreshold:' || round(snr_db, 2)")],
        "transcript_equal": [("NOT transcript_ok", "'TranscriptMismatch'")],
        "sr_header_consistent": [("sr_hz > 0 AND header_sr_hz != sr_hz",
                                  "'SampleRateHeaderMismatch:' || header_sr_hz || '!=' || sr_hz")],
    })


#: ``profile_ints``'s output fields, and its metrics for an undecodable clip
PROFILE_FIELDS = (
    "n_samples int, peak_abs int, sum_sq bigint, n_clipped int, "
    "n_silent int, lead_silence int, trail_silence int"
)
PROFILE_ERR = (0, 0, 0, 0, 0, 0, 0)


def profile_ints(
    sig: np.ndarray, silence_threshold: int = 512
) -> tuple[int, int, int, int, int, int, int]:
    """``(n_samples, peak_abs, sum_sq, n_clipped, n_silent, lead_silence,
    trail_silence)`` for one int16 PCM signal — the per-clip arithmetic
    of :func:`audio_profile`, shared with the fused one-decode pass
    (operators/fused.py)."""
    m = int(len(sig))
    if m == 0:
        return 0, 0, 0, 0, 0, 0, 0
    a = np.abs(sig.astype(np.int32))
    s64 = sig.astype(np.int64)
    loud = np.nonzero(a >= int(silence_threshold))[0]
    return (
        m,
        int(a.max()),
        int(np.dot(s64, s64)),
        int((a >= 32767).sum()),
        m - len(loud),
        int(loud[0]) if len(loud) else m,
        int(m - 1 - loud[-1]) if len(loud) else m,
    )


def audio_profile(clips: DataFrame, silence_threshold: int = 512) -> DataFrame:
    """Per-clip PCM quality profile in ONE ``mapInArrow`` pass over the
    pruned ``(clip_id, bytes, codec)`` projection: sample count, peak
    absolute amplitude, exact int64 sum of squares, clipped-sample count
    (|s| >= 32767, either rail), silent-sample count (|s| < threshold) and
    the leading/trailing silence run lengths, plus the decode error.

    ALL outputs are integers (or the error string): derived floats — RMS,
    peak dBFS, clipping/silence ratios — are one JVM projection away
    (:func:`audio_profile_derived`) and never cross the Arrow boundary, so
    the Python-side numbers are engine-exact, canonicalizer-safe, and free
    of float-accumulation-order concerns.

    Scale: same shape as :func:`with_audio_invariant` minus the join —
    profiling is per-clip, so there is NO shuffle at all: one narrow scan of
    (clip_id, bytes, codec), one Arrow pass with zero-copy buffer views,
    output KB-scale per million clips.  Tune
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` for ~64-128 MB batches.
    """
    thr = int(silence_threshold)
    return map_payload(
        clips.select("clip_id", "bytes", "codec"),
        f"clip_id string, {PROFILE_FIELDS}, decode_error string",
        per_clip(lambda sig: profile_ints(sig, thr), PROFILE_ERR),
    )


def audio_profile_derived(prof: DataFrame) -> DataFrame:
    """JVM-side derived metrics over the integer profile: RMS, peak dBFS,
    clipping ratio, silence ratio — pure Column arithmetic, whole-stage
    codegen, no Python."""
    n = F.col("n_samples")
    return prof.select(
        "*",
        F.when(n > 0, F.sqrt(F.col("sum_sq") / n)).alias("rms"),
        F.when(
            F.col("peak_abs") > 0,
            F.lit(20.0) * F.log10(F.col("peak_abs") / F.lit(32768.0)),
        ).alias("peak_dbfs"),
        F.when(n > 0, F.col("n_clipped") / n).alias("clipping_ratio"),
        F.when(n > 0, F.col("n_silent") / n).alias("silence_ratio"),
    )


def audio_quality_rules(
    max_clipping_per_mille: int = 10, max_silence_per_mille: int = 900
) -> dict:
    """Row rules over the integer profile, as SQL-text gates (integer
    per-mille thresholds so no float literal enters the comparison):
    decode failures, clipping beyond threshold, mostly-silent clips, and
    all-zero signal."""
    live = "decode_error IS NULL AND n_samples > 0"
    clip, silent = sql_lit(max_clipping_per_mille), sql_lit(max_silence_per_mille)
    return gates({
        "audio_decode": [DECODE_GATE],
        "audio_clipping": [(f"{live} AND CAST(n_clipped AS BIGINT) * 1000 > {clip} * n_samples",
                            "'ClippingDetected:' || n_clipped || '/' || n_samples")],
        "audio_silence": [(f"{live} AND CAST(n_silent AS BIGINT) * 1000 > {silent} * n_samples",
                           "'MostlySilent:' || n_silent || '/' || n_samples")],
        "audio_zero_signal": [(f"{live} AND peak_abs = 0", "'ZeroSignal'")],
    })


#: half-width (in bins) of the main-lobe exclusion zone when hunting the
#: second spectral peak: a Hann window's main lobe spans +-2 bins, so +-3
#: keeps leakage from the dominant tone out of the impurity measurement
SPECTRUM_EXCLUDE_BINS = 3
SPECTRUM_MIN_SAMPLES = 8
#: ``spectral_ints``'s output fields, and its metrics for an undecodable clip
SPECTRUM_FIELDS = (
    "n_samples int, dom_bin int, dom_hz int, second_bin int, "
    "impurity_milli int"
)
SPECTRUM_ERR = (0, 0, 0, 0, 0)


def spectral_ints(sig, sr: int) -> tuple[int, int, int, int, int]:
    """Integer spectral summary of one int16 PCM signal:
    ``(n_samples, dom_bin, dom_hz, second_bin, impurity_milli)``.

    Hann-windowed rFFT magnitude; ``dom_bin`` is the strongest non-DC bin,
    ``dom_hz`` its center frequency against the METADATA sample rate (raw
    PCM has no header; a header/metadata mismatch is sr_header_consistent's
    concern), ``second_bin`` the strongest bin outside the dominant main
    lobe (+-SPECTRUM_EXCLUDE_BINS), and ``impurity_milli`` the per-mille
    magnitude ratio second/dominant — ~0 for a pure tone, materially
    positive when a second tone is present.  Signals shorter than
    SPECTRUM_MIN_SAMPLES samples, non-positive rates, or all-zero signals
    return zeros.  All outputs are ints derived from bit-identical float
    pipelines (same numpy ops on the same int16 input on every engine), so
    the values are canonicalizer-safe."""
    m = int(len(sig))
    if m < SPECTRUM_MIN_SAMPLES or sr <= 0:
        return m, 0, 0, 0, 0
    x = sig.astype(np.float64) * np.hanning(m)
    mag = np.abs(np.fft.rfft(x))
    mag[0] = 0.0
    dom = int(np.argmax(mag))
    peak = mag[dom]
    if peak == 0.0:
        return m, 0, 0, 0, 0
    dom_hz = int(round(dom * sr / m))
    rest = mag.copy()
    rest[max(dom - SPECTRUM_EXCLUDE_BINS, 0) : dom + SPECTRUM_EXCLUDE_BINS + 1] = 0.0
    second = int(np.argmax(rest))
    impurity = int(round(1000.0 * rest[second] / peak))
    return m, dom, dom_hz, second, impurity


def audio_spectrum(clips: DataFrame) -> DataFrame:
    """Per-clip dominant-tone spectral check in ONE ``mapInArrow`` pass over
    the pruned ``(clip_id, bytes, codec, sr_hz)`` projection:
    ``(clip_id, n_samples, dom_bin, dom_hz, second_bin, impurity_milli,
    decode_error)``.

    The spectral content check the amplitude-domain :func:`audio_profile`
    cannot make: a clip whose waveform stats look healthy but whose
    spectrum carries an unexpected second tone (crosstalk, hum, a mixed-in
    source) shows up as ``impurity_milli`` far above a pure recording's
    leakage floor.  Same scale shape as the profile pass: NO shuffle, one
    narrow columnar scan, zero-copy payload views, integer outputs (floats
    never cross the Arrow boundary).  FFT cost is O(m log m) per clip
    inside the batch loop — compute-bound, embarrassingly parallel."""
    return map_payload(
        clips.select("clip_id", "bytes", "codec", sample_rate()),
        f"clip_id string, {SPECTRUM_FIELDS}, decode_error string",
        per_clip(spectral_ints, SPECTRUM_ERR),
    )


def audio_segments(
    clips: DataFrame,
    silence_threshold: int = 512,
    min_gap: int = 16,
    min_len: int = 4,
) -> DataFrame:
    """Split each clip's PCM into non-silent SEGMENTS — the prep step that
    turns long recordings into trainable utterances.  A segment is a
    maximal run of sound where silences shorter than ``min_gap`` samples do
    not split it; segments shorter than ``min_len`` samples are dropped.
    Emits one row per segment: ``(clip_id, seg_idx, start_sample,
    end_sample)`` with ``end_sample`` exclusive — all integers, engine-exact.
    Undecodable or fully-silent clips emit no rows (they are
    ``audio_profile``/``audio_quality_rules``'s concern).

    Scale shape: identical to :func:`audio_profile` — pruned 3-column scan,
    ONE mapInArrow pass (which may emit more rows than it reads — exactly
    what Arrow map operators allow), zero shuffle; output is
    segment-boundary integers only, KB-scale per million clips.
    """
    thr = int(silence_threshold)
    gap = int(min_gap)
    mlen = int(min_len)

    def row(raw, codec):
        sig, _rate, err = decode_one(raw, codec)
        if err is not None:
            return []
        idx = np.nonzero(np.abs(sig.astype(np.int32)) >= thr)[0]
        if idx.size == 0:
            return []
        splits = np.nonzero(np.diff(idx) > gap)[0]
        starts = np.concatenate(([idx[0]], idx[splits + 1]))
        ends = np.concatenate((idx[splits], [idx[-1]])) + 1
        kept = [(int(s), int(e)) for s, e in zip(starts, ends) if e - s >= mlen]
        return [(k, s, e) for k, (s, e) in enumerate(kept)]

    return map_payload(
        clips.select("clip_id", "bytes", "codec"),
        "clip_id string, seg_idx int, start_sample int, end_sample int",
        row,
    )


def audio_content_hash(clips: DataFrame) -> DataFrame:
    """Content-addressed payload identity: md5 over the DECODED int16 PCM
    (canonical little-endian bytes), one ``mapInArrow`` pass over the
    pruned ``(clip_id, bytes, codec)`` projection ->
    ``(clip_id, content_hash, decode_error)``.

    Hashing after decode — not the raw container bytes — makes identity
    survive re-containering: the same samples stored as raw ``pcm_s16le``
    and WAV-wrapped hash identically, which raw-byte dedup can never see.
    Undecodable payloads carry a NULL hash plus the decode error.  Same
    scale shape as :func:`audio_profile`: zero shuffle, zero-copy views,
    output is (id, 32-hex, error) — KB-scale per million clips."""
    return map_payload(
        clips.select("clip_id", "bytes", "codec"),
        "clip_id string, content_hash string, decode_error string",
        per_clip(
            lambda sig: (hashlib.md5(np.ascontiguousarray(sig, "<i2").tobytes()).hexdigest(),),
            (None,),
        ),
    )


def audio_dedup_groups(clips: DataFrame) -> DataFrame:
    """Groups of clips with IDENTICAL decoded audio content:
    ``(content_hash, n, first_clip_id)`` for every hash held by more than
    one row — the storage-dedup scan for a 100 TB audio lake.  One
    hash-aggregation over the 32-hex content hashes (map-side partial
    combine); undecodable rows are excluded (their identity is unknown,
    and NULL must not form a bogus mega-group)."""
    hashes = audio_content_hash(clips).filter(F.col("content_hash").isNotNull())
    return (
        hashes.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("clip_id").alias("first_clip_id"),
        )
        .filter(F.col("n") > 1)
    )
