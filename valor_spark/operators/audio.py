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

import io
import struct
import wave

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from valor_spark.operators.adpcm import decode_ima_adpcm

SNR_DB_MIN = 30.0


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
    raw: bytes | None, codec: str | None
) -> tuple[np.ndarray | None, int | None, str | None]:
    """Decode one payload to int16 PCM; returns (samples, header_rate, error).
    ``header_rate`` is the container's sample rate (WAV) or None for raw PCM."""
    if raw is None:
        return None, None, "null_bytes"
    try:
        if codec == "pcm_s16le":
            if len(raw) % 2:
                return None, None, "odd_byte_length"
            return np.frombuffer(raw, dtype="<i2"), None, None
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
    out_schema = (
        f"clip_id string, {shard_field}transcript_ok boolean, sr_hz int, "
        "snr_db double, n_samples int, decode_error string, header_sr_hz int"
    )
    n_pass = 3 + (1 if has_shard else 0)  # passthrough column count

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            get_bytes = _binary_views(b.column(n_pass))
            codecs = b.column(n_pass + 1).to_pylist()
            get_ref = _binary_views(b.column(n_pass + 2))
            snrs = np.full(n, np.nan)
            counts = np.zeros(n, dtype=np.int32)
            errors: list[str | None] = [None] * n
            header_rates: list[int | None] = [None] * n
            for i in range(n):
                rw = get_bytes(i)
                cod = codecs[i]
                if rw is None:
                    errors[i] = "null_bytes"
                    continue
                if cod == "pcm_s16le":
                    if len(rw) % 2:
                        errors[i] = "odd_byte_length"
                        continue
                    sig = rw.view("<i2")
                else:
                    sig, rate, err = decode_one(rw.tobytes(), cod)
                    header_rates[i] = rate
                    if err is not None:
                        errors[i] = err
                        continue
                rr = get_ref(i)
                if rr is None:
                    errors[i] = "missing_reference"
                    continue
                if len(rr) % 2:
                    errors[i] = "reference_odd_byte_length"
                    continue
                ref = rr.view("<i2")
                counts[i] = len(sig)
                if len(sig) != len(ref):
                    errors[i] = f"length_mismatch:{len(sig)}!={len(ref)}"
                    continue
                snrs[i] = snr_db(sig, ref)
            yield pa.RecordBatch.from_arrays(
                [b.column(k) for k in range(n_pass)]
                + [
                    pa.array(snrs, pa.float64()),
                    pa.array(counts, pa.int32()),
                    pa.array(errors, pa.string()),
                    pa.array(header_rates, pa.int32()),
                ],
                schema=pa.schema(
                    [b.schema.field(k) for k in range(n_pass)]
                    + [
                        pa.field("snr_db", pa.float64()),
                        pa.field("n_samples", pa.int32()),
                        pa.field("decode_error", pa.string()),
                        pa.field("header_sr_hz", pa.int32()),
                    ]
                ),
            )

    return joined.mapInArrow(gen, out_schema)


def audio_rules(snr_db_min: float = SNR_DB_MIN) -> dict:
    """Row rules over the invariant columns (pure Valor combinators)."""
    from valor_spark import EArray, make

    EA = EArray()
    decode_rule = make(
        lambda row: F.when(
            row.getField("decode_error").isNotNull(),
            F.array(F.concat(F.lit("DecodeError:"), row.getField("decode_error"))),
        ),
        EA,
    )
    snr_rule = make(
        lambda row: F.when(
            row.getField("decode_error").isNull()
            & (row.getField("snr_db") < F.lit(snr_db_min)),
            F.array(
                F.concat(
                    F.lit("SnrBelowThreshold:"),
                    F.round(row.getField("snr_db"), 2).cast("string"),
                )
            ),
        ),
        EA,
    )
    transcript_rule = make(
        lambda row: F.when(
            ~row.getField("transcript_ok"), EA.lit(["TranscriptMismatch"])
        ),
        EA,
    )
    sr_header_rule = make(
        lambda row: F.when(
            row.getField("header_sr_hz").isNotNull()
            & (row.getField("sr_hz") > 0)
            & (row.getField("header_sr_hz") != row.getField("sr_hz")),
            F.array(
                F.concat(
                    F.lit("SampleRateHeaderMismatch:"),
                    row.getField("header_sr_hz").cast("string"),
                    F.lit("!="),
                    row.getField("sr_hz").cast("string"),
                )
            ),
        ),
        EA,
    )
    return {
        "audio_decode": decode_rule,
        "audio_snr": snr_rule,
        "transcript_equal": transcript_rule,
        "sr_header_consistent": sr_header_rule,
    }


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
    sel = clips.select("clip_id", "bytes", "codec")
    out_schema = (
        "clip_id string, n_samples int, peak_abs int, sum_sq bigint, "
        "n_clipped int, n_silent int, lead_silence int, trail_silence int, "
        "decode_error string"
    )
    thr = int(silence_threshold)

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            get_bytes = _binary_views(b.column(1))
            codecs = b.column(2).to_pylist()
            n_samples = np.zeros(n, np.int32)
            peak = np.zeros(n, np.int32)
            sumsq = np.zeros(n, np.int64)
            clipped = np.zeros(n, np.int32)
            silent = np.zeros(n, np.int32)
            lead = np.zeros(n, np.int32)
            trail = np.zeros(n, np.int32)
            errors: list[str | None] = [None] * n
            for i in range(n):
                rw = get_bytes(i)
                cod = codecs[i]
                if rw is None:
                    errors[i] = "null_bytes"
                    continue
                if cod == "pcm_s16le":
                    if len(rw) % 2:
                        errors[i] = "odd_byte_length"
                        continue
                    sig = rw.view("<i2")
                else:
                    sig, _rate, err = decode_one(rw.tobytes(), cod)
                    if err is not None:
                        errors[i] = err
                        continue
                m = len(sig)
                n_samples[i] = m
                if m == 0:
                    continue
                a = np.abs(sig.astype(np.int32))
                peak[i] = int(a.max())
                s64 = sig.astype(np.int64)
                sumsq[i] = int(np.dot(s64, s64))
                clipped[i] = int((a >= 32767).sum())
                loud = np.nonzero(a >= thr)[0]
                silent[i] = m - len(loud)
                lead[i] = int(loud[0]) if len(loud) else m
                trail[i] = int(m - 1 - loud[-1]) if len(loud) else m
            yield pa.RecordBatch.from_arrays(
                [b.column(0)]
                + [
                    pa.array(n_samples, pa.int32()),
                    pa.array(peak, pa.int32()),
                    pa.array(sumsq, pa.int64()),
                    pa.array(clipped, pa.int32()),
                    pa.array(silent, pa.int32()),
                    pa.array(lead, pa.int32()),
                    pa.array(trail, pa.int32()),
                    pa.array(errors, pa.string()),
                ],
                schema=pa.schema(
                    [b.schema.field(0)]
                    + [
                        pa.field("n_samples", pa.int32()),
                        pa.field("peak_abs", pa.int32()),
                        pa.field("sum_sq", pa.int64()),
                        pa.field("n_clipped", pa.int32()),
                        pa.field("n_silent", pa.int32()),
                        pa.field("lead_silence", pa.int32()),
                        pa.field("trail_silence", pa.int32()),
                        pa.field("decode_error", pa.string()),
                    ]
                ),
            )

    return sel.mapInArrow(gen, out_schema)


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
    """Row rules over the integer profile (pure Valor combinators; integer
    per-mille thresholds so no float literal enters the comparison):
    decode failures, clipping beyond threshold, mostly-silent clips, and
    all-zero signal."""
    from valor_spark import EArray, make

    EA = EArray()
    decode_rule = make(
        lambda row: F.when(
            row.getField("decode_error").isNotNull(),
            F.array(F.concat(F.lit("DecodeError:"), row.getField("decode_error"))),
        ),
        EA,
    )
    clip_rule = make(
        lambda row: F.when(
            row.getField("decode_error").isNull()
            & (row.getField("n_samples") > 0)
            & (
                row.getField("n_clipped").cast("bigint") * 1000
                > F.lit(max_clipping_per_mille) * row.getField("n_samples")
            ),
            F.array(
                F.concat(
                    F.lit("ClippingDetected:"),
                    row.getField("n_clipped").cast("string"),
                    F.lit("/"),
                    row.getField("n_samples").cast("string"),
                )
            ),
        ),
        EA,
    )
    silence_rule = make(
        lambda row: F.when(
            row.getField("decode_error").isNull()
            & (row.getField("n_samples") > 0)
            & (
                row.getField("n_silent").cast("bigint") * 1000
                > F.lit(max_silence_per_mille) * row.getField("n_samples")
            ),
            F.array(
                F.concat(
                    F.lit("MostlySilent:"),
                    row.getField("n_silent").cast("string"),
                    F.lit("/"),
                    row.getField("n_samples").cast("string"),
                )
            ),
        ),
        EA,
    )
    zero_rule = make(
        lambda row: F.when(
            row.getField("decode_error").isNull()
            & (row.getField("n_samples") > 0)
            & (row.getField("peak_abs") == 0),
            EA.lit(["ZeroSignal"]),
        ),
        EA,
    )
    return {
        "audio_decode": decode_rule,
        "audio_clipping": clip_rule,
        "audio_silence": silence_rule,
        "audio_zero_signal": zero_rule,
    }


#: half-width (in bins) of the main-lobe exclusion zone when hunting the
#: second spectral peak: a Hann window's main lobe spans +-2 bins, so +-3
#: keeps leakage from the dominant tone out of the impurity measurement
SPECTRUM_EXCLUDE_BINS = 3
SPECTRUM_MIN_SAMPLES = 8


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
    sel = clips.select("clip_id", "bytes", "codec", "sr_hz")
    out_schema = (
        "clip_id string, n_samples int, dom_bin int, dom_hz int, "
        "second_bin int, impurity_milli int, decode_error string"
    )

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            get_bytes = _binary_views(b.column(1))
            codecs = b.column(2).to_pylist()
            rates = b.column(3).to_pylist()
            n_samples = np.zeros(n, np.int32)
            dom_bin = np.zeros(n, np.int32)
            dom_hz = np.zeros(n, np.int32)
            second_bin = np.zeros(n, np.int32)
            impurity = np.zeros(n, np.int32)
            errors: list[str | None] = [None] * n
            for i in range(n):
                rw = get_bytes(i)
                cod = codecs[i]
                if rw is None:
                    errors[i] = "null_bytes"
                    continue
                if cod == "pcm_s16le":
                    if len(rw) % 2:
                        errors[i] = "odd_byte_length"
                        continue
                    sig = rw.view("<i2")
                else:
                    sig, _rate, err = decode_one(rw.tobytes(), cod)
                    if err is not None:
                        errors[i] = err
                        continue
                sr = rates[i] if rates[i] is not None else 0
                (
                    n_samples[i],
                    dom_bin[i],
                    dom_hz[i],
                    second_bin[i],
                    impurity[i],
                ) = spectral_ints(sig, sr)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pa.array(n_samples, pa.int32()),
                    pa.array(dom_bin, pa.int32()),
                    pa.array(dom_hz, pa.int32()),
                    pa.array(second_bin, pa.int32()),
                    pa.array(impurity, pa.int32()),
                    pa.array(errors, pa.string()),
                ],
                schema=pa.schema(
                    [
                        b.schema.field(0),
                        pa.field("n_samples", pa.int32()),
                        pa.field("dom_bin", pa.int32()),
                        pa.field("dom_hz", pa.int32()),
                        pa.field("second_bin", pa.int32()),
                        pa.field("impurity_milli", pa.int32()),
                        pa.field("decode_error", pa.string()),
                    ]
                ),
            )

    return sel.mapInArrow(gen, out_schema)


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
    sel = clips.select("clip_id", "bytes", "codec")
    out_schema = (
        "clip_id string, seg_idx int, start_sample int, end_sample int"
    )
    thr = int(silence_threshold)
    gap = int(min_gap)
    mlen = int(min_len)

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            get_bytes = _binary_views(b.column(1))
            codecs = b.column(2).to_pylist()
            ids = b.column(0).to_pylist()
            out_id: list[str] = []
            out_seg: list[int] = []
            out_lo: list[int] = []
            out_hi: list[int] = []
            for i in range(b.num_rows):
                rw = get_bytes(i)
                cod = codecs[i]
                if rw is None:
                    continue
                if cod == "pcm_s16le":
                    if len(rw) % 2:
                        continue
                    sig = rw.view("<i2")
                else:
                    sig, _rate, err = decode_one(rw.tobytes(), cod)
                    if err is not None:
                        continue
                a = np.abs(sig.astype(np.int32))
                idx = np.nonzero(a >= thr)[0]
                if idx.size == 0:
                    continue
                splits = np.nonzero(np.diff(idx) > gap)[0]
                starts = np.concatenate(([idx[0]], idx[splits + 1]))
                ends = np.concatenate((idx[splits], [idx[-1]])) + 1
                seg = 0
                for s, e in zip(starts, ends):
                    if e - s >= mlen:
                        out_id.append(ids[i])
                        out_seg.append(seg)
                        out_lo.append(int(s))
                        out_hi.append(int(e))
                        seg += 1
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, pa.string()),
                    pa.array(out_seg, pa.int32()),
                    pa.array(out_lo, pa.int32()),
                    pa.array(out_hi, pa.int32()),
                ],
                schema=pa.schema(
                    [
                        pa.field("clip_id", pa.string()),
                        pa.field("seg_idx", pa.int32()),
                        pa.field("start_sample", pa.int32()),
                        pa.field("end_sample", pa.int32()),
                    ]
                ),
            )

    return sel.mapInArrow(gen, out_schema)


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
    sel = clips.select("clip_id", "bytes", "codec")
    out_schema = "clip_id string, content_hash string, decode_error string"

    def gen(batches):
        import hashlib

        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            get_bytes = _binary_views(b.column(1))
            codecs = b.column(2).to_pylist()
            hashes: list[str | None] = [None] * n
            errors: list[str | None] = [None] * n
            for i in range(n):
                rw = get_bytes(i)
                cod = codecs[i]
                if rw is None:
                    errors[i] = "null_bytes"
                    continue
                if cod == "pcm_s16le":
                    if len(rw) % 2:
                        errors[i] = "odd_byte_length"
                        continue
                    sig = rw.view("<i2")
                else:
                    sig, _rate, err = decode_one(rw.tobytes(), cod)
                    if err is not None:
                        errors[i] = err
                        continue
                hashes[i] = hashlib.md5(np.ascontiguousarray(sig, "<i2").tobytes()).hexdigest()
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pa.array(hashes, pa.string()), pa.array(errors, pa.string())],
                schema=pa.schema(
                    [b.schema.field(0), pa.field("content_hash", pa.string()),
                     pa.field("decode_error", pa.string())]
                ),
            )

    return sel.mapInArrow(gen, out_schema)


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
