"""Audio-gate fixture: real PCM/WAV bytes + a pure-Python expected-violation
oracle, written as parquet so BOTH engines read identical bytes.

The driver's DuckDB oracle cannot decode audio — but the planted truth can be
*materialized*: this module derives, row by row in plain Python (numpy +
stdlib ``wave`` only, no Spark), exactly which violations the audio stage
must emit for a deterministic fixture, and writes three parquets:

* ``clips``    — (clip_id, bytes, sr_hz, dur_ms, codec, transcript) with the
  same planted corruptions as the distributed generator
  (valor_spark.sources.synthetic): SNR corruption, truncation, bad codec,
  transcript mismatch, plus explicit WAV-header/sr_hz mismatches;
* ``ref``      — (clip_id, pcm_ref, transcript_ref) reference decodes;
* ``expected`` — (clip_id, rule, error) the ground-truth violation rows.

The Spark gate query runs the REAL decode pipeline
(``with_audio_invariant`` + ``audio_rules``) over ``clips``/``ref``; the
DuckDB oracle just reads ``expected``.  If the decode, the SNR math, the
join, or the rule algebra drifts, the hashes diverge — this is a true
end-to-end gate on the payload invariant, not a tautology.
"""

from __future__ import annotations

import functools
from decimal import ROUND_HALF_UP, Decimal

from valor_spark.sources import synthetic as S
from valor_spark.sources.fixture_writer import fixture
from valor_spark.sources.rowspec import (
    ClipSpec,
    expected_clips,
    ref_present,
    ref_transcript,
)

N_CLIPS = 3000
MAX_SAMPLES = 256
SNR_DB_MIN = 30.0
N_HEADER_MISMATCH = 5
#: bump when the expected-violation DERIVATION logic changes — the version
#: and the constants are baked into the fixture filenames, so a stale
#: .fixtures dir can never grade new code against old ground truth
#: (v2: compressed-codec plants — G.711 raw + WAV-contained, IMA ADPCM)
FIXTURE_VERSION = 3  # v3: FLAC plants in _codec_plants + flac/channels fixtures
#: the tag key of every clips-family fixture (audio_fixture and flac_fixture)
AUDIO_KEY = (FIXTURE_VERSION, N_CLIPS, MAX_SAMPLES, SNR_DB_MIN, N_HEADER_MISMATCH)
#: the data table of every per-family clip fixture (bw, chan, def, flac,
#: fp, fu, loudness, rs)
CLIPS_DDL = "clip_id string, bytes binary, sr_hz int, codec string"


def _spark_round_str(v: float, digits: int = 2) -> str:
    """Replicates ``F.round(col, 2).cast('string')``: HALF_UP on the shortest
    decimal repr (Java BigDecimal.valueOf), then Double.toString."""
    d = Decimal(repr(float(v))).quantize(
        Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
    )
    return repr(float(d))


def _spec_pcm(spec: ClipSpec):
    """The PCM one clips row carries: synthesised from the spec, halved
    for a truncated row."""
    pcm = S.synth_pcm(spec.g, spec.sr_hz, spec.dur_ms, MAX_SAMPLES, spec.corrupted)
    if spec.truncated:
        pcm = pcm[: len(pcm) // 2]
    return pcm


def _hdrmm_pcm(k: int):
    """The PCM of the ``hdrmm_<k>`` WAV-header/sr_hz mismatch plant."""
    import numpy as np

    return np.arange(-32 * (k + 1), 32 * (k + 1), k + 1, dtype="<i2")


def _tone(f: float, n: int, amp: float, phase: float = 0.0, sr: int = 16000):
    """``n`` int16 samples of a sine at ``f`` Hz, rounded and clipped."""
    import numpy as np

    t = np.arange(n) / sr
    x = amp * np.sin(2 * np.pi * f * t + phase)
    return np.clip(np.rint(x), -32768, 32767).astype(np.int16)


def _clip_bytes(spec: ClipSpec) -> bytes:
    """Identical to synthetic._bytes_generator for one row (ref=False)."""
    pcm = _spec_pcm(spec)
    if spec.codec == "wav":
        return S.wrap_wav(pcm, spec.sr_hz)
    return pcm.tobytes()  # raw s16le (also for planted bad codecs)


def _expected_for(spec: ClipSpec) -> list[tuple[str, str]]:
    """Violations the audio stage must emit for one JOINED clips row —
    mirrors operators/audio.py decode order + audio_rules error strings."""
    out: list[tuple[str, str]] = []
    if spec.codec not in ("pcm_s16le", "wav"):
        out.append(("audio_decode", f"DecodeError:unsupported_codec:{spec.codec}"))
    elif spec.truncated:
        out.append(
            (
                "audio_decode",
                f"DecodeError:length_mismatch:{spec.n_samples // 2}!={spec.n_samples}",
            )
        )
    elif spec.corrupted and spec.n_samples > 0:
        import numpy as np  # noqa: F401  (snr path)

        from valor_spark.operators.audio import snr_db

        sig = S.synth_pcm(spec.g, spec.sr_hz, spec.dur_ms, MAX_SAMPLES, True)
        ref = S.synth_pcm(spec.g, spec.sr_hz, spec.dur_ms, MAX_SAMPLES, False)
        v = snr_db(sig, ref)
        if v < SNR_DB_MIN:
            out.append(("audio_snr", f"SnrBelowThreshold:{_spark_round_str(v)}"))
    # transcript: the ref row belongs to the ORIGINAL id (spec.g); its
    # transcript_ref mutates when that id hits the mismatch stride
    if spec.g % S.MISMATCH_TRANSCRIPT_STRIDE == 5:
        out.append(("transcript_equal", "TranscriptMismatch"))
    return out


@functools.cache
def _codec_plants() -> tuple[dict, ...]:
    """Compressed-codec plant rows exercising decode_one's fallback paths
    (raw G.711 mu/A-law, G.711-in-WAV tag 6, IMA ADPCM tag 0x11) through
    EVERY audio gate row — the invariant, profile, segments, spectrum and
    dedup oracles all replay these via the ``decoded`` field.

    ``decoded`` is derived through the SAME codec decoders the engine uses
    (honest shared derivation of the lossy reconstruction — the independent
    checks are the SNR-vs-ORIGINAL-reference gate below, whose reference
    predates the encode, and the codec unit tests' scalar cross-checks /
    table landmarks in tests/test_audio.py).  Violations mirror the engine's
    rule order: decode -> length -> SNR -> transcript -> header rate.

    Built once per process: five builders replay the plants and each encode
    pass costs ~0.15 s.  The PCM arrays are read-only, so no caller can
    change what the next one reads."""
    import numpy as np

    from valor_spark.operators import adpcm as AD
    from valor_spark.operators.audio import (
        ALAW_DECODE_LUT,
        ULAW_DECODE_LUT,
        encode_g711,
        snr_db,
    )

    plants: list[dict] = []

    def add(cid, raw, sr, codec, ref_pcm, decoded, extra_viol=()):
        for pcm in (ref_pcm, decoded):
            if pcm is not None:
                pcm.setflags(write=False)
        viols = []
        if ref_pcm is not None:
            v = snr_db(decoded, ref_pcm)
            if v < SNR_DB_MIN:
                viols.append(("audio_snr", f"SnrBelowThreshold:{_spark_round_str(v)}"))
        viols.extend(extra_viol)
        plants.append(
            dict(
                clip_id=cid,
                bytes=raw,
                sr_hz=sr,
                dur_ms=len(decoded) * 1000 // sr if sr else 0,
                codec=codec,
                transcript="codec plant",
                ref_pcm=ref_pcm,
                decoded=decoded,
                violations=viols,
            )
        )

    t = np.arange(2048)
    # raw G.711: companded sine vs original reference clears the 30 dB gate
    src = (11000 * np.sin(2 * np.pi * t * 37 / 2048)).astype(np.int16)
    for law, codec, lut in (
        ("mulaw", "pcm_mulaw", ULAW_DECODE_LUT),
        ("alaw", "pcm_alaw", ALAW_DECODE_LUT),
    ):
        enc = encode_g711(src, law)
        add(f"g711_{law}", enc, 16000, codec, src, lut[np.frombuffer(enc, np.uint8)])
    # G.711 A-law inside a WAV container (format tag 6), header-consistent
    enc = encode_g711(src, "alaw")
    add(
        "g711_wav6",
        _g711_wav(6, enc, 16000),
        16000,
        "wav",
        src,
        ALAW_DECODE_LUT[np.frombuffer(enc, np.uint8)],
    )
    # IMA ADPCM, smooth low-frequency content: lossy but above the SNR gate
    src = (15000 * np.sin(2 * np.pi * t * 19 / 2048)).astype(np.int16)
    enc = AD.wav_ima_adpcm(src, rate=16000, block_align=256)
    add("adpcm_ok", enc, 16000, "wav", src, _adpcm_decoded(enc, len(src)))
    # IMA ADPCM, harsh wideband content: 4-bit slope overload -> SNR < 30
    rng = np.random.default_rng(97)
    src = rng.integers(-28000, 28000, 2048).astype(np.int16)
    enc = AD.wav_ima_adpcm(src, rate=16000, block_align=256)
    add("adpcm_snr", enc, 16000, "wav", src, _adpcm_decoded(enc, len(src)))
    # IMA ADPCM with a header/metadata rate mismatch
    src = (15000 * np.sin(2 * np.pi * t * 19 / 2048)).astype(np.int16)
    enc = AD.wav_ima_adpcm(src, rate=8000, block_align=256)
    add(
        "adpcm_hdr",
        enc,
        16000,
        "wav",
        src,
        _adpcm_decoded(enc, len(src)),
        extra_viol=[("sr_header_consistent", "SampleRateHeaderMismatch:8000!=16000")],
    )
    # FLAC (spec-implemented lossless codec, operators/flac.py): decoded
    # PCM is bit-identical to the source, so the SNR gate sees infinity;
    # the oracle's `decoded` IS the plant (lossless), not decoder output
    from valor_spark.sources.flac_fixture import encode_flac

    src = (11000 * np.sin(2 * np.pi * t * 37 / 2048)).astype(np.int16)
    add("flac_ok", encode_flac(src, 16000), 16000, "flac", src, src)
    # FLAC whose STREAMINFO lies about the sample rate vs corpus metadata
    add(
        "flac_hdr",
        encode_flac(src, 16000, rate_claim=8000),
        16000,
        "flac",
        src,
        src,
        extra_viol=[("sr_header_consistent", "SampleRateHeaderMismatch:8000!=16000")],
    )
    return tuple(plants)


def _g711_wav(tag: int, payload: bytes, rate: int) -> bytes:
    """A mono 8-bit G.711 payload in a WAV container with format ``tag``
    (6 = A-law, 7 = mu-law)."""
    import struct

    fmt = struct.pack("<HHIIHH", tag, 1, rate, rate, 1, 8)
    chunks = b""
    for cid, body in ((b"fmt ", fmt), (b"data", payload)):
        chunks += cid + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _adpcm_decoded(wav_bytes: bytes, n: int):
    """Decode a tag-0x11 container back to PCM for the oracle side (same
    decoder the engine dispatches to — see _codec_plants docstring)."""
    from valor_spark.operators.audio import decode_one

    pcm, _, err = decode_one(wav_bytes, "wav")
    assert err is None and len(pcm) == n, (err, len(pcm) if pcm is not None else None, n)
    return pcm


@fixture("clips_audio", AUDIO_KEY, "clips", "ref", "expected")
def build_audio_fixture(fixture_dir: str):
    """Write the three parquets (idempotent); returns their paths."""
    specs = expected_clips(N_CLIPS, MAX_SAMPLES)
    clips_rows = [
        (s.clip_id, _clip_bytes(s), s.sr_hz, s.dur_ms, s.codec, s.transcript)
        for s in specs
    ]
    ref_rows = []
    for s in specs:
        if not s.is_dup and not s.is_hot and ref_present(s):
            pcm = S.synth_pcm(s.g, s.sr_hz, s.dur_ms, MAX_SAMPLES, False)
            ref_rows.append((s.clip_id, pcm.tobytes(), ref_transcript(s)))

    expected_rows = []
    ref_ids = {r[0] for r in ref_rows}
    for s in specs:
        if s.is_hot or s.clip_id not in ref_ids:
            continue  # no ref row -> referential integrity's concern
        for rule, error in _expected_for(s):
            expected_rows.append((s.clip_id, rule, error))

    # explicit WAV-header/sr_hz mismatch plants (the generator's WAVs are
    # header-consistent by construction)
    for k in range(N_HEADER_MISMATCH):
        pcm = _hdrmm_pcm(k)
        cid = f"hdrmm_{k}"
        clips_rows.append((cid, S.wrap_wav(pcm, 8000), 16000, 4, "wav", "hdr"))
        ref_rows.append((cid, pcm.tobytes(), "hdr"))
        expected_rows.append(
            (cid, "sr_header_consistent", "SampleRateHeaderMismatch:8000!=16000")
        )

    # compressed-codec plants (G.711 raw + WAV tag 6, IMA ADPCM tag 0x11)
    for p in _codec_plants():
        clips_rows.append(
            (p["clip_id"], p["bytes"], p["sr_hz"], p["dur_ms"], p["codec"],
             p["transcript"])
        )
        ref_rows.append(
            (p["clip_id"], p["ref_pcm"].astype("<i2").tobytes(), p["transcript"])
        )
        for rule, error in p["violations"]:
            expected_rows.append((p["clip_id"], rule, error))

    return {
        "clips": (
            "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
            "transcript string",
            clips_rows,
        ),
        "ref": ("clip_id string, pcm_ref binary, transcript_ref string", ref_rows),
        "expected": ("clip_id string, rule string, error string", expected_rows),
    }


def _decoded_rows():
    """``(clip_id, codec, sr_hz, pcm)`` for every clips-fixture row, in
    table order: the spec rows (PCM from the spec, None for an undecodable
    codec), the ``hdrmm_*`` plants (at their metadata rate) and the codec
    plants (their ``decoded`` PCM)."""
    for s in expected_clips(N_CLIPS, MAX_SAMPLES):
        pcm = _spec_pcm(s) if s.codec in ("pcm_s16le", "wav") else None
        yield s.clip_id, s.codec, s.sr_hz, pcm
    for k in range(N_HEADER_MISMATCH):
        yield f"hdrmm_{k}", "wav", 16000, _hdrmm_pcm(k)
    for p in _codec_plants():
        yield p["clip_id"], p["codec"], p["sr_hz"], p["decoded"]


def _profile_int_stats(pcm, thr: int) -> tuple[int, int, int, int, int, int, int]:
    """Integer quality stats from a GENERATOR-side pcm array (the fixture's
    independent derivation of operators/audio.py::audio_profile — the gate
    compares bytes->decode->stats against spec->synth->stats)."""
    import numpy as np

    m = int(len(pcm))
    if m == 0:
        return 0, 0, 0, 0, 0, 0, 0
    a = np.abs(pcm.astype(np.int32))
    s64 = pcm.astype(np.int64)
    loud = np.nonzero(a >= thr)[0]
    lead = int(loud[0]) if len(loud) else m
    trail = int(m - 1 - loud[-1]) if len(loud) else m
    return (
        m,
        int(a.max()),
        int(np.dot(s64, s64)),
        int((a >= 32767).sum()),
        m - len(loud),
        lead,
        trail,
    )


PROFILE_SILENCE_THRESHOLD = 512


@fixture(f"clips_audio_profile_{PROFILE_SILENCE_THRESHOLD}", AUDIO_KEY)
def build_audio_profile_fixture(fixture_dir: str):
    """Expected integer profile rows for EVERY clips-parquet row (dups and
    hot keys included — profiling is per-row, no ref join), written as
    parquet; returns the path.  Depends on build_audio_fixture for the
    clips table itself."""
    build_audio_fixture(fixture_dir)  # ensure the clips parquet exists
    rows = []
    for cid, codec, _sr, pcm in _decoded_rows():
        if pcm is None:
            rows.append((cid, 0, 0, 0, 0, 0, 0, 0, f"unsupported_codec:{codec}"))
        else:
            rows.append((cid, *_profile_int_stats(pcm, PROFILE_SILENCE_THRESHOLD), None))
    return (
        "clip_id string, n_samples int, peak_abs int, sum_sq bigint, "
        "n_clipped int, n_silent int, lead_silence int, trail_silence int, "
        "decode_error string",
        rows,
    )


SEGMENTS_PARAMS = (512, 16, 4)  # threshold, min_gap, min_len


def _segments_for(pcm, thr: int, gap: int, mlen: int):
    """Spec-side segment derivation mirroring audio.audio_segments."""
    import numpy as np

    a = np.abs(pcm.astype(np.int32))
    idx = np.nonzero(a >= thr)[0]
    if idx.size == 0:
        return []
    splits = np.nonzero(np.diff(idx) > gap)[0]
    starts = np.concatenate(([idx[0]], idx[splits + 1]))
    ends = np.concatenate((idx[splits], [idx[-1]])) + 1
    return [(int(s), int(e)) for s, e in zip(starts, ends) if e - s >= mlen]


@fixture("clips_audio_segments_{}_{}_{}".format(*SEGMENTS_PARAMS), AUDIO_KEY)
def build_audio_segments_fixture(fixture_dir: str):
    """Expected (clip_id, seg_idx, start_sample, end_sample) rows for every
    decodable clips-parquet row; undecodable / fully-silent clips have no
    rows.  Independent derivation: spec -> synth_pcm -> numpy runs."""
    build_audio_fixture(fixture_dir)
    rows = []
    for cid, _codec, _sr, pcm in _decoded_rows():
        if pcm is not None:
            for seg, (s, e) in enumerate(_segments_for(pcm, *SEGMENTS_PARAMS)):
                rows.append((cid, seg, s, e))
    return (
        "clip_id string, seg_idx int, start_sample int, end_sample int",
        rows,
    )


def _spectrum_for(pcm, sr: int):
    """Spec-side spectral expectation — HONESTLY SHARED derivation: this
    delegates to operators/audio.py::spectral_ints (same Hann/rFFT/argmax
    code), so the oracle independently exercises only the bytes->PCM
    DECODE path, not the spectral arithmetic.  A shared algorithmic bug
    would pass this gate; the ANALYTIC guard for that is
    tests/test_audio.py::test_spectrum_dom_hz_matches_synth_spec_analytically,
    which checks dom_hz of clean clips against the synth spec's closed-form
    tone frequency (100 + id % 400) with no FFT on either side."""
    from valor_spark.operators.audio import spectral_ints

    return spectral_ints(pcm, sr)


@fixture("clips_audio_spectrum", AUDIO_KEY)
def build_audio_spectrum_fixture(fixture_dir: str):
    """Expected integer spectrum rows for every clips-parquet row
    (spectral analysis is per-row — dups/hot keys included), written as
    parquet; returns the path.  The DECODE path is independently derived
    (spec -> synth_pcm vs engine bytes -> decode); the spectral arithmetic
    is shared with the engine — see ``_spectrum_for`` for why and where
    the analytic cross-check lives.  The engine converts bins with the
    METADATA rate, so the ``hdrmm_*`` rows use 16000, not their planted
    WAV header rate — sr_header_consistent owns that mismatch."""
    build_audio_fixture(fixture_dir)
    rows = []
    for cid, codec, sr, pcm in _decoded_rows():
        if pcm is None:
            rows.append((cid, 0, 0, 0, 0, 0, f"unsupported_codec:{codec}"))
        else:
            rows.append((cid, *_spectrum_for(pcm, sr), None))
    return (
        "clip_id string, n_samples int, dom_bin int, dom_hz int, "
        "second_bin int, impurity_milli int, decode_error string",
        rows,
    )


@fixture("clips_audio_dedup", AUDIO_KEY)
def build_audio_dedup_fixture(fixture_dir: str):
    """Expected content-dedup groups ``(content_hash, n, first_clip_id)``
    for the clips parquet — independent derivation: spec -> synth_pcm ->
    md5 over the canonical int16 bytes, grouped in plain Python.  The
    planted duplicate rows (id % DUP_STRIDE, exact copies of the previous
    id's content under the SAME clip_id) and the degenerate all-empty-PCM
    rows (bad sr/dur strides) form the groups; undecodable rows (identity
    unknown) are excluded."""
    import hashlib
    from collections import defaultdict

    import numpy as np

    build_audio_fixture(fixture_dir)
    groups: dict[str, list[str]] = defaultdict(list)
    for cid, _codec, _sr, pcm in _decoded_rows():
        if pcm is not None:
            h = hashlib.md5(np.ascontiguousarray(pcm, "<i2").tobytes()).hexdigest()
            groups[h].append(cid)
    return (
        "content_hash string, n bigint, first_clip_id string",
        [(h, len(ids), min(ids)) for h, ids in groups.items() if len(ids) > 1],
    )


def _loudness_clip_set():
    """Deterministic clip set for the loudness gate — seconds-long signals
    (the 400 ms gating blocks need real duration; the main clips fixture
    tops out at 256 samples): a tone matrix across frequency x level x
    rate x container, two-level gating composites, silence / sub-block
    degenerates, every compressed codec, and error plants.

    Returns (clip_id, bytes, sr_hz, codec, decoded_or_None) — ``decoded``
    is the local reconstruction the expected table derives from (same
    decoders the engine dispatches to for the compressed rows — honest
    shared derivation; the ANALYTIC guard is the 997 Hz / coefficient-
    table pytest in tests/test_audio.py)."""
    import numpy as np

    from valor_spark.operators import adpcm as AD
    from valor_spark.operators.audio import (
        ALAW_DECODE_LUT,
        ULAW_DECODE_LUT,
        encode_g711,
    )

    def tone(freq, amp_dbfs, sr, dur_s, phase_id=0):
        t = np.arange(int(sr * dur_s))
        amp = 32768.0 * 10.0 ** (amp_dbfs / 20.0)
        return (
            amp * np.sin(2.0 * np.pi * (freq * t / sr + 0.1 * phase_id))
        ).astype(np.int16)

    rows = []

    def add(cid, raw, sr, codec, decoded):
        rows.append((cid, raw, sr, codec, decoded))

    freqs = (60, 150, 440, 997, 3000, 7000)
    levels = (-3, -20, -40, -60)
    rates = (8000, 16000, 48000)
    k = 0
    for fi, f in enumerate(freqs):
        for li, lv in enumerate(levels):
            sr = rates[k % 3]
            if 2 * f >= sr:  # keep tones below Nyquist
                sr = 48000
            pcm = tone(f, lv, sr, 1.2, phase_id=k)
            if k % 2 == 0:
                add(f"tone_{f}_{-lv}", pcm.tobytes(), sr, "pcm_s16le", pcm)
            else:
                add(f"tone_{f}_{-lv}", S.wrap_wav(pcm, sr), sr, "wav", pcm)
            k += 1
    # gating composites: loud head + long quiet tail (relative gate must
    # recover the head's level), and a quiet-only row under the abs gate
    for j, (head_db, tail_db) in enumerate(((-18, -75), (-30, -66), (-10, -90))):
        sr = 16000
        head = tone(440, head_db, sr, 1.0, phase_id=10 + j)
        tail = tone(440, tail_db, sr, 3.0, phase_id=20 + j)
        pcm = np.concatenate([head, tail])
        add(f"gate_{j}", pcm.tobytes(), sr, "pcm_s16le", pcm)
    quiet = tone(440, -80, 16000, 1.5, phase_id=31)
    add("all_quiet", quiet.tobytes(), 16000, "pcm_s16le", quiet)
    # near-full-scale row: true peak above the -1 dBTP clipping-risk line
    hot = tone(997, -0.5, 48000, 1.2, phase_id=33)
    add("hot", hot.tobytes(), 48000, "pcm_s16le", hot)
    zeros = np.zeros(16000, np.int16)
    add("silence", zeros.tobytes(), 16000, "pcm_s16le", zeros)
    short = tone(440, -20, 16000, 0.2, phase_id=32)
    add("too_short", short.tobytes(), 16000, "pcm_s16le", short)
    # compressed codecs (decoded = engine decoder output, shared honestly)
    pcm = tone(300, -20, 16000, 1.0, phase_id=40)
    for law, codec, lut in (
        ("mulaw", "pcm_mulaw", ULAW_DECODE_LUT),
        ("alaw", "pcm_alaw", ALAW_DECODE_LUT),
    ):
        enc = encode_g711(pcm, law)
        add(f"g711_{law}", enc, 16000, codec, lut[np.frombuffer(enc, np.uint8)])
    enc = AD.wav_ima_adpcm(pcm, rate=16000, block_align=256)
    add("adpcm", enc, 16000, "wav", _adpcm_decoded(enc, len(pcm)))
    # error plants: truncated WAV header, unknown codec
    add("trunc", S.wrap_wav(pcm, 16000)[:40], 16000, "wav", None)
    add("badcodec", pcm.tobytes(), 16000, "opus", None)
    return rows


@fixture("clips_loudness_v3", AUDIO_KEY, "data", "expected")
def build_audio_loudness_fixture(fixture_dir: str):
    """Write the loudness clips + expected parquets (idempotent); returns
    their paths.  Expected rows are ``loudness_ints`` over the locally-
    derived PCM (shared arithmetic, independently-exercised DECODE path —
    same split as the spectrum fixture; the analytic anchors are the
    BS.1770 48 kHz coefficient table and the 997 Hz -3.01 LKFS
    calibration in tests/test_audio.py)."""
    from valor_spark.operators.audio import decode_one
    from valor_spark.operators.loudness import loudness_ints

    rows = _loudness_clip_set()
    expected_rows = []
    for cid, raw, sr, codec, decoded in rows:
        if decoded is None:  # error plant: replay the engine's error string
            _sig, _r, err = decode_one(raw, codec)
            assert err is not None, cid
            expected_rows.append((cid, 0, 0, 0, None, None, None, err))
        else:
            n, nb, gb, lufs, peak, tp = loudness_ints(decoded, sr)
            expected_rows.append((cid, n, nb, gb, lufs, peak, tp, None))
    return {
        "data": (CLIPS_DDL, [r[:4] for r in rows]),
        "expected": (
            "clip_id string, n_samples int, n_blocks int, gated_blocks int, "
            "lufs_milli int, peak_milli_dbfs int, true_peak_milli_dbtp int, "
            "decode_error string",
            expected_rows,
        ),
    }


def _fp_programs():
    """Deterministic 'melody' programs for the perceptual-fingerprint
    gate: each program is a sequence of on-bin pure-tone notes (freqs are
    exact multiples of the 15.625 Hz analysis quantum, so peak bins are
    leakage-free and rate-portable), with per-program DISJOINT frequency
    registers — distinct programs share no (f1, f2, dt) landmark, so the
    analytic truth is exactly 'pairs within a variant group'."""
    import numpy as np

    q = 15.625
    programs = {}
    for p in range(6):
        # register p: bins 20+12p .. — six notes stepping inside it
        bins = [20 + 12 * p + s for s in (0, 4, 2, 7, 5, 9)]
        programs[f"prog{p}"] = [(b * q, 0.35) for b in bins]
    return programs


def _fp_synth(notes, sr: int, amp: float = 9000.0):
    """Concatenated int16 tone sequence with a 10 ms cosine edge ramp per
    note (removes click transients whose broadband frames would add
    noise peaks)."""
    import numpy as np

    chunks = []
    for f, dur in notes:
        n = int(round(sr * dur))
        t = np.arange(n)
        x = amp * np.sin(2.0 * np.pi * f * t / sr)
        edge = max(1, int(0.010 * sr))
        env = np.ones(n)
        ramp = 0.5 - 0.5 * np.cos(np.pi * np.arange(edge) / edge)
        env[:edge] = ramp
        env[-edge:] = ramp[::-1]
        chunks.append(np.round(x * env))
    return np.clip(np.concatenate(chunks), -32768, 32767).astype(np.int16)


def _fp_clip_set():
    """(clip_id, bytes, sr_hz, codec, group) rows: per program a variant
    group — original PCM, G.711 mu-law transcode, IMA ADPCM transcode,
    -10 dB gain, WAV container, one 48 kHz re-synthesis (the rate-
    portability plant) — plus negatives (distinct programs cover that),
    LCG noise, silence, and error plants (group=None rows must never
    appear in any pair)."""
    import numpy as np

    from valor_spark.operators import adpcm as AD
    from valor_spark.operators.audio import encode_g711

    rows = []
    for name, notes in _fp_programs().items():
        pcm = _fp_synth(notes, 16000)
        rows.append((f"{name}_orig", pcm.tobytes(), 16000, "pcm_s16le", name))
        rows.append(
            (f"{name}_ulaw", encode_g711(pcm, "mulaw"), 16000, "pcm_mulaw", name)
        )
        rows.append(
            (
                f"{name}_adpcm",
                AD.wav_ima_adpcm(pcm, rate=16000, block_align=256),
                16000,
                "wav",
                name,
            )
        )
        gain = np.round(pcm.astype(np.float64) * 0.316).astype(np.int16)
        rows.append((f"{name}_quiet", gain.tobytes(), 16000, "pcm_s16le", name))
        rows.append((f"{name}_wav", S.wrap_wav(pcm, 16000), 16000, "wav", name))
        pcm48 = _fp_synth(notes, 48000)
        rows.append((f"{name}_48k", pcm48.tobytes(), 48000, "pcm_s16le", name))
    # negatives: deterministic LCG noise (no stable landmark alignment),
    # silence, an error plant
    state = np.uint64(0x9E3779B97F4A7C15)
    out = np.empty(32000, np.int16)
    s = int(state)
    vals = []
    for _ in range(32000):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        vals.append((s >> 33) % 12000 - 6000)
    out[:] = np.asarray(vals, np.int64).astype(np.int16)
    rows.append(("noise_a", out.tobytes(), 16000, "pcm_s16le", None))
    rows.append(("noise_b", out[::-1].copy().tobytes(), 16000, "pcm_s16le", None))
    rows.append(("fp_silence", np.zeros(24000, np.int16).tobytes(), 16000, "pcm_s16le", None))
    rows.append(("fp_badcodec", b"\x00" * 100, 16000, "opus", None))
    return rows


@fixture("clips_fp_v1", AUDIO_KEY, "data", "expected")
def build_audio_fp_fixture(fixture_dir: str):
    """Write the perceptual-fingerprint clips + ANALYTIC expected-pairs
    parquets (idempotent): expected = every unordered pair inside one
    variant group — derived from the plant structure alone, with NO reuse
    of the engine's fingerprint arithmetic (a fully independent oracle)."""
    rows = _fp_clip_set()
    groups: dict[str, list[str]] = {}
    for cid, _b, _sr, _c, grp in rows:
        if grp is not None:
            groups.setdefault(grp, []).append(cid)
    pairs = []
    for members in groups.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pairs.append((ms[i], ms[j]))
    pairs.sort()
    return {
        "data": (CLIPS_DDL, [r[:4] for r in rows]),
        "expected": ("clip_a string, clip_b string", pairs),
    }


def _bandwidth_clip_set():
    """(clip_id, bytes, sr_hz, codec, decoded_or_None) rows for the
    effective-bandwidth gate: FFT-brickwalled noise at several cutoffs
    inside a 48 kHz container (the 'metadata says 48 kHz, content says
    4/8/16 kHz' upsample plants), honest full-band noise, an honest
    telephony-rate clip, codec variants, silence and error plants.
    ``decoded`` feeds the expected table (shared arithmetic, decode path
    independently exercised; the analytic anchors are the single-tone
    and brickwall pytest landmarks in tests/test_bandwidth.py)."""
    import numpy as np

    from valor_spark.operators import adpcm as AD
    from valor_spark.operators.audio import ULAW_DECODE_LUT, encode_g711

    def noise(seed, n, amp=9000.0):
        rng = np.random.default_rng(seed)
        return amp * rng.standard_normal(n)

    def brickwall(x, sr, cutoff_hz):
        spec = np.fft.rfft(x)
        freqs = np.arange(spec.size) * (sr / len(x))
        spec[freqs > cutoff_hz] = 0.0
        return np.fft.irfft(spec, n=len(x))

    def to_i16(x):
        return np.clip(np.round(x), -32768, 32767).astype(np.int16)

    rows = []
    full = to_i16(noise(11, 48000))
    rows.append(("bw_full48", full.tobytes(), 48000, "pcm_s16le", full))
    for cut in (4000, 8000, 16000):
        lim = to_i16(brickwall(noise(13 + cut, 48000), 48000, cut))
        rows.append(
            (f"bw_up{cut}", lim.tobytes(), 48000, "pcm_s16le", lim)
        )
    # honest telephony-rate clip: 8 kHz container, content fills its band
    tele = to_i16(brickwall(noise(17, 16000), 8000, 3400))
    rows.append(("bw_tele8k", tele.tobytes(), 8000, "pcm_s16le", tele))
    # G.711 transcode of band-limited noise (codec inheritance)
    src = to_i16(brickwall(noise(19, 16000), 8000, 3000) * 0.5)
    enc = encode_g711(src, "mulaw")
    rows.append(
        ("bw_g711", enc, 8000, "pcm_mulaw", ULAW_DECODE_LUT[np.frombuffer(enc, np.uint8)])
    )
    # ADPCM of low-band content in a 16 kHz container
    src = to_i16(brickwall(noise(23, 32000), 16000, 2000))
    enc = AD.wav_ima_adpcm(src, rate=16000, block_align=256)
    rows.append(("bw_adpcm", enc, 16000, "wav", _adpcm_decoded(enc, len(src))))
    # a short clip (sub-frame zero-pad path) and degenerates
    short = to_i16(noise(29, 1000))
    rows.append(("bw_short", short.tobytes(), 48000, "pcm_s16le", short))
    rows.append(("bw_silence", np.zeros(24000, np.int16).tobytes(), 48000, "pcm_s16le", np.zeros(24000, np.int16)))
    pcm = to_i16(noise(31, 8000))
    rows.append(("bw_trunc", S.wrap_wav(pcm, 16000)[:40], 16000, "wav", None))
    rows.append(("bw_badcodec", pcm.tobytes(), 16000, "opus", None))
    return rows


@fixture("clips_bw_v2", AUDIO_KEY, "data", "expected")
def build_audio_bandwidth_fixture(fixture_dir: str):
    """Write the bandwidth clips + expected parquets (idempotent);
    expected rows are ``bandwidth_ints`` over the locally-derived PCM."""
    from valor_spark.operators.audio import decode_one
    from valor_spark.operators.bandwidth import bandwidth_ints

    rows = _bandwidth_clip_set()
    expected_rows = []
    for cid, raw, sr, codec, decoded in rows:
        if decoded is None:
            _sig, _r, err = decode_one(raw, codec)
            assert err is not None, cid
            expected_rows.append((cid, sr, 0, None, None, None, err))
        else:
            n, r95, r99, hf = bandwidth_ints(decoded, sr)
            expected_rows.append((cid, sr, n, r95, r99, hf, None))
    return {
        "data": (CLIPS_DDL, [r[:4] for r in rows]),
        "expected": (
            "clip_id string, src_sr int, n_samples int, rolloff95_hz int, "
            "rolloff99_hz int, hf_permille int, decode_error string",
            expected_rows,
        ),
    }


def _py_defects(vals, sr):
    """Pure-python (no numpy) defect derivation over a literal sample
    list — the INDEPENDENT oracle arithmetic for the defects gate:
    (n, clipped, max_clip_run, max_zero_run, zero_ms, dc_permille)."""
    n = len(vals)
    if n == 0:
        return 0, 0, 0, 0, (0 if sr > 0 else None), 0
    clipped = sum(1 for v in vals if v >= 32767 or v <= -32768)

    def max_run(pred):
        best = cur = 0
        for v in vals:
            cur = cur + 1 if pred(v) else 0
            best = max(best, cur)
        return best

    mcr = max_run(lambda v: v >= 32767 or v <= -32768)
    mzr = max_run(lambda v: v == 0)
    zms = int(mzr * 1000 // sr) if sr > 0 else None
    mean = sum(vals) / n
    # round-half-even like np.round/py round on the exact float
    dc = round(1000.0 * mean / 32768.0)
    return n, clipped, mcr, mzr, zms, int(dc)


def _defects_clip_set():
    """(clip_id, bytes, sr_hz, codec, vals_or_None) rows for the defect
    gate.  PCM plants are EXPLICIT integer patterns whose truth is
    derivable by _py_defects' elementary arithmetic; codec rows replay
    the engine's decode (decode path shared, defect arithmetic still
    independent); error plants carry vals=None."""
    import numpy as np

    from valor_spark.operators import adpcm as AD
    from valor_spark.operators.audio import ULAW_DECODE_LUT, encode_g711

    rows = []

    def add_pcm(cid, vals, sr=16000):
        arr = np.asarray(vals, np.int16)
        rows.append((cid, arr.tobytes(), sr, "pcm_s16le", list(map(int, vals))))

    # flat-topped clipping: two pinned runs, both polarities
    pat = (
        [1200] * 100 + [32767] * 37 + [-800] * 50 + [-32768] * 12
        + [500, -500] * 100 + [32767] * 5
    )
    add_pcm("def_clip", pat)
    # dropout: healthy tone-ish wiggle around a 480-sample digital-zero gap
    wig = [3000, -3000, 2500, -2500] * 500
    add_pcm("def_dropout", wig[:800] + [0] * 480 + wig[800:1600])
    # DC offset: +10% of full scale with a symmetric wiggle on top
    add_pcm("def_dc", [3277 + d for d in ([900, -900] * 800)])
    # clean row: symmetric wiggle, no zeros, no pins
    add_pcm("def_clean", [700, -700, 650, -650] * 400)
    # all-zero (the 'silence is not a dropout' disambiguation is downstream)
    add_pcm("def_silence", [0] * 16000)
    # single full-scale sample: legitimate peak, run length 1
    add_pcm("def_peak", [100] * 500 + [32767] + [100] * 500)
    # mu-law transcode of the clip pattern: decoded pins sit at the codec
    # ceiling (32124), NOT int16 full scale -> clipped_samples reads 0
    # (the detector sees the decoded waveform; honest + documented)
    src = np.asarray(pat, np.int16)
    enc = encode_g711(src, "mulaw")
    dec = ULAW_DECODE_LUT[np.frombuffer(enc, np.uint8)]
    rows.append(("def_ulaw", enc, 16000, "pcm_mulaw", list(map(int, dec))))
    # ADPCM round-trip of the dropout pattern (predictor ringing may
    # shorten the exact-zero run; whatever the decode says is the truth)
    src = np.asarray(wig[:800] + [0] * 480 + wig[800:1600], np.int16)
    enc = AD.wav_ima_adpcm(src, rate=16000, block_align=256)
    dec = _adpcm_decoded(enc, len(src))
    rows.append(("def_adpcm", enc, 16000, "wav", list(map(int, dec))))
    # error plants
    rows.append(("def_trunc", S.wrap_wav(src, 16000)[:40], 16000, "wav", None))
    rows.append(("def_badcodec", b"\x01\x02" * 50, 16000, "opus", None))
    return rows


@fixture("clips_def_v1", AUDIO_KEY, "data", "expected")
def build_audio_defects_fixture(fixture_dir: str):
    """Write the defect clips + expected parquets (idempotent); expected
    rows come from the pure-python _py_defects arithmetic."""
    from valor_spark.operators.audio import decode_one

    rows = _defects_clip_set()
    expected_rows = []
    for cid, raw, sr, codec, vals in rows:
        if vals is None:
            _sig, _r, err = decode_one(raw, codec)
            assert err is not None, cid
            expected_rows.append((cid, 0, 0, 0, 0, None, 0, err))
        else:
            n, c, mcr, mzr, zms, dc = _py_defects(vals, sr)
            expected_rows.append((cid, n, c, mcr, mzr, zms, dc, None))
    return {
        "data": (CLIPS_DDL, [r[:4] for r in rows]),
        "expected": (
            "clip_id string, n_samples int, clipped_samples int, "
            "max_clip_run int, max_zero_run int, max_zero_run_ms int, "
            "dc_offset_permille int, decode_error string",
            expected_rows,
        ),
    }


def _resample_expected(f_hz: int, n_in: int, sr_in: int, sr_out: int):
    """(n_out, dom_hz) by PURE ARITHMETIC from the plant spec: output
    length is ceil(n_in * L / M); the dominant rFFT bin of a strong tone
    is the grid bin nearest f (plants are chosen so f lands exactly on or
    decisively nearest a bin), reported back as round(bin * sr / n)."""
    import math

    g = math.gcd(sr_in, sr_out)
    l, m = sr_out // g, sr_in // g
    n_out = -((-n_in * l) // m)
    dom_bin = round(f_hz * n_out / sr_out)
    dom_hz = round(dom_bin * sr_out / n_out)
    return n_out, dom_hz


def _resample_clip_set(target_sr: int = 16000):
    """(clip_id, bytes, sr_hz, codec, expected_row) plants for the
    re-rate gate: every source rate the corpus whitelist allows, both
    directions, fractional-length rows, codec rows (mu-law, ADPCM), a
    near-source-Nyquist tone (its 12.5 kHz image must NOT win the
    spectrum after upsampling), and error plants."""
    from valor_spark.operators import adpcm as AD
    from valor_spark.operators.audio import encode_g711

    def tone(f, sr, n):
        return _tone(f, n, 20000.0, phase=0.3, sr=sr)

    rows = []

    def add(cid, f, sr, n, codec="pcm_s16le", raw=None, n_dec=None):
        pcm = tone(f, sr, n)
        if raw is None:
            raw = pcm.tobytes()
        n_out, dom_hz = _resample_expected(f, n_dec or n, sr, target_sr)
        rows.append(
            (cid, raw, sr, codec,
             (cid, sr, target_sr, n_dec or n, n_out, dom_hz, None))
        )
        return pcm

    add("rs_44k", 1000, 44100, 44100)
    add("rs_48k", 997, 48000, 48000)
    add("rs_8k_up", 440, 8000, 8000)
    add("rs_22k", 2500, 22050, 22050)
    add("rs_24k", 3000, 24000, 24000)
    add("rs_ident", 1234, target_sr, target_sr)
    # fractional length: n_out = ceil(32193 * 160/441) exercises the
    # ceiling, f=1000 still lands on an exact bin of the 11680-pt grid
    add("rs_frac", 1000, 44100, 32193)
    # near source Nyquist: the 3500 Hz tone must survive 8k->16k with its
    # 12.5 kHz spectral image filtered out, or argmax lands on the image
    add("rs_nyq_edge", 3500, 8000, 8000)
    # mu-law 8 kHz tone (decode path shared with the engine; arithmetic
    # expectations still spec-side)
    p = tone(440, 8000, 8000)
    add("rs_ulaw", 440, 8000, 8000, codec="pcm_mulaw",
        raw=encode_g711(p, "mulaw"))
    # ADPCM 24 kHz tone round-trip; decoded length checked by the helper
    src = tone(1500, 24000, 24000)
    enc = AD.wav_ima_adpcm(src, rate=24000, block_align=256)
    _adpcm_decoded(enc, len(src))
    add("rs_adpcm", 1500, 24000, 24000, codec="wav", raw=enc)
    # error plants
    rows.append(("rs_trunc", S.wrap_wav(src, 24000)[:40], 24000, "wav",
                 ("rs_trunc", 24000, target_sr, 0, 0, 0,
                  "decode_failed:wav_missing_chunks")))
    rows.append(("rs_badrate", tone(500, 8000, 800).tobytes(), 0,
                 "pcm_s16le",
                 ("rs_badrate", 0, target_sr, 0, 0, 0, "bad_rate")))
    return rows


@fixture("clips_rs_v1", AUDIO_KEY, "data", "expected")
def build_audio_resample_fixture(fixture_dir: str):
    """Write the re-rate clips + expected parquets (idempotent)."""
    rows = _resample_clip_set()
    return {
        "data": (CLIPS_DDL, [r[:4] for r in rows]),
        "expected": (
            "clip_id string, src_sr int, out_sr int, n_in int, n_out int, "
            "dom_hz int, decode_error string",
            [r[4] for r in rows],
        ),
    }


def _fused_clip_set():
    """(clip_id, bytes, sr_hz, codec) plants for the fused one-decode
    gate: the defect plants (PCM patterns, mu-law, ADPCM, errors) plus a
    997 Hz near-full-scale calibration tone (loudness interest) and
    FFT-brickwalled noise in a 48 kHz container (bandwidth interest)."""
    import numpy as np

    rows = [r[:4] for r in _defects_clip_set()]

    sr = 48000
    t = np.arange(sr) / sr
    cal = np.clip(
        np.rint(29000.0 * np.sin(2 * np.pi * 997.0 * t)), -32768, 32767
    ).astype(np.int16)
    rows.append(("fu_cal997", cal.tobytes(), sr, "pcm_s16le"))

    rng = np.random.default_rng(47)
    x = 9000.0 * rng.standard_normal(sr)
    spec = np.fft.rfft(x)
    freqs = np.arange(spec.size) * (sr / len(x))
    spec[freqs > 4000.0] = 0.0
    lim = np.clip(np.round(np.fft.irfft(spec, n=len(x))), -32768, 32767).astype(np.int16)
    rows.append(("fu_up4k", lim.tobytes(), sr, "pcm_s16le"))
    return rows


@fixture("clips_fu_v1", AUDIO_KEY, "data", "expected")
def build_audio_fused_fixture(fixture_dir: str):
    """Write the fused clips + expected parquets (idempotent).  Expected
    rows call the SAME per-family kernels over locally-decoded PCM
    (operators/fused.py::fused_ints) — the fusion plumbing, Arrow
    batching, and error contract are what this gate proves; each
    family's arithmetic has its own analytic anchors in pytest and its
    own driver gate row."""
    import numpy as np

    from valor_spark.operators.audio import decode_one
    from valor_spark.operators.fused import FUSED_SCHEMA, fused_ints

    err_row = (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, None, None, None,
               None, None, None, 0, 0, None, 0)
    rows = _fused_clip_set()
    expected_rows = []
    for cid, raw, sr, codec in rows:
        if codec == "pcm_s16le":
            sig, err = np.frombuffer(raw, "<i2"), None
        else:
            sig, _r, err = decode_one(raw, codec)
        if err is not None:
            expected_rows.append((cid, sr, *err_row, err))
        else:
            expected_rows.append((cid, sr, *fused_ints(sig, sr), None))
    return {
        "data": (CLIPS_DDL, rows),
        "expected": (FUSED_SCHEMA, expected_rows),
    }


def _py_channels(chans: list[list[int]]):
    """Independent pure-python derivation of the channel-QC row
    ``(n_channels, n_frames, ssq_l, ssq_r, dot_lr, dual_mono,
    balance_permille, phase_permille)`` from the planted integer
    channel lists — arbitrary-precision ints for the moments, the same
    elementary per-mille roundings operators/channels.py defines (the
    expressions are one-liners; what the gate buys is bytes -> container
    parse -> de-interleave -> moments being checked end-to-end)."""
    import math

    nch, n = len(chans), len(chans[0]) if chans else 0
    l = chans[0]
    l2 = sum(v * v for v in l)
    if nch == 1:
        return nch, n, l2, None, None, None, None, None
    r = chans[1]
    r2 = sum(v * v for v in r)
    dot = sum(a * b for a, b in zip(l, r))
    dual = int(l == r)
    tot = l2 + r2
    bal = int(round(1000.0 * l2 / tot)) if tot > 0 else None
    phase = (
        int(round(1000.0 * dot / math.sqrt(l2) / math.sqrt(r2)))
        if l2 > 0 and r2 > 0
        else None
    )
    return nch, n, l2, r2, dot, dual, bal, phase


def _wav_multi(chans, sr: int) -> bytes:
    """Interleave N int16 channel lists into a PCM WAV container."""
    import io as _io
    import wave as _wave

    import numpy as np

    frames = np.stack([np.asarray(c, np.int16) for c in chans], axis=1)
    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(len(chans))
        w.setsampwidth(2)
        w.setframerate(max(sr, 1))
        w.writeframes(frames.tobytes())
    return buf.getvalue()


def _channels_clip_set():
    """(clip_id, bytes, sr_hz, codec, channel_lists_or_None) plants for
    the inter-channel gate: true stereo, dual mono, exact polarity
    inversion, a dead channel, a barely-alive channel, mono WAV / raw
    PCM / G.711-in-WAV mono fallbacks, a 3-channel layout, and error
    plants."""
    import numpy as np

    from valor_spark.operators.audio import encode_g711

    def tone(f, n, amp, phase=0.0):
        return [int(v) for v in _tone(f, n, amp, phase)]

    rows = []
    n = 1600
    li = tone(440.0, n, 9000.0)
    ri = tone(554.4, n, 7000.0, phase=0.7)
    # true stereo: independent tones, no gate fires
    rows.append(("ch_stereo_ok", _wav_multi([li, ri], 16000), 16000, "wav", [li, ri]))
    # dual mono: both channels bit-identical
    rows.append(("ch_dual_mono", _wav_multi([li, li], 16000), 16000, "wav", [li, li]))
    # exact polarity inversion: R = -L  (phase_permille = -1000)
    neg = [-v for v in li]
    rows.append(("ch_inverted", _wav_multi([li, neg], 16000), 16000, "wav", [li, neg]))
    # dead right channel: digital silence on one side (balance = 1000)
    zer = [0] * n
    rows.append(("ch_left_only", _wav_multi([li, zer], 16000), 16000, "wav", [li, zer]))
    # barely-alive right channel: ~1e-4 of the energy (balance >= 990)
    tiny = tone(554.4, n, 80.0, phase=0.7)
    rows.append(("ch_dead_right", _wav_multi([li, tiny], 16000), 16000, "wav", [li, tiny]))
    # mono WAV / raw PCM: pair metrics NULL, stereo rules inert
    rows.append(("ch_mono_wav", _wav_multi([li], 16000), 16000, "wav", [li]))
    raw = np.asarray(li, np.int16).tobytes()
    rows.append(("ch_raw_pcm", raw, 16000, "pcm_s16le", [li]))
    # 3-channel layout: honest n_channels, pair metrics over ch0/ch1
    ci = tone(660.0, n, 5000.0, phase=1.1)
    rows.append(("ch_3ch", _wav_multi([li, ri, ci], 16000), 16000, "wav", [li, ri, ci]))
    # G.711-in-WAV (format tag 6): wave.Error -> shared mono decode
    from valor_spark.operators.audio import ALAW_DECODE_LUT

    enc = encode_g711(np.asarray(li, np.int16), "alaw")
    dec = [int(v) for v in ALAW_DECODE_LUT[np.frombuffer(enc, np.uint8)]]
    rows.append(("ch_g711_wav", _g711_wav(6, enc, 16000), 16000, "wav", [dec]))
    # error plants
    rows.append(("ch_trunc", _wav_multi([li, ri], 16000)[:40], 16000, "wav", None))
    rows.append(("ch_null", None, 16000, "wav", None))
    rows.append(("ch_badcodec", b"\x00\x01" * 64, 16000, "opus", None))
    return rows


@fixture("clips_chan_v1", AUDIO_KEY, "data", "expected")
def build_audio_channels_fixture(fixture_dir: str):
    """Write the channel-QC clips + expected parquets (idempotent);
    expected rows come from the pure-python _py_channels arithmetic over
    the planted channel lists (error plants replay decode errors)."""
    from valor_spark.operators.channels import channel_frames

    rows = _channels_clip_set()
    expected_rows = []
    for cid, raw, sr, codec, chans in rows:
        if chans is None:
            _frames, err = channel_frames(raw, codec)
            assert err is not None, cid
            expected_rows.append(
                (cid, 0, 0, None, None, None, None, None, None, err)
            )
        else:
            expected_rows.append((cid, *_py_channels(chans), None))
    return {
        "data": (CLIPS_DDL, [r[:4] for r in rows]),
        "expected": (
            "clip_id string, n_channels int, n_frames int, ssq_l bigint, "
            "ssq_r bigint, dot_lr bigint, dual_mono int, balance_permille int, "
            "phase_permille int, decode_error string",
            expected_rows,
        ),
    }
