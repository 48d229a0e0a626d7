"""Spec-implemented FLAC lossless codec: decode + claims probe.

A web-crawled audio corpus carries FLAC alongside WAV/MP3; a validation
tier that bails on it with ``unsupported_codec`` leaves the *lossless*
(highest-value) slice of the corpus ungated.  This module implements the
FLAC bitstream from the public specification (RFC 9639 / the xiph.org
format document) with no external codec library:

* **decode** — metadata-block walk, STREAMINFO parse, frame decode for
  ALL four subframe types (CONSTANT, VERBATIM, FIXED orders 0-4, LPC
  orders 1-32), both Rice residual methods (4- and 5-bit parameters,
  escape-to-raw partitions), wasted-bits shifts, and the three stereo
  decorrelation modes (left/side, right/side, mid/side) — exact integer
  arithmetic end to end;
* **integrity** — frame-header CRC-8 (poly 0x07) and whole-frame CRC-16
  (poly 0x8005) are verified per frame, and the STREAMINFO MD5 of the
  unencoded PCM is recomputed from the DECODED samples, so a single
  flipped payload bit surfaces as a typed error instead of silent noise;
* **claims probe** (``probe_flac``) — the STREAMINFO *claims* (sample
  rate, channel count, bit depth, total samples, PCM MD5) next to the
  decoded *facts*, which is exactly what a tier-validation gate wants:
  the rule algebra then flags files whose metadata lies about their
  content (``plans/pipeline.py::flac_rules``).

Scale shape: the decoder is a per-row kernel invoked from the same
``mapInArrow`` passes as every other codec (operators/audio.py
``decode_one`` dispatches ``codec == 'flac'`` here) — one payload scan,
zero shuffle, no Python-object churn outside the bounded per-clip
decode.  The bit reader indexes a NumPy ``unpackbits`` view and resolves
Rice unary runs with a binary search over the precomputed set-bit
positions, so quotient scans are O(log n), not O(q).

The fixture-side encoder lives in ``sources/flac_fixture.py``; the
decoder's independence is anchored by (a) handcrafted bit-exact frames
in tests (LPC + escape partitions the encoder never emits) and (b) the
STREAMINFO MD5 cross-check, which ties decoded output to the planted
PCM through ``hashlib`` rather than through any shared Rice/predictor
code.

Reference parity note: the reference engine (mastarija/valor,
lib/Data/Valor.hs) has no payload layer; this extends the graft's codec
matrix (operators/audio.py G.711/ADPCM, operators/jpeg.py) to lossless
audio.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from valor_spark.operators.audio import field_names

FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

#: frame-header block-size codes -> size (None = read 8/16 bits inline)
_BLOCKSIZE = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096, 13: 8192,
    14: 16384, 15: 32768,
}
#: frame-header sample-rate codes -> Hz (None = streaminfo / inline)
_SAMPLE_RATE = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_SAMPLE_SIZE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


class FlacError(ValueError):
    """Typed decode failure; the message becomes the error column."""


def crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0 (FLAC frame header)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0 (FLAC frame)."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class BitReader:
    """MSB-first bit reader over ``np.unpackbits`` with O(log n) unary scans."""

    def __init__(self, data: bytes):
        self.raw = data
        arr = np.frombuffer(data, np.uint8)
        self.bits = np.unpackbits(arr)
        self.ones = np.flatnonzero(self.bits)
        self.pos = 0
        # sliding 64-bit big-endian window at every byte offset (stdlib
        # array('Q') -> plain-int indexing): read(n<=57) is O(1) shifts
        # instead of a per-BIT numpy iteration (round 6 — VERBATIM/LPC-
        # heavy frames cost O(samples*bps) interpreter steps before)
        import array as _array

        padded = np.concatenate([arr, np.zeros(8, np.uint8)]).astype(np.uint64)
        w = np.zeros(len(arr) + 1, dtype=np.uint64)
        for off in range(8):
            w |= padded[off : off + len(w)] << np.uint64(8 * (7 - off))
        self._w = _array.array("Q", w.tobytes())

    def read(self, n: int) -> int:
        """Next ``n`` bits as an unsigned int."""
        pos = self.pos
        if pos + n > len(self.bits):
            raise FlacError("decode_failed:flac_truncated")
        if n == 0:
            self.pos = pos
            return 0
        if n <= 57:
            self.pos = pos + n
            return (self._w[pos >> 3] >> (64 - (pos & 7) - n)) & ((1 << n) - 1)
        hi = self.read(n - 32)
        return (hi << 32) | self.read(32)

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def unary(self) -> int:
        """Count of 0-bits before the next 1-bit (consumes the 1)."""
        i = int(np.searchsorted(self.ones, self.pos))
        if i >= len(self.ones):
            raise FlacError("decode_failed:flac_truncated")
        stop = int(self.ones[i])
        q = stop - self.pos
        self.pos = stop + 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


def _read_utf8_number(br: BitReader) -> int:
    """FLAC's UTF-8-style coded frame/sample number (up to 36 bits)."""
    first = br.read(8)
    if first < 0x80:
        return first
    n_extra = 0
    mask = 0x40
    while first & mask:
        n_extra += 1
        mask >>= 1
    if n_extra < 1 or n_extra > 6:
        raise FlacError("decode_failed:flac_bad_utf8_number")
    v = first & (mask - 1)
    for _ in range(n_extra):
        b = br.read(8)
        if b >> 6 != 0b10:
            raise FlacError("decode_failed:flac_bad_utf8_number")
        v = (v << 6) | (b & 0x3F)
    return v


def parse_streaminfo(raw: bytes) -> dict:
    """Parse the mandatory STREAMINFO block; returns the claims dict.

    Keys: ``min_blocksize max_blocksize sample_rate n_channels bps
    total_samples md5`` plus ``audio_offset`` (first frame byte)."""
    if raw[:4] != b"fLaC":
        raise FlacError("decode_failed:not_flac")
    pos, info = 4, None
    while True:
        if pos + 4 > len(raw):
            raise FlacError("decode_failed:flac_truncated")
        hdr = raw[pos]
        last, btype = hdr >> 7, hdr & 0x7F
        (length,) = struct.unpack(">I", b"\x00" + raw[pos + 1 : pos + 4])
        body = raw[pos + 4 : pos + 4 + length]
        if len(body) < length:
            raise FlacError("decode_failed:flac_truncated")
        if btype == 0:
            if length != 34:
                raise FlacError("decode_failed:flac_bad_streaminfo")
            min_bs, max_bs = struct.unpack(">HH", body[:4])
            packed = int.from_bytes(body[10:18], "big")
            info = {
                "min_blocksize": min_bs,
                "max_blocksize": max_bs,
                "sample_rate": packed >> 44,
                "n_channels": ((packed >> 41) & 0x7) + 1,
                "bps": ((packed >> 36) & 0x1F) + 1,
                "total_samples": packed & ((1 << 36) - 1),
                "md5": body[18:34],
            }
        pos += 4 + length
        if last:
            break
    if info is None:
        raise FlacError("decode_failed:flac_no_streaminfo")
    info["audio_offset"] = pos
    return info


def _decode_residual(br: BitReader, blocksize: int, order: int) -> np.ndarray:
    """Rice-coded residual (methods 0/1, escape partitions) -> int64 array."""
    method = br.read(2)
    if method > 1:
        raise FlacError("decode_failed:flac_bad_residual_method")
    plen = 4 + method
    escape = (1 << plen) - 1
    part_order = br.read(4)
    n_parts = 1 << part_order
    if blocksize % n_parts or (blocksize >> part_order) < order or (
        (blocksize >> part_order) == order and n_parts == 1
    ):
        raise FlacError("decode_failed:flac_bad_partition_order")
    out = np.empty(blocksize - order, np.int64)
    w = 0
    for p in range(n_parts):
        n = (blocksize >> part_order) - (order if p == 0 else 0)
        param = br.read(plen)
        if param == escape:
            nbits = br.read(5)
            for i in range(n):
                out[w + i] = br.read_signed(nbits) if nbits else 0
        else:
            for i in range(n):
                q = br.unary()
                u = (q << param) | br.read(param)
                out[w + i] = (u >> 1) ^ -(u & 1)
        w += n
    return out


def _undo_fixed(warmup: np.ndarray, resid: np.ndarray, order: int) -> np.ndarray:
    """Invert the order-k fixed predictor: k-fold cumulative integration."""
    if order == 0:
        return resid.copy()
    # successive forward differences of the warmup seed each integration
    diffs = [warmup.astype(np.int64)]
    for _ in range(order):
        diffs.append(np.diff(diffs[-1]))
    cur = resid.astype(np.int64)
    for j in range(order, 0, -1):
        seed = diffs[j - 1][-1]  # last known value at difference level j-1
        cur = seed + np.cumsum(cur)
    return np.concatenate([warmup.astype(np.int64), cur])


def _undo_lpc(
    warmup: np.ndarray, resid: np.ndarray, coeffs: list[int], shift: int
) -> np.ndarray:
    out = np.empty(len(warmup) + len(resid), np.int64)
    out[: len(warmup)] = warmup
    k = len(coeffs)
    for i in range(len(resid)):
        pos = k + i
        acc = 0
        for j in range(k):
            acc += coeffs[j] * int(out[pos - 1 - j])
        out[pos] = int(resid[i]) + (acc >> shift)
    return out


def _decode_subframe(br: BitReader, blocksize: int, bps: int) -> np.ndarray:
    if br.read(1):
        raise FlacError("decode_failed:flac_bad_subframe_pad")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.unary() + 1
        bps -= wasted
    if stype == 0:
        out = np.full(blocksize, br.read_signed(bps), np.int64)
    elif stype == 1:
        out = np.array([br.read_signed(bps) for _ in range(blocksize)], np.int64)
    elif 8 <= stype <= 12:
        order = stype & 0x7
        warmup = np.array([br.read_signed(bps) for _ in range(order)], np.int64)
        out = _undo_fixed(warmup, _decode_residual(br, blocksize, order), order)
    elif stype >= 32:
        order = (stype & 0x1F) + 1
        warmup = np.array([br.read_signed(bps) for _ in range(order)], np.int64)
        precision = br.read(4) + 1
        if precision == 16:
            raise FlacError("decode_failed:flac_bad_lpc_precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise FlacError("decode_failed:flac_bad_lpc_shift")
        coeffs = [br.read_signed(precision) for _ in range(order)]
        out = _undo_lpc(warmup, _decode_residual(br, blocksize, order), coeffs, shift)
    else:
        raise FlacError("decode_failed:flac_reserved_subframe")
    return out << wasted if wasted else out


def decode_frames(raw: bytes, info: dict) -> tuple[np.ndarray, int]:
    """Decode every frame; returns ``(frames (n, nch) int64, rate_hz)``.

    Verifies the per-frame header CRC-8 and whole-frame CRC-16."""
    br = BitReader(raw)
    br.pos = info["audio_offset"] * 8
    nch_s, bps_s = info["n_channels"], info["bps"]
    chunks: list[np.ndarray] = []
    rate = info["sample_rate"]
    total = info["total_samples"]
    got = 0
    while br.byte_pos() < len(raw) and (total == 0 or got < total):
        frame_start = br.byte_pos()
        if br.read(14) != 0x3FFE:
            raise FlacError("decode_failed:flac_lost_sync")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        br.read(1)  # reserved
        _read_utf8_number(br)
        if bs_code == 0:
            raise FlacError("decode_failed:flac_bad_blocksize_code")
        blocksize = _BLOCKSIZE.get(bs_code)
        if bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        if sr_code == 0:
            pass
        elif sr_code in _SAMPLE_RATE:
            rate = _SAMPLE_RATE[sr_code]
        elif sr_code == 12:
            rate = br.read(8) * 1000
        elif sr_code == 13:
            rate = br.read(16)
        elif sr_code == 14:
            rate = br.read(16) * 10
        else:
            raise FlacError("decode_failed:flac_bad_samplerate_code")
        bps = _SAMPLE_SIZE.get(ss_code, bps_s) if ss_code else bps_s
        if ss_code == 3:
            raise FlacError("decode_failed:flac_bad_samplesize_code")
        hdr_crc = crc8(raw[frame_start : br.byte_pos()])
        if br.read(8) != hdr_crc:
            raise FlacError("decode_failed:flac_header_crc")
        if ch_code <= 7:
            nch = ch_code + 1
            chans = [_decode_subframe(br, blocksize, bps) for _ in range(nch)]
        elif ch_code in (8, 9, 10):
            nch = 2
            a = _decode_subframe(br, blocksize, bps + (1 if ch_code == 9 else 0))
            b = _decode_subframe(br, blocksize, bps + (1 if ch_code in (8, 10) else 0))
            if ch_code == 8:  # left/side: a=L, b=L-R
                chans = [a, a - b]
            elif ch_code == 9:  # right/side: a=L-R, b=R
                chans = [b + a, b]
            else:  # mid/side
                mid = (a << 1) | (b & 1)
                chans = [(mid + b) >> 1, (mid - b) >> 1]
        else:
            raise FlacError("decode_failed:flac_bad_channel_assignment")
        if nch != nch_s:
            raise FlacError("decode_failed:flac_channel_count_change")
        br.align()
        frame_crc = crc16(raw[frame_start : br.byte_pos()])
        if br.read(16) != frame_crc:
            raise FlacError("decode_failed:flac_frame_crc")
        chunks.append(np.stack(chans, axis=1))
        got += blocksize
    frames = (
        np.concatenate(chunks, axis=0)
        if chunks
        else np.empty((0, nch_s), np.int64)
    )
    if total and len(frames) > total:
        frames = frames[:total]
    if total and len(frames) != total:
        raise FlacError("decode_failed:flac_sample_count_mismatch")
    return frames, rate


def pcm_md5(frames: np.ndarray, bps: int) -> bytes:
    """STREAMINFO-style MD5 of interleaved little-endian signed PCM."""
    width = bps // 8
    flat = frames.reshape(-1)
    if width == 2:
        buf = flat.astype("<i2").tobytes()
    elif width == 1:
        buf = flat.astype(np.int8).tobytes()
    else:
        buf = b"".join(
            int(v).to_bytes(width, "little", signed=True) for v in flat
        )
    return hashlib.md5(buf).digest()


def decode_flac(raw: bytes) -> tuple[np.ndarray, int, dict]:
    """Full decode: ``(frames (n, nch) int16, rate_hz, info)``.

    Raises FlacError on malformed streams, CRC failures, or an MD5
    mismatch between STREAMINFO's claim and the decoded PCM (a non-zero
    claim only; encoders may legally write 16 zero bytes)."""
    info = parse_streaminfo(raw)
    if info["bps"] != 16:
        raise FlacError(f"unsupported_flac_layout:bps={info['bps']}")
    frames, rate = decode_frames(raw, info)
    if any(info["md5"]) and pcm_md5(frames, info["bps"]) != info["md5"]:
        raise FlacError("decode_failed:flac_md5_mismatch")
    return frames.astype(np.int16), rate, info


def decode_flac_mono(
    raw: bytes,
) -> tuple[np.ndarray | None, int | None, str | None]:
    """``decode_one``-shaped adapter: mono int16 or a typed error."""
    try:
        frames, rate, _info = decode_flac(raw)
    except FlacError as exc:
        return None, None, str(exc)
    except Exception as exc:  # malformed container
        return None, None, f"decode_failed:{type(exc).__name__}"
    if frames.shape[1] != 1:
        return None, None, f"unsupported_flac_layout:ch={frames.shape[1]}"
    return frames[:, 0], rate, None


#: ``probe_flac``'s output fields after ``(clip_id, sr_hz)``, in order
PROBE_FIELDS = (
    "claim_sample_rate int, claim_channels int, claim_bps int, "
    "claim_total_samples bigint, claim_min_blocksize int, "
    "claim_max_blocksize int, has_md5 int, decoded_samples bigint, "
    "decoded_rate int, md5_ok int, decode_error string"
)


def probe_one(raw: bytes | np.ndarray | None) -> dict:
    """Claims-vs-facts probe for one payload (driver of ``flac_meta``).

    Always returns the full column dict, keyed in PROBE_FIELDS order;
    decode failures carry the claims that WERE parseable plus the typed
    error."""
    out = dict.fromkeys(field_names(PROBE_FIELDS))
    if raw is None:
        out["decode_error"] = "null_bytes"
        return out
    raw = bytes(raw)
    try:
        info = parse_streaminfo(raw)
    except FlacError as exc:
        out["decode_error"] = str(exc)
        return out
    except Exception as exc:
        out["decode_error"] = f"decode_failed:{type(exc).__name__}"
        return out
    out.update(
        claim_sample_rate=info["sample_rate"],
        claim_channels=info["n_channels"],
        claim_bps=info["bps"],
        claim_total_samples=info["total_samples"],
        claim_min_blocksize=info["min_blocksize"],
        claim_max_blocksize=info["max_blocksize"],
        has_md5=int(any(info["md5"])),
    )
    if info["bps"] != 16:
        out["decode_error"] = f"unsupported_flac_layout:bps={info['bps']}"
        return out
    try:
        frames, rate = decode_frames(raw, info)
    except FlacError as exc:
        out["decode_error"] = str(exc)
        return out
    except Exception as exc:
        out["decode_error"] = f"decode_failed:{type(exc).__name__}"
        return out
    out["decoded_samples"] = int(len(frames))
    out["decoded_rate"] = int(rate)
    if any(info["md5"]):
        out["md5_ok"] = int(pcm_md5(frames, info["bps"]) == info["md5"])
    return out


def probe_flac(clips) -> "DataFrame":  # noqa: F821 - pyspark import below
    """Per-clip FLAC claims-vs-facts table in ONE shuffle-free
    ``mapInArrow`` pass over the pruned ``(clip_id, sr_hz, bytes)`` projection:
    STREAMINFO claims, decoded facts, MD5 verdict, typed errors."""
    from valor_spark.operators.audio import map_payload

    return map_payload(
        clips.select("clip_id", "sr_hz", "bytes"),
        f"clip_id string, sr_hz int, {PROBE_FIELDS}",
        lambda raw: [tuple(probe_one(raw).values())],
    )
