"""FLAC fixture: spec-implemented encoder + claims/violation plants.

The encoder writes real FLAC streams (STREAMINFO, fixed-blocking frames,
CONSTANT / VERBATIM / FIXED-order subframes with Rice residuals, all
three stereo decorrelation modes, CRC-8/CRC-16, PCM MD5) so the decoder
in ``operators/flac.py`` is exercised over genuine bitstreams, and the
probe gate (``flac_meta`` / ``val_flac``) gets metadata-lie plants whose
EXPECTED rows derive from the plant spec, not from the decoder.

Independence: the decoder's correctness is anchored by (a) handcrafted
bit-exact frames in tests/test_flac.py covering paths this encoder never
emits (LPC subframes, escape partitions, 5-bit Rice), and (b) the
STREAMINFO MD5 check, which ties decoded PCM to the planted samples
through ``hashlib`` — a shared Rice/predictor bug cannot cancel out of
that hash.  The encoder and decoder also invert different directions of
the spec (differences vs cumulative sums, companding vs expansion), so
they are not transcriptions of one another.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from valor_spark.operators.flac import FIXED_COEFFS, crc8, crc16
from valor_spark.sources.audio_fixture import AUDIO_KEY, CLIPS_DDL, _tone
from valor_spark.sources.fixture_writer import fixture

_BLOCKSIZE_CODE = {
    192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5, 256: 8, 512: 9,
    1024: 10, 2048: 11, 4096: 12, 8192: 13, 16384: 14, 32768: 15,
}
_RATE_CODE = {
    88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5, 22050: 6,
    24000: 7, 32000: 8, 44100: 9, 48000: 10, 96000: 11,
}


class BitWriter:
    """MSB-first bit accumulator."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        self.write(1, q + 1)  # q zero bits then a one

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def getvalue(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


def _utf8_number(v: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index / sample number)."""
    if v < 0x80:
        return bytes([v])
    for n_extra in range(1, 7):
        payload_bits = 6 - n_extra if n_extra < 6 else 0
        if v < (1 << (payload_bits + 6 * n_extra)):
            lead = (0xFF << (7 - n_extra)) & 0xFF
            out = [lead | ((v >> (6 * n_extra)) & ((1 << payload_bits) - 1))]
            for k in range(n_extra - 1, -1, -1):
                out.append(0x80 | ((v >> (6 * k)) & 0x3F))
            return bytes(out)
    raise ValueError("number too large for FLAC utf8 coding")


def _zigzag(r: np.ndarray) -> np.ndarray:
    return (np.abs(r.astype(np.int64)) << 1) - (r < 0)


def _best_rice_param(u: np.ndarray) -> tuple[int, int]:
    """(param, total_bits) minimizing the Rice cost, param capped at 14."""
    best_k, best_cost = 0, None
    for k in range(15):
        cost = int(np.sum(u >> k)) + len(u) * (k + 1)
        if best_cost is None or cost < best_cost:
            best_k, best_cost = k, cost
    return best_k, best_cost


def _write_subframe(bw: BitWriter, x: np.ndarray, bps: int) -> None:
    """CONSTANT if flat, else cheapest of FIXED orders 0-4 vs VERBATIM."""
    n = len(x)
    x = x.astype(np.int64)
    if n and bool(np.all(x == x[0])):
        bw.write(0, 1)
        bw.write(0, 6)  # CONSTANT
        bw.write(0, 1)
        bw.write(int(x[0]), bps)
        return
    best = ("verbatim", None, None, n * bps)
    for order in range(0, min(4, n - 1) + 1):
        resid = np.diff(x, n=order) if order else x
        u = _zigzag(resid)
        k, rice_bits = _best_rice_param(u)
        cost = order * bps + 2 + 4 + 4 + rice_bits
        if cost < best[3]:
            best = ("fixed", order, k, cost)
    if best[0] == "verbatim":
        bw.write(0, 1)
        bw.write(1, 6)  # VERBATIM
        bw.write(0, 1)
        for v in x:
            bw.write(int(v), bps)
        return
    _, order, k, _ = best
    bw.write(0, 1)
    bw.write(8 | order, 6)  # FIXED, order in low bits
    bw.write(0, 1)
    for v in x[:order]:
        bw.write(int(v), bps)
    resid = np.diff(x, n=order) if order else x
    bw.write(0, 2)   # residual method 0 (4-bit Rice)
    bw.write(0, 4)   # partition order 0
    bw.write(k, 4)
    for u in _zigzag(resid):
        bw.write_unary(int(u) >> k)
        bw.write(int(u), k)


def encode_flac(
    frames: np.ndarray,
    rate: int,
    block_size: int = 1024,
    stereo_mode: str = "indep",
    md5_mode: str = "ok",
    total_override: int | None = None,
    rate_claim: int | None = None,
    use_rate_table: bool = True,
) -> bytes:
    """Encode int16 ``(n, nch)`` frames as a real FLAC stream.

    ``md5_mode``: 'ok' (true PCM MD5), 'zero' (unset — legal), 'wrong'
    (corrupted claim).  ``total_override`` / ``rate_claim`` plant
    metadata lies without touching the audio bits.  ``stereo_mode`` for
    2-channel input: 'indep' | 'left_side' | 'mid_side'."""
    if frames.ndim == 1:
        frames = frames.reshape(-1, 1)
    n, nch = frames.shape
    bps = 16
    claimed_rate = rate_claim if rate_claim is not None else rate
    total = total_override if total_override is not None else n

    md5 = hashlib.md5(frames.astype("<i2").tobytes()).digest()
    if md5_mode == "zero":
        md5 = b"\x00" * 16
    elif md5_mode == "wrong":
        md5 = bytes([md5[0] ^ 0xFF]) + md5[1:]

    out = bytearray(b"fLaC")
    out.append(0x80)  # last metadata block, type 0 (STREAMINFO)
    out += (34).to_bytes(3, "big")
    out += struct.pack(">HH", block_size, block_size)
    out += b"\x00" * 6  # min/max framesize unknown
    packed = (claimed_rate << 44) | ((nch - 1) << 41) | ((bps - 1) << 36) | total
    out += packed.to_bytes(8, "big")
    out += md5

    for fi, start in enumerate(range(0, n, block_size)):
        blk = frames[start : start + block_size]
        bs = len(blk)
        bw = BitWriter()
        bw.write(0x3FFE, 14)
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed blocking
        bs_code = _BLOCKSIZE_CODE.get(bs)
        if bs_code is None:
            bs_code = 6 if bs <= 256 else 7
        sr_code = _RATE_CODE.get(claimed_rate, 0) if use_rate_table else 0
        bw.write(bs_code, 4)
        bw.write(sr_code, 4)
        if nch == 2 and stereo_mode == "left_side":
            ch_code = 8
        elif nch == 2 and stereo_mode == "mid_side":
            ch_code = 10
        else:
            ch_code = nch - 1
        bw.write(ch_code, 4)
        bw.write(4, 3)  # sample size: 16 bits
        bw.write(0, 1)  # reserved
        for b in _utf8_number(fi):
            bw.write(b, 8)
        if bs_code == 6:
            bw.write(bs - 1, 8)
        elif bs_code == 7:
            bw.write(bs - 1, 16)
        bw.write(crc8(bytes(bw.buf)), 8)
        if ch_code == 8:
            left = blk[:, 0].astype(np.int64)
            side = left - blk[:, 1].astype(np.int64)
            _write_subframe(bw, left, bps)
            _write_subframe(bw, side, bps + 1)
        elif ch_code == 10:
            l_ = blk[:, 0].astype(np.int64)
            r_ = blk[:, 1].astype(np.int64)
            _write_subframe(bw, (l_ + r_) >> 1, bps)
            _write_subframe(bw, l_ - r_, bps + 1)
        else:
            for c in range(nch):
                _write_subframe(bw, blk[:, c], bps)
        bw.align()
        bw.write(crc16(bytes(bw.buf)), 16)
        out += bw.getvalue()
    return bytes(out)


def encode_streaminfo_only(
    rate: int, nch: int, bps: int, total: int, block_size: int = 1024
) -> bytes:
    """A frame-less stream whose STREAMINFO claims an arbitrary layout —
    for unsupported-bps / claims-only plants."""
    out = bytearray(b"fLaC")
    out.append(0x80)
    out += (34).to_bytes(3, "big")
    out += struct.pack(">HH", block_size, block_size)
    out += b"\x00" * 6
    packed = (rate << 44) | ((nch - 1) << 41) | ((bps - 1) << 36) | total
    out += packed.to_bytes(8, "big")
    out += b"\x00" * 16
    return bytes(out)


def _flac_clip_set() -> list[dict]:
    """Plant rows: clip_id, bytes, sr_hz (the corpus's claimed rate), and
    the spec-side facts the expected table derives from."""
    rng = np.random.default_rng(1205)
    n = 2000
    sine = _tone(440.0, n, 9000.0)
    noise = rng.integers(-20000, 20000, n).astype(np.int16)
    l = _tone(440.0, n, 9000.0)
    r = _tone(554.4, n, 7000.0, phase=0.7)
    stereo = np.stack([l, r], axis=1)

    rows: list[dict] = []

    def add(cid, raw, sr_hz, *, claims=None, decoded_samples=None, md5_ok=None):
        rows.append(
            dict(
                clip_id=cid, raw=raw, sr_hz=sr_hz, claims=claims,
                decoded_samples=decoded_samples, md5_ok=md5_ok,
            )
        )

    def claims(rate, nch, bps=16, total=None, bsz=1024, has_md5=1):
        return dict(
            claim_sample_rate=rate, claim_channels=nch, claim_bps=bps,
            claim_total_samples=n if total is None else total,
            claim_min_blocksize=bsz, claim_max_blocksize=bsz,
            has_md5=has_md5,
        )

    # clean mono: table-coded rate, fixed-predictor Rice path
    add("fl_sine", encode_flac(sine, 16000), 16000,
        claims=claims(16000, 1), decoded_samples=n, md5_ok=1)
    # verbatim-heavy noise at a rate outside the code table (streaminfo path)
    add("fl_noise", encode_flac(noise, 12345, use_rate_table=False), 12345,
        claims=claims(12345, 1), decoded_samples=n, md5_ok=1)
    # constant subframe
    add("fl_const", encode_flac(np.full(n, -137, np.int16), 16000), 16000,
        claims=claims(16000, 1), decoded_samples=n, md5_ok=1)
    # multi-frame with a short final block (block_size 512 over 2000)
    add("fl_frames", encode_flac(sine, 16000, block_size=512), 16000,
        claims=claims(16000, 1, bsz=512), decoded_samples=n, md5_ok=1)
    # stereo, all three decorrelation modes
    for mode in ("indep", "left_side", "mid_side"):
        add(f"fl_st_{mode}", encode_flac(stereo, 16000, stereo_mode=mode),
            16000, claims=claims(16000, 2), decoded_samples=n, md5_ok=1)
    # metadata lies and integrity plants
    add("fl_rate_lie", encode_flac(sine, 16000, rate_claim=8000), 16000,
        claims=claims(8000, 1), decoded_samples=n, md5_ok=1)
    add("fl_total_zero", encode_flac(sine, 16000, total_override=0), 16000,
        claims=claims(16000, 1, total=0), decoded_samples=n, md5_ok=1)
    add("fl_total_lie", encode_flac(sine, 16000, total_override=n + 7), 16000,
        claims=claims(16000, 1, total=n + 7))
    add("fl_md5_wrong", encode_flac(sine, 16000, md5_mode="wrong"), 16000,
        claims=claims(16000, 1), decoded_samples=n, md5_ok=0)
    add("fl_md5_zero", encode_flac(sine, 16000, md5_mode="zero"), 16000,
        claims=claims(16000, 1, has_md5=0), decoded_samples=n)
    add("fl_bps24", encode_streaminfo_only(16000, 1, 24, n), 16000,
        claims=claims(16000, 1, bps=24, has_md5=0))
    add("fl_trunc", encode_flac(sine, 16000)[:200], 16000,
        claims=claims(16000, 1))
    add("fl_not_flac", b"ID3\x04junkjunkjunk", 16000)
    add("fl_null", None, 16000)
    return rows


FLAC_EXPECTED_DDL = (
    "clip_id string, sr_hz int, claim_sample_rate int, claim_channels int, "
    "claim_bps int, claim_total_samples bigint, claim_min_blocksize int, "
    "claim_max_blocksize int, has_md5 int, decoded_samples bigint, "
    "decoded_rate int, md5_ok int, decode_error string"
)


@fixture("clips_flac_v1", AUDIO_KEY, "data", "expected")
def build_flac_fixture(fixture_dir: str):
    """Write the FLAC clips + expected probe parquets (idempotent).

    Expected VALUE columns come from the plant spec (``_flac_clip_set``
    claims/facts); only the typed ERROR strings of the failure plants are
    replayed through ``probe_one`` (error plumbing, not arithmetic)."""
    from valor_spark.operators.audio import field_names
    from valor_spark.operators.flac import probe_one

    col_names = field_names(FLAC_EXPECTED_DDL)[2:]
    data_rows, expected_rows = [], []
    for p in _flac_clip_set():
        data_rows.append((p["clip_id"], p["raw"], p["sr_hz"], "flac"))
        exp = {c: None for c in col_names}
        if p["claims"]:
            exp.update(p["claims"])
        exp["decoded_samples"] = p["decoded_samples"]
        exp["md5_ok"] = p["md5_ok"]
        if p["decoded_samples"] is not None:
            exp["decoded_rate"] = p["claims"]["claim_sample_rate"]
        probed = probe_one(p["raw"])
        if p["decoded_samples"] is None:
            # failure plant: replay ONLY the typed error string
            assert probed["decode_error"] is not None, p["clip_id"]
            exp["decode_error"] = probed["decode_error"]
        else:
            assert probed["decode_error"] is None, (
                p["clip_id"], probed["decode_error"],
            )
        expected_rows.append((p["clip_id"], p["sr_hz"], *exp.values()))
    return {
        "data": (CLIPS_DDL, data_rows),
        "expected": (FLAC_EXPECTED_DDL, expected_rows),
    }


__all__ = [
    "BitWriter",
    "encode_flac",
    "encode_streaminfo_only",
    "build_flac_fixture",
    "FIXED_COEFFS",
]
