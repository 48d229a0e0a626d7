"""Image-gate fixture: real BMP/PGM/PPM/PNG bytes + a pure-Python
expected-stats oracle, written as parquet so BOTH engines read identical
bytes.

Mirrors the audio-gate pattern (sources/audio_fixture.py): the expected
table is derived from the SOURCE pixel arrays at build time, while the Spark
gate query decodes the encoded BYTES through the real mapInPandas pass — so
the encode->decode inverse, the metadata extraction, and the feature math
are all genuinely end-to-end tested, not tautological.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from valor_spark.sources.fixture_writer import fixture

N_IMAGES = 120
N_JPEG = 60
FEATURE_DIM = 4
#: bump when the expected-stats derivation changes (baked into filenames so
#: stale .fixtures can't grade new code against old ground truth)
#: v2: PNG rows joined the encode cycle (all five scanline filters + alpha
#: variants), exercising the real zlib+numpy PNG decoder end-to-end
#: v3: every other PNG row is Adam7-interlaced
FIXTURE_VERSION = 4
IMAGES_DDL = "id bigint, bytes binary"


def _round_half_up(v: float, digits: int) -> float:
    """Replicates Spark's F.round on doubles (HALF_UP on the shortest repr)."""
    return float(
        Decimal(repr(float(v))).quantize(
            Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
        )
    )


def _source_image(i: int):
    """Deterministic pixels for image ``i``: gradient / checker / noise
    patterns cycling through gray-BMP, RGB-BMP, PGM, PPM encodings."""
    rng = np.random.default_rng(1000 + i)
    h, w = 4 + (i % 5) * 3, 3 + (i * 7) % 9
    kind = i % 3
    if kind == 0:  # vertical gradient
        img = np.tile(
            np.linspace(0, 255, h).astype(np.uint8)[:, None], (1, w)
        )
    elif kind == 1:  # checkerboard
        yy, xx = np.mgrid[0:h, 0:w]
        img = ((yy + xx) % 2 * 255).astype(np.uint8)
    else:  # seeded noise
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
    if i % 4 in (1, 3):  # color variants
        img = np.stack([img, np.roll(img, 1, axis=1), 255 - img], axis=2)
    return img


def _encode(i: int, img: np.ndarray):
    """-> (bytes, format) cycling through the real encodings: BMP, binary
    netpbm, and PNG — the PNG rows rotate through all five scanline filters
    and (every i % 6 == 5) carry a deterministic alpha plane the decoder
    must strip back off."""
    from valor_spark.operators.multimodal import encode_bmp, encode_png

    color = img.ndim == 3
    h, w = img.shape[:2]
    k = i % 6
    if k in (0, 1):
        return encode_bmp(img), "bmp"
    if k == 3:
        return encode_png(img, filter_type=i % 5,
                          interlace=((i // 6) % 2 == 0)), "png"
    if k == 5:
        yy, xx = np.mgrid[0:h, 0:w]
        alpha = ((yy * 7 + xx * 3 + i) % 256).astype(np.uint8)
        return encode_png(img, filter_type=(i * 2 + 1) % 5, alpha=alpha,
                          interlace=(i % 4 == 1)), "png"
    if color:
        return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes(), "ppm"
    return b"P5\n%d %d\n255\n" % (w, h) + img.tobytes(), "pgm"


@fixture("images", (FIXTURE_VERSION, N_IMAGES, FEATURE_DIM), "data", "expected")
def build_image_fixture(fixture_dir: str):
    """Write images + expected parquets (idempotent); returns their paths."""
    from valor_spark.operators.multimodal import block_features, fake_decode

    data_rows, expected_rows = [], []
    for i in range(N_IMAGES):
        img = _source_image(i)
        raw, fmt = _encode(i, img)
        err = None
        if i % 17 == 9:  # planted truncation -> decode error
            img3 = img if img.ndim == 3 else img[:, :, None]
            h, w, c = img3.shape
            if fmt == "bmp":
                stride = (w * c + 3) & ~3
                pixel_off = 54 + (1024 if c == 1 else 0)
                need = pixel_off + stride * h
                raw = raw[:-6]
                err = f"decode_failed:bmp_truncated:{len(raw)}<{need}"
            elif fmt == "png":
                # chopping the tail removes IEND (the 12-byte final chunk):
                # the decoder treats a missing IEND as truncation
                raw = raw[:-6]
                err = "decode_failed:png_truncated:no_iend"
            else:
                hdr_len = len(raw) - h * w * c
                raw = raw[:-6]
                err = f"decode_failed:pnm_truncated:{len(raw)-hdr_len}<{h*w*c}"
                fmt = "pnm"  # decode_image reports the magic family on error
        elif i % 13 == 5:  # planted opaque payload -> fake featurizer
            raw = b"JUNK" + bytes(((i * 31 + j) % 251 for j in range(64)))
            fmt = "opaque"

        data_rows.append((i, raw))
        if err is not None:
            expected_rows.append((i, fmt, None, None, None, None, None, err))
            continue
        if fmt == "opaque":
            feats = fake_decode(raw, FEATURE_DIM)
            mi = _round_half_up(float(feats.mean()), 6)
            expected_rows.append(
                (i, fmt, None, None, None, mi,
                 [_round_half_up(float(x), 4) for x in feats], None)
            )
            continue
        img3 = img if img.ndim == 3 else img[:, :, None]
        feats = block_features(img3, FEATURE_DIM)
        expected_rows.append(
            (
                i,
                fmt,
                int(img3.shape[1]),
                int(img3.shape[0]),
                int(img3.shape[2]),
                _round_half_up(float(img3.mean(dtype=np.float64) / 255.0), 6),
                [_round_half_up(float(x), 4) for x in feats],
                None,
            )
        )

    return {
        "data": (IMAGES_DDL, data_rows),
        "expected": (
            "id bigint, format string, width int, height int, channels int, "
            "mean_intensity double, features array<double>, error string",
            expected_rows,
        ),
    }


# "jpeg2": layout rotation gained progressive + per-component scans —
# local salt bump (same role as FIXTURE_VERSION, scoped to this fixture)
@fixture("images_jpeg", (FIXTURE_VERSION, N_JPEG, "jpeg2"), "data", "expected")
def build_jpeg_fixture(fixture_dir: str):
    """JPEG-gate fixture: real JPEG bytes rotating every supported stream
    layout — sequential baseline (gray/RGB, 4:4:4 and 4:2:0, restart
    markers, odd dims), PROGRESSIVE SOF2 (full four-scan-type script:
    DC first/refine, per-component AC first with a luma band split, AC
    refines with EOB runs), per-component sequential multi-scan, and a
    truncation plant — plus an expected METADATA table derived from the
    SOURCE spec (dims/channels from the source array shape — lossy pixel
    values are pytest-verified via PSNR, not hash-graded; the gate grades
    that the decoder really parses each entropy layout and reconstructs
    shape/metadata distributed under Spark)."""
    import hashlib

    from valor_spark.operators.jpeg import encode_jpeg

    data_rows, expected_rows = [], []
    for i in range(N_JPEG):
        img = _source_image(1000 + i)  # same pattern family, distinct seeds
        img3 = img if img.ndim == 3 else img[:, :, None]
        h, w, c = img3.shape
        sub = "4:2:0" if (c == 3 and i % 3 == 0) else "4:4:4"
        progressive = i % 5 == 2  # SOF2 rows (both subsamplings hit)
        per_comp = i % 5 == 3 and sub == "4:4:4"  # sequential multi-scan
        raw = encode_jpeg(
            img if img.ndim == 2 else img3,
            quality=75 + (i * 7) % 21,
            subsampling=sub,
            restart_interval=(i % 4 == 1 and not progressive and not per_comp)
            and 2 or 0,
            progressive=progressive,
            per_component_scans=per_comp,
        )
        err = None
        if i % 11 == 7:  # planted truncation
            raw = raw[: len(raw) // 2]
            err = "truncated"
        sha1 = hashlib.sha1(raw).hexdigest()
        data_rows.append((i, raw))
        if err is not None:
            expected_rows.append((i, "jpeg", len(raw), sha1, None, None, None, True))
        else:
            expected_rows.append((i, "jpeg", len(raw), sha1, w, h, c, False))

    return {
        "data": (IMAGES_DDL, data_rows),
        "expected": (
            "id bigint, format string, n_bytes int, content_sha1 string, "
            "width int, height int, channels int, has_error boolean",
            expected_rows,
        ),
    }


@fixture("images_dhash", (FIXTURE_VERSION, N_IMAGES, "dhash"))
def build_image_dhash_fixture(fixture_dir: str):
    """Expected perceptual-duplicate groups ``(dhash, n, first_id)`` —
    spec-side mirror of operators/multimodal.py::dhash_hex over the SOURCE
    pixel arrays (the gate decodes the encoded bytes; truncated and opaque
    plants are excluded, their pixels being unknown to the engine too)."""
    from collections import defaultdict

    groups: dict[str, list[int]] = defaultdict(list)
    for i in range(N_IMAGES):
        if i % 17 == 9 or i % 13 == 5:  # truncated / opaque plants
            continue
        img = _source_image(i)
        img3 = img if img.ndim == 3 else img[:, :, None]
        gray = img3.mean(axis=2, dtype=np.float64)
        h, w = gray.shape
        ri = (np.arange(8) * h) // 8
        ci = (np.arange(9) * w) // 9
        m = gray[np.ix_(ri, ci)]
        bits = (m[:, 1:] > m[:, :-1]).flatten()
        val = 0
        for b in bits:
            val = (val << 1) | int(b)
        groups[format(val, "016x")].append(i)

    return (
        "dhash string, n bigint, first_id bigint",
        [(hh, len(ids), min(ids)) for hh, ids in groups.items() if len(ids) > 1],
    )
