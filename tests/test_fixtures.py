"""Gate-fixture contract: every parquet the 16 ``build_*_fixture`` functions
write, pinned by file name, Arrow schema and a digest of its rows.

The DuckDB oracle grades 23 queries against these tables, so a builder
refactor must leave every name, column type, row order and value as it
was.  The digest is taken over ``repr(table.to_pylist())`` rather than the
file bytes, so a pyarrow upgrade that changes the parquet encoding does not
trip it.  No Spark session is needed.
"""

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from valor_spark.sources import audio_fixture as A
from valor_spark.sources import flac_fixture as F
from valor_spark.sources import image_fixture as I

BUILDERS = (
    A.build_audio_fixture,
    A.build_audio_profile_fixture,
    A.build_audio_segments_fixture,
    A.build_audio_spectrum_fixture,
    A.build_audio_dedup_fixture,
    A.build_audio_loudness_fixture,
    A.build_audio_fp_fixture,
    A.build_audio_bandwidth_fixture,
    A.build_audio_defects_fixture,
    A.build_audio_resample_fixture,
    A.build_audio_fused_fixture,
    A.build_audio_channels_fixture,
    F.build_flac_fixture,
    I.build_image_fixture,
    I.build_jpeg_fixture,
    I.build_image_dhash_fixture,
)

CLIPS = "clip_id: string\nbytes: binary\nsr_hz: int32\ncodec: string"
IMAGES = "id: int64\nbytes: binary"

CONTRACT = {
    "clips_audio_clips_045ea970.parquet": (
        "clip_id: string\nbytes: binary\nsr_hz: int32\ndur_ms: int32\n"
        "codec: string\ntranscript: string",
        "ddf5889a6d83b8d412fe786a6ab25ab2d0257ff2b81ace2a62db3a1ac63d82db",
    ),
    "clips_audio_ref_045ea970.parquet": (
        "clip_id: string\npcm_ref: binary\ntranscript_ref: string",
        "7eb7d11377b9eb772d77acfc83f3a56bfa8b1220d5468b0a9963a5e779d45f3b",
    ),
    "clips_audio_expected_045ea970.parquet": (
        "clip_id: string\nrule: string\nerror: string",
        "60ba4c14584394de5c811c8ca237ba259987157a1617feca3c16ed3e585a6bb9",
    ),
    "clips_audio_profile_512_045ea970.parquet": (
        "clip_id: string\nn_samples: int32\npeak_abs: int32\nsum_sq: int64\n"
        "n_clipped: int32\nn_silent: int32\nlead_silence: int32\n"
        "trail_silence: int32\ndecode_error: string",
        "4775794b01ec174bdc4203cf760a207f9da40c947c2bf4cd6b29b4ced6083854",
    ),
    "clips_audio_segments_512_16_4_045ea970.parquet": (
        "clip_id: string\nseg_idx: int32\nstart_sample: int32\nend_sample: int32",
        "bbc71ff72c1955cd3cb5541f5af57d6b350967625e4576130ec8dfc91a325ec0",
    ),
    "clips_audio_spectrum_045ea970.parquet": (
        "clip_id: string\nn_samples: int32\ndom_bin: int32\ndom_hz: int32\n"
        "second_bin: int32\nimpurity_milli: int32\ndecode_error: string",
        "9091497b0e2bc59297be5f187424c69a549b5180003321d0a460fcdf03e969ee",
    ),
    "clips_audio_dedup_045ea970.parquet": (
        "content_hash: string\nn: int64\nfirst_clip_id: string",
        "a203b2c0b528367a12f7b925206ba48b46a4fc9cefea24fa2ce20532a8b3c2f5",
    ),
    "clips_loudness_v3_data_045ea970.parquet": (
        CLIPS,
        "33b37ed87a3f82c1c1fac2dac9f321f71ef453827925dea10da54ddc23bc619f",
    ),
    "clips_loudness_v3_expected_045ea970.parquet": (
        "clip_id: string\nn_samples: int32\nn_blocks: int32\ngated_blocks: int32\n"
        "lufs_milli: int32\npeak_milli_dbfs: int32\ntrue_peak_milli_dbtp: int32\n"
        "decode_error: string",
        "e5e8c8a3eb21860383d939c366f8f4a93d14438af8a5a0f056c84ae9916ce067",
    ),
    "clips_fp_v1_data_045ea970.parquet": (
        CLIPS,
        "7579f0f4846169d6196f8ee7f52c2529e69c6e64e8510f82f33b590c784cc737",
    ),
    "clips_fp_v1_expected_045ea970.parquet": (
        "clip_a: string\nclip_b: string",
        "92715332135700eb13ff3e4e79b21dc8a14a11f0de32f224ec9647c99ccf0141",
    ),
    "clips_bw_v2_data_045ea970.parquet": (
        CLIPS,
        "93ba85ee3887773e1e0734db45babb7269b56fbfa3531b3273c05dbe0ae7b9c6",
    ),
    "clips_bw_v2_expected_045ea970.parquet": (
        "clip_id: string\nsrc_sr: int32\nn_samples: int32\nrolloff95_hz: int32\n"
        "rolloff99_hz: int32\nhf_permille: int32\ndecode_error: string",
        "1fd7ee0078d7abf20ad89ab102c367b64d03f5ded546cbc9cce307210669503c",
    ),
    "clips_def_v1_data_045ea970.parquet": (
        CLIPS,
        "88c907fd62c4234e3c699959e7f660204873beece82f03056837523e6c20e018",
    ),
    "clips_def_v1_expected_045ea970.parquet": (
        "clip_id: string\nn_samples: int32\nclipped_samples: int32\n"
        "max_clip_run: int32\nmax_zero_run: int32\nmax_zero_run_ms: int32\n"
        "dc_offset_permille: int32\ndecode_error: string",
        "66ca8c7f39dbb5b199d308851fcf40455cd22f91ce8b50fb954fa84db271069e",
    ),
    "clips_rs_v1_data_045ea970.parquet": (
        CLIPS,
        "6e3f2a12c4cc68faf9a55f478e0d5c6346dc26e34b7bd5ab14aa16b7be6979a4",
    ),
    "clips_rs_v1_expected_045ea970.parquet": (
        "clip_id: string\nsrc_sr: int32\nout_sr: int32\nn_in: int32\n"
        "n_out: int32\ndom_hz: int32\ndecode_error: string",
        "08f5466765b47ddde957bf774ca7e17b277943d9fb8264fa9be4c928a554b0b0",
    ),
    "clips_fu_v1_data_045ea970.parquet": (
        CLIPS,
        "e1044af803ffcc8e15835ec98394a8ffd9a96d450209bd344a7ee463382e96d3",
    ),
    "clips_fu_v1_expected_045ea970.parquet": (
        "clip_id: string\nsrc_sr: int32\nn_samples: int32\npeak_abs: int32\n"
        "sum_sq: int64\nn_clipped: int32\nn_silent: int32\nlead_silence: int32\n"
        "trail_silence: int32\ndom_hz: int32\nimpurity_milli: int32\n"
        "n_blocks: int32\ngated_blocks: int32\nlufs_milli: int32\n"
        "peak_milli_dbfs: int32\ntrue_peak_milli_dbtp: int32\n"
        "rolloff95_hz: int32\nrolloff99_hz: int32\nhf_permille: int32\n"
        "max_clip_run: int32\nmax_zero_run: int32\nmax_zero_run_ms: int32\n"
        "dc_offset_permille: int32\ndecode_error: string",
        "10cdc8280d7025829f465b32bec4ad09f49b0cb4d086f5b785e4528285eb06de",
    ),
    "clips_chan_v1_data_045ea970.parquet": (
        CLIPS,
        "7b6fea5b6e2f50fe4fb207d9b60eb4aa8003d287321db8143b613896d3bed593",
    ),
    "clips_chan_v1_expected_045ea970.parquet": (
        "clip_id: string\nn_channels: int32\nn_frames: int32\nssq_l: int64\n"
        "ssq_r: int64\ndot_lr: int64\ndual_mono: int32\nbalance_permille: int32\n"
        "phase_permille: int32\ndecode_error: string",
        "fac911b0104f034fbe54a8d4ecc3d2049ba76383452add095d1ad098dfbf85b9",
    ),
    "clips_flac_v1_data_045ea970.parquet": (
        CLIPS,
        "9f424248c94403f10052437cdbd0f852993ccc059b8bf817d003e875af19576b",
    ),
    "clips_flac_v1_expected_045ea970.parquet": (
        "clip_id: string\nsr_hz: int32\nclaim_sample_rate: int32\n"
        "claim_channels: int32\nclaim_bps: int32\nclaim_total_samples: int64\n"
        "claim_min_blocksize: int32\nclaim_max_blocksize: int32\nhas_md5: int32\n"
        "decoded_samples: int64\ndecoded_rate: int32\nmd5_ok: int32\n"
        "decode_error: string",
        "b62a23cb52422253add1b7864b3ec53141dfeac68682e903e45dfbca091607fa",
    ),
    "images_data_7de68b0a.parquet": (
        IMAGES,
        "56ae92b31be7fdfc59b67ea97c633f8da32839f481374b45cc36abff0bf76528",
    ),
    "images_expected_7de68b0a.parquet": (
        "id: int64\nformat: string\nwidth: int32\nheight: int32\n"
        "channels: int32\nmean_intensity: double\n"
        "features: list<element: double>\n  child 0, element: double\n"
        "error: string",
        "0918c1ada3994bd39ea40ddde49d01e497ae87d028beae6a0b2fc989c41b1252",
    ),
    "images_jpeg_data_ca69bba8.parquet": (
        IMAGES,
        "89518faf2445bd1967d9fd6e8d7ac6606d5b83e8266b294f992f255bb62f65c0",
    ),
    "images_jpeg_expected_ca69bba8.parquet": (
        "id: int64\nformat: string\nn_bytes: int32\ncontent_sha1: string\n"
        "width: int32\nheight: int32\nchannels: int32\nhas_error: bool",
        "000a0b207a6ca45239d6212e0e9c42688dd16633fc41bb99d40d9ccb342602ca",
    ),
    "images_dhash_53ff2e56.parquet": (
        "dhash: string\nn: int64\nfirst_id: int64",
        "c3e584c346431b423b0ba098e535e7cbfc6ab2921cd5d7304b40af2f07fad2c6",
    ),
}


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fixtures"))
    return d, {b.__name__: b(d) for b in BUILDERS}


def test_every_fixture_file_matches_the_contract(built):
    d, returned = built
    paths = [
        p for r in returned.values() for p in (r.values() if isinstance(r, dict) else [r])
    ]
    assert sorted(os.path.basename(p) for p in paths) == sorted(CONTRACT)
    assert sorted(os.listdir(d)) == sorted(CONTRACT)
    got = {}
    for name in sorted(CONTRACT):
        table = pq.read_table(os.path.join(d, name))
        digest = hashlib.sha256(repr(table.to_pylist()).encode()).hexdigest()
        got[name] = (table.schema.to_string(), digest)
    assert got == CONTRACT


def test_a_built_fixture_is_served_from_the_cache(built):
    d, returned = built

    def stamps():
        return {n: os.stat(os.path.join(d, n)).st_mtime_ns for n in CONTRACT}

    before = stamps()
    assert {b.__name__: b(d) for b in BUILDERS} == returned
    assert stamps() == before
