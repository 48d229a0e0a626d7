"""Training-data operators: dedup / similarity / text / multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from valor_spark.operators import dedup as DD
from valor_spark.operators import multimodal as MM
from valor_spark.operators import similarity as SIM
from valor_spark.operators import text as TX

from reference_fingerprints import simhash, token_hash


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "completely different text about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "spark engines about completely different text"),  # same token set as 2
        (5, "unrelated words entirely here nothing shared"),
    ]
    return spark.createDataFrame(base, "doc_id bigint, text string")


def test_exact_duplicates(docs):
    got = DD.exact_duplicates(docs).collect()
    assert len(got) == 1
    assert got[0]["n"] == 2 and got[0]["keep_id"] == 0


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0          # exact dup
    assert (0, 1) in pairs and 0.7 < pairs[(0, 1)] < 1.0     # near dup
    assert (2, 4) in pairs and pairs[(2, 4)] == 1.0          # same token set
    assert not any(5 in p for p in pairs)                     # disjoint doc


def test_minhash_lsh_finds_exact_and_near(docs):
    pairs = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in DD.minhash_lsh_pairs(docs, k=16, bands=4, threshold=0.5).collect()
    }
    assert pairs.get((0, 3)) == 1.0
    assert pairs.get((2, 4)) == 1.0  # identical token sets -> identical signature
    # near-dup (0,1) has jaccard 9/11 ~ 0.82; LSH with 16/4 should catch it
    assert (0, 1) in pairs


def test_simhash_pairs(docs):
    sh = {r["doc_id"]: r["simhash"] for r in docs.select(
        "doc_id", simhash(F.col("text")).alias("simhash")).collect()}
    assert sh[0] == sh[3]                      # identical text, identical hash
    assert bin(sh[0] ^ sh[1]).count("1") <= 8  # near dup -> small hamming
    pairs = {(r["doc1"], r["doc2"]) for r in DD.simhash_pairs(docs, max_hamming=8, bands=4).collect()}
    assert (0, 3) in pairs
    assert (2, 4) in pairs                     # same token set


def test_token_hash_matches_python(spark):
    df = spark.createDataFrame([("abc",), ("x",)], "t string")
    got = {r["t"]: r["h"] for r in df.select("t", token_hash(F.col("t")).alias("h")).collect()}

    def py_hash(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % DD.MOD
        return acc

    assert got["abc"] == py_hash("abc")
    assert got["x"] == py_hash("x")


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 16)).astype(np.float32)
    vecs[1] = vecs[0] + rng.normal(scale=0.01, size=16).astype(np.float32)  # near 0
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_cosine_topk_exact(emb):
    out = SIM.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3)
    rows = out.orderBy("rank").collect()
    assert rows[0]["neighbor_id"] == 1 and rows[0]["score"] > 0.99
    assert [r["rank"] for r in rows] == [1, 2, 3]
    assert rows[0]["score"] >= rows[1]["score"] >= rows[2]["score"]


def test_cosine_topk_lsh_recall(emb):
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=1).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.cosine_topk_lsh(
            emb, emb.filter(F.col("vec_id") < 5), k=1, n_planes=4
        ).collect()
    }
    # LSH is approximate: the strongly-similar planted pair must survive
    assert (0, 1) in exact
    assert (0, 1) in approx


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is in the house and the dog is out"),
            (1, "der hund ist nicht hier und die katze ist da"),
            (2, "le chat est dans la maison et les chiens"),
            (3, "xyzzy plugh"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in TX.text_profile(df).collect()}
    assert got[0]["pred_lang"] == "en"
    assert got[1]["pred_lang"] == "de"
    assert got[2]["pred_lang"] == "fr"
    assert got[3]["pred_lang"] == "und"
    assert got[0]["n_tokens"] == 11
    assert 0.0 <= got[0]["quality"] <= 1.0
    assert len(got[0]["fingerprint"]) == 16


def test_multimodal_features(spark):
    rows = [(i, bytes([i]) * (10 + i)) for i in range(8)] + [(99, None)]
    df = spark.createDataFrame(rows, "id bigint, bytes binary")
    out = {r["id"]: r for r in MM.image_features(df, dim=4).collect()}
    assert out[0]["n_bytes"] == 10
    assert len(out[0]["features"]) == 4
    assert out[0]["error"] is None
    # deterministic: same bytes -> same features
    out2 = {r["id"]: r for r in MM.image_features(df, dim=4).collect()}
    assert out[3]["features"] == out2[3]["features"]
    assert out[3]["content_sha1"] == out2[3]["content_sha1"]
    assert out[99]["error"] == "null_bytes"


def test_cosine_zero_vector_guard(spark):
    """Regression: a zero-norm embedding must score 0.0 against everything —
    previously ANSI mode aborted the job with DIVIDE_BY_ZERO (and with ANSI
    off, NaN sorted above every real score, ranking the zero vector as
    everyone's top neighbor)."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = SIM.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    ranked = [(r["neighbor_id"], r["score"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0][0] == 1                      # real neighbor first
    assert ranked[1] == (2, 0.0)                  # zero vector scores 0.0, last
    # bucketed variants survive too
    assert SIM.cosine_topk_ivf(emb, emb.filter(F.col("vec_id") == 0), k=1,
                               n_centroids=2, n_probe=2).count() >= 1
    # the bucket kernel: n_planes=0 puts every vector in one bucket
    graph = {
        (r["src_id"], r["nbr_id"]): (r["score"], r["rank"])
        for r in SIM.knn_graph(emb, k=2, n_planes=0, n_tables=1).collect()
    }
    assert graph[(0, 1)][1] == 1 and graph[(0, 2)] == (0.0, 2)
    assert graph[(2, 0)] == (0.0, 1) and graph[(2, 1)] == (0.0, 2)
    assert len(graph) == 6
    pairs = {
        (r["id1"], r["id2"]): r["cosine"]
        for r in DD.embedding_near_dup_pairs(
            emb, threshold=0.0, n_planes=0, n_tables=1
        ).collect()
    }
    assert pairs[(0, 2)] == 0.0 and pairs[(1, 2)] == 0.0 and len(pairs) == 3


def test_bucket_kernel_null_and_ragged_embeddings(spark):
    """A NULL vector gets no edges; a ragged vector sharing a bucket, or a
    NULL element, fails loudly with EmbeddingShapeError (DuckDB rejects
    unequal lengths too)."""
    rows = [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.5]), (2, None),
            (3, [3.0, 2.0, 1.0])]
    schema = "vec_id bigint, embedding array<float>"
    emb = spark.createDataFrame(rows, schema)
    graph = SIM.knn_graph(emb, k=2, n_planes=0, n_tables=1).collect()
    assert {(r["src_id"], r["nbr_id"]) for r in graph} == {
        (0, 1), (0, 3), (1, 0), (1, 3), (3, 0), (3, 1)}
    near = DD.embedding_near_dup_pairs(emb, threshold=0.9, n_planes=0, n_tables=1)
    assert [(r["id1"], r["id2"]) for r in near.collect()] == [(0, 1)]
    # a trailing 0.0 leaves every plane projection unchanged, so the
    # ragged vector shares vec 0's bucket in every table
    ragged = spark.createDataFrame(rows + [(4, [1.0, 2.0, 3.0, 0.0])], schema)
    null_elem = spark.createDataFrame(rows + [(5, [1.0, None, 3.0])], schema)
    for bad in (ragged, null_elem):
        with pytest.raises(Exception, match="EmbeddingShapeError"):
            SIM.knn_graph(bad, k=2, n_planes=2, n_tables=2).collect()
        with pytest.raises(Exception, match="EmbeddingShapeError"):
            DD.embedding_near_dup_pairs(bad, n_planes=2, n_tables=2).collect()


def test_bigrams_null_text_yields_no_bigrams(spark):
    """Regression: size(NULL)=NULL fell through the <2 guard and emitted a
    [NULL, NULL] phantom bigram per null document, polluting top-k."""
    from valor_spark.operators.text import bigrams, top_bigrams

    df = spark.createDataFrame(
        [(0, "a b"), (1, None), (2, None)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: list(r["b"]) for r in df.select(
        "doc_id", bigrams(F.col("text")).alias("b")).collect()}
    assert got[1] == [] and got[2] == []
    top = [(r["bigram"], r["n"]) for r in top_bigrams(df, k=5).collect()]
    assert top == [("a b", 1)]  # no phantom NULL bigram with n=2


def test_frame_sample_plan_zero_and_null_frames(spark):
    """Regression: n_frames=0/NULL emitted a spurious frame_idx=0 row."""
    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, None)], "vid int, n_frames int"
    )
    got = MM.frame_sample_plan(df, "n_frames", every_k=4).collect()
    assert {r["vid"] for r in got} == {1}


def test_bmp_pnm_roundtrip_unit():
    """Real image decode (numpy-only): encode->decode is the identity for
    24-bit RGB and 8-bit gray BMP; PGM/PPM parse with comments; truncated
    payloads raise."""
    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, (5, 3, 3), dtype=np.uint8)
    assert np.array_equal(MM.decode_bmp(MM.encode_bmp(rgb)), rgb)
    gray = rng.integers(0, 256, (4, 7), dtype=np.uint8)
    assert np.array_equal(MM.decode_bmp(MM.encode_bmp(gray))[:, :, 0], gray)
    pgm = b"P5\n# a comment\n3 2\n255\n" + bytes(range(6))
    img = MM.decode_pnm(pgm)
    assert img.shape == (2, 3, 1) and img[1, 2, 0] == 5
    ppm = b"P6 2 1 255\n" + bytes(range(6))
    assert MM.decode_pnm(ppm).shape == (1, 2, 3)
    with pytest.raises(ValueError):
        MM.decode_bmp(MM.encode_bmp(rgb)[:-8])  # truncated pixels
    with pytest.raises(ValueError, match="maxval"):
        MM.decode_pnm(b"P5 2 1 15\n\x0f\x0f")  # non-255 maxval must not
        # silently decode mis-scaled intensities
    # 8-bit COLOR palette resolves through the LUT to RGB (indices are not
    # intensities)
    buf = bytearray(MM.encode_bmp(gray))
    for i in range(256):
        buf[54 + i * 4 : 54 + i * 4 + 4] = bytes((i, 0, 255 - i, 0))  # B=i, R=255-i
    img = MM.decode_bmp(bytes(buf))
    assert img.shape == (4, 7, 3)
    v = int(gray[0, 0])
    assert tuple(img[0, 0]) == (255 - v, 0, v)  # RGB from palette entry v


def test_png_roundtrip_unit():
    """Real PNG decode (stdlib zlib + numpy unfiltering): encode->decode is
    the identity for gray and RGB across ALL FIVE scanline filters; alpha
    planes (color types 4/6) are stripped; palette PNGs resolve through
    PLTE; truncation (missing IEND) and Adam7 interlace raise."""
    import struct
    import zlib

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (5, 3), (16, 9)]:
        for c in (1, 3):
            img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
            alpha = rng.integers(0, 256, (h, w), dtype=np.uint8)
            for ft in range(5):
                assert np.array_equal(
                    MM.decode_png(MM.encode_png(img, filter_type=ft)), img
                ), (h, w, c, ft)
                assert np.array_equal(
                    MM.decode_png(MM.encode_png(img, filter_type=ft, alpha=alpha)),
                    img,
                ), ("alpha", h, w, c, ft)
    raw = MM.encode_png(rng.integers(0, 256, (6, 6, 3), dtype=np.uint8), 4)
    with pytest.raises(ValueError, match="no_iend"):
        MM.decode_png(raw[:-6])
    px, fmt, err = MM.decode_image(raw[:-6])
    assert (px, fmt, err) == (None, "png", "decode_failed:png_truncated:no_iend")
    # invalid interlace method -> rejected (0=null and 1=Adam7 decode)
    bad = bytearray(raw)
    bad[8 + 8 + 12] = 2
    with pytest.raises(ValueError, match="interlace=2"):
        MM.decode_png(bytes(bad))
    # hand-built palette PNG (color type 3): indices resolve through PLTE
    idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
    plte = bytes((10, 20, 30, 200, 0, 0, 0, 0, 250))  # 3 RGB entries
    scan = b"".join(b"\x00" + r.tobytes() for r in idx)
    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF)
    pal_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    out = MM.decode_png(pal_png)
    assert out.shape == (2, 2, 3) and tuple(out[0, 0]) == (10, 20, 30)
    assert tuple(out[1, 0]) == (0, 0, 250) and tuple(out[0, 1]) == (200, 0, 0)
    # grayscale palette collapses to one channel
    gray_plte = bytes(v for i in (0, 128, 255) for v in (i, i, i))
    gray_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", gray_plte)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    out = MM.decode_png(gray_png)
    assert out.shape == (2, 2, 1) and out[1, 0, 0] == 255


def test_png_extended_matrix_unit():
    """PNG full-matrix decode: Adam7 interlace round-trips every filter;
    16-bit samples keep the high byte (gray + RGB with a byte-level Up
    filter); depth-1 gray rescales bits to 0/255; depth-4 palette indices
    resolve through PLTE."""
    import struct
    import zlib

    from valor_spark.operators.multimodal import _png_chunk, _PNG_MAGIC

    rng = np.random.default_rng(9)
    for h, w in [(1, 1), (5, 3), (17, 23)]:
        for c in (1, 3):
            img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
            for ft in range(5):
                assert np.array_equal(
                    MM.decode_png(MM.encode_png(img, ft, interlace=True)), img
                ), ("adam7", h, w, c, ft)
            alpha = rng.integers(0, 256, (h, w), dtype=np.uint8)
            assert np.array_equal(
                MM.decode_png(MM.encode_png(img, 4, alpha=alpha, interlace=True)),
                img,
            )

    def png(w, h, depth, ctype, chunks, scan):
        return (
            _PNG_MAGIC
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0))
            + chunks
            + _png_chunk(b"IDAT", zlib.compress(scan))
            + _png_chunk(b"IEND", b"")
        )

    # 16-bit gray: high byte kept, low byte (junk) dropped
    h, w = 4, 5
    v = rng.integers(0, 256, (h, w), dtype=np.uint8)
    rows = []
    for y in range(h):
        line = np.empty(w * 2, np.uint8)
        line[0::2] = v[y]
        line[1::2] = rng.integers(0, 256, w, dtype=np.uint8)
        rows.append(b"\x00" + line.tobytes())
    out = MM.decode_png(png(w, h, 16, 0, b"", b"".join(rows)))
    assert np.array_equal(out[:, :, 0], v)
    # 16-bit RGB filtered with Up at the byte level
    c3 = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    stream = bytearray()
    prev = np.zeros(w * 6, np.int32)
    for y in range(h):
        line = np.empty(w * 6, np.uint8)
        line[0::2] = c3[y].reshape(-1)
        line[1::2] = 77
        stream.append(2)
        stream.extend(((line.astype(np.int32) - prev) & 0xFF).astype(np.uint8).tobytes())
        prev = line.astype(np.int32)
    assert np.array_equal(MM.decode_png(png(w, h, 16, 2, b"", bytes(stream))), c3)
    # depth-1 gray: bits -> 0/255
    bits = rng.integers(0, 2, (3, 10), dtype=np.uint8)
    rows = [b"\x00" + np.packbits(bits[y]).tobytes() for y in range(3)]
    out = MM.decode_png(png(10, 3, 1, 0, b"", b"".join(rows)))
    assert np.array_equal(out[:, :, 0], bits * 255)
    # depth-4 palette
    idx = rng.integers(0, 3, (4, 6), dtype=np.uint8)
    rows = []
    for y in range(4):
        b_ = bytearray()
        for i in range(0, 6, 2):
            b_.append((idx[y, i] << 4) | idx[y, i + 1])
        rows.append(b"\x00" + bytes(b_))
    plte = bytes((10, 20, 30, 200, 0, 0, 0, 0, 250))
    out = MM.decode_png(
        png(6, 4, 4, 3, _png_chunk(b"PLTE", plte), b"".join(rows))
    )
    assert np.array_equal(out, np.frombuffer(plte, np.uint8).reshape(3, 3)[idx])


def test_decoder_fuzz_never_raises_unit():
    """decode_image's error contract: ANY mutation of a valid payload (bit
    flips, truncations, random tails behind a real magic) must come back
    as (None, fmt, error-string) — never an uncaught exception, which
    would kill the whole Arrow batch in production."""
    rng = np.random.default_rng(21)
    from valor_spark.operators.jpeg import encode_jpeg

    img = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    seeds = [
        MM.encode_png(img, 4),
        MM.encode_png(img, 2, interlace=True),
        MM.encode_bmp(img),
        encode_jpeg(img, quality=80),
        encode_jpeg(img, quality=80, subsampling="4:2:0", restart_interval=1),
        encode_jpeg(img, quality=80, progressive=True),
        b"P6 7 9 255\n" + img.tobytes(),
    ]
    n_err = 0
    for seed in seeds:
        for trial in range(40):
            buf = bytearray(seed)
            kind = trial % 3
            if kind == 0:  # truncate
                buf = buf[: int(rng.integers(1, len(buf)))]
            elif kind == 1:  # flip random bytes
                for _ in range(int(rng.integers(1, 6))):
                    buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
            else:  # garbage tail
                buf = buf + bytes(rng.integers(0, 256, 16, dtype=np.uint8))
            px, fmt, err = MM.decode_image(bytes(buf))
            assert isinstance(fmt, str)
            if err is not None:
                n_err += 1
                assert px is None and isinstance(err, str)
    assert n_err > 50  # the mutations really do exercise the error paths


def test_jpeg_roundtrip_unit():
    """Real baseline JPEG codec (pure numpy + stdlib, ITU-T T.81): encode->
    decode reconstructs the SOURCE pixels within JPEG-typical PSNR bounds
    (an independent check — a mirrored transform bug shows up as loss),
    across gray/RGB, 4:4:4/4:2:0, restart markers, odd dims; flat blocks
    are exactly lossless; truncation raises ValueError."""
    from valor_spark.operators import jpeg as J

    def psnr(a, b):
        mse = np.mean((np.asarray(a, float) - np.asarray(b, float)) ** 2)
        return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)

    g = np.tile(np.linspace(20, 230, 48).astype(np.uint8)[:, None], (1, 40))
    rgb = np.stack([g, np.roll(g, 5, 0), 255 - g], axis=2)
    out = J.decode_jpeg(J.encode_jpeg(g, quality=90))
    assert out.shape == (48, 40, 1) and psnr(g[:, :, None], out) > 45
    out = J.decode_jpeg(J.encode_jpeg(rgb, quality=90))
    assert out.shape == (48, 40, 3) and psnr(rgb, out) > 40
    # 4:2:0 (chroma half-res, replication upsample) + restart markers
    out = J.decode_jpeg(
        J.encode_jpeg(rgb, quality=90, subsampling="4:2:0", restart_interval=3)
    )
    assert out.shape == (48, 40, 3) and psnr(rgb, out) > 25
    odd = np.ascontiguousarray(rgb[:45, :37])
    out = J.decode_jpeg(J.encode_jpeg(odd, quality=85, subsampling="4:2:0"))
    assert out.shape == (45, 37, 3)
    # flat content survives quantization exactly at any quality
    flat = np.full((16, 16), 100, np.uint8)
    assert np.array_equal(
        J.decode_jpeg(J.encode_jpeg(flat, quality=50))[:, :, 0], flat
    )
    raw = J.encode_jpeg(g, quality=85)
    for cut in (len(raw) // 2, 30, 3):
        with pytest.raises(ValueError):
            J.decode_jpeg(raw[:cut])
    with pytest.raises(ValueError, match="bad_progression"):
        # flip SOF0 -> SOF2: the sequential full-band scan header is
        # illegal under progressive rules — a clean error, not garbling
        i = raw.index(b"\xff\xc0")
        J.decode_jpeg(raw[:i] + b"\xff\xc2" + raw[i + 2 :])
    with pytest.raises(ValueError, match="unsupported:sof"):
        # lossless SOF3 stays rejected
        i = raw.index(b"\xff\xc0")
        J.decode_jpeg(raw[:i] + b"\xff\xc3" + raw[i + 2 :])


def test_jpeg_progressive_unit():
    """Progressive JPEG (SOF2): the encoder emits the same quantized
    coefficients as baseline through a two-level scan script (interleaved
    DC first Al=1, DC refinement, per-component AC first with a luma band
    split, AC refinements with correction bits and EOB runs), so the
    progressive decode must equal the baseline decode BIT-EXACTLY — two
    completely different entropy layouts converging on identical pixels is
    the strongest cross-check the decoder can get."""
    rng = np.random.default_rng(8)
    from valor_spark.operators import jpeg as J

    def make(h, w, c):
        yy, xx = np.mgrid[0:h, 0:w]
        base = (128 + 60 * np.sin(yy / 9) + 50 * np.cos(xx / 13)).astype(float)
        img = np.stack(
            [base + 20 * np.sin((xx + yy) / (7 + i)) for i in range(c)], axis=2
        )
        return np.clip(img + rng.normal(0, 6, img.shape), 0, 255).astype(np.uint8)

    for h, w, c, sub in (
        (40, 56, 3, "4:4:4"),
        (33, 41, 3, "4:2:0"),
        (24, 24, 1, "4:4:4"),
        (17, 9, 3, "4:4:4"),
    ):
        img = make(h, w, c)
        base = J.decode_jpeg(J.encode_jpeg(img, 85, subsampling=sub))
        prog = J.decode_jpeg(
            J.encode_jpeg(img, 85, subsampling=sub, progressive=True)
        )
        assert np.array_equal(base, prog), (h, w, c, sub)

    # flat image + one dot: AC bands are mostly empty -> multi-block EOB
    # runs MUST be taken on decode (guard against a silently-dead path)
    img = np.full((48, 64, 3), 77, np.uint8)
    img[20, 30] = (250, 10, 10)
    enc = J.encode_jpeg(img, 85, progressive=True)
    assert np.array_equal(J.decode_jpeg(enc), J.decode_jpeg(J.encode_jpeg(img, 85)))
    orig = J._block_ac_first
    runs = []

    def spy(reader, ac_lut, zz, ss, se, al, eobrun):
        before = eobrun[0]
        orig(reader, ac_lut, zz, ss, se, al, eobrun)
        if before == 0 and eobrun[0] > 1:
            runs.append(eobrun[0])

    J._block_ac_first = spy
    try:
        J.decode_jpeg(enc)
    finally:
        J._block_ac_first = orig
    assert runs and max(runs) > 1

    # per-component sequential scans (legal-but-rare baseline layout)
    for h, w, c in ((40, 56, 3), (24, 24, 1)):
        img = make(h, w, c)
        assert np.array_equal(
            J.decode_jpeg(J.encode_jpeg(img, 85)),
            J.decode_jpeg(J.encode_jpeg(img, 85, per_component_scans=True)),
        )

    # truncations / corruptions of progressive streams: clean errors only
    n_err = 0
    for trial in range(120):
        buf = bytearray(enc)
        if trial % 3 == 0:
            buf = buf[: int(rng.integers(2, len(buf)))]
        elif trial % 3 == 1:
            for _ in range(int(rng.integers(1, 8))):
                buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
        else:
            del buf[int(rng.integers(0, len(buf)))]
        try:
            J.decode_jpeg(bytes(buf))
        except ValueError:
            n_err += 1
    assert n_err > 60


def test_jpeg_hand_built_bitstream_unit():
    """Decoder-independent ground truth: a single-block grayscale JPEG
    hand-assembled bit by bit (Annex K tables, quant all-ones, DC=16, no
    ACs) must decode to the analytically-derived uniform plane
    128 + 16/8 = 130 — this cannot pass via an encoder/decoder mirrored
    bug because the encoder never runs."""
    import struct

    from valor_spark.operators import jpeg as J

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    raw = bytearray(b"\xff\xd8")
    raw += seg(0xFFDB, b"\x00" + bytes([1] * 64))  # quant: all ones
    raw += seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes((1, 0x11, 0)))
    raw += seg(0xFFC4, bytes([0x00]) + bytes(J.DC_LUM_BITS) + bytes(J.DC_LUM_VALS))
    raw += seg(0xFFC4, bytes([0x10]) + bytes(J.AC_LUM_BITS) + bytes(J.AC_LUM_VALS))
    raw += seg(0xFFDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")
    # entropy bits: DC category 5 = code '110' (Annex K DC-lum canonical),
    # value 16 = '10000'; EOB = '1010' (AC-lum).  110 10000 1010 + 1-pad
    # -> bytes 11010000 10101111 = 0xD0 0xAF
    raw += bytes((0xD0, 0xAF))
    raw += b"\xff\xd9"
    out = J.decode_jpeg(bytes(raw))
    # DC coefficient 16, orthonormal IDCT: pixel = 16/8 + 128 = 130 exactly
    assert out.shape == (8, 8, 1) and np.all(out == 130)


def test_image_features_jpeg_decode(spark):
    """image_features really decodes JPEG rows in the Arrow pass: format,
    true dims, intensity within lossy tolerance of the source; truncated
    payloads surface the error column."""
    from valor_spark.operators.jpeg import encode_jpeg

    g = np.tile(np.linspace(30, 220, 32).astype(np.uint8)[:, None], (1, 16))
    rgb = np.stack([g, g, g], axis=2)
    rows = [
        (1, encode_jpeg(g, quality=90)),
        (2, encode_jpeg(rgb, quality=90, subsampling="4:2:0")),
        (3, encode_jpeg(g, quality=90)[:40]),  # truncated
    ]
    df = spark.createDataFrame(rows, "id bigint, bytes binary")
    out = {r["id"]: r for r in MM.image_features(df, dim=2).collect()}
    src_mi = float(g.mean()) / 255.0
    assert (out[1]["format"], out[1]["width"], out[1]["height"],
            out[1]["channels"]) == ("jpeg", 16, 32, 1)
    assert abs(out[1]["mean_intensity"] - src_mi) < 0.01
    assert (out[2]["format"], out[2]["channels"]) == ("jpeg", 3)
    assert abs(out[2]["mean_intensity"] - src_mi) < 0.01
    assert out[3]["format"] == "jpeg" and out[3]["error"] is not None


def test_image_features_png_decode(spark):
    """image_features really decodes PNG rows inside the Arrow pass: true
    dims/intensity from unfiltered pixels, format='png', alpha stripped."""
    grad = np.tile(np.linspace(0, 255, 8).astype(np.uint8)[:, None], (1, 4))
    alpha = np.full((8, 4), 7, dtype=np.uint8)
    rows = [
        (1, MM.encode_png(grad, filter_type=3)),
        (2, MM.encode_png(np.stack([grad] * 3, axis=2), filter_type=4,
                          alpha=alpha)),
        (3, MM.encode_png(grad, filter_type=1)[:-6]),  # truncated
    ]
    df = spark.createDataFrame(rows, "id bigint, bytes binary")
    out = {r["id"]: r for r in MM.image_features(df, dim=2).collect()}
    assert (out[1]["format"], out[1]["width"], out[1]["height"],
            out[1]["channels"]) == ("png", 4, 8, 1)
    assert abs(out[1]["mean_intensity"] - grad.mean() / 255.0) < 1e-9
    # RGBA row: alpha must NOT pollute intensity (it would read 7/255 low)
    assert (out[2]["channels"], out[2]["format"]) == (3, "png")
    assert abs(out[2]["mean_intensity"] - grad.mean() / 255.0) < 1e-9
    assert out[3]["error"] == "decode_failed:png_truncated:no_iend"


def test_image_features_real_decode(spark):
    """image_features really decodes BMP/PGM: true dims, true intensity,
    block features from pixel content — and opaque bytes still flow through
    the deterministic fake path."""
    flat = np.full((8, 4), 100, dtype=np.uint8)           # uniform gray
    grad = np.zeros((8, 4), dtype=np.uint8); grad[4:] = 200  # dark top, light bottom
    rows = [
        (1, MM.encode_bmp(flat)),
        (2, MM.encode_bmp(grad)),
        (3, b"P5 4 2 255\n" + bytes([255] * 8)),
        (4, b"\x89PNG-not-really"),  # opaque -> fake featurizer
        (5, MM.encode_bmp(flat)[:-4]),  # truncated -> decode error
    ]
    df = spark.createDataFrame(rows, "id bigint, bytes binary")
    out = {r["id"]: r for r in MM.image_features(df, dim=2).collect()}
    assert (out[1]["format"], out[1]["width"], out[1]["height"], out[1]["channels"]) == ("bmp", 4, 8, 1)
    assert abs(out[1]["mean_intensity"] - 100 / 255) < 1e-9
    assert abs(out[1]["features"][0] - 100 / 255) < 1e-6
    # gradient: top band dark, bottom band light
    assert out[2]["features"][0] < 0.01 and out[2]["features"][1] > 0.7
    assert (out[3]["format"], out[3]["width"]) == ("pgm", 4)
    assert abs(out[3]["mean_intensity"] - 1.0) < 1e-9
    assert out[4]["format"] == "opaque" and out[4]["error"] is None
    assert len(out[4]["features"]) == 2
    assert out[5]["error"].startswith("decode_failed:bmp_truncated")


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 10), (2, 1)], "vid int, n_frames int")
    got = MM.frame_sample_plan(df, "n_frames", every_k=4).collect()
    by_vid = {}
    for r in got:
        by_vid.setdefault(r["vid"], []).append(r["frame_idx"])
    assert by_vid[1] == [0, 4, 8]
    assert by_vid[2] == [0]


def test_embedding_near_dup_pairs(emb, spark):
    from pyspark.sql import functions as F

    planted = emb.filter(F.col("vec_id") == 0).select(
        F.lit(999).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    pairs = {
        (r["id1"], r["id2"]): r["cosine"]
        for r in DD.embedding_near_dup_pairs(
            emb.unionByName(planted), threshold=0.99, n_planes=4, n_tables=2
        ).collect()
    }
    # vec 1 is vec 0 + tiny noise (cos ~0.9999); vec 999 is 2x vec 0 (cos 1.0)
    assert (0, 999) in pairs and pairs[(0, 999)] >= 0.999999
    assert (0, 1) in pairs
    assert (1, 999) in pairs
    # random 16-d vectors have no other pairs at 0.99
    assert set(pairs) == {(0, 1), (0, 999), (1, 999)}


def test_cosine_topk_ivf(emb):
    from pyspark.sql import functions as F

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=1).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.cosine_topk_ivf(
            emb, emb.filter(F.col("vec_id") == 0), k=1, n_centroids=8, n_probe=4
        ).collect()
    }
    # the planted near-identical pair shares a centroid list by construction
    assert (0, 1) in exact and (0, 1) in ivf


def test_cosine_topk_ivf_small_corpus(spark):
    """Regression: a corpus with fewer rows than n_centroids must still
    return neighbors (the old stride-based sample came back empty)."""
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, 0.5]) for i in range(5)],
        "vec_id bigint, embedding array<double>",
    )
    out = SIM.cosine_topk_ivf(
        emb, emb.filter(F.col("vec_id") == 0), k=2, n_centroids=16, n_probe=4
    ).collect()
    assert len(out) == 2
    assert all(r["query_id"] == 0 and r["neighbor_id"] != 0 for r in out)


def test_bigrams_and_top(spark):
    from valor_spark.operators.text import bigrams, top_bigrams
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b"), (2, "x")], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: list(r["b"]) for r in df.select(
        "doc_id", bigrams(F.col("text")).alias("b")).collect()}
    assert got[0] == ["a b", "b c"]
    assert got[1] == ["a b"]
    assert got[2] == []
    top = [(r["bigram"], r["n"], r["rank"]) for r in top_bigrams(df, k=2).collect()]
    assert top == [("a b", 2, 1), ("b c", 1, 2)]


def test_bpe_tokens_and_redaction(spark):
    from pyspark.sql import functions as F
    from valor_spark.operators.text import (
        bpe_token_count, bpe_tokens, redact_text, redaction_counts, token_count,
    )

    df = spark.createDataFrame(
        [(0, "hello-world v2.0: mail me at a.b@c.io or https://x.io/p?q=1 ok")],
        "doc_id bigint, text string",
    )
    row = df.select(
        bpe_tokens(F.col("text")).alias("bpe"),
        bpe_token_count(F.col("text")).alias("n_bpe"),
        token_count(F.col("text")).alias("n_ws"),
        redact_text(F.col("text")).alias("red"),
        *[c.alias(n) for c, n in zip(redaction_counts(F.col("text")), ("n_urls", "n_emails"))],
    ).collect()[0]
    # letter runs / single digits / punctuation runs
    assert list(row.bpe[:6]) == ["hello", "-", "world", "v", "2", "."]
    assert row.n_bpe > row.n_ws  # punctuation-heavy text splits finer
    assert row.n_urls == 1 and row.n_emails == 1
    assert "<URL>" in row.red and "<EMAIL>" in row.red
    assert "a.b@c.io" not in row.red and "https://" not in row.red


def test_sample_violations(spark):
    from valor_spark.plans.engine import sample_violations

    rows = [(f"id{i}", "r1" if i % 2 else "r2", "e") for i in range(20)]
    vio = spark.createDataFrame(rows, "clip_id string, rule string, error string")
    out = sample_violations(vio, per_rule=3)
    by_rule = {}
    for r in out.collect():
        by_rule.setdefault(r["rule"], []).append(r["clip_id"])
    assert len(by_rule["r1"]) == 3 and len(by_rule["r2"]) == 3
    assert by_rule["r1"] == sorted(by_rule["r1"])  # deterministic order


def test_connected_components_chain_cycle_pairs(spark):
    # chain 1-2-3-4 (diameter 3 > 1 round), cycle 10-11-12-10, pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)],
        "doc1 bigint, doc2 bigint",
    )
    got = {r["node"]: r["component"] for r in DD.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_converges_on_long_chain(spark):
    # a 12-node chain needs several hash-min rounds; must converge, and the
    # min label must propagate end to end
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "doc1 bigint, doc2 bigint"
    )
    got = {r["node"]: r["component"] for r in DD.connected_components(pairs).collect()}
    assert set(got.values()) == {100}
    assert len(got) == 13


def test_connected_components_max_iter_raises(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 8)], "doc1 bigint, doc2 bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(pairs, max_iter=2)


def test_resolve_duplicates(docs):
    # exact pair (0,3) + near pair (0,1) -> cluster {0,1,3} canonical 0;
    # docs 2,4,5 untouched by this pair list
    pairs = docs.sparkSession.createDataFrame(
        [(0, 3), (0, 1)], "doc1 bigint, doc2 bigint"
    )
    got = {
        r["doc_id"]: (r["canonical_id"], r["is_canonical"])
        for r in DD.resolve_duplicates(docs, pairs).collect()
    }
    assert got[0] == (0, True)
    assert got[1] == (0, False)
    assert got[3] == (0, False)
    for i in (2, 4, 5):
        assert got[i] == (i, True)


# --- deterministic sampling (operators/sampling.py) ------------------------

def test_hash_sample_deterministic_and_portable(spark):
    import hashlib

    from valor_spark.operators import sampling as SP

    df = spark.createDataFrame([(i,) for i in range(2000)], "id bigint")
    got = {r["id"] for r in SP.hash_sample(df, 0.3, "id", seed="s1").collect()}
    # exact pure-Python replication of the decision
    thr = format(int(0.3 * 16**8), "08x")
    exp = {
        i for i in range(2000)
        if hashlib.md5(f"{i}:s1".encode()).hexdigest()[:8] < thr
    }
    assert got == exp
    assert 0.25 < len(got) / 2000 < 0.35
    # partitioning-independent
    got2 = {
        r["id"]
        for r in SP.hash_sample(df.repartition(13), 0.3, "id", seed="s1").collect()
    }
    assert got2 == got
    assert SP.hash_sample(df, 0.0, "id").count() == 0
    assert SP.hash_sample(df, 1.0, "id").count() == 2000


def test_stratified_sample_per_stratum(spark):
    from valor_spark.operators import sampling as SP

    rows = [(i, "a" if i % 2 else "b") for i in range(1000)]
    df = spark.createDataFrame(rows, "id bigint, grp string")
    out = SP.stratified_sample(
        df, "grp", {"a": 1.0, "b": 0.2}, "id", seed="s2"
    ).groupBy("grp").count().collect()
    counts = {r["grp"]: r["count"] for r in out}
    assert counts["a"] == 500           # fraction 1.0 keeps every 'a'
    assert 60 < counts.get("b", 0) < 140
    # unlisted strata get default_fraction (0.0)
    df2 = df.withColumn("grp", F.when(F.col("id") < 10, "c").otherwise(F.col("grp")))
    out2 = SP.stratified_sample(df2, "grp", {"a": 1.0}, "id", seed="s2")
    assert out2.filter(F.col("grp") == "c").count() == 0


def test_sample_k_per_group_exact(spark):
    import hashlib

    from valor_spark.operators import sampling as SP

    rows = [(i, f"g{i % 7}") for i in range(400)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "id bigint, grp string")
    out = SP.sample_k_per_group(df, "grp", 5, "id", seed="s3").collect()
    by_grp: dict = {}
    for r in out:
        by_grp.setdefault(r["grp"], set()).add(r["id"])
    assert all(len(v) == 5 for g, v in by_grp.items() if g != "tiny")
    assert by_grp["tiny"] == {1000}     # min(k, group size)
    # matches the pure-Python smallest-bucket selection
    g0 = sorted(
        (i for i in range(400) if i % 7 == 0),
        key=lambda i: (hashlib.md5(f"{i}:s3".encode()).hexdigest()[:8], i),
    )[:5]
    assert by_grp["g0"] == set(g0)


def test_knn_graph_recall_and_determinism(emb):
    # top-1 neighbor from the LSH graph must agree with brute force for
    # most vectors.  With genuinely decorrelated planes, per-table recall
    # for a theta-degree neighbor is ((pi-theta)/pi)^planes, so the test
    # runs 3 planes x 4 tables (expected ~0.76 for theta~60deg random
    # gaussians) — the pre-fix correlated planes passed ANY setting because
    # everything shared ~2n buckets.
    graph = SIM.knn_graph(emb, k=1, n_planes=3, n_tables=4)
    got = {r["src_id"]: r["nbr_id"] for r in graph.collect()}
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    brute = SIM.cosine_topk(emb, emb, k=1)
    want = {r["query_id"]: r["neighbor_id"] for r in brute.collect()}
    hits = sum(1 for i in ids if got.get(i) == want.get(i))
    assert hits / len(ids) > 0.55, (hits, len(ids))
    # the planted near-duplicate (vec 1 ~ vec 0, theta~0) must always pair
    assert got[0] == 1 and got[1] == 0
    got2 = {r["src_id"]: r["nbr_id"] for r in SIM.knn_graph(emb, k=1, n_planes=3, n_tables=4).collect()}
    assert got == got2


def test_knn_graph_auto_planes(emb):
    # n_planes=None derives the width from the corpus size: occupancy-
    # targeted log2 scaling, clamped to [1, max_planes]
    assert SIM.auto_n_planes(10) == 1            # tiny corpus -> 1 plane
    assert SIM.auto_n_planes(20000) == 10        # ceil(log2(20000/32))
    assert SIM.auto_n_planes(100000) == 12
    assert SIM.auto_n_planes(10**12) == 24       # capped
    assert SIM.auto_n_planes(4096, target_bucket=64) == 6
    # the auto path produces a full valid graph (every vector in some pair
    # on this small fixture where auto resolves to very few planes)
    g = SIM.knn_graph(emb, k=1, n_planes=None, n_tables=2)
    rows = g.collect()
    assert rows and all(r["rank"] == 1 for r in rows)
    got = {r["src_id"]: r["nbr_id"] for r in rows}
    assert got[0] == 1 and got[1] == 0           # planted near-dup still pairs


def test_cc_alternating_matches_hashmin(spark):
    # chain + cycle + pair + random blob: both algorithms must agree exactly
    import random

    rng = random.Random(11)
    edges = (
        [(i, i + 1) for i in range(1, 5)]
        + [(10, 11), (11, 12), (12, 10), (20, 21)]
        + [(rng.randrange(100, 160), rng.randrange(100, 160)) for _ in range(80)]
    )
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc1 bigint, doc2 bigint")
    hm = {r["node"]: r["component"] for r in DD.connected_components(pairs).collect()}
    alt = {
        r["node"]: r["component"]
        for r in DD.connected_components_alternating(pairs).collect()
    }
    assert alt == hm


def test_cc_alternating_long_chain_few_rounds(spark):
    # a 40-hop chain: hash-min needs 40 rounds; alternating must converge
    # well inside max_iter=12 (O(log n))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(500, 540)], "doc1 bigint, doc2 bigint"
    )
    got = {
        r["node"]: r["component"]
        for r in DD.connected_components_alternating(pairs, max_iter=12).collect()
    }
    assert set(got.values()) == {500} and len(got) == 41


def test_hash_sample_null_keys_consistent(spark):
    # NULL keys hash as '' — sampled like any other row, never silently
    # dropped at fraction<1.0 while kept at 1.0
    import hashlib

    from valor_spark.operators import sampling as SP

    df = spark.createDataFrame([(None,), (1,), (2,)], "id bigint")
    assert SP.hash_sample(df, 1.0, "id").count() == 3
    kept = {r["id"] for r in SP.hash_sample(df, 0.5, "id", seed="z").collect()}
    null_kept = hashlib.md5(b":z").hexdigest()[:8] < format(int(0.5 * 16**8), "08x")
    assert (None in kept) == null_kept


def test_bigram_rarity_hand_computed(spark):
    # doc 0 and 1 share 'a b'; doc 0's 'b c' is hapax; doc 2 has one token
    # (no bigrams); doc 3 is null
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b"), (2, "solo"), (3, None)],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: (r["n_bigrams"], r["n_common"], r["sum_df"])
           for r in TX.bigram_rarity(df).collect()}
    # doc 0: bigrams {a b (df 2), b c (df 1)} -> n=2, common=1, sum=3
    assert got[0] == (2, 1, 3)
    assert got[1] == (1, 1, 2)
    assert got[2] == (0, 0, 0)
    assert got[3] == (0, 0, 0)
    der = {r["doc_id"]: (r["common_ratio"], r["avg_df"])
           for r in TX.bigram_rarity_derived(TX.bigram_rarity(df)).collect()}
    assert der[0] == (0.5, 1.5)
    assert der[2] == (None, None)


def test_ngram_contamination(spark):
    corpus = spark.createDataFrame(
        [
            (0, "one two three four five six seven"),
            (1, "totally different words with zero overlap content"),
            (2, "short doc"),                                   # < n tokens
        ],
        "doc_id bigint, text string",
    )
    evalset = spark.createDataFrame(
        [
            (100, "two three four five six extras appended"),   # 2 shared 5-grams... 
            (101, "nothing in common at all whatsoever here"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in TX.ngram_contamination(corpus, evalset, n=5, min_shared=1).collect()
    }
    # corpus 0 shingles: {1..5, 2..6, 3..7}; eval 100 shingles include
    # 'two three four five six' -> exactly 1 shared
    assert got == {(0, 100): 1}
    strict = TX.ngram_contamination(corpus, evalset, n=5, min_shared=2).count()
    assert strict == 0


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03)
# ---------------------------------------------------------------------------

def _py_winnow(text: str, k: int = 4, w: int = 4) -> list[str]:
    """Plain-Python reference: rolling k-gram md5 stream, min per w-window."""
    import hashlib

    toks = [t for t in text.lower().split() if t]
    kh = [
        hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()[:16]
        for i in range(len(toks) - k + 1)
    ]
    if not kh:
        return []
    wins = [min(kh[j:j + w]) for j in range(max(len(kh) - w + 1, 1))]
    return sorted(set(wins))


def test_winnow_profile_matches_python_reference(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "one two three"),                    # < k tokens -> no kgrams
        (2, "one two three four"),               # exactly k -> 1 kgram, m < w
        (3, "one two three four five six"),      # 3 kgrams, still m < w
        (4, None),                               # null doc
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in TX.winnow_profile(df).collect()}

    import hashlib

    for doc_id, text in rows:
        fps = _py_winnow(text) if text else []
        n_kgrams = max(len([t for t in (text or "").lower().split() if t]) - 3, 0)
        r = got[doc_id]
        assert r["n_kgrams"] == n_kgrams, doc_id
        assert r["n_fp"] == len(fps), doc_id
        expect_digest = (
            hashlib.md5(",".join(fps).encode()).hexdigest()[:16] if fps else None
        )
        assert r["fp_digest"] == expect_digest, doc_id


def test_winnow_locality_shared_passage_shares_fingerprint(spark):
    # Winnowing guarantee: any shared passage of >= w+k-1 tokens yields at
    # least one shared selected hash.  The two docs share a 7-token run
    # (w+k-1 = 7 at k=w=4) inside otherwise-distinct text.
    shared = "alpha beta gamma delta epsilon zeta eta"
    df = spark.createDataFrame(
        [
            (0, f"unrelated prefix words here {shared} and a tail"),
            (1, f"{shared} totally different continuation text follows now"),
            (2, "no overlap with anything else in this corpus at all"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in TX.winnow_pairs(df, min_shared=1, max_fp_freq=10).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 1
    assert all(2 not in p for p in pairs)


def test_winnow_pairs_frequency_cap_drops_boilerplate(spark):
    text = "the same boilerplate sentence repeated across every document here"
    df = spark.createDataFrame(
        [(i, text) for i in range(4)], "doc_id bigint, text string"
    )
    # every fingerprint appears in 4 docs: cap 3 kills all candidate pairs
    assert TX.winnow_pairs(df, min_shared=1, max_fp_freq=3).count() == 0
    # cap 4 admits them: all 6 unordered pairs share the full set
    got = TX.winnow_pairs(df, min_shared=1, max_fp_freq=4)
    assert got.count() == 6


def test_doc_repetition_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (0, "a b a b"),          # toks 4/2 distinct, bigrams 3/2, chars 4
            (1, "one two three"),    # 3/3, 2/2, chars 11
            (2, ""),                 # empty
            (3, None),               # null
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in TX.doc_repetition(df).collect()}
    assert tuple(got[0])[1:] == (4, 2, 3, 2, 4)
    assert tuple(got[1])[1:] == (3, 3, 2, 2, 11)
    assert tuple(got[2])[1:] == (0, 0, 0, 0, 0)
    assert tuple(got[3])[1:] == (0, 0, 0, 0, 0)


def test_doc_quality_rules_fire_matrix(spark):
    from valor_spark.plans.engine import validate

    rows = [
        # 20 distinct 4-char tokens: passes everything
        (0, " ".join(f"tok{i:02d}" for i in range(20))),
        (1, "short doc"),                      # < 15 tokens -> TooFewTokens
        # 20 tokens, 2 distinct -> repetition (also >= 15 tokens, so no
        # min_tokens row); mean chars = 1.5 -> WordsTooShort too
        (2, "a b " * 10),
        # 16 tokens of 12 chars -> mean 12 > 10 -> WordsTooLong
        (3, " ".join(f"verylongword{i:04d}" for i in range(16))),
    ]
    feats = TX.doc_repetition(
        spark.createDataFrame(rows, "doc_id bigint, text string")
    )
    got = {
        (r["doc_id"], r["error"])
        for r in validate(feats, TX.doc_quality_rules(), key_cols=["doc_id"])
        .violations()
        .collect()
    }
    assert got == {
        (1, "TooFewTokens"),
        (2, "TooRepetitive"),
        (2, "WordsTooShort"),
        (3, "WordsTooLong"),
    }


def test_tfidf_topk_hand_computed(spark):
    import math
    from decimal import Decimal, ROUND_HALF_UP

    df = spark.createDataFrame(
        [
            (0, "spark spark table"),     # tf: spark 2, table 1
            (1, "table table table sort"),
            (2, "spark sort"),
            (3, "nothing relevant here"),
        ],
        "doc_id bigint, text string",
    )
    got = [(r["doc_id"], r["score"], r["rank"])
           for r in TX.tfidf_topk(df, ["spark", "table", "sort"], k=3).collect()]

    def idf(dfreq, n=4):
        x = math.log((n + 1) / (dfreq + 1)) + 1
        return Decimal(str(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)

    # df: spark in {0,2}, table in {0,1}, sort in {1,2}
    i = {t: idf(2) for t in ("spark", "table", "sort")}
    want = {
        0: float(2 * i["spark"] + 1 * i["table"]),
        1: float(3 * i["table"] + 1 * i["sort"]),
        2: float(1 * i["spark"] + 1 * i["sort"]),
    }
    # doc 1 (3.528...) > doc 0 (3.528...)? compute the order from the values
    order = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == [(d, s, r + 1) for r, (d, s) in enumerate(order)]
    assert all(d != 3 for d, _, _ in got)


def test_image_dhash_resolution_invariant(spark):
    """The point of a perceptual hash: the same pattern at different
    resolutions collides; different patterns don't; undecodable payloads
    are excluded from groups."""
    from valor_spark.operators.multimodal import (
        dhash_hex, encode_bmp, image_dhash, image_dhash_groups,
    )

    def gradient(h, w):
        return np.tile(np.linspace(0, 255, h).astype(np.uint8)[:, None], (1, w))

    def checker(h, w):
        yy, xx = np.mgrid[0:h, 0:w]
        return ((yy + xx) % 2 * 255).astype(np.uint8)

    rows = [
        (0, encode_bmp(gradient(16, 12))),
        (1, encode_bmp(gradient(32, 24))),          # same pattern, 2x size
        (2, b"P5\n10 20\n255\n" + gradient(20, 10).tobytes()),  # PGM gradient
        (3, encode_bmp(checker(16, 12))),           # different pattern
        (4, b"JUNK-not-an-image"),                  # opaque
        (5, None),                                  # null
    ]
    df = spark.createDataFrame(rows, "id bigint, bytes binary")
    got = {r["id"]: r for r in image_dhash(df).collect()}
    assert got[0]["dhash"] == got[1]["dhash"] == got[2]["dhash"] is not None
    assert got[3]["dhash"] != got[0]["dhash"]
    assert got[4]["dhash"] is None and got[4]["format"] == "opaque"
    assert got[5]["error"] == "null_bytes"

    groups = {r["dhash"]: (r["n"], r["first_id"])
              for r in image_dhash_groups(df).collect()}
    assert groups == {got[0]["dhash"]: (3, 0)}

    # unit: dhash_hex matches a hand-rolled bit build on a tiny image
    img = np.stack([checker(8, 9)] * 1, axis=2)
    assert len(dhash_hex(img)) == 16


def test_docs_pipeline_stage_counts(spark):
    """End-to-end curation composition: quality filter drops the junk doc,
    winnow dedup drops the higher-id near-duplicate, sampling at fraction
    1.0 keeps the rest — per-source manifest counts verify each stage."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lamda mu nu xi omicron pi rho sigma tau upsilon"
    rows = [
        (0, base + " uniquely continued here", "srcA"),
        (1, base + " uniquely continued here today", "srcA"),  # near-dup of 0
        (2, "short junk", "srcA"),                             # fails min_tokens
        (3, " ".join(f"word{i:02d}" for i in range(30)), "srcB"),  # clean, no dup
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")

    from valor_spark.operators import sampling as SP
    from valor_spark.operators import text as TX
    from valor_spark.plans.engine import validate

    feats = TX.doc_repetition(docs)
    res = validate(feats, TX.doc_quality_rules(), key_cols=["doc_id"])
    qdocs = docs.join(res.valid().select("doc_id"), on="doc_id")
    pairs = TX.winnow_pairs(qdocs, min_shared=2)
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    deduped = qdocs.join(drop, on="doc_id", how="left_anti")
    sampled = SP.stratified_sample(
        deduped, "source", {"srcA": 1.0, "srcB": 1.0}, "doc_id"
    )

    assert {r["doc_id"] for r in qdocs.select("doc_id").collect()} == {0, 1, 3}
    assert {r["doc_id"] for r in deduped.select("doc_id").collect()} == {0, 3}
    assert {r["doc_id"] for r in sampled.select("doc_id").collect()} == {0, 3}
