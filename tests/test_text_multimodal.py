"""Text-curation + multimodal plumbing tests."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.operators import multimodal as M
from neo4j_to_clickhouse_spark.operators import text as TX

DOCS = [
    (1, "The cat and the dog sat in the garden, and it is warm."),
    (2, "Der Hund ist nicht klein und das Haus ist alt."),
    (3, "!!! ??? ### $$$ %%%"),
    (4, "  The   cat and the dog sat in the GARDEN, and it is warm. "),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_text_stats_schema_and_values(docs):
    rows = {r.doc_id: r for r in TX.text_stats(docs).collect()}
    assert rows[1].n_tokens == 13
    assert rows[1].detected_lang == "en"
    assert rows[2].detected_lang == "de"
    assert rows[3].detected_lang == "und"
    assert rows[3].punct_ratio > 0.5
    assert rows[1].quality > rows[3].quality


def test_fingerprint_canonicalizes_whitespace_and_case(docs):
    fp = {r.doc_id: r.fp for r in docs.select(
        "doc_id", TX.fingerprint("text").alias("fp")
    ).collect()}
    assert fp[1] == fp[4]  # reflow + case changes collapse
    assert fp[1] != fp[2]


def test_subword_estimate(spark):
    df = spark.createDataFrame([("x" * 40,)], ["text"])
    assert df.select(TX.subword_estimate("text").alias("e")).collect()[0].e == 10


def test_rolling_fingerprints_shape(docs):
    sigs = {r.id: r.signature for r in TX.rolling_fingerprints(docs, n=3, keep=4).collect()}
    assert all(len(s) <= 4 for s in sigs.values())
    assert sigs[1] != sigs[2]


# --- multimodal --------------------------------------------------------------


@pytest.fixture(scope="module")
def assets(spark, docs):
    binary = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return M.ingest_binary_assets(binary, "doc_id", "payload", modality="image")


def test_ingest_binary_assets_metadata(assets):
    rows = {r.asset_id: r for r in assets.collect()}
    assert rows["1"].n_bytes == len(DOCS[0][1].encode())
    assert rows["1"].sha256 == hashlib.sha256(DOCS[0][1].encode()).hexdigest()
    assert rows["1"].modality == "image"


def test_extract_features_deterministic(assets):
    out1 = {r.asset_id: r.feature for r in M.extract_features(assets, dim=8).collect()}
    out2 = {r.asset_id: r.feature for r in M.extract_features(assets, dim=8).collect()}
    assert out1 == out2
    assert all(len(v) == 8 for v in out1.values())
    assert all(0.0 <= x < 1.0 for v in out1.values() for x in v)


def test_extract_features_raise_stub_marks_codec_hole(assets):
    with pytest.raises(Exception) as err:
        M.extract_features(assets, decode_stub="raise").collect()
    assert "NotImplementedError" in str(err.value) or "codec" in str(err.value)


def test_resize_passthrough_stamps_dims(assets):
    out = M.resize_images(assets, 64, 48).collect()
    assert all(r.width == 64 and r.height == 48 for r in out)


def test_sample_frames_explodes_rows(assets):
    frames = M.sample_frames(assets, every_ms=1000).collect()
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r.asset_id, []).append(r)
    # every asset yields >=1 frame; frame indices are dense from 0
    for aid, rows in by_asset.items():
        idxs = sorted(r.frame_idx for r in rows)
        assert idxs == list(range(len(idxs)))
        assert all(len(r.payload) == 32 for r in rows)  # sha256 bytes


# --- real BMP / PPM codec path ----------------------------------------------


def _checker(h, w):
    """Deterministic test image: red/blue checkerboard."""
    import numpy as np

    px = np.zeros((h, w, 3), dtype=np.uint8)
    mask = (np.add.outer(np.arange(h), np.arange(w)) % 2).astype(bool)
    px[mask] = (255, 0, 0)
    px[~mask] = (0, 0, 255)
    return px


def _bmp(width, height, bpp, compression, body, palette=b"", masks=b""):
    import struct as _s

    hdr_size = 40
    data_off = 14 + hdr_size + len(masks) + len(palette)
    return (
        _s.pack("<2sIHHI", b"BM", data_off + len(body), 0, 0, data_off)
        + _s.pack(
            "<IiiHHIIiiII", hdr_size, width, height, 1, bpp, compression,
            len(body), 2835, 2835, len(palette) // 4, 0,
        )
        + masks
        + palette
        + body
    )


def test_bmp_palette_variants():
    """1/4/8-bit palette BMPs decode through the BGRX color table,
    bottom-up row order, rows padded to 4 bytes."""
    import numpy as np

    pal = bytes([0, 0, 200, 0]) + bytes([0, 200, 0, 0]) + bytes(
        [200, 0, 0, 0]
    ) + bytes([7, 7, 7, 0])  # BGRX: red, green, blue, gray entries
    RED, GREEN, BLUE = (200, 0, 0), (0, 200, 0), (0, 0, 200)
    # 8-bit 3x2: file rows bottom-up
    body = bytes([0, 1, 2, 0]) + bytes([2, 1, 0, 0])
    out = M.decode_image(_bmp(3, 2, 8, 0, body, pal))[1]
    assert np.array_equal(
        out, np.array([[BLUE, GREEN, RED], [RED, GREEN, BLUE]], np.uint8)
    )
    # 4-bit 3x1: nibbles high-first, padded to 4 bytes
    body = bytes([0x12, 0x00, 0x00, 0x00])
    out = M.decode_image(_bmp(3, 1, 4, 0, body, pal))[1]
    assert np.array_equal(out, np.array([[GREEN, BLUE, RED]], np.uint8))
    # 1-bit 10x1: MSB-first bits
    body = bytes([0b10110000, 0b01000000, 0, 0])
    out = M.decode_image(_bmp(10, 1, 1, 0, body, pal))[1]
    exp = [GREEN if b else RED for b in (1,0,1,1,0,0,0,0,0,1)]
    assert np.array_equal(out, np.array([exp], np.uint8))


def test_bmp_16_and_32_bit():
    import struct as _s

    import numpy as np

    # 32-bit BI_RGB, BGRX, 2x1 top-down (negative height)
    body = bytes([10, 20, 30, 0]) + bytes([40, 50, 60, 255])
    out = M.decode_image(_bmp(2, -1, 32, 0, body))[1]
    assert np.array_equal(out, np.array([[(30, 20, 10), (60, 50, 40)]], np.uint8))
    # 16-bit default 555: pure channels scale by bit replication
    v_r, v_g, v_b = 31 << 10, 31 << 5, 31
    body = _s.pack("<HH", v_r, v_b)
    out = M.decode_image(_bmp(2, 1, 16, 0, body))[1]
    assert np.array_equal(out, np.array([[(255, 0, 0), (0, 0, 255)]], np.uint8))
    # 16-bit BI_BITFIELDS 565
    masks = _s.pack("<III", 0xF800, 0x7E0, 0x1F)
    body = _s.pack("<HH", 63 << 5, 0xF800)
    out = M.decode_image(_bmp(2, 1, 16, 3, body, masks=masks))[1]
    assert np.array_equal(out, np.array([[(0, 255, 0), (255, 0, 0)]], np.uint8))
    # half-intensity 5-bit value 15 -> round(15*255/31) = 123
    body = _s.pack("<HH", 15 << 10, 0)
    out = M.decode_image(_bmp(2, 1, 16, 0, body))[1]
    assert tuple(out[0, 0]) == (123, 0, 0)


def test_bmp_rle8():
    import numpy as np

    pal = bytes([0, 0, 200, 0]) + bytes([0, 200, 0, 0]) + bytes(
        [200, 0, 0, 0]
    )
    RED, GREEN, BLUE = (200, 0, 0), (0, 200, 0), (0, 0, 200)
    # 4x3 bottom-up. File row 0 (bottom): run 4x GREEN; EOL. File
    # row 1: absolute-mode literals BLUE,RED,BLUE (count 3 + pad byte —
    # counts < 3 are the escape codes) then run 1x RED; EOL. File
    # row 2 (top): delta x+=2 (skipped pixels keep index 0 = RED) then
    # run 2x BLUE; end-of-bitmap.
    body = bytes(
        [4, 1, 0, 0]
        + [0, 3, 2, 0, 2, 0]
        + [1, 0]
        + [0, 0]
        + [0, 2, 2, 0]
        + [2, 2]
        + [0, 1]
    )
    out = M.decode_image(_bmp(4, 3, 8, 1, body, pal))[1]
    exp = np.array(
        [
            [RED, RED, BLUE, BLUE],       # top (file row 2): delta+run
            [BLUE, RED, BLUE, RED],       # middle: absolute BRB + run R
            [GREEN, GREEN, GREEN, GREEN],  # bottom: run
        ],
        np.uint8,
    )
    assert np.array_equal(out, exp)


def test_bmp_rejects_unsupported_variants():
    import struct as _s

    import pytest as _pytest

    from neo4j_to_clickhouse_spark.operators.multimodal import _decode_bmp

    with _pytest.raises(ValueError):
        _decode_bmp(_bmp(2, 1, 16, 3, b"\x00" * 4,
                         masks=_s.pack("<III", 1, 2, 3)))
    with _pytest.raises(ValueError):
        _decode_bmp(_bmp(2, 1, 2, 0, b"\x00" * 4))  # 2-bit depth
    with _pytest.raises(ValueError):
        _decode_bmp(_bmp(2, 1, 8, 5, b"\x00" * 4))  # unknown compression
    with _pytest.raises(ValueError):
        _decode_bmp(_bmp(2, 1, 24, 0, b"\x00"))  # truncated pixels
    # truncation sweep across a palette file never escapes ValueError
    pal = b"\x00\x00\x00\x00" * 4
    data = _bmp(3, 2, 8, 0, b"\x00\x01\x02\x00" * 2, pal)
    for cut in range(len(data)):
        assert M.decode_image(data[:cut]) is None or cut >= len(data)


def test_ima_adpcm_wav_decode_matches_audioop():
    """WAV format 0x11 (IMA/DVI ADPCM): our block decoder is bit-exact
    against the stdlib audioop reference codec (nibble order swapped:
    the WAV layout is low-nibble-first, audioop's is high-first)."""
    import struct as _s

    import numpy as np
    import pytest as _pytest

    audioop = _pytest.importorskip("audioop")  # removed in 3.13
    import warnings

    from neo4j_to_clickhouse_spark.operators.multimodal import (
        decode_wav,
        encode_wav_ima_adpcm,
    )

    rng = np.random.default_rng(1)
    pcm = (np.cumsum(rng.integers(-300, 300, 3000))).astype(np.int16)
    data = encode_wav_ima_adpcm(pcm, 8000, 256)
    rate, nch, mono = decode_wav(data)
    assert (rate, nch, len(mono)) == (8000, 1, 3000)
    # reference decode block by block via audioop, seeded from each
    # block header
    blocks = data[data.find(b"data") + 8 :]
    ref = []
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        for pos in range(0, len(blocks), 256):
            block = blocks[pos : pos + 256]
            pred, idx = _s.unpack_from("<hB", block)[:2]
            ref.append(pred)
            swapped = bytes(
                ((b & 0xF) << 4) | (b >> 4) for b in block[4:]
            )
            dec, _ = audioop.adpcm2lin(swapped, 2, (pred, idx))
            ref += list(np.frombuffer(dec, "<i2"))
    assert np.array_equal(np.array(ref[: len(mono)], np.int16), mono)
    # ADPCM tracks a smooth signal closely (4-bit residual)
    assert int(np.abs(mono.astype(int) - pcm.astype(int)).max()) < 2048


def test_ima_adpcm_wav_stereo_and_probe(spark):
    """Stereo blocks interleave 4-byte nibble groups per channel; the
    mono mix and the header-only duration probe both come out right."""
    import struct as _s

    import numpy as np

    from neo4j_to_clickhouse_spark.operators.multimodal import decode_wav

    # hand-built 1-block stereo file: both channels constant (all-zero
    # nibbles keep the predictor at the header value)
    block_align = 24  # 8 header bytes + 16 data bytes = 2 groups
    n_samples = (block_align - 8) * 2 // 2 + 1  # 17 per channel
    head = _s.pack("<hBB", 1000, 0, 0) + _s.pack("<hBB", -1000, 0, 0)
    # nibble 0 decodes to pred += step>>3 = 0 at index 0 (step 7)
    body = bytes(16)
    fmt = _s.pack(
        "<HHIIHHHH", 0x11, 2, 8000, 8000, block_align, 4, 2, n_samples
    )
    payload = (
        b"WAVEfmt " + _s.pack("<I", len(fmt)) + fmt
        + b"fact" + _s.pack("<II", 4, n_samples)
        + b"data" + _s.pack("<I", block_align) + head + body
    )
    data = b"RIFF" + _s.pack("<I", len(payload)) + payload
    rate, nch, mono = decode_wav(data)
    assert (rate, nch, len(mono)) == (8000, 2, n_samples)
    assert (mono == 0).all()  # (1000 + -1000) / 2
    # probe_assets duration via the fact chunk, no sample decode
    df = spark.createDataFrame(
        [("a", bytearray(data))], "asset_id string, payload binary"
    )
    assets = M.ingest_binary_assets(df, "asset_id", "payload", "audio")
    row = M.probe_assets(assets).collect()[0]
    assert row.duration_ms == int(n_samples * 1000 / 8000)
    # and the feature extractor treats it as REAL audio
    feat = M.extract_features(assets, dim=6, decode_stub="raise").collect()[0]
    assert len(feat.feature) == 6


def test_probe_image_dims_agrees_with_decode_everywhere():
    """The header-only probe must report exactly the dims the full
    decode produces, for every format the codec layer handles — the
    probe is what runs at 100 TB, so disagreement would poison the
    metadata columns."""
    import struct

    import numpy as np

    from neo4j_to_clickhouse_spark.operators import heif
    from neo4j_to_clickhouse_spark.operators.gif import (
        encode_gif,
        encode_gif_animation,
    )
    from neo4j_to_clickhouse_spark.operators.jpeg import encode_jpeg_flat
    from neo4j_to_clickhouse_spark.operators.png import encode_apng, encode_png
    from neo4j_to_clickhouse_spark.operators.vp8l import (
        encode_webp,
        encode_webp_animation,
    )

    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 5, (21, 13, 1), dtype=np.uint8).repeat(3, 2) * 50
    payloads = [
        M.encode_bmp(rgb),
        M.encode_ppm(rgb),
        encode_png(rgb),
        encode_gif(rgb),
        encode_webp(rgb),
        encode_jpeg_flat(13, 21, (90, 40, 10)),
        encode_gif_animation([{"pixels": rgb}], screen=(13, 21)),
        encode_apng(
            [{"pixels": rgb}, {"pixels": rgb}], canvas=(13, 21)
        ),
        encode_webp_animation(
            [{"pixels": rgb}, {"pixels": rgb}], canvas=(13, 21)
        ),
    ]
    if heif.available():
        payloads.append(heif.encode_heif(rgb, codec="av1"))
        payloads.append(heif.encode_heif(rgb, codec="hevc"))
    for p in payloads:
        decoded = M.decode_image(p)
        assert decoded is not None, p[:12]
        h, w = decoded[1].shape[:2]
        assert M.probe_image_dims(p) == (w, h), p[:12]
    # TIFF and lossy WebP are probed, never decoded: header-only
    # payloads (TIFF IFDs in both byte orders with SHORT and LONG dims,
    # a VP8 keyframe header) must report the dims they state
    ifd_le = struct.pack("<HHHIHHHHII", 2, 256, 3, 1, 13, 0, 257, 4, 1, 21)
    ifd_be = struct.pack(">HHHIIHHIHH", 2, 256, 4, 1, 13, 257, 3, 1, 21, 0)
    vp8 = b"\x00\x00\x00\x9d\x01\x2a" + struct.pack("<HH", 13, 21)
    probe_only = [
        b"II*\x00" + struct.pack("<I", 8) + ifd_le + bytes(4),
        b"MM\x00*" + struct.pack(">I", 8) + ifd_be + bytes(4),
        b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8)) + b"WEBP"
        + b"VP8 " + struct.pack("<I", len(vp8)) + vp8,
    ]
    for p in probe_only:
        assert M.decode_image(p) is None, p[:12]
        assert M.probe_image_dims(p) == (13, 21), p[:12]
    # unknowns and truncations return None, never raise
    assert M.probe_image_dims(b"\x00" * 64) is None
    for p in payloads + probe_only:
        for cut in range(0, min(len(p), 64)):
            M.probe_image_dims(p[:cut])


def test_pgm_p5_grayscale_decodes():
    import numpy as np

    g = np.arange(5 * 7, dtype=np.uint8).reshape(5, 7)
    data = b"P5\n# comment\n7 5\n255\n" + g.tobytes()
    fmt, px = M.decode_image(data)
    assert fmt == "ppm" and px.shape == (5, 7, 3)
    assert np.array_equal(px[..., 0], g)
    assert np.array_equal(px[..., 1], px[..., 2])
    assert M.probe_image_dims(data) == (7, 5)
    # truncated pixel data rejects
    assert M.decode_image(data[:-3]) is None
    # 16-bit maxval rejects (stub fallback)
    assert M.decode_image(b"P5\n2 2\n65535\n" + b"\x00" * 8) is None


def test_bmp_ppm_codec_roundtrip():
    """Pure codec check, no Spark: decode(encode(x)) == x for both
    formats, including BMP's padded odd-width rows."""
    import numpy as np

    for w in (4, 5):  # 5 exercises BMP row padding
        px = _checker(3, w)
        for enc in (M.encode_bmp, M.encode_ppm):
            fmt, back = M.decode_image(enc(px))
            assert back.shape == (3, w, 3)
            assert np.array_equal(back, px), (enc.__name__, w)


def test_extract_features_decodes_real_bmp(spark):
    """A genuine BMP payload must produce PIXEL-derived features (channel
    means/stds), not the payload-hash fake."""
    import numpy as np

    px = np.full((4, 6, 3), 0, dtype=np.uint8)
    px[:, :, 0] = 200  # solid (200, 0, 0)
    bmp = M.encode_bmp(px)
    binary = spark.createDataFrame(
        [("img1", bytearray(bmp))], "doc_id string, payload binary"
    )
    assets = M.ingest_binary_assets(binary, "doc_id", "payload", "image")
    feat = M.extract_features(assets, dim=8).collect()[0].feature
    assert abs(feat[0] - 200 / 256) < 1e-6  # mean R
    assert feat[1] == 0.0 and feat[2] == 0.0  # mean G/B
    assert feat[3] == 0.0  # std R (solid color)
    # decodable payloads must NOT raise even in 'raise' mode — the codec
    # hole is only for formats the stdlib decoder cannot handle
    feat2 = (
        M.extract_features(assets, dim=8, decode_stub="raise")
        .collect()[0]
        .feature
    )
    assert feat2 == feat


def test_wav_codec_and_audio_features(spark):
    """A PCM WAV payload must yield REAL audio features (duration, RMS,
    zero-crossings), not the payload-hash fake, and survive 'raise'."""
    import numpy as np

    rate = 8000
    t = np.arange(rate)  # 1 second
    tone = (10000 * np.sin(2 * np.pi * 440 * t / rate)).astype(np.int16)
    wav = M.encode_wav(tone, sample_rate=rate)
    got = M.decode_wav(wav)
    assert got is not None and got[0] == rate
    assert np.array_equal(got[2], tone)
    binary = spark.createDataFrame(
        [("aud1", bytearray(wav))], "doc_id string, payload binary"
    )
    assets = M.ingest_binary_assets(binary, "doc_id", "payload", "audio")
    feat = (
        M.extract_features(assets, dim=8, decode_stub="raise")
        .collect()[0]
        .feature
    )
    # duration: 1s of 60s cap; RMS of a 10000-amp sine ~ 0.2157
    assert abs(feat[0] - (1.0 / 60.0) * (255 / 256)) < 1e-6
    assert abs(feat[1] - (10000 / 32768) / (2**0.5) * (255 / 256)) < 2e-3
    assert feat[2] > 0  # a 440 Hz tone crosses zero


def test_probe_assets_fills_metadata(spark):
    import numpy as np

    px = _checker(6, 4)
    tone = (1000 * np.ones(4000)).astype(np.int16)  # 0.5 s at 8 kHz
    binary = spark.createDataFrame(
        [
            ("img", bytearray(M.encode_bmp(px))),
            ("aud", bytearray(M.encode_wav(tone, sample_rate=8000))),
            ("opaque", bytearray(b"\x00\x01\x02")),
        ],
        "doc_id string, payload binary",
    )
    assets = M.ingest_binary_assets(binary, "doc_id", "payload", "mixed")
    rows = {r.asset_id: r for r in M.probe_assets(assets).collect()}
    assert (rows["img"].width, rows["img"].height) == (4, 6)
    assert rows["img"].duration_ms is None
    assert rows["aud"].duration_ms == 500
    assert rows["aud"].width is None
    assert rows["opaque"].width is None and rows["opaque"].duration_ms is None
    # schema unchanged: probe output is the asset layout itself
    assert rows["img"].sha256 == assets.filter(
        "asset_id = 'img'"
    ).collect()[0].sha256


def test_resize_really_resizes_bmp_and_ppm(spark):
    import numpy as np

    px = _checker(8, 8)
    binary = spark.createDataFrame(
        [("b", bytearray(M.encode_bmp(px))), ("p", bytearray(M.encode_ppm(px)))],
        "doc_id string, payload binary",
    )
    assets = M.ingest_binary_assets(binary, "doc_id", "payload", "image")
    out = {r.asset_id: r for r in M.resize_images(assets, 4, 2).collect()}
    for aid, fmt in (("b", "bmp"), ("p", "ppm")):
        got_fmt, back = M.decode_image(bytes(out[aid].payload))
        assert got_fmt == fmt  # re-encoded in its own format
        assert back.shape == (2, 4, 3)
        # nearest-neighbor of a 2x-downscale samples every other pixel
        assert np.array_equal(back, px[::4][:, ::2])


# --- baseline JPEG codec path ------------------------------------------------


def _jpeg_expected(rgb):
    """RGB after the lossless-for-flat-blocks JPEG trip: YCbCr rounding is
    the only distortion (all-ones quant tables, DC-only blocks)."""
    r, g, b = rgb
    y = round(0.299 * r + 0.587 * g + 0.114 * b)
    cb = round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)
    cr = round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)
    clip = lambda v: min(max(round(v), 0), 255)  # noqa: E731
    return (
        clip(y + 1.402 * (cr - 128)),
        clip(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
        clip(y + 1.772 * (cb - 128)),
    )


def test_jpeg_codec_roundtrip():
    """Pure codec check, no Spark: flat-block encode -> T.81 decode is
    exact modulo YCbCr rounding, across subsampling modes, non-multiple-
    of-8 dimensions, and restart intervals."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import jpeg as J

    for sub in ((1, 1), (2, 2), (2, 1)):
        for ri in (0, 2):
            for color in ((255, 0, 0), (40, 200, 90), (128, 128, 128)):
                buf = J.encode_jpeg_flat(
                    20, 13, color, subsampling=sub, restart_interval=ri
                )
                fmt, img = M.decode_image(buf)
                assert fmt == "jpeg"
                assert img.shape == (13, 20, 3)
                assert (img == img[0, 0]).all(), "flat image must be uniform"
                got = tuple(int(v) for v in img[0, 0])
                exp = _jpeg_expected(color)
                assert max(abs(a - b) for a, b in zip(got, exp)) <= 1, (
                    sub, ri, color, got, exp,
                )


def test_jpeg_rejects_non_baseline():
    """Progressive / truncated / garbage streams raise ValueError from the
    codec and map to None (stub fallback) in decode_image."""
    import pytest

    from neo4j_to_clickhouse_spark.operators import jpeg as J

    buf = J.encode_jpeg_flat(16, 16, (10, 20, 30))
    # SOF3 (lossless) and SOF9/SOF10 (arithmetic-coded) are rejected
    for sof in (0xC3, 0xC9, 0xCA):
        other = bytearray(buf)
        other[other.find(b"\xff\xc0") + 1] = sof
        with pytest.raises(ValueError, match="SOF"):
            J.decode_jpeg(bytes(other))
        assert M.decode_image(bytes(other)) is None
    # SOF2 is now DECODED — but a sequential scan header (Se=63) inside
    # a progressive frame is malformed and must still ValueError
    prog = bytearray(buf)
    prog[prog.find(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(prog))
    assert M.decode_image(bytes(prog)) is None
    for cut in (10, len(buf) // 2, len(buf) - 3):
        with pytest.raises(ValueError):
            J.decode_jpeg(buf[:cut])
    with pytest.raises(ValueError):
        J.decode_jpeg(b"\xff\xd8\xff\xd8junkjunk")
    assert M.decode_image(b"\xff\xd8 nope") is None


def test_jpeg_truncated_multiscan_raises_valueerror():
    """A single-component scan is now DECODED (non-interleaved layout);
    a stream that ends before every component has had its scan must
    still raise ValueError — never KeyError or a silent partial image —
    so decode_image maps it to the stub fallback (ADVICE r05)."""
    import pytest

    from neo4j_to_clickhouse_spark.operators import jpeg as J

    buf = J.encode_jpeg_flat(8, 8, (10, 20, 30))
    i = buf.index(b"\xff\xda")
    seglen = int.from_bytes(buf[i + 2 : i + 4], "big")
    body = buf[i + 4 : i + 2 + seglen]
    ns = body[0]
    assert ns == 3
    # rewrite the scan header to list ONLY component 1: the entropy
    # stream still interleaves all three, so the lone scan either
    # desyncs (ValueError) or decodes and then hits EOI with two
    # components never scanned (ValueError) — asserted both paths
    new_body = bytes([1]) + body[1:3] + body[1 + 2 * ns :]
    new_seg = b"\xff\xda" + (len(new_body) + 2).to_bytes(2, "big") + new_body
    mutated = buf[:i] + new_seg + buf[i + 2 + seglen :]
    with pytest.raises(ValueError):
        J.decode_jpeg(mutated)
    assert M.decode_image(mutated) is None


def test_jpeg_multiscan_equals_interleaved():
    """The T.81 A.2.2 non-interleaved layout (one scan per component)
    must decode pixel-identical to the interleaved form, across
    subsampling modes, non-multiple-of-8 geometries, and restart
    intervals inside single-component scans."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import jpeg as J

    for sub in [(1, 1), (2, 2), (2, 1)]:
        for wh in [(8, 8), (20, 12), (17, 9)]:
            a = M.decode_image(
                J.encode_jpeg_flat(*wh, (200, 30, 90), subsampling=sub)
            )
            b = M.decode_image(
                J.encode_jpeg_flat(
                    *wh, (200, 30, 90), subsampling=sub, multiscan=True
                )
            )
            assert a[0] == b[0] == "jpeg"
            assert np.array_equal(a[1], b[1]), (sub, wh)
    withr = J.encode_jpeg_flat(
        40, 24, (10, 180, 60), subsampling=(2, 2),
        multiscan=True, restart_interval=2,
    )
    plain = J.encode_jpeg_flat(40, 24, (10, 180, 60), subsampling=(2, 2))
    assert np.array_equal(
        M.decode_image(withr)[1], M.decode_image(plain)[1]
    )


def test_jpeg_fill_bytes_and_standalone_markers_tolerated():
    """T.81 allows 0xFF fill bytes before a marker and length-less
    standalone markers (TEM); both must parse, not ValueError
    (ADVICE r05)."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import jpeg as J

    buf = J.encode_jpeg_flat(8, 8, (44, 55, 66))
    base = J.decode_jpeg(buf)
    # two fill bytes before the first post-SOI marker
    filled = buf[:2] + b"\xff\xff" + buf[2:]
    np.testing.assert_array_equal(J.decode_jpeg(filled), base)
    # a standalone TEM marker between segments
    tem = buf[:2] + b"\xff\x01" + buf[2:]
    np.testing.assert_array_equal(J.decode_jpeg(tem), base)


def test_pillow_fast_path_maps_errors_to_valueerror(monkeypatch):
    """With Pillow importable, a corrupt payload must surface as the
    contract ValueError (stub fallback), not an executor-killing
    OSError/UnidentifiedImageError (ADVICE r05)."""
    import sys
    import types

    import pytest

    class _FakeImage:
        @staticmethod
        def open(fp):
            raise OSError("cannot identify image file")

    pil = types.ModuleType("PIL")
    pil.Image = _FakeImage
    monkeypatch.setitem(sys.modules, "PIL", pil)
    with pytest.raises(ValueError, match="Pillow failed"):
        M._decode_jpeg_any(b"\xff\xd8 nope")
    assert M.decode_image(b"\xff\xd8 nope") is None


def test_extract_features_decodes_real_jpeg(spark):
    """A baseline JPEG payload must produce PIXEL-derived features and
    survive decode_stub='raise' — the codec hole no longer covers it."""
    from neo4j_to_clickhouse_spark.operators import jpeg as J

    jpg = J.encode_jpeg_flat(24, 16, (200, 0, 0), subsampling=(2, 2))
    exp = _jpeg_expected((200, 0, 0))
    binary = spark.createDataFrame(
        [("j1", bytearray(jpg))], "doc_id string, payload binary"
    )
    assets = M.ingest_binary_assets(binary, "doc_id", "payload", "image")
    feat = (
        M.extract_features(assets, dim=8, decode_stub="raise")
        .collect()[0]
        .feature
    )
    for i in range(3):  # channel means of a solid color
        assert abs(feat[i] - exp[i] / 256) < 1e-6, (i, feat[i], exp[i])
    assert feat[3] == 0.0  # std R of a solid color


def test_probe_and_resize_handle_jpeg(spark):
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import jpeg as J

    jpg = J.encode_jpeg_flat(20, 12, (0, 128, 255))
    binary = spark.createDataFrame(
        [("j", bytearray(jpg))], "doc_id string, payload binary"
    )
    assets = M.ingest_binary_assets(binary, "doc_id", "payload", "image")
    probed = M.probe_assets(assets).collect()[0]
    assert (probed.width, probed.height) == (20, 12)
    out = M.resize_images(assets, 5, 3).collect()[0]
    fmt, back = M.decode_image(bytes(out.payload))
    assert fmt == "ppm"  # lossless re-encode (no general JPEG encoder)
    assert back.shape == (3, 5, 3)
    exp = _jpeg_expected((0, 128, 255))
    assert np.all(np.abs(back.astype(int) - exp) <= 1)


# --- PNG codec path ----------------------------------------------------------


def _png_raw(w, h, depth, color, rows_with_filters, palette=None):
    """Handcraft a PNG from pre-filtered scanline bytes (test helper)."""
    import struct
    import zlib

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    out = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    )
    if palette is not None:
        out += chunk(b"PLTE", bytes(palette))
    body = b"".join(bytes([f]) + bytes(r) for f, r in rows_with_filters)
    return out + chunk(b"IDAT", zlib.compress(body)) + chunk(b"IEND", b"")


def test_png_roundtrip_lossless():
    """encode_png -> decode_png is byte-identical for arbitrary RGB."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import png as P

    rng = np.random.default_rng(7)
    for w, h in ((1, 1), (5, 3), (16, 16)):
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        fmt, back = M.decode_image(P.encode_png(px))
        assert fmt == "png"
        assert np.array_equal(back, px), (w, h)


def test_png_all_filters_decode():
    """Sub/Up/Average/Paeth-filtered rows reconstruct the original pixels
    (reference filterer inlined here, decoder under test)."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import png as P

    rng = np.random.default_rng(11)
    w, h, ch = 6, 5, 3
    px = rng.integers(0, 256, (h, w * ch), dtype=np.uint8).astype(int)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else b if pb <= pc else c

    rows = []
    for y, f in zip(range(h), (0, 1, 2, 3, 4)):
        row, filtered = px[y], []
        prev = px[y - 1] if y else np.zeros(w * ch, int)
        for i in range(w * ch):
            a = row[i - ch] if i >= ch else 0
            b, c = prev[i], (prev[i - ch] if i >= ch else 0)
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2, 4: paeth(a, b, c)}[f]
            filtered.append((row[i] - pred) % 256)
        rows.append((f, filtered))
    buf = _png_raw(w, h, 8, 2, rows)
    back = P.decode_png(buf)
    assert np.array_equal(back, px.astype(np.uint8).reshape(h, w, ch))


def test_png_color_types_expand_to_rgb():
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import png as P

    # grayscale (type 0): value replicated across channels
    g = P.decode_png(_png_raw(2, 1, 8, 0, [(0, [10, 200])]))
    assert np.array_equal(g, [[[10, 10, 10], [200, 200, 200]]])
    # palette (type 3)
    pal = [255, 0, 0, 0, 255, 0]  # idx0=red idx1=green
    p = P.decode_png(_png_raw(2, 1, 8, 3, [(0, [1, 0])], palette=pal))
    assert np.array_equal(p, [[[0, 255, 0], [255, 0, 0]]])
    # RGBA (type 6): alpha dropped
    a = P.decode_png(_png_raw(1, 1, 8, 6, [(0, [9, 8, 7, 128])]))
    assert np.array_equal(a, [[[9, 8, 7]]])
    # gray+alpha (type 4)
    ga = P.decode_png(_png_raw(1, 1, 8, 4, [(0, [77, 1])]))
    assert np.array_equal(ga, [[[77, 77, 77]]])


def test_png_rejects_unsupported():
    import pytest

    from neo4j_to_clickhouse_spark.operators import png as P

    with pytest.raises(ValueError, match="illegal"):
        P.decode_png(_png_raw(1, 1, 3, 2, [(0, [0] * 6)]))
    with pytest.raises(ValueError):
        P.decode_png(b"\x89PNG\r\n\x1a\x0a truncated")
    assert M.decode_image(b"\x89PNG\r\n\x1a\n junk") is None


def test_apng_composition_closed_form():
    """APNG compose semantics, hand-written expected canvases: blend
    SOURCE replaces (transparency copies through), blend OVER skips
    transparent pixels, dispose 1 clears the region, dispose 2
    restores the pre-frame canvas (and downgrades to 1 on frame 1)."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators.png import (
        decode_apng_frames,
        encode_apng,
        is_apng,
    )

    RED, GREEN = (200, 0, 0, 255), (0, 200, 0, 255)
    base = np.zeros((8, 8, 4), np.uint8)
    base[:] = RED
    patch = np.zeros((4, 4, 4), np.uint8)
    patch[:] = GREEN
    ghost = patch.copy()
    ghost[2:, :] = 0  # transparent bottom half
    data = encode_apng(
        [
            {"pixels": base, "delay_ms": 100},
            {"pixels": ghost, "x": 2, "y": 2, "delay_ms": 150,
             "blend": 1, "dispose": 2},
            {"pixels": ghost, "x": 4, "y": 4, "delay_ms": 200,
             "blend": 0, "dispose": 1},
            {"pixels": patch, "delay_ms": 250},
        ],
        canvas=(8, 8),
    )
    assert is_apng(data)
    delays, frames = decode_apng_frames(data)
    assert delays == [100, 150, 200, 250]
    exp1 = base.copy()
    assert np.array_equal(frames[0], exp1)
    exp2 = exp1.copy()
    exp2[2:4, 2:6] = GREEN  # OVER: only the opaque half lands
    assert np.array_equal(frames[1], exp2)
    # dispose 2 on frame 2 restored frame 1's canvas; SOURCE copies
    # the transparent half through
    exp3 = exp1.copy()
    exp3[4:8, 4:8] = ghost
    assert np.array_equal(frames[2], exp3)
    # dispose 1 cleared frame 3's region to transparent black
    exp4 = exp1.copy()
    exp4[4:8, 4:8] = 0
    exp4[0:4, 0:4] = GREEN
    assert np.array_equal(frames[3], exp4)


def test_apng_idat_is_cover_and_static_decoders_work():
    import numpy as np

    from neo4j_to_clickhouse_spark.operators.png import (
        apng_frame_delays,
        decode_apng_frames,
        decode_png,
        encode_apng,
    )

    rng = np.random.default_rng(6)
    first = rng.integers(0, 256, (5, 9, 3), dtype=np.uint8)
    data = encode_apng(
        [{"pixels": first, "delay_ms": 40},
         {"pixels": np.zeros((5, 9, 3), np.uint8), "delay_ms": 60}],
        canvas=(9, 5),
    )
    # static decoders read the IDAT (= frame 1) unchanged
    assert np.array_equal(decode_png(data), first)
    assert apng_frame_delays(data) == [40, 60]
    _, frames = decode_apng_frames(data)
    assert np.array_equal(frames[0][..., :3], first)
    assert (frames[0][..., 3] == 255).all()


def test_apng_rejects_malformed():
    import pytest as _pytest

    from neo4j_to_clickhouse_spark.operators.png import (
        apng_frame_delays,
        decode_apng_frames,
        encode_png,
        is_apng,
    )
    import numpy as np

    plain = encode_png(np.zeros((4, 4, 3), np.uint8))
    assert not is_apng(plain)
    with _pytest.raises(ValueError):
        decode_apng_frames(plain)
    with _pytest.raises(ValueError):
        apng_frame_delays(plain)


def test_apng_frame_delays_stop_at_truncated_fctl():
    """A payload cut inside an fcTL header yields the delays before it
    instead of a struct.error that would fail the probe_assets task."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators.png import (
        apng_frame_delays,
        encode_apng,
    )

    px = np.zeros((5, 9, 3), np.uint8)
    data = encode_apng(
        [{"pixels": px, "delay_ms": 40}, {"pixels": px, "delay_ms": 60}],
        canvas=(9, 5),
    )
    second = data.index(b"fcTL", data.index(b"fcTL") + 4) - 4
    for cut in range(second + 8, second + 32):  # inside the 2nd fcTL body
        assert apng_frame_delays(data[:cut]) == [40], cut
    assert apng_frame_delays(data[: second + 32]) == [40, 60]


def test_apng_trns_palette_alpha_roundtrip():
    """decode_png_rgba honors tRNS on palette images — the alpha lane
    the APNG composer relies on."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    from neo4j_to_clickhouse_spark.operators.png import (
        _png_chunk,
        decode_png_rgba,
    )

    # 2x2 palette image: indices [[0,1],[1,0]], entry 0 transparent
    raw = b"\x00\x00\x01" + b"\x00\x01\x00"
    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", bytes([10, 10, 10, 200, 200, 200]))
        + _png_chunk(b"tRNS", bytes([0]))
        + _png_chunk(b"IDAT", _zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    rgba = decode_png_rgba(data)
    assert rgba.shape == (2, 2, 4)
    assert rgba[0, 0, 3] == 0 and rgba[0, 1, 3] == 255
    assert tuple(rgba[0, 1, :3]) == (200, 200, 200)


def test_extract_video_frames_apng(spark):
    import numpy as np

    from neo4j_to_clickhouse_spark.operators.png import encode_apng

    frames = [
        {"pixels": np.full((6, 6, 3), (25 * i, 3, 0), np.uint8),
         "delay_ms": 150}
        for i in range(1, 4)
    ]
    data = encode_apng(frames, canvas=(6, 6))
    df = spark.createDataFrame(
        [("p", bytearray(data))], "asset_id string, payload binary"
    )
    rows = M.extract_video_frames(df, every_ms=150, decode_stub="raise").collect()
    assert [(r.frame_idx, r.frame_ms) for r in rows] == [
        (0, 0), (1, 150), (2, 300),
    ]
    for i, r in enumerate(rows, start=1):
        fmt, px = M.decode_image(bytes(r.frame))
        assert fmt == "ppm"
        assert np.array_equal(px, np.full((6, 6, 3), (25 * i, 3, 0), np.uint8))
    # probe fills total duration from the fcTL walk
    assets = M.ingest_binary_assets(df, "asset_id", "payload", "video")
    probe = M.probe_assets(assets).collect()[0]
    assert probe.duration_ms == 450
    assert (probe.width, probe.height) == (6, 6)


def test_png_adam7_interlace_decodes():
    """An Adam7 stream (each pass its own filter-0 sub-image) decodes
    to the same pixels as the straight form — including a 1x1 image,
    whose interlaced layout is byte-identical to non-interlaced."""
    import struct as _s
    import zlib as _z

    import numpy as np

    from neo4j_to_clickhouse_spark.operators import png as P

    rng = np.random.default_rng(5)
    for w, h in [(1, 1), (3, 2), (8, 8), (13, 11)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        passes = []
        for x0, y0, dx, dy in P._ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            for row in sub:
                passes.append(b"\x00" + row.tobytes())
        body = b"".join(passes)

        def chunk(ctype, data):
            crc = _z.crc32(ctype + data) & 0xFFFFFFFF
            return (
                _s.pack(">I", len(data)) + ctype + data
                + _s.pack(">I", crc)
            )

        buf = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
            + chunk(b"IDAT", _z.compress(body))
            + chunk(b"IEND", b"")
        )
        assert np.array_equal(P.decode_png(buf), px), (w, h)


def test_probe_and_resize_handle_png(spark):
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import png as P

    px = _checker(8, 8)
    binary = spark.createDataFrame(
        [("g", bytearray(P.encode_png(px)))], "doc_id string, payload binary"
    )
    assets = M.ingest_binary_assets(binary, "doc_id", "payload", "image")
    probed = M.probe_assets(assets).collect()[0]
    assert (probed.width, probed.height) == (8, 8)
    out = M.resize_images(assets, 4, 2, decode_stub="raise").collect()[0]
    fmt, back = M.decode_image(bytes(out.payload))
    assert fmt == "png"  # re-encoded in its own format
    assert np.array_equal(back, px[::4][:, ::2])


# --- MJPEG/AVI video path ----------------------------------------------------


def test_avi_mjpeg_roundtrip_and_probe():
    from neo4j_to_clickhouse_spark.operators import avi as V
    from neo4j_to_clickhouse_spark.operators import jpeg as J

    frames = [
        J.encode_jpeg_flat(16, 8, (10 * i, 0, 255 - 10 * i)) for i in range(5)
    ]
    buf = V.encode_avi_mjpeg(frames, fps=10)  # 100 ms per frame, 500 ms total
    period, got = V.parse_avi_mjpeg(buf)
    assert period == 100 and got == frames
    assert V.probe_avi(buf) == (5, 500)
    assert V.probe_avi(b"RIFF\x04\x00\x00\x00AVI ") is None
    import pytest

    with pytest.raises(ValueError):
        V.parse_avi_mjpeg(b"not an avi")


def test_probe_assets_fills_avi_duration(spark):
    from neo4j_to_clickhouse_spark.operators import avi as V
    from neo4j_to_clickhouse_spark.operators import jpeg as J

    buf = V.encode_avi_mjpeg(
        [J.encode_jpeg_flat(8, 8, (1, 2, 3))] * 4, fps=2
    )  # 500 ms per frame -> 2000 ms
    binary = spark.createDataFrame(
        [("v", bytearray(buf))], "doc_id string, payload binary"
    )
    assets = M.ingest_binary_assets(binary, "doc_id", "payload", "video")
    probed = M.probe_assets(assets).collect()[0]
    assert probed.duration_ms == 2000
    assert probed.width is None  # container probe; frame dims via sampling


def test_sample_frames_real_mjpeg_avi(spark):
    """AVI assets sample REAL container frames (decodable JPEGs at the
    right timestamps); non-AVI assets still take the fake path, and
    'raise' mode no longer rejects a decodable video."""
    from neo4j_to_clickhouse_spark.operators import avi as V
    from neo4j_to_clickhouse_spark.operators import jpeg as J

    colors = [(200, 0, 0), (0, 200, 0), (0, 0, 200), (99, 99, 99)]
    frames = [J.encode_jpeg_flat(8, 8, c) for c in colors]
    buf = V.encode_avi_mjpeg(frames, fps=10)  # 100 ms/frame, 400 ms total
    binary = spark.createDataFrame(
        [("v", bytearray(buf))], "doc_id string, payload binary"
    )
    assets = M.ingest_binary_assets(binary, "doc_id", "payload", "video")
    # a decodable MJPEG video must survive 'raise' mode — the codec hole
    # is only for formats the container parser cannot handle
    rows = M.sample_frames(assets, every_ms=200, decode_stub="raise")
    vid = {
        (r.frame_idx, r.frame_ms): bytes(r.payload) for r in rows.collect()
    }
    assert set(vid) == {(0, 0), (2, 200)}  # ticks at 0 and 200 ms
    for (idx, _), payload in vid.items():
        fmt, px = M.decode_image(payload)
        assert fmt == "jpeg"
        exp = _jpeg_expected(colors[idx])
        assert max(abs(int(a) - b) for a, b in zip(px[0, 0], exp)) <= 1
    # fake path intact for an opaque asset in the same (default) mode
    mixed = spark.createDataFrame(
        [("v", bytearray(buf)), ("blob", bytearray(b"\x00" * 2048))],
        "doc_id string, payload binary",
    )
    both = M.sample_frames(
        M.ingest_binary_assets(mixed, "doc_id", "payload", "video"),
        every_ms=1000,
    ).collect()
    fake = [r for r in both if r.asset_id == "blob"]
    assert len(fake) == 3  # 2048 bytes -> fake 2048 ms -> ceil(2048/1000)
    assert sum(r.asset_id == "v" for r in both) == 1  # 400 ms -> one tick


# --- codec robustness: untrusted bytes must never escape ValueError ----------


def test_codecs_never_crash_on_fuzzed_bytes():
    """Decoders run executor-side on untrusted corpus payloads: any input
    must either decode or raise ValueError — never IndexError/struct.error
    /infinite loop — and decode_image must map failures to None."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neo4j_to_clickhouse_spark.operators import avi as V
    from neo4j_to_clickhouse_spark.operators import jpeg as J
    from neo4j_to_clickhouse_spark.operators import png as P

    @settings(max_examples=300, deadline=None)
    @given(
        prefix=st.sampled_from(
            [b"", b"\xff\xd8", b"\x89PNG\r\n\x1a\n", b"BM", b"P6",
             b"RIFF", b"RIFFxxxxAVI "]
        ),
        junk=st.binary(max_size=512),
    )
    def run(prefix, junk):
        payload = prefix + junk
        for dec in (J.decode_jpeg, P.decode_png, V.parse_avi_mjpeg):
            try:
                dec(payload)
            except ValueError:
                pass
        out = M.decode_image(payload)
        assert out is None or out[1].ndim == 3

    run()


def test_codecs_reject_every_truncation():
    """Every strict prefix of a valid payload decodes or raises ValueError
    — no other exception class, across all three codecs."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import avi as V
    from neo4j_to_clickhouse_spark.operators import jpeg as J
    from neo4j_to_clickhouse_spark.operators import png as P

    jpg = J.encode_jpeg_flat(16, 16, (9, 99, 199), subsampling=(2, 2))
    png = P.encode_png(_checker(7, 5))
    avi = V.encode_avi_mjpeg([J.encode_jpeg_flat(8, 8, (1, 2, 3))] * 2)
    for buf, dec in ((jpg, J.decode_jpeg), (png, P.decode_png),
                     (avi, V.parse_avi_mjpeg)):
        for cut in range(len(buf)):
            try:
                dec(buf[:cut])
            except ValueError:
                pass
        # full payload still decodes after the truncation sweep
        assert dec(bytes(buf)) is not None


# --- GIF codec (operators/gif.py) ------------------------------------------

def _gif_raw(sw, sh, palette, frames):
    """Hand-assemble a GIF89a container: `palette` is a list of RGB
    tuples (power-of-two length), `frames` a list of
    (left, top, w, h, interlace, indices_row_major_in_STORED_order)."""
    import struct as _s

    from neo4j_to_clickhouse_spark.operators.gif import _lzw_encode

    bits = max((len(palette) - 1).bit_length(), 1)
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", sw, sh, 0x80 | (bits - 1), 0, 0)
    for rgb in palette:
        out += bytes(rgb)
    for left, top, w, h, interlace, idx in frames:
        out += b"\x2c" + _s.pack(
            "<HHHHB", left, top, w, h, 0x40 if interlace else 0
        )
        mcs = max(bits, 2)
        out.append(mcs)
        stream = _lzw_encode(bytes(idx), mcs)
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def test_gif_animation_disposal_semantics():
    """GIF89a §23 composition, closed-form: disposal 1 accumulates,
    disposal 2 restores the frame rect to background, disposal 3
    restores the pre-frame canvas, and transparent indices never
    overwrite. Every expected canvas is written out by hand."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators.gif import (
        decode_gif_frames,
        encode_gif_animation,
    )

    RED, GREEN, BLUE, BG = (
        (200, 0, 0), (0, 200, 0), (0, 0, 200), (9, 9, 9),
    )
    base = np.full((8, 8, 3), RED, np.uint8)
    patch = np.full((4, 4, 3), GREEN, np.uint8)
    ghost = np.full((4, 4, 3), BLUE, np.uint8)
    mask = np.zeros((4, 4), bool)
    mask[:2, :2] = True  # only the top-left 2x2 of the ghost draws
    data = encode_gif_animation(
        [
            {"pixels": base, "delay_cs": 5, "disposal": 1},
            {"pixels": patch, "left": 2, "top": 2, "delay_cs": 7,
             "disposal": 3},
            {"pixels": ghost, "left": 4, "top": 4, "delay_cs": 9,
             "disposal": 2, "mask": mask},
            {"pixels": patch, "left": 0, "top": 0, "delay_cs": 11},
        ],
        screen=(8, 8),
        bg_rgb=BG,
    )
    delays, frames = decode_gif_frames(data)
    assert delays == [50, 70, 90, 110]
    assert len(frames) == 4
    # frame 1: full red
    exp1 = np.full((8, 8, 3), RED, np.uint8)
    assert np.array_equal(frames[0], exp1)
    # frame 2: green patch at (2,2) over red
    exp2 = exp1.copy()
    exp2[2:6, 2:6] = GREEN
    assert np.array_equal(frames[1], exp2)
    # frame 3: disposal 3 removed the patch; ghost draws only its
    # masked 2x2 at (4,4) over the RESTORED (all-red) canvas
    exp3 = exp1.copy()
    exp3[4:6, 4:6] = BLUE
    assert np.array_equal(frames[2], exp3)
    # frame 4: disposal 2 restored the ghost rect (4..8) to BACKGROUND,
    # then the green patch draws at (0,0)
    exp4 = exp1.copy()
    exp4[4:8, 4:8] = BG
    exp4[0:4, 0:4] = GREEN
    assert np.array_equal(frames[3], exp4)


def test_gif_animation_single_frame_matches_first_frame_decoder():
    import numpy as np

    from neo4j_to_clickhouse_spark.operators.gif import (
        decode_gif,
        decode_gif_frames,
        encode_gif,
    )

    rng = np.random.default_rng(4)
    px = rng.integers(0, 4, (12, 9, 1), dtype=np.uint8).repeat(3, axis=2) * 60
    data = encode_gif(px)
    delays, frames = decode_gif_frames(data)
    assert len(frames) == 1
    assert np.array_equal(frames[0], decode_gif(data))


def test_gif_animation_rejects_malformed():
    import pytest as _pytest

    from neo4j_to_clickhouse_spark.operators.gif import decode_gif_frames

    with _pytest.raises(ValueError):
        decode_gif_frames(b"GIF89a")
    with _pytest.raises(ValueError):
        decode_gif_frames(b"NOTGIF" + b"\x00" * 32)
    # trailer with zero frames
    import struct as _struct

    hdr = b"GIF89a" + _struct.pack("<HHBBB", 4, 4, 0, 0, 0) + b"\x3b"
    with _pytest.raises(ValueError):
        decode_gif_frames(hdr)


def test_extract_video_frames_animated_gif(spark):
    import numpy as np

    from neo4j_to_clickhouse_spark.operators.gif import (
        encode_gif_animation,
    )

    frames = [
        {"pixels": np.full((6, 6, 3), (40 * i, 0, 0), np.uint8),
         "delay_cs": 20}
        for i in range(1, 4)
    ]
    data = encode_gif_animation(frames, screen=(6, 6))
    df = spark.createDataFrame(
        [("g", bytearray(data))], "asset_id string, payload binary"
    )
    rows = M.extract_video_frames(df, every_ms=200, decode_stub="raise").collect()
    assert [(r.frame_idx, r.frame_ms) for r in rows] == [
        (0, 0), (1, 200), (2, 400),
    ]
    for i, r in enumerate(rows, start=1):
        fmt, px = M.decode_image(bytes(r.frame))
        assert fmt == "ppm"
        assert np.array_equal(px, np.full((6, 6, 3), (40 * i, 0, 0), np.uint8))


def test_gif_animation_fixture_validated_by_giflib():
    """The system C reference (giflib DGifSlurp) reads our animation
    fixtures back byte-for-byte — screen, rects, delays, disposal,
    transparency index, and palette-mapped rasters — so the composition
    tests above aren't self-consistent-but-wrong."""
    import os
    import sys

    import numpy as np
    import pytest as _pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "helpers"))
    import giflib

    lib = giflib.load()
    if lib is None:
        _pytest.skip("system giflib not available")
    from neo4j_to_clickhouse_spark.operators.gif import (
        encode_gif_animation,
    )

    mask = np.zeros((4, 4), bool)
    mask[1:3, 1:3] = True
    frames = [
        {"pixels": np.full((6, 6, 3), (40, 0, 0), np.uint8),
         "delay_cs": 21, "disposal": 1},
        {"pixels": np.full((4, 4, 3), (0, 80, 0), np.uint8), "left": 2,
         "top": 1, "delay_cs": 22, "disposal": 2, "mask": mask},
        {"pixels": np.full((6, 6, 3), (0, 0, 120), np.uint8),
         "delay_cs": 23, "disposal": 3},
    ]
    data = encode_gif_animation(frames, screen=(8, 8), bg_rgb=(1, 2, 3))
    got = giflib.slurp(lib, data)
    assert got["screen"] == (8, 8)
    assert [f["rect"] for f in got["frames"]] == [
        (0, 0, 6, 6), (2, 1, 4, 4), (0, 0, 6, 6),
    ]
    assert [f["delay_cs"] for f in got["frames"]] == [21, 22, 23]
    assert [f["disposal"] for f in got["frames"]] == [1, 2, 3]
    # masked-out pixels carry the declared transparent index
    t = got["frames"][1]["transparent"]
    assert t == 255
    idx = got["frames"][1]["indices"]
    assert ((idx == t) == ~mask).all()
    # opaque rasters round-trip exactly through giflib's palette
    assert np.array_equal(got["frames"][0]["rgb"], frames[0]["pixels"])
    assert np.array_equal(got["frames"][2]["rgb"], frames[2]["pixels"])
    assert np.array_equal(
        got["frames"][1]["rgb"][mask], frames[1]["pixels"][mask]
    )


def test_gif_roundtrip_lossless():
    """encode_gif -> decode_gif is exact for any <=256-color image,
    including palettes that force 12-bit codes and dictionary resets."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import gif as GIF

    rng = np.random.default_rng(11)
    for shape in [(1, 1), (3, 5), (64, 64), (127, 200)]:
        pal = rng.integers(0, 256, (7, 3), dtype=np.uint8)
        px = pal[rng.integers(0, 7, shape)]
        fmt, back = M.decode_image(GIF.encode_gif(px))
        assert fmt == "gif"
        assert np.array_equal(back, px)
    # 256-color 300x400 random noise: maximal dictionary churn
    pal = np.unique(rng.integers(0, 256, (256, 3), dtype=np.uint8), axis=0)
    px = pal[rng.integers(0, pal.shape[0], (300, 400))]
    assert np.array_equal(GIF.decode_gif(GIF.encode_gif(px)), px)
    # structured gradient: long LZW matches + >4096 entries -> resets
    x = np.arange(512)
    px = pal[(x[None, :] + x[:, None]) % pal.shape[0]]
    buf = GIF.encode_gif(px)
    assert len(buf) < px.size  # actually compresses
    assert np.array_equal(GIF.decode_gif(buf), px)
    # single-color image: minimum palette
    flat = np.full((9, 9, 3), 42, np.uint8)
    assert np.array_equal(GIF.decode_gif(GIF.encode_gif(flat)), flat)


def test_gif_known_public_pixel():
    """The canonical 43-byte 1x1 transparent-GIF constant (publicly
    ubiquitous tracking pixel) decodes to a 1x1 black canvas."""
    import base64

    import numpy as np

    from neo4j_to_clickhouse_spark.operators.gif import decode_gif

    buf = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    px = decode_gif(buf)
    assert px.shape == (1, 1, 3)
    assert np.array_equal(px, np.zeros((1, 1, 3), np.uint8))


def test_gif_interlace_and_frame_offset():
    """Interlaced rows come back in display order; a frame smaller than
    the logical screen lands at its offset on a background-color canvas."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators.gif import (
        _INTERLACE_PASSES,
        decode_gif,
    )

    # 8 rows x 2 cols, row y filled with palette index y
    pal = [(i * 10, i * 20 % 256, 255 - i * 10) for i in range(8)]
    h, w = 8, 2
    stored_order = [
        y for start, step in _INTERLACE_PASSES for y in range(start, h, step)
    ]
    stored = [y for y in stored_order for _ in range(w)]
    img = decode_gif(_gif_raw(w, h, pal, [(0, 0, w, h, True, stored)]))
    expect = np.array(
        [[pal[y]] * w for y in range(h)], dtype=np.uint8
    )
    assert np.array_equal(img, expect)

    # 1x1 frame at (2,1) on a 4x3 screen; background = palette[0]
    img = decode_gif(_gif_raw(4, 3, pal, [(2, 1, 1, 1, False, [5])]))
    assert img.shape == (3, 4, 3)
    assert tuple(img[1, 2]) == pal[5]
    others = np.ones((3, 4), bool)
    others[1, 2] = False
    assert (img[others] == np.array(pal[0], np.uint8)).all()


def test_gif_rejects_malformed():
    import numpy as np
    import pytest

    from neo4j_to_clickhouse_spark.operators import gif as GIF

    with pytest.raises(ValueError):
        GIF.decode_gif(b"GIF89a truncated")
    with pytest.raises(ValueError):
        GIF.decode_gif(b"NOTGIF" + b"\x00" * 20)
    # no image block before trailer
    with pytest.raises(ValueError, match="no image"):
        GIF.decode_gif(
            b"GIF89a" + bytes([2, 0, 2, 0, 0x00, 0, 0]) + b"\x3b"
        )
    # >256-color encode refused
    rng = np.random.default_rng(3)
    with pytest.raises(ValueError, match="256"):
        GIF.encode_gif(rng.integers(0, 256, (40, 40, 3), dtype=np.uint8))
    # sniff path: garbage after a GIF magic falls back to the stub
    assert M.decode_image(b"GIF89a junk") is None


def test_gif_lzw_fuzz_roundtrip():
    """Property fuzz of the raw LZW pair: random index streams at every
    legal minimum code size survive encode->decode exactly (hypothesis
    drives dict growth, KwKwK self-references, and 12-bit resets)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neo4j_to_clickhouse_spark.operators.gif import (
        _lzw_decode,
        _lzw_encode,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        mcs=st.integers(min_value=2, max_value=8),
        data=st.data(),
    )
    def check(mcs, data):
        n = data.draw(st.integers(min_value=1, max_value=400))
        idx = bytes(
            data.draw(
                st.lists(
                    st.integers(0, (1 << mcs) - 1),
                    min_size=n,
                    max_size=n,
                )
            )
        )
        assert _lzw_decode(_lzw_encode(idx, mcs), mcs, len(idx)) == idx

    check()


def test_png_16bit_and_subbyte_depths():
    """16-bit samples keep the high byte (strip-16); 1/2/4-bit gray
    scales exactly to full range; sub-byte palette indices unpack
    MSB-first; the Sub filter uses the 16-bit byte-per-pixel distance."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import png as P

    # 16-bit RGB 2x2, filter 0: high bytes survive
    hi = np.array(
        [[[10, 20, 30], [40, 50, 60]], [[70, 80, 90], [100, 110, 120]]],
        dtype=np.uint8,
    )
    rows = []
    for y in range(2):
        b = []
        for x in range(2):
            for c in range(3):
                b += [int(hi[y, x, c]), 0xAB]  # hi, lo
        rows.append((0, b))
    assert np.array_equal(P.decode_png(_png_raw(2, 2, 16, 2, rows)), hi)

    # same image, second row Sub-filtered at bpp=6
    raw0 = bytes(rows[0][1])
    raw1 = bytes(rows[1][1])
    deltas = [
        (raw1[i] - (raw1[i - 6] if i >= 6 else 0)) % 256
        for i in range(len(raw1))
    ]
    px = P.decode_png(_png_raw(2, 2, 16, 2, [(0, list(raw0)), (1, deltas)]))
    assert np.array_equal(px, hi)

    # 4-bit palette, 3 px wide: nibbles 1,0,2 -> bytes 0x10 0x20
    pal = [255, 0, 0, 0, 255, 0, 0, 0, 255]
    px = P.decode_png(
        _png_raw(3, 1, 4, 3, [(0, [0x10, 0x20])], palette=pal)
    )
    assert np.array_equal(
        px, np.array([[[0, 255, 0], [255, 0, 0], [0, 0, 255]]], np.uint8)
    )

    # 1-bit gray, 10 px: 1010101010 11xxxx -> 255/0 alternating
    px = P.decode_png(_png_raw(10, 1, 1, 0, [(0, [0b10101010, 0b10000000])]))
    expect = np.repeat(
        np.array([[255, 0] * 5], np.uint8)[:, :, None], 3, axis=2
    )
    assert np.array_equal(px, expect)

    # 2-bit gray: values 0..3 -> 0,85,170,255
    px = P.decode_png(_png_raw(4, 1, 2, 0, [(0, [0b00011011])]))
    assert list(px[0, :, 0]) == [0, 85, 170, 255]

    # illegal combination still rejected
    import pytest

    with pytest.raises(ValueError, match="illegal"):
        P.decode_png(_png_raw(1, 1, 4, 2, [(0, [0])]))


def test_jpeg_progressive_equals_sequential():
    """SOF2 progressive (DC first Al=1 -> AC first -> DC refine -> AC
    refine) must decode pixel-identical to the sequential encoding of
    the same color, across subsampling and odd geometries."""
    import numpy as np

    from neo4j_to_clickhouse_spark.operators import jpeg as J

    for sub in [(1, 1), (2, 2), (2, 1)]:
        for wh in [(8, 8), (20, 12), (17, 9)]:
            seq = J.decode_jpeg(
                J.encode_jpeg_flat(*wh, (200, 30, 90), subsampling=sub)
            )
            got = M.decode_image(
                J.encode_jpeg_progressive_flat(
                    *wh, (200, 30, 90), subsampling=sub
                )
            )
            assert got[0] == "jpeg"
            assert np.array_equal(got[1], seq), (sub, wh)
    for rgb in [(0, 0, 0), (255, 255, 255), (13, 77, 201)]:
        assert np.array_equal(
            J.decode_jpeg(J.encode_jpeg_progressive_flat(16, 16, rgb)),
            J.decode_jpeg(J.encode_jpeg_flat(16, 16, rgb)),
        )


def test_jpeg_progressive_ac_refinement_of_nonzero_coefficient():
    """Hand-crafted single-component stream: an AC coefficient planted
    at Al=1 must be REFINED to its exact value by the correction bit of
    the Ah=1 scan (the successive-approximation path EOB-run fixtures
    cannot reach)."""
    import struct as _s

    import numpy as np

    from neo4j_to_clickhouse_spark.operators import jpeg as J

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(_s.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)

    seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    seg(0xC2, _s.pack(">BHHB", 8, 8, 8, 1) + _s.pack(">BBB", 1, 0x11, 0))
    seg(0xC4, bytes([0x00]) + bytes(J._K_DC_COUNTS) + J._K_DC_SYMBOLS)
    seg(0xC4, bytes([0x10]) + bytes(J._K_AC_COUNTS) + J._K_AC_SYMBOLS)
    dc = J._huff_codes(J._K_DC_COUNTS, J._K_DC_SYMBOLS)
    ac = J._huff_codes(J._K_AC_COUNTS, J._K_AC_SYMBOLS)

    # scan 1: DC first, Al=1. dc = -240 -> -240>>1 = -120, t=7
    seg(0xDA, b"\x01" + _s.pack(">BB", 1, 0x00) + bytes([0, 0, 1]))
    bw = J._BitWriter()
    code, ln = dc[7]
    bw.write(code, ln)
    bw.write(-120 + 127, 7)
    out.extend(bw.flush())

    # scan 2: AC first, band 1..63, Al=1. coef k=2 -> 3>>1 = 1:
    # symbol 0x11 (run 1, size 1), value bit 1; then EOB
    seg(0xDA, b"\x01" + _s.pack(">BB", 1, 0x00) + bytes([1, 63, 1]))
    bw = J._BitWriter()
    code, ln = ac[0x11]
    bw.write(code, ln)
    bw.write(1, 1)
    code, ln = ac[0x00]
    bw.write(code, ln)
    out.extend(bw.flush())

    # scan 3: DC refine (Ah=1, Al=0): bit0 of -240 is 0
    seg(0xDA, b"\x01" + _s.pack(">BB", 1, 0x00) + bytes([0, 0, 0x10]))
    bw = J._BitWriter()
    bw.write(0, 1)
    out.extend(bw.flush())

    # scan 4: AC refine: EOB (run covers this block), then one
    # correction bit for the nonzero coefficient at k=2 (bit0 of 3 = 1)
    seg(0xDA, b"\x01" + _s.pack(">BB", 1, 0x00) + bytes([1, 63, 0x10]))
    bw = J._BitWriter()
    code, ln = ac[0x00]
    bw.write(code, ln)
    bw.write(1, 1)
    out.extend(bw.flush())
    out.extend(b"\xff\xd9")

    got = J.decode_jpeg(bytes(out))
    nat = np.zeros(64)
    nat[J.ZIGZAG[0]] = -240.0
    nat[J.ZIGZAG[2]] = 3.0
    expect_y = np.clip(
        np.round(J._idct2(nat.reshape(8, 8)) + 128.0), 0, 255
    ).astype(np.uint8)
    assert np.array_equal(got, np.repeat(expect_y[:, :, None], 3, axis=2))


def test_jpeg_single_component_scan_ignores_sampling_factors():
    """T.81 A.2: any single-component scan is NON-interleaved, with the
    MCU equal to one block — even when the lone frame component declares
    h/v sampling > 1 (emitted by some encoders after cropping from
    color).  Routing such a frame through the interleaved MCU raster
    desyncs the entropy stream (ADVICE r07).  24x8 with h=v=2 makes the
    two rasters genuinely different: block raster = 3 blocks, MCU raster
    would read 2 MCUs x 4 blocks = 8."""
    import struct as _s

    import numpy as np

    from neo4j_to_clickhouse_spark.operators import jpeg as J

    def gray_jpeg(sof_marker):
        out = bytearray(b"\xff\xd8")

        def seg(marker, body):
            out.extend(_s.pack(">BBH", 0xFF, marker, len(body) + 2))
            out.extend(body)

        seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        # one component, cid 1, sampling h=2 v=2
        seg(sof_marker, _s.pack(">BHHB", 8, 8, 24, 1) + _s.pack(">BBB", 1, 0x22, 0))
        seg(0xC4, bytes([0x00]) + bytes(J._K_DC_COUNTS) + J._K_DC_SYMBOLS)
        seg(0xC4, bytes([0x10]) + bytes(J._K_AC_COUNTS) + J._K_AC_SYMBOLS)
        if sof_marker == 0xC2:  # progressive: DC-only scan, Ss=Se=0
            seg(0xDA, b"\x01" + _s.pack(">BB", 1, 0x00) + bytes([0, 0, 0]))
        else:
            seg(0xDA, b"\x01" + _s.pack(">BB", 1, 0x00) + bytes([0, 63, 0]))
        dc = J._huff_codes(J._K_DC_COUNTS, J._K_DC_SYMBOLS)
        ac = J._huff_codes(J._K_AC_COUNTS, J._K_AC_SYMBOLS)
        bw = J._BitWriter()
        level = 150
        diff = 8 * (level - 128)  # DC of a flat block, pred starts at 0
        for m in range(3):  # block raster: ceil(24/8) x ceil(8/8)
            t = abs(diff).bit_length()
            code, ln = dc[t]
            bw.write(code, ln)
            if t:
                bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
            if sof_marker == 0xC0:  # sequential blocks end with EOB
                code, ln = ac[0x00]
                bw.write(code, ln)
            diff = 0
        out.extend(bw.flush())
        out.extend(b"\xff\xd9")
        return bytes(out)

    for sof in (0xC0, 0xC2):
        px = J.decode_jpeg(gray_jpeg(sof))
        assert px.shape == (8, 24, 3), hex(sof)
        assert np.array_equal(px, np.full((8, 24, 3), 150, np.uint8)), hex(sof)


def test_gif_background_resolves_in_global_table():
    """The logical-screen background index refers to the GLOBAL color
    table; a frame carrying a LOCAL table must not repaint the
    background in its own palette (ADVICE r07)."""
    import struct as _s

    import numpy as np

    from neo4j_to_clickhouse_spark.operators.gif import (
        _lzw_encode,
        decode_gif,
    )

    gct = [(10, 20, 30), (200, 100, 50)]  # bg index 1 -> (200,100,50)
    lct = [(255, 255, 255), (1, 2, 3)]    # lct[1] differs from gct[1]
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", 3, 3, 0x80 | 0, 1, 0)  # 2-entry gct, bg=1
    for rgb in gct:
        out += bytes(rgb)
    # 1x1 frame at (0,0) with a local color table, pixel index 0
    out += b"\x2c" + _s.pack("<HHHHB", 0, 0, 1, 1, 0x80 | 0)
    for rgb in lct:
        out += bytes(rgb)
    out.append(2)  # min code size
    stream = _lzw_encode(bytes([0]), 2)
    out.append(len(stream))
    out += stream
    out += b"\x00\x3b"

    img = decode_gif(bytes(out))
    assert tuple(img[0, 0]) == lct[0]          # frame pixel: local table
    assert tuple(img[2, 2]) == gct[1]          # background: GLOBAL table
    assert (img[1:, 1:] == np.array(gct[1], np.uint8)).all()
