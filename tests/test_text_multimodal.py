"""Text-curation + multimodal plumbing tests."""

from __future__ import annotations

import hashlib
import struct

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


# --- header fixtures + real BMP / PPM codec path ----------------------------


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


def _jpeg_header(width, height, sof=0xC0, precision=8):
    """SOI + a JFIF APP0 + one 3-component SOFn frame header + EOI:
    exactly the bytes a header-only probe reads (no tables, no scan)."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    frame = struct.pack(">BHHB", precision, height, width, 3) + b"".join(
        struct.pack(">BBB", cid, 0x11, 0) for cid in (1, 2, 3)
    )
    return (
        b"\xff\xd8"
        + struct.pack(">BBH", 0xFF, 0xE0, len(app0) + 2) + app0
        + struct.pack(">BBH", 0xFF, sof, len(frame) + 2) + frame
        + b"\xff\xd9"
    )


def _avi(n_frames, period_us, frame=b"\xff\xd8\xff\xd9"):
    """Minimal MJPEG AVI from header bytes: hdrl (avih + one strl/strh
    'vids'/'MJPG' stream), then ``n_frames`` '00dc' chunks of ``frame``
    (an SOI-led stand-in — the probe reads chunk headers only)."""

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    avih = struct.pack(
        "<14I", period_us, 0, 0, 0x10, n_frames, 0, 1, 0, 0, 0, 0, 0, 0, 0
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h", b"vids", b"MJPG", 0, 0, 0, 0, period_us,
        1_000_000, 0, n_frames, 0, 0, 0, 0, 0, 0, 0,
    )
    body = lst(
        b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh))
    ) + lst(b"movi", b"".join(chunk(b"00dc", frame) for _ in range(n_frames)))
    return b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body


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
    import os
    import sys

    import numpy as np

    from neo4j_to_clickhouse_spark.operators.gif import (
        encode_gif,
        encode_gif_animation,
    )
    from neo4j_to_clickhouse_spark.operators.png import encode_apng, encode_png
    from neo4j_to_clickhouse_spark.operators.vp8l import (
        encode_webp,
        encode_webp_animation,
    )

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "helpers"))
    import libheif

    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 5, (21, 13, 1), dtype=np.uint8).repeat(3, 2) * 50
    payloads = [
        M.encode_bmp(rgb),
        M.encode_ppm(rgb),
        encode_png(rgb),
        encode_gif(rgb),
        encode_webp(rgb),
        encode_gif_animation([{"pixels": rgb}], screen=(13, 21)),
        encode_apng(
            [{"pixels": rgb}, {"pixels": rgb}], canvas=(13, 21)
        ),
        encode_webp_animation(
            [{"pixels": rgb}, {"pixels": rgb}], canvas=(13, 21)
        ),
    ]
    for p in payloads:
        decoded = M.decode_image(p)
        assert decoded is not None, p[:12]
        h, w = decoded[1].shape[:2]
        assert M.probe_image_dims(p) == (w, h), p[:12]
    # JPEG, TIFF, lossy WebP and AVIF/HEIC are probed, never decoded:
    # header-only payloads (baseline, progressive and 12-bit extended
    # JPEG frame headers, TIFF IFDs in both byte orders with SHORT and
    # LONG dims, a VP8 keyframe header) and real libheif stills must
    # report the dims they state
    ifd_le = struct.pack("<HHHIHHHHII", 2, 256, 3, 1, 13, 0, 257, 4, 1, 21)
    ifd_be = struct.pack(">HHHIIHHIHH", 2, 256, 4, 1, 13, 257, 3, 1, 21, 0)
    vp8 = b"\x00\x00\x00\x9d\x01\x2a" + struct.pack("<HH", 13, 21)
    probe_only = [
        _jpeg_header(13, 21),
        _jpeg_header(13, 21, sof=0xC2),
        _jpeg_header(13, 21, sof=0xC1, precision=12),
        b"II*\x00" + struct.pack("<I", 8) + ifd_le + bytes(4),
        b"MM\x00*" + struct.pack(">I", 8) + ifd_be + bytes(4),
        b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8)) + b"WEBP"
        + b"VP8 " + struct.pack("<I", len(vp8)) + vp8,
    ]
    if libheif.available():
        probe_only.append(libheif.encode_heif(rgb, codec="av1"))
        probe_only.append(libheif.encode_heif(rgb, codec="hevc"))
    for p in probe_only:
        assert M.decode_image(p) is None, p[:12]
        assert M.probe_image_dims(p) == (13, 21), p[:12]
    # unknowns and truncations return None, never raise
    assert M.probe_image_dims(b"\x00" * 64) is None
    for p in payloads + probe_only:
        for cut in range(0, min(len(p), 64)):
            M.probe_image_dims(p[:cut])
    # the probe never misses a payload the decoder accepts: across every
    # truncation and 3,000 random 1-4-byte corruptions of the still
    # fixtures, probe None implies decode None
    stills = payloads[:5]  # BMP, PPM, PNG, GIF, WebP-lossless
    mutants = [p[:cut] for p in stills for cut in range(len(p))]
    flips = np.random.default_rng(11)
    for _ in range(3000):
        p = bytearray(stills[flips.integers(len(stills))])
        for at in flips.integers(0, len(p), flips.integers(1, 5)):
            p[at] = flips.integers(256)
        mutants.append(bytes(p))
    for p in mutants:
        if M.probe_image_dims(p) is None:
            assert M.decode_image(p) is None, p[:16]


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

    from neo4j_to_clickhouse_spark.operators.png import encode_apng, encode_png

    px = _checker(6, 4)
    tone = (1000 * np.ones(4000)).astype(np.int16)  # 0.5 s at 8 kHz
    apng = encode_apng(
        [{"pixels": np.full((6, 6, 3), 25 * i, np.uint8), "delay_ms": 150}
         for i in range(1, 4)],
        canvas=(6, 6),
    )
    binary = spark.createDataFrame(
        [
            ("img", bytearray(M.encode_bmp(px))),
            ("png", bytearray(encode_png(_checker(8, 8)))),
            ("jpg", bytearray(_jpeg_header(20, 12, sof=0xC2))),
            ("apng", bytearray(apng)),
            ("aud", bytearray(M.encode_wav(tone, sample_rate=8000))),
            ("opaque", bytearray(b"\x00\x01\x02")),
        ],
        "doc_id string, payload binary",
    )
    assets = M.ingest_binary_assets(binary, "doc_id", "payload", "mixed")
    rows = {r.asset_id: r for r in M.probe_assets(assets).collect()}
    assert (rows["img"].width, rows["img"].height) == (4, 6)
    assert rows["img"].duration_ms is None
    assert (rows["png"].width, rows["png"].height) == (8, 8)
    # JPEG dims come from the frame header; the pixels are never decoded
    assert (rows["jpg"].width, rows["jpg"].height) == (20, 12)
    # APNG: canvas dims from IHDR, duration from the fcTL walk
    assert (rows["apng"].width, rows["apng"].height) == (6, 6)
    assert rows["apng"].duration_ms == 450
    assert rows["aud"].duration_ms == 500
    assert rows["aud"].width is None
    assert rows["opaque"].width is None and rows["opaque"].duration_ms is None
    # schema unchanged: probe output is the asset layout itself
    assert rows["img"].sha256 == assets.filter(
        "asset_id = 'img'"
    ).collect()[0].sha256


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


def test_apng_idat_is_cover_and_static_decoders_work():
    import numpy as np

    from neo4j_to_clickhouse_spark.operators.png import (
        apng_frame_delays,
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


def test_apng_rejects_malformed():
    import pytest as _pytest

    from neo4j_to_clickhouse_spark.operators.png import (
        apng_frame_delays,
        encode_png,
        is_apng,
    )
    import numpy as np

    plain = encode_png(np.zeros((4, 4, 3), np.uint8))
    assert not is_apng(plain)
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
    decode_png drops."""
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


# --- MJPEG/AVI container probe ----------------------------------------------


def test_probe_assets_fills_avi_duration(spark):
    from neo4j_to_clickhouse_spark.operators.avi import probe_avi

    assert probe_avi(_avi(5, 100_000)) == (5, 500)  # 100 ms per frame
    assert probe_avi(b"RIFF\x04\x00\x00\x00AVI ") is None  # no avih
    # a non-JPEG frame chunk is the ffmpeg boundary, not an MJPEG AVI
    assert probe_avi(_avi(2, 40_000, frame=b"\x00\x00\x01\xb3")) is None
    buf = _avi(4, 500_000)  # 500 ms per frame -> 2000 ms
    binary = spark.createDataFrame(
        [("v", bytearray(buf))], "doc_id string, payload binary"
    )
    assets = M.ingest_binary_assets(binary, "doc_id", "payload", "video")
    probed = M.probe_assets(assets).collect()[0]
    assert probed.duration_ms == 2000
    assert probed.width is None  # container probe: no frame dims


# --- codec robustness: untrusted bytes must never escape the contract ---------


def test_codecs_never_crash_on_fuzzed_bytes():
    """Decoders run executor-side on untrusted corpus payloads: any input
    must either decode or raise ValueError — never IndexError/struct.error
    /infinite loop — decode_image must map failures to None, and the
    AVI probe must answer None or (frames, ms) without raising."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neo4j_to_clickhouse_spark.operators import png as P
    from neo4j_to_clickhouse_spark.operators.avi import probe_avi

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
        try:
            P.decode_png(payload)
        except ValueError:
            pass
        got = probe_avi(payload)
        assert got is None or len(got) == 2
        out = M.decode_image(payload)
        assert out is None or out[1].ndim == 3

    run()


def test_codecs_reject_every_truncation():
    """Every strict prefix of a valid payload decodes or raises ValueError
    (PNG), or probes to None or a consistent answer (AVI) — no other
    exception class."""
    from neo4j_to_clickhouse_spark.operators import png as P
    from neo4j_to_clickhouse_spark.operators.avi import probe_avi

    png = P.encode_png(_checker(7, 5))
    for cut in range(len(png)):
        try:
            P.decode_png(png[:cut])
        except ValueError:
            pass
    # full payload still decodes after the truncation sweep
    assert P.decode_png(png) is not None
    avi = _avi(2, 100_000)
    for cut in range(len(avi)):
        assert probe_avi(avi[:cut]) in (None, (0, 0), (1, 100), (2, 200))
    assert probe_avi(avi) == (2, 200)


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


def test_gif_animation_fixture_validated_by_giflib():
    """The system C reference (giflib DGifSlurp) reads our animation
    fixtures back byte-for-byte — screen, rects, delays, disposal,
    transparency index, and palette-mapped rasters — so the animated
    fixtures the probe tests build are what a C reader sees."""
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
