"""libheif decode-path tests (AVIF/HEIC pixel decode, ctypes).

Gated on the system library like the libwebp suite. Two jobs:

- certify the OUR-side plumbing (ctypes wrapper, decode_image routing,
  probe/feature/resize integration, no-library degradation), and
- validate the pure-Python ISOBMFF container parser against REAL
  encoder output (libheif/aom/x265), not only hand-built box trees.
"""

from __future__ import annotations

import numpy as np
import pytest

from neo4j_to_clickhouse_spark.operators import heif
from neo4j_to_clickhouse_spark.operators import multimodal as M
from neo4j_to_clickhouse_spark.operators.isobmff import (
    is_avif,
    is_heif_still,
    is_mp4,
    probe_avif,
)

needs_libheif = pytest.mark.skipif(
    not heif.available(), reason="system libheif not available"
)


def _test_rgb(h=40, w=64):
    rgb = np.zeros((h, w, 3), np.uint8)
    rgb[:, : w // 2] = [200, 40, 90]
    rgb[h // 2 :, :] = [10, 220, 130]
    rgb[:4, :4] = [255, 255, 0]
    return rgb


@needs_libheif
@pytest.mark.parametrize("codec,fmt", [("av1", "avif"), ("hevc", "heic")])
def test_roundtrip_near_lossless(codec, fmt):
    """Lossless-mode encode -> our ctypes decode: pixel values within
    the RGB<->YCbCr integer-rounding bound (+-2), dims exact."""
    rgb = _test_rgb()
    data = heif.encode_heif(rgb, codec=codec, lossless=True)
    out = heif.decode_heif(data)
    assert out.shape == rgb.shape
    assert int(np.abs(out.astype(int) - rgb.astype(int)).max()) <= 2
    # decode_image routes by ftyp brand and reports the right format
    decoded = M.decode_image(data)
    assert decoded is not None
    got_fmt, arr = decoded
    assert got_fmt == fmt
    assert np.array_equal(arr, out)


@needs_libheif
def test_container_parser_meets_real_avif_encoder():
    """probe_avif (pure-Python ISOBMFF walk) on genuine libheif/aom
    output: dims, codec, depth, alpha-absence all as encoded — the
    parser works on real-world files, not only the house fixtures."""
    rgb = _test_rgb(33, 47)  # odd dims survive the item tree
    data = heif.encode_heif(rgb, codec="av1", lossless=True)
    assert is_avif(data) and is_heif_still(data) and not is_mp4(data)
    info = probe_avif(data)
    assert info is not None
    assert (info["width"], info["height"]) == (47, 33)
    assert info["codec"] == "av01"
    assert info["bit_depth"] == 8
    assert info["has_alpha"] is False
    assert info["animated"] is False
    # and agrees with libheif's own handle-level probe
    hp = heif.probe_heif(data)
    assert (hp["width"], hp["height"]) == (47, 33)
    assert hp["has_alpha"] is False


@needs_libheif
def test_container_parser_meets_real_heic_encoder():
    rgb = _test_rgb(32, 48)
    data = heif.encode_heif(rgb, codec="hevc", lossless=True)
    assert is_heif_still(data) and not is_avif(data) and not is_mp4(data)
    info = probe_avif(data)
    assert info is not None
    assert (info["width"], info["height"]) == (48, 32)
    # libheif tiles HEVC stills behind a `grid` derived item whose own
    # ispe carries the full dims; bare hvc1/hev1 primaries also occur
    assert info["codec"] in ("hvc1", "hev1", "grid")


@needs_libheif
def test_alpha_roundtrip_and_container_flag():
    rgb = _test_rgb()
    alpha = np.zeros((40, 64), np.uint8)
    alpha[10:30, 16:48] = 255  # binary mask survives lossy-ish alpha
    rgba = np.dstack([rgb, alpha])
    data = heif.encode_heif(rgba, codec="av1", lossless=True)
    out = heif.decode_heif(data, rgba=True)
    assert out.shape == (40, 64, 4)
    assert int(np.abs(out[..., 3].astype(int) - alpha).max()) <= 2
    # the pure container walk sees the aux alpha item
    info = probe_avif(data)
    assert info is not None and info["has_alpha"] is True
    assert heif.probe_heif(data)["has_alpha"] is True


@needs_libheif
def test_decode_rejects_garbage_and_truncation():
    rgb = _test_rgb()
    data = heif.encode_heif(rgb, codec="av1")
    with pytest.raises(ValueError):
        heif.decode_heif(data[: len(data) // 2])
    with pytest.raises(ValueError):
        heif.decode_heif(b"ftyp garbage" * 4)
    # decode_image maps those to the stub fallback, never crashes
    for cut in range(0, len(data), 7):
        M.decode_image(data[:cut])  # must not raise
    assert M.decode_image(data[: len(data) // 2]) is None


def test_no_library_degrades_to_container_probe(monkeypatch):
    """With libheif absent the decode path reports unavailable and
    decode_image returns None for AVIF (stub fallback), while the
    pure-Python container probe still serves metadata."""
    from neo4j_to_clickhouse_spark.operators.isobmff import encode_avif

    monkeypatch.setattr(heif, "_LIB", None)
    assert not heif.available()
    data = encode_avif(640, 360)
    assert M.decode_image(data) is None
    assert heif.probe_heif(data) is None
    with pytest.raises(RuntimeError):
        heif.decode_heif(data)
    info = probe_avif(data)
    assert (info["width"], info["height"]) == (640, 360)


@needs_libheif
def test_probe_assets_fills_real_avif_and_heic_dims(spark):
    avif = heif.encode_heif(_test_rgb(24, 56), codec="av1")
    heic = heif.encode_heif(_test_rgb(40, 32), codec="hevc")
    df = spark.createDataFrame(
        [("a", bytearray(avif)), ("h", bytearray(heic))],
        "asset_id string, payload binary",
    )
    assets = M.ingest_binary_assets(df, "asset_id", "payload", "image")
    rows = {r.asset_id: r for r in M.probe_assets(assets).collect()}
    assert (rows["a"].width, rows["a"].height) == (56, 24)
    assert (rows["h"].width, rows["h"].height) == (32, 40)
    assert rows["a"].duration_ms is None


@needs_libheif
def test_extract_features_decodes_real_avif(spark):
    """decode_stub='raise' proves the AVIF went through the REAL decode
    (the stub path would raise); features are pixel-derived."""
    flat = np.full((16, 16, 3), 128, np.uint8)
    data = heif.encode_heif(flat, codec="av1", lossless=True)
    df = spark.createDataFrame(
        [("a", bytearray(data))], "asset_id string, payload binary"
    )
    assets = M.ingest_binary_assets(df, "asset_id", "payload", "image")
    row = M.extract_features(assets, dim=8, decode_stub="raise").collect()[0]
    # channel means of a flat 128 image: ~0.5 after /256 (+-rounding)
    assert all(abs(v - 0.5) < 0.02 for v in row.feature[:3])


def _av1_mp4_fixture(rgb, n_frames=3, delta_ms=500, codec="av1"):
    """Real AV1/HEVC-in-MP4: encode a still via libheif (aom/x265),
    lift the coded item payload + its config record out of the item
    tree, and lay it down as the sync samples of an MP4 video track.
    Returns (mp4_bytes, reference_rgb)."""
    import struct

    from neo4j_to_clickhouse_spark.operators.isobmff import (
        _parse_iinf,
        box,
        encode_mp4,
        find_box,
        item_payload,
        iter_boxes,
    )

    still = heif.encode_heif(rgb, codec=codec, lossless=True)
    meta = find_box(still, (b"meta",))
    # the coded item: AVIF primaries are av01 directly; libheif HEICs
    # put the hvc1 tile behind a grid primary — take the coded item
    item_type = b"av01" if codec == "av1" else b"hvc1"
    items = _parse_iinf(still, *find_box(still, (b"iinf",), *meta))
    coded = min(i for i, t in items.items() if t == item_type)
    tu = item_payload(still, coded)
    ipco = find_box(still, (b"iprp", b"ipco"), *meta)
    cfg_type = b"av1C" if codec == "av1" else b"hvcC"
    av1c = None
    for bt, p0, p1 in iter_boxes(still, *ipco):
        if bt == cfg_type:
            av1c = still[p0:p1]
    assert tu and av1c
    h, w = rgb.shape[:2]
    codec_4cc = b"av01" if codec == "av1" else b"hvc1"
    seb = (
        b"\x00" * 6
        + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 0x0018, -1)
        + box(cfg_type, av1c)
    )
    mp4 = encode_mp4(
        [tu] * n_frames,
        [delta_ms] * n_frames,
        keyframes=list(range(1, n_frames + 1)),
        codec=codec_4cc,
        sample_entry_body=seb,
        width=w,
        height=h,
    )
    return mp4, heif.decode_heif(still)


@needs_libheif
def test_av1_mp4_frame_decode_bit_exact():
    """The headline claim: an AV1 keyframe sample lifted from an MP4
    track, rewrapped as a single-item AVIF, decodes to EXACTLY the
    pixels the same bitstream decodes to as a still — video keyframe
    pixel decode with no new codec."""
    from neo4j_to_clickhouse_spark.operators.isobmff import (
        mp4_extract_samples,
        mp4_video_config,
        wrap_av1_item_as_avif,
    )

    mp4, ref = _av1_mp4_fixture(_test_rgb())
    cfg = mp4_video_config(mp4)
    assert cfg["config_type"] == "av1C"
    for _, _, sample in mp4_extract_samples(mp4, 500, keyframes_only=True):
        px = heif.decode_heif(
            wrap_av1_item_as_avif(sample, cfg["config"], cfg["width"], cfg["height"])
        )
        assert np.array_equal(px, ref)


@needs_libheif
@pytest.mark.parametrize("codec", ["av1", "hevc"])
def test_extract_video_frames_real_codecs(spark, codec):
    """AV1- and HEVC-in-MP4 keyframes decode to real pixels, bit-exact
    vs decoding the identical bitstream as a still (HEVC includes the
    CTU-padding crop: the coded tile is larger than the track dims)."""
    mp4, ref = _av1_mp4_fixture(
        _test_rgb(), n_frames=4, delta_ms=400, codec=codec
    )
    df = spark.createDataFrame(
        [("v", bytearray(mp4))], "asset_id string, payload binary"
    )
    rows = M.extract_video_frames(df, every_ms=400, decode_stub="raise").collect()
    assert len(rows) == 4
    for r in rows:
        assert (r.width, r.height) == (ref.shape[1], ref.shape[0])
        fmt, px = M.decode_image(bytes(r.frame))
        assert fmt == "ppm"
        assert np.array_equal(px, ref)
    assert [r.frame_ms for r in rows] == [0, 400, 800, 1200]


@needs_libheif
def test_extract_video_frames_animated_avif(spark):
    """Animated AVIF (`avis` brand) is an AV1 track in ISOBMFF clothing:
    the same sample tables drive frame extraction, each DISTINCT frame
    decoding bit-exact to its source still."""
    import struct

    from neo4j_to_clickhouse_spark.operators.isobmff import (
        _parse_iinf,
        box,
        encode_mp4,
        find_box,
        is_heif_still,
        is_mp4,
        item_payload,
        iter_boxes,
        movie_duration_ms,
    )

    tus, refs, av1c = [], [], None
    for shade in (40, 120, 220):
        rgb = _test_rgb()
        rgb[8:16, 8:16] = shade  # three genuinely different frames
        still = heif.encode_heif(rgb, codec="av1", lossless=True)
        items = _parse_iinf(still, *find_box(still, (b"iinf",), *find_box(still, (b"meta",))))
        coded = min(i for i, t in items.items() if t == b"av01")
        tus.append(item_payload(still, coded))
        refs.append(heif.decode_heif(still))
        ipco = find_box(still, (b"iprp", b"ipco"), *find_box(still, (b"meta",)))
        for bt, p0, p1 in iter_boxes(still, *ipco):
            if bt == b"av1C":
                av1c = still[p0:p1]
    h, w = refs[0].shape[:2]
    seb = (
        b"\x00" * 6
        + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 0x0018, -1)
        + box(b"av1C", av1c)
    )
    avis = encode_mp4(
        tus, [250] * 3, keyframes=[1, 2, 3], codec=b"av01",
        sample_entry_body=seb, width=w, height=h, major_brand=b"avis",
    )
    # classification: a HEIF brand with a movie box, NOT "an MP4"
    assert is_heif_still(avis) and not is_mp4(avis)
    assert movie_duration_ms(avis) == 750
    df = spark.createDataFrame(
        [("anim", bytearray(avis))], "asset_id string, payload binary"
    )
    rows = M.extract_video_frames(df, every_ms=250, decode_stub="raise").collect()
    assert [r.frame_idx for r in rows] == [0, 1, 2]
    for r, ref in zip(rows, refs):
        _, px = M.decode_image(bytes(r.frame))
        assert np.array_equal(px, ref)


def test_extract_video_frames_stub_and_mjpeg(spark):
    """Ungated: the MJPEG-AVI path decodes through the native JPEG
    decoder; unknown payloads hit the fake stub (deterministic 8x8 PPM)
    or raise at the documented boundary."""
    from neo4j_to_clickhouse_spark.operators.avi import encode_avi_mjpeg
    from neo4j_to_clickhouse_spark.operators.jpeg import encode_jpeg_flat

    frames = [encode_jpeg_flat(16, 16, (96 + 8 * i,) * 3) for i in range(3)]
    avi = encode_avi_mjpeg(frames, fps=5)  # 200 ms period
    df = spark.createDataFrame(
        [("a", bytearray(avi)), ("junk", bytearray(b"\x00" * 64))],
        "asset_id string, payload binary",
    )
    rows = M.extract_video_frames(df, every_ms=200).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    assert len(by_asset["a"]) == 3
    for r in by_asset["a"]:
        fmt, px = M.decode_image(bytes(r.frame))
        assert fmt == "ppm" and px.shape == (16, 16, 3)
    junk = by_asset["junk"]
    assert len(junk) == 1 and (junk[0].width, junk[0].height) == (8, 8)
    with pytest.raises(Exception):  # NotImplementedError inside the task
        M.extract_video_frames(
            spark.createDataFrame(
                [("j", bytearray(b"\x00" * 64))],
                "asset_id string, payload binary",
            ),
            decode_stub="raise",
        ).collect()


@needs_libheif
def test_resize_real_avif_reencodes_ppm(spark):
    data = heif.encode_heif(_test_rgb(), codec="av1")
    df = spark.createDataFrame(
        [("a", bytearray(data))], "asset_id string, payload binary"
    )
    out = M.resize_images(df, 20, 10, decode_stub="raise").collect()[0]
    assert (out.width, out.height) == (20, 10)
    payload = bytes(out.payload)
    assert payload[:2] == b"P6"  # lossless container re-encode
    fmt, arr = M.decode_image(payload)
    assert fmt == "ppm" and arr.shape == (10, 20, 3)
