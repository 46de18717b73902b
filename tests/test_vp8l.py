"""WebP-lossless (VP8L) codec tests.

Two validation axes:
- self round-trips over every encoder option (literal, LZ77 runs,
  color cache, subtract-green) and degenerate shapes;
- cross-validation against the SYSTEM libwebp when present (skipped
  cleanly otherwise): libwebp-encoded streams — which exercise the
  predictor / cross-color / color-indexing transforms and meta-prefix
  codes my encoder never emits — must decode pixel-exact, my encoder's
  streams must decode pixel-exact under libwebp, and the 120-entry
  plane-code table is re-verified per code against libwebp decode
  (the constant was extracted from libwebp, not transcribed).
"""

from __future__ import annotations

import ctypes
import struct

import numpy as np
import pytest

from neo4j_to_clickhouse_spark.operators.vp8l import (
    decode_webp_rgba,
    _PLANE_OFFSETS,
    _encode_tokens,
    _riff_wrap,
    decode_webp,
    encode_webp,
)


def _load_libwebp():
    try:
        lib = ctypes.CDLL("libwebp.so.7")
    except OSError:
        return None
    lib.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
    lib.WebPEncodeLosslessRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
    ]
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.WebPDecodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]
    return lib


_LIBWEBP = _load_libwebp()
needs_libwebp = pytest.mark.skipif(
    _LIBWEBP is None, reason="system libwebp not available"
)


def _libwebp_encode(rgb: np.ndarray) -> bytes:
    h, w, _ = rgb.shape
    rgba = np.dstack([rgb, np.full((h, w), 255, np.uint8)])
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = _LIBWEBP.WebPEncodeLosslessRGBA(
        rgba.tobytes(), w, h, w * 4, ctypes.byref(out)
    )
    assert n, "libwebp encode failed"
    return ctypes.string_at(out, n)


def _libwebp_decode(data: bytes) -> np.ndarray | None:
    w, h = ctypes.c_int(), ctypes.c_int()
    out = _LIBWEBP.WebPDecodeRGBA(
        data, len(data), ctypes.byref(w), ctypes.byref(h)
    )
    if not out:
        return None
    return np.frombuffer(
        ctypes.string_at(out, w.value * h.value * 4), np.uint8
    ).reshape(h.value, w.value, 4)


def _cases():
    rng = np.random.default_rng(42)
    yy, xx = np.mgrid[0:12, 0:17]
    return {
        "random": (rng.integers(0, 256, (7, 11, 3), dtype=np.uint8), {}),
        "solid": (np.full((5, 9, 3), 137, np.uint8), {}),
        "runs": (
            np.repeat(
                rng.integers(0, 4, (6, 4, 3), dtype=np.uint8) * 60, 3, axis=1
            ),
            {},
        ),
        "subtract_green": (
            rng.integers(0, 256, (8, 8, 3), dtype=np.uint8),
            {"subtract_green": True},
        ),
        "cache_only": (
            rng.integers(0, 3, (10, 5, 3), dtype=np.uint8) * 80,
            {"cache_bits": 4, "use_lz77": False},
        ),
        "cache_and_lz77": (
            rng.integers(0, 2, (16, 16, 3), dtype=np.uint8) * 255,
            {"cache_bits": 6},
        ),
        "gradient": (
            np.dstack(
                [(xx * 9) % 256, (yy * 13) % 256, ((xx + yy) * 5) % 256]
            ).astype(np.uint8),
            {"subtract_green": True, "cache_bits": 3},
        ),
        "one_pixel": (np.array([[[1, 2, 3]]], np.uint8), {}),
        "one_row": (rng.integers(0, 256, (1, 40, 3), dtype=np.uint8), {}),
        "one_col": (rng.integers(0, 256, (40, 1, 3), dtype=np.uint8), {}),
    }


@pytest.mark.parametrize("name", sorted(_cases()))
def test_round_trip(name):
    img, kwargs = _cases()[name]
    data = encode_webp(img, **kwargs)
    out = decode_webp(data)
    assert out.shape == img.shape
    assert (out == img).all()


@needs_libwebp
@pytest.mark.parametrize("name", sorted(_cases()))
def test_own_streams_accepted_by_libwebp(name):
    """Every stream my encoder emits must be decodable by the strict
    reference implementation, pixel-exact — proof the writer side
    (complete canonical codes, prefix framing, container) is valid."""
    img, kwargs = _cases()[name]
    ref = _libwebp_decode(encode_webp(img, **kwargs))
    assert ref is not None, "libwebp rejected an encoder stream"
    assert (ref[..., :3] == img).all()
    assert (ref[..., 3] == 255).all()


@needs_libwebp
def test_decodes_libwebp_streams_exactly():
    """libwebp's own encoder output — predictor / cross-color /
    color-indexing transforms, meta-prefix codes, real mixed-length
    Huffman — must decode pixel-exact through the pure-Python path."""
    rng = np.random.default_rng(7)
    yy, xx = np.mgrid[0:40, 0:56]
    images = {
        "noise": rng.integers(0, 256, (23, 31, 3), dtype=np.uint8),
        "gradient": np.dstack(
            [(xx * 4) % 256, (yy * 6) % 256, ((xx + yy) * 3) % 256]
        ).astype(np.uint8),
        "palette4": (
            rng.integers(0, 4, (37, 29, 1)) * np.array([[60, 17, 200]])
        ).astype(np.uint8).reshape(37, 29, 3),
        "palette2": (
            rng.integers(0, 2, (16, 70, 1)) * np.array([[255, 255, 255]])
        ).astype(np.uint8).reshape(16, 70, 3),
        "photo": np.clip(
            np.dstack(
                [
                    128 + 60 * np.sin(xx / 5) * np.cos(yy / 7),
                    128 + 50 * np.cos(xx / 9),
                    128 + 40 * np.sin(yy / 4),
                ]
            )
            + rng.normal(0, 8, (40, 56, 3)),
            0,
            255,
        ).astype(np.uint8),
        "big_mixed": np.vstack(
            [
                rng.integers(0, 256, (64, 128, 3), dtype=np.uint8),
                np.tile(
                    np.arange(128, dtype=np.uint8).reshape(1, 128, 1),
                    (64, 1, 3),
                ),
            ]
        ),
    }
    for name, img in images.items():
        out = decode_webp(_libwebp_encode(img))
        assert out.shape == img.shape, name
        assert (out == img).all(), name


@needs_libwebp
def test_plane_code_table_matches_libwebp():
    """The 120 close-neighborhood distance codes: craft one stream per
    code and require my decode == libwebp decode. Catches any error in
    the extracted (dx, dy) table entry by entry."""
    w, h = 50, 12
    n = w * h
    probe_pos = 11 * w + 9

    def pixel(i):
        return 0xFF000000 | ((i >> 8) << 16) | ((i & 0xFF) << 8) | (i % 251)

    for code in range(1, 121):
        tokens = [("lit", pixel(i)) for i in range(probe_pos)]
        tokens.append(("copy", 1, code))
        tokens.extend(("lit", pixel(i)) for i in range(probe_pos + 1, n))
        data = _riff_wrap(_encode_tokens(w, h, tokens))
        ref = _libwebp_decode(data)
        assert ref is not None, f"libwebp rejected plane-code {code} probe"
        mine = decode_webp(data)
        assert (mine == ref[..., :3]).all(), f"plane code {code} diverges"
    assert len(_PLANE_OFFSETS) == 120


@needs_libwebp
def test_random_images_and_options_agree_with_libwebp():
    """Randomized sweep: random dims/palette sizes x random encoder
    options; my decode and libwebp decode must agree on my streams."""
    rng = np.random.default_rng(99)
    for trial in range(15):
        h = int(rng.integers(1, 24))
        w = int(rng.integers(1, 24))
        colors = int(rng.integers(1, 9))
        palette = rng.integers(0, 256, (colors, 3), dtype=np.uint8)
        img = palette[rng.integers(0, colors, (h, w))]
        kwargs = {
            "use_lz77": bool(rng.integers(0, 2)),
            "cache_bits": int(rng.integers(0, 2)) * int(rng.integers(1, 8)),
            "subtract_green": bool(rng.integers(0, 2)),
        }
        data = encode_webp(img, **kwargs)
        mine = decode_webp(data)
        ref = _libwebp_decode(data)
        assert ref is not None, (trial, kwargs)
        assert (mine == img).all(), (trial, kwargs)
        assert (ref[..., :3] == img).all(), (trial, kwargs)


def test_vp8x_container_layout():
    """A VP8L chunk behind a VP8X extended header (and a junk chunk)
    still decodes; chunk walking honors even-padding."""
    img = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
    plain = encode_webp(img)
    vp8l_chunk = plain[12:]  # strip RIFF header, keep VP8L chunk
    vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc\x00"  # odd size, padded
    payload = vp8x + junk + vp8l_chunk
    data = b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" + payload
    out = decode_webp(data)
    assert (out == img).all()


def test_rejects_malformed():
    img = np.zeros((3, 3, 3), np.uint8)
    good = encode_webp(img)
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x00\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        decode_webp(good[:20])  # truncated mid-bitstream
    with pytest.raises(ValueError):
        # lossy VP8 chunk only
        payload = b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
        decode_webp(
            b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" + payload
        )
    with pytest.raises(ValueError):
        # VP8L signature byte wrong
        body = bytearray(good)
        body[20] ^= 0xFF
        decode_webp(bytes(body))


def test_decode_image_sniffs_webp():
    from neo4j_to_clickhouse_spark.operators.multimodal import decode_image

    img = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    decoded = decode_image(encode_webp(img))
    assert decoded is not None
    fmt, pixels = decoded
    assert fmt == "webp"
    assert (pixels == img).all()
    # lossy VP8 payload -> stub fallback (None), not an exception
    payload = b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
    lossy = b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" + payload
    assert decode_image(lossy) is None


# --- animation (ANIM/ANMF) -----------------------------------------------------


def test_webp_animation_composition_closed_form():
    """ANMF composition semantics pinned by hand-written canvases:
    no-blend replaces the rect, blend(opaque) replaces, blend with a
    transparent frame region leaves the canvas, dispose clears the
    rect back to transparent black."""
    from neo4j_to_clickhouse_spark.operators.vp8l import (
        decode_webp_frames,
        encode_webp_animation,
        is_animated_webp,
        webp_animation_durations,
    )

    RED, GREEN = (200, 0, 0, 255), (0, 200, 0, 255)
    base = np.zeros((8, 8, 4), np.uint8)
    base[:] = RED
    patch = np.zeros((4, 4, 4), np.uint8)
    patch[:] = GREEN
    ghost = patch.copy()
    ghost[2:, :] = 0  # bottom half fully transparent
    data = encode_webp_animation(
        [
            {"pixels": base, "duration_ms": 100},
            # blended: transparent bottom half must NOT erase the red
            {"pixels": ghost, "x": 2, "y": 2, "duration_ms": 150},
            # no-blend: the transparent half REPLACES (erases) pixels;
            # dispose then clears the whole rect after emitting
            {"pixels": ghost, "x": 4, "y": 4, "duration_ms": 200,
             "blend": False, "dispose": True},
            {"pixels": patch, "x": 0, "y": 0, "duration_ms": 250},
        ],
        canvas=(8, 8),
    )
    assert is_animated_webp(data)
    assert webp_animation_durations(data) == [100, 150, 200, 250]
    durations, frames = decode_webp_frames(data)
    assert durations == [100, 150, 200, 250]
    exp1 = base.copy()
    assert np.array_equal(frames[0], exp1)
    exp2 = exp1.copy()
    exp2[2:4, 2:6] = GREEN  # only the opaque top half lands
    assert np.array_equal(frames[1], exp2)
    exp3 = exp2.copy()
    exp3[4:8, 4:8] = ghost  # no-blend: transparency copies through
    assert np.array_equal(frames[2], exp3)
    exp4 = exp2.copy()
    exp4[4:8, 4:8] = 0  # dispose-to-background cleared the rect
    exp4[0:4, 0:4] = GREEN
    assert np.array_equal(frames[3], exp4)


def test_webp_animation_first_frame_via_still_decoders():
    from neo4j_to_clickhouse_spark.operators.multimodal import decode_image
    from neo4j_to_clickhouse_spark.operators.vp8l import (
        encode_webp_animation,
    )

    rng = np.random.default_rng(9)
    first = rng.integers(0, 256, (6, 10, 3), dtype=np.uint8)
    data = encode_webp_animation(
        [{"pixels": first}, {"pixels": np.zeros((6, 10, 3), np.uint8)}],
        canvas=(10, 6),
    )
    assert np.array_equal(decode_webp(data), first)
    rgba = decode_webp_rgba(data)
    assert np.array_equal(rgba[..., :3], first)
    fmt, px = decode_image(data)
    assert fmt == "webp" and np.array_equal(px, first)


def test_webp_animation_rejects_malformed():
    from neo4j_to_clickhouse_spark.operators.vp8l import (
        decode_webp_frames,
        encode_webp_animation,
        webp_animation_durations,
    )

    with pytest.raises(ValueError):
        decode_webp_frames(encode_webp(np.zeros((4, 4, 3), np.uint8)))
    with pytest.raises(ValueError):
        webp_animation_durations(b"RIFF\x00\x00\x00\x00WEBP")
    # frame rect exceeding the canvas
    data = encode_webp_animation(
        [{"pixels": np.zeros((6, 6, 3), np.uint8), "x": 4, "y": 4}],
        canvas=(8, 8),
    )
    with pytest.raises(ValueError):
        decode_webp_frames(data)
    with pytest.raises(ValueError):
        encode_webp_animation(
            [{"pixels": np.zeros((2, 2, 3), np.uint8), "x": 1}],
            canvas=(4, 4),
        )


def test_webp_animation_probe_assets_duration(spark):
    from neo4j_to_clickhouse_spark.operators import multimodal as M
    from neo4j_to_clickhouse_spark.operators.vp8l import (
        encode_webp_animation,
    )

    data = encode_webp_animation(
        [{"pixels": np.full((4, 6, 3), 50, np.uint8), "duration_ms": d}
         for d in (120, 80, 40)],
        canvas=(6, 4),
    )
    df = spark.createDataFrame(
        [("w", bytearray(data))], "asset_id string, payload binary"
    )
    assets = M.ingest_binary_assets(df, "asset_id", "payload", "video")
    row = M.probe_assets(assets).collect()[0]
    assert (row.width, row.height) == (6, 4)
    assert row.duration_ms == 240


def test_vp8l_encoder_carries_alpha():
    rng = np.random.default_rng(2)
    rgba = rng.integers(0, 256, (9, 5, 4), dtype=np.uint8)
    out = decode_webp_rgba(encode_webp(rgba))
    assert np.array_equal(out, rgba)
