"""libheif probe-path tests (AVIF/HEIC handle probe, ctypes).

Gated on the system library like the libwebp suite. Two jobs:

- certify the OUR-side plumbing (ctypes probe wrapper, probe_assets
  integration, no-library degradation), and
- validate the pure-Python ISOBMFF container parser against REAL
  encoder output (libheif/aom/x265, through the fixture encoder in
  ``helpers/libheif.py``), not only hand-built box trees.
"""

from __future__ import annotations

import os
import sys

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

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "helpers"))
import libheif  # noqa: E402

needs_libheif = pytest.mark.skipif(
    not libheif.available(), reason="system libheif not available"
)


def _test_rgb(h=40, w=64):
    rgb = np.zeros((h, w, 3), np.uint8)
    rgb[:, : w // 2] = [200, 40, 90]
    rgb[h // 2 :, :] = [10, 220, 130]
    rgb[:4, :4] = [255, 255, 0]
    return rgb


@needs_libheif
def test_container_parser_meets_real_avif_encoder():
    """probe_avif (pure-Python ISOBMFF walk) on genuine libheif/aom
    output: dims, codec, depth, alpha presence all as encoded — the
    parser works on real-world files, not only the house fixtures."""
    rgb = _test_rgb(33, 47)  # odd dims survive the item tree
    data = libheif.encode_heif(rgb, codec="av1")
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
    # an RGBA encode carries an auxiliary alpha item the container walk
    # and the handle probe both see
    alpha = np.zeros((33, 47, 1), np.uint8)
    alpha[8:24, 12:36] = 255
    rgba = libheif.encode_heif(np.dstack([rgb, alpha]), codec="av1")
    assert probe_avif(rgba)["has_alpha"] is True
    assert heif.probe_heif(rgba)["has_alpha"] is True


@needs_libheif
def test_container_parser_meets_real_heic_encoder():
    rgb = _test_rgb(32, 48)
    data = libheif.encode_heif(rgb, codec="hevc")
    assert is_heif_still(data) and not is_avif(data) and not is_mp4(data)
    info = probe_avif(data)
    assert info is not None
    assert (info["width"], info["height"]) == (48, 32)
    # libheif tiles HEVC stills behind a `grid` derived item whose own
    # ispe carries the full dims; bare hvc1/hev1 primaries also occur
    assert info["codec"] in ("hvc1", "hev1", "grid")


def test_no_library_degrades_to_container_probe(monkeypatch):
    """With libheif absent the handle probe reports unavailable, while
    the pure-Python container probe still serves metadata. AVIF is
    never pixel-decoded: decode_image returns None (stub fallback)."""
    from neo4j_to_clickhouse_spark.operators.isobmff import encode_avif

    monkeypatch.setattr(heif, "_LIB", None)
    assert not heif.available()
    data = encode_avif(640, 360)
    assert M.decode_image(data) is None
    assert heif.probe_heif(data) is None
    info = probe_avif(data)
    assert (info["width"], info["height"]) == (640, 360)
    assert M.probe_image_dims(data) == (640, 360)


@needs_libheif
def test_probe_assets_fills_real_avif_and_heic_dims(spark):
    avif = libheif.encode_heif(_test_rgb(24, 56), codec="av1")
    heic = libheif.encode_heif(_test_rgb(40, 32), codec="hevc")
    df = spark.createDataFrame(
        [("a", bytearray(avif)), ("h", bytearray(heic))],
        "asset_id string, payload binary",
    )
    assets = M.ingest_binary_assets(df, "asset_id", "payload", "image")
    rows = {r.asset_id: r for r in M.probe_assets(assets).collect()}
    assert (rows["a"].width, rows["a"].height) == (56, 24)
    assert (rows["h"].width, rows["h"].height) == (32, 40)
    assert rows["a"].duration_ms is None
