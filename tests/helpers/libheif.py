"""AVIF/HEIC fixture encoder over the system libheif (ctypes, tests only).

Builds genuine encoder output (aom for AV1, x265 for HEVC) so the
pure-Python ISOBMFF probe is checked against real-world files, not only
hand-built box trees. Binds the encoder entry points on its own handle,
so the package's binding stays probe-only; :func:`available` is False
(and the gated tests skip) wherever the package's ``heif.available()``
is False.
"""

from __future__ import annotations

import ctypes
import os
import tempfile

import numpy as np

from neo4j_to_clickhouse_spark.operators import heif
from neo4j_to_clickhouse_spark.operators.heif import _check, _HeifError

_COLORSPACE_RGB = 1
_CHROMA_INTERLEAVED_RGB = 10
_CHROMA_INTERLEAVED_RGBA = 11
_CHANNEL_INTERLEAVED = 10
_COMPRESSION_HEVC = 1
_COMPRESSION_AV1 = 4


def _load():
    if not heif.available():
        return None
    lib = ctypes.CDLL("libheif.so.1")
    e = _HeifError
    p = ctypes.c_void_p
    sigs = {
        "heif_context_alloc": (p, []),
        "heif_context_free": (None, [p]),
        "heif_image_handle_release": (None, [p]),
        "heif_image_release": (None, [p]),
        "heif_image_create": (e, [ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.POINTER(p)]),
        "heif_image_add_plane": (e, [p, ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_int]),
        "heif_image_get_plane": (
            ctypes.POINTER(ctypes.c_uint8),
            [p, ctypes.c_int, ctypes.POINTER(ctypes.c_int)],
        ),
        "heif_context_get_encoder_for_format": (e, [p, ctypes.c_int, ctypes.POINTER(p)]),
        "heif_encoder_set_lossless": (e, [p, ctypes.c_int]),
        "heif_encoder_set_lossy_quality": (e, [p, ctypes.c_int]),
        "heif_encoder_release": (None, [p]),
        "heif_context_encode_image": (e, [p, p, p, p, ctypes.POINTER(p)]),
        "heif_context_write_to_file": (e, [p, ctypes.c_char_p]),
    }
    for name, (restype, argtypes) in sigs.items():
        try:
            fn = getattr(lib, name)
        except AttributeError:
            return None
        fn.restype = restype
        fn.argtypes = argtypes
    return lib


_LIB = _load()


def available() -> bool:
    return _LIB is not None


def encode_heif(pixels: np.ndarray, codec: str = "av1") -> bytes:
    """RGB(A) uint8 array -> lossless AVIF (``codec='av1'``) or HEIC
    (``'hevc'``) bytes via the system encoders (aom/x265). Writes through
    a temp file because some libheif builds lack write-to-memory."""
    if _LIB is None:
        raise RuntimeError("libheif encoder not available on this host")
    lib = _LIB
    h, w, nch = pixels.shape
    chroma = (
        _CHROMA_INTERLEAVED_RGBA if nch == 4 else _CHROMA_INTERLEAVED_RGB
    )
    img = ctypes.c_void_p()
    _check(
        lib.heif_image_create(
            w, h, _COLORSPACE_RGB, chroma, ctypes.byref(img)
        ),
        "image create",
    )
    ctx = lib.heif_context_alloc()
    encoder = ctypes.c_void_p()
    out_handle = ctypes.c_void_p()
    tmp = tempfile.NamedTemporaryFile(suffix=".heif", delete=False)
    tmp.close()
    try:
        _check(
            lib.heif_image_add_plane(img, _CHANNEL_INTERLEAVED, w, h, 8),
            "add plane",
        )
        stride = ctypes.c_int()
        plane = lib.heif_image_get_plane(
            img, _CHANNEL_INTERLEAVED, ctypes.byref(stride)
        )
        row_bytes = w * nch
        src = np.ascontiguousarray(pixels, dtype=np.uint8)
        for y in range(h):
            ctypes.memmove(
                ctypes.addressof(plane.contents) + y * stride.value,
                src[y].ctypes.data,
                row_bytes,
            )
        fmt = _COMPRESSION_AV1 if codec == "av1" else _COMPRESSION_HEVC
        _check(
            lib.heif_context_get_encoder_for_format(
                ctx, fmt, ctypes.byref(encoder)
            ),
            "get encoder",
        )
        _check(lib.heif_encoder_set_lossless(encoder, 1), "lossless")
        _check(lib.heif_encoder_set_lossy_quality(encoder, 100), "quality")
        _check(
            lib.heif_context_encode_image(
                ctx, img, encoder, None, ctypes.byref(out_handle)
            ),
            "encode",
        )
        _check(
            lib.heif_context_write_to_file(ctx, tmp.name.encode()),
            "write",
        )
        with open(tmp.name, "rb") as fh:
            return fh.read()
    finally:
        os.unlink(tmp.name)
        if out_handle:
            lib.heif_image_handle_release(out_handle)
        if encoder:
            lib.heif_encoder_release(encoder)
        lib.heif_context_free(ctx)
        if img:
            lib.heif_image_release(img)
