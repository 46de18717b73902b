"""Optional libheif handle probe for AVIF/HEIC payloads (ctypes, no pip).

The pure-Python stack reads AVIF/HEIC at the CONTAINER level
(:mod:`.isobmff`: dims, depth, alpha, codec — zero codec work). For
HEIF stills whose item tree that walk cannot size, this module asks the
system libheif (when the host has it) for the primary image handle's
dims, alpha and luma depth — still no pixel decode. Pure ctypes against
the public C API (libheif.h, stable since 1.x), no bundled code, and
every entry point degrades to "not available" when the library is
absent — the Spark-side plumbing and the container probers never depend
on it.
"""

from __future__ import annotations

import ctypes


class _HeifError(ctypes.Structure):
    _fields_ = [
        ("code", ctypes.c_int),
        ("subcode", ctypes.c_int),
        ("message", ctypes.c_char_p),
    ]


def _load():
    try:
        lib = ctypes.CDLL("libheif.so.1")
    except OSError:
        return None
    e = _HeifError
    p = ctypes.c_void_p
    sigs = {
        "heif_context_alloc": (p, []),
        "heif_context_free": (None, [p]),
        "heif_context_read_from_memory": (e, [p, ctypes.c_char_p, ctypes.c_size_t, p]),
        "heif_context_get_primary_image_handle": (e, [p, ctypes.POINTER(p)]),
        "heif_image_handle_get_width": (ctypes.c_int, [p]),
        "heif_image_handle_get_height": (ctypes.c_int, [p]),
        "heif_image_handle_has_alpha_channel": (ctypes.c_int, [p]),
        "heif_image_handle_get_luma_bits_per_pixel": (ctypes.c_int, [p]),
        "heif_image_handle_release": (None, [p]),
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


def _check(err: _HeifError, what: str) -> None:
    """Raise ValueError for a failed libheif call (shared with the test
    fixture encoder in ``tests/helpers/libheif.py``)."""
    if err.code != 0:
        msg = (err.message or b"?").decode("utf-8", "replace")
        raise ValueError(f"libheif {what} failed: {msg} (code {err.code})")


def probe_heif(payload: bytes) -> dict | None:
    """Handle-level metadata without a pixel decode (dims, alpha, luma
    bit depth). Returns None when libheif is absent or rejects the
    payload. :func:`.multimodal.probe_image_dims` asks it only after the
    pure-Python container walk found no primary-item ``ispe``."""
    if _LIB is None:
        return None
    lib = _LIB
    ctx = lib.heif_context_alloc()
    if not ctx:
        return None
    handle = ctypes.c_void_p()
    try:
        if lib.heif_context_read_from_memory(ctx, payload, len(payload), None).code:
            return None
        if lib.heif_context_get_primary_image_handle(ctx, ctypes.byref(handle)).code:
            return None
        return {
            "width": lib.heif_image_handle_get_width(handle),
            "height": lib.heif_image_handle_get_height(handle),
            "has_alpha": bool(lib.heif_image_handle_has_alpha_channel(handle)),
            "bit_depth": lib.heif_image_handle_get_luma_bits_per_pixel(handle),
        }
    finally:
        if handle:
            lib.heif_image_handle_release(handle)
        lib.heif_context_free(ctx)
