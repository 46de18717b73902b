"""Header-only MJPEG-in-AVI probe (Microsoft RIFF/AVI spec).

Motion-JPEG inside an AVI container is RIFF chunk framing around
per-frame JPEG payloads, so frame count and duration are readable from
the chunk headers alone: ``RIFF('AVI ') > LIST('hdrl') > 'avih'`` for
the per-frame period, then ``LIST('movi')`` for the ``##dc``/``##db``
frame chunks. The walk is lenient about optional lists (``idx1``,
``strl`` details) and never decodes a frame; other video FourCCs
(H.264/VP9/AV1) are the ffmpeg boundary and probe to None.
"""

from __future__ import annotations

import struct

_AVIH_MIN = 32  # we need dwMicroSecPerFrame (offset 0) .. dwTotalFrames (16)


def is_avi(payload: bytes | None) -> bool:
    return (
        payload is not None
        and len(payload) >= 12
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"AVI "
    )


def probe_avi(payload: bytes) -> tuple[int, int] | None:
    """(n_frames, duration_ms) if the payload is a well-formed MJPEG
    AVI, else None — the :func:`.multimodal.probe_assets` contract.
    None covers non-AVI input, a missing or short ``avih``, a chunk
    overrunning its list, and a frame chunk that does not open with a
    JPEG SOI marker."""
    if not is_avi(payload):
        return None
    period_us = None
    n_frames = 0

    def walk(pos: int, end: int) -> None:
        nonlocal period_us, n_frames
        while pos + 8 <= end:
            cid, size = struct.unpack_from("<4sI", payload, pos)
            body_start = pos + 8
            body_end = body_start + size
            if body_end > end:
                raise ValueError("truncated AVI chunk")
            if cid == b"LIST":
                # list type occupies the first 4 body bytes
                walk(body_start + 4, body_end)
            elif cid == b"avih":
                if size < _AVIH_MIN:
                    raise ValueError("truncated avih header")
                period_us = struct.unpack_from("<I", payload, body_start)[0]
            elif cid[2:4] in (b"dc", b"db") and cid[:2].isdigit():
                if size < 2 or payload[body_start : body_start + 2] != b"\xff\xd8":
                    raise ValueError("non-JPEG frame chunk")
                n_frames += 1
            pos = body_end + (size & 1)  # chunks are word-aligned

    try:
        walk(12, min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0]))
    except (ValueError, struct.error, IndexError):
        return None
    if period_us is None:
        return None
    return (n_frames, max(period_us // 1000, 1) * n_frames)
