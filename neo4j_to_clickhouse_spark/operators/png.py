"""Pure-Python PNG codec (RFC 2083 / ISO 15948) over stdlib ``zlib``.

PNG needs no external library at all: chunk framing, DEFLATE (stdlib
zlib), and the five scanline filters. This module is the baseline codec
behind :func:`.multimodal.decode_image`, same contract as the sibling
:mod:`.jpeg` module — decode to HxWx3 uint8 RGB.

Supported: every legal (color type, bit depth) combination of the spec
— gray 1/2/4/8/16, palette 1/2/4/8, RGB / gray+alpha / RGBA 8/16 —
both non-interlaced and Adam7-interlaced (each of the seven passes is
its own filtered sub-image; filters reset per pass). 16-bit samples
keep the high byte (libpng strip-16); sub-byte gray scales exactly to
full range (255 divides by every 2^d - 1). Alpha is dropped (the RGB
contract downstream has no alpha lane; compositing policy belongs to
the consumer).

Filters None/Sub/Up are vectorized (Sub is a per-byte-lane prefix sum);
Average/Paeth fall back to a per-byte loop — correct first, and encoders
that emit them are rare in machine-generated corpora. The encoder always
writes filter 0, so encode->decode roundtrips are byte-lossless, which
the multimodal tests rely on.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
# channels per pixel by color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 pass grid: (x_start, y_start, x_step, y_step) per spec §8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter(raw: bytes, h: int, rowbytes: int, bpp: int) -> np.ndarray:
    """Reverse the five scanline filters over h rows of
    1 filter byte + `rowbytes` data bytes (a whole image, or one Adam7
    pass — filters reset per pass). `bpp` is the FILTER byte distance:
    bytes per complete pixel, floored to 1 for sub-byte depths (spec
    §9.2 — filters always operate on bytes)."""
    rows = np.frombuffer(raw, np.uint8, (rowbytes + 1) * h).reshape(
        h, rowbytes + 1
    )
    filters = rows[:, 0]
    data = rows[:, 1:].astype(np.int64)
    prev = np.zeros(rowbytes, np.int64)
    out = np.empty((h, rowbytes), np.uint8)
    for y in range(h):
        f = filters[y]
        row = data[y]
        if f == 0:
            pass
        elif f == 1:  # Sub: prefix sum within each byte lane (stride bpp)
            for lane in range(bpp):
                row[lane::bpp] = np.cumsum(row[lane::bpp]) % 256
        elif f == 2:  # Up
            row = (row + prev) % 256
        elif f in (3, 4):  # Average / Paeth: sequential per byte
            row = row.copy()
            for i in range(rowbytes):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                if f == 3:
                    row[i] = (row[i] + (a + b) // 2) % 256
                else:
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                    row[i] = (row[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = row
        prev = row.astype(np.int64)
    return out


def _expand_samples(
    rows: np.ndarray, w: int, ch: int, depth: int
) -> np.ndarray:
    """(h, rowbytes) filtered bytes -> (h, w, ch) uint8 samples.
    16-bit samples keep the high byte (libpng's strip-16); sub-byte
    depths unpack MSB-first per spec §7.2 (single-channel only)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : w * ch].reshape(h, w, ch)
    if depth == 16:
        return rows[:, : w * ch * 2].reshape(h, w, ch, 2)[:, :, :, 0]
    bits = np.unpackbits(rows, axis=1)[:, : w * depth].reshape(
        h, w, depth
    )
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (bits * weights).sum(axis=2, dtype=np.uint16).astype(
        np.uint8
    )[:, :, None]


def _decode_subimage(
    raw: bytes, h: int, w: int, ch: int, depth: int
) -> np.ndarray:
    rowbytes = (w * ch * depth + 7) // 8
    bpp = max(1, ch * depth // 8)
    return _expand_samples(
        _unfilter(raw, h, rowbytes, bpp), w, ch, depth
    )


def _subimage_bytes(h: int, w: int, ch: int, depth: int) -> int:
    return ((w * ch * depth + 7) // 8 + 1) * h


# legal (color type -> bit depths) combinations, spec §11.2.2
_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}


def decode_png(payload: bytes) -> np.ndarray:
    """Decode PNG bytes to an HxWx3 uint8 RGB array (alpha dropped).

    Raises ``ValueError`` for non-PNG input or unsupported variants.
    """
    return np.ascontiguousarray(decode_png_rgba(payload)[:, :, :3])


def decode_png_rgba(payload: bytes) -> np.ndarray:
    """Decode PNG bytes to an HxWx4 uint8 RGBA array (gray/RGB expand
    opaque; palette alpha comes from ``tRNS``). The APNG composer
    below needs the alpha lane; :func:`decode_png` stays the RGB
    surface the rest of the pipeline consumes."""
    if len(payload) < 8 or payload[:8] != _SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = 8
    ihdr = None
    palette = None
    trns = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(body, np.uint8)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + CRC
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if color not in _CHANNELS:
        raise ValueError(f"unknown PNG color type {color}")
    if depth not in _DEPTHS[color]:
        raise ValueError(
            f"illegal PNG depth {depth} for color type {color}"
        )
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if w <= 0 or h <= 0 or not idat:
        raise ValueError("empty PNG image")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT stream: {e}") from None
    ch = _CHANNELS[color]
    if interlace == 0:
        if len(raw) != _subimage_bytes(h, w, ch, depth):
            raise ValueError("IDAT size does not match dimensions")
        px = _decode_subimage(raw, h, w, ch, depth)
    else:
        px = np.empty((h, w, ch), np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            need = _subimage_bytes(ph, pw, ch, depth)
            if len(raw) < off + need:
                raise ValueError("IDAT size does not match Adam7 passes")
            px[y0::dy, x0::dx] = _decode_subimage(
                raw[off : off + need], ph, pw, ch, depth
            )
            off += need
        if off != len(raw):
            raise ValueError("trailing bytes after the final Adam7 pass")
    if color == 0 and depth < 8:
        # scale sub-byte gray to full range: 255 is divisible by every
        # (2^d - 1) for d in {1,2,4}, so the scale factor is exact
        px = px * np.uint8(255 // ((1 << depth) - 1))

    def with_alpha(rgb: np.ndarray, alpha: np.ndarray | None) -> np.ndarray:
        if alpha is None:
            alpha = np.full(rgb.shape[:2], 255, np.uint8)
        return np.dstack([np.ascontiguousarray(rgb), alpha])

    if color == 3:
        if palette is None:
            raise ValueError("palette image without PLTE")
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("palette index out of range")
        alpha = None
        if trns is not None:
            a_lut = np.full(len(palette), 255, np.uint8)
            a_lut[: min(len(trns), len(palette))] = trns[: len(palette)]
            alpha = a_lut[idx]
        return with_alpha(palette[idx], alpha)
    if color == 0:
        return with_alpha(np.repeat(px, 3, axis=2), None)
    if color == 4:
        return with_alpha(np.repeat(px[:, :, :1], 3, axis=2), px[:, :, 1])
    if color == 6:
        return np.ascontiguousarray(px)
    return with_alpha(px[:, :, :3], None)  # truecolor RGB


# --- APNG (animated PNG, W3C PNG third edition) --------------------------------


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def is_apng(payload: bytes | None) -> bool:
    """PNG signature + an ``acTL`` chunk before the first ``IDAT``."""
    if payload is None or len(payload) < 8 or payload[:8] != _SIG:
        return False
    pos = 8
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        if ctype == b"acTL":
            return True
        if ctype in (b"IDAT", b"IEND"):
            return False
        pos += 12 + length
    return False


def apng_frame_delays(payload: bytes) -> list[int]:
    """Per-frame delays (ms) from the fcTL headers alone — the cheap
    metadata walk (delay_den 0 means 100 per the spec). A payload
    truncated inside an fcTL yields the delays before it."""
    if not is_apng(payload):
        raise ValueError("not an APNG")
    out = []
    pos = 8
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        if ctype == b"fcTL" and length >= 26:
            if pos + 32 > len(payload):
                break  # truncated mid-header: keep the delays read so far
            num, den = struct.unpack_from(">HH", payload, pos + 8 + 20)
            out.append(round(1000 * num / (den or 100)))
        if ctype == b"IEND":
            break
        pos += 12 + length
    return out


def decode_apng_frames(
    payload: bytes,
) -> tuple[list[int], list[np.ndarray]]:
    """Decode an APNG into composed RGBA canvases.

    Returns ``(delays_ms, canvases)``. Composition per the spec: the
    canvas (IHDR dims) starts fully transparent; each frame's region
    either replaces (``blend_op`` 0, SOURCE) or alpha-composites
    (``blend_op`` 1, OVER); after emitting, ``dispose_op`` applies —
    0 none, 1 clear the region to transparent black, 2 restore the
    pre-frame canvas (treated as 1 on the first frame, as required).
    An ``IDAT`` preceded by an ``fcTL`` is the first frame; otherwise
    the IDAT image is the non-animated fallback and only ``fdAT``
    frames play. Each frame's data decodes as a standalone PNG
    (same IHDR params at the frame dims, shared PLTE/tRNS)."""
    if not is_apng(payload):
        raise ValueError("not an APNG")
    pos = 8
    ihdr_body = None
    aux = b""  # PLTE + tRNS pass through to every frame
    frames: list[tuple[tuple, bytearray]] = []
    seen_idat = False
    idat_owner: bytearray | None = None
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr_body = body
        elif ctype in (b"PLTE", b"tRNS"):
            aux += _png_chunk(ctype, body)
        elif ctype == b"fcTL":
            if length < 26:
                raise ValueError("short fcTL")
            frames.append(
                (struct.unpack(">IIIIIHHBB", body), bytearray())
            )
        elif ctype == b"IDAT":
            # an fcTL before the first IDAT makes the IDAT frame 1;
            # otherwise the IDAT image is only the non-animated
            # fallback. IDAT chunks are contiguous, so the ownership
            # decided at the first one holds for the rest.
            if not seen_idat:
                idat_owner = frames[0][1] if len(frames) == 1 else None
                seen_idat = True
            if idat_owner is not None:
                idat_owner.extend(body)
        elif ctype == b"fdAT":
            if not frames:
                raise ValueError("fdAT without a preceding fcTL")
            if length < 4:
                raise ValueError("short fdAT")
            frames[-1][1].extend(body[4:])  # strip sequence_number
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr_body is None:
        raise ValueError("missing IHDR")
    cw, chh, depth, color, comp, filt, _interlace = struct.unpack(
        ">IIBBBBB", ihdr_body
    )
    if not frames:
        raise ValueError("APNG contains no frames")
    canvas = np.zeros((chh, cw, 4), np.uint8)
    delays: list[int] = []
    out: list[np.ndarray] = []
    for n, (fctl, data) in enumerate(frames):
        _seq, fw, fh, fx, fy, dnum, dden, dispose, blend = fctl
        if fx + fw > cw or fy + fh > chh or not data:
            raise ValueError("fcTL region outside the canvas or empty")
        sub = (
            _SIG
            + _png_chunk(
                b"IHDR",
                struct.pack(">IIBBBBB", fw, fh, depth, color, comp, filt, 0),
            )
            + aux
            + _png_chunk(b"IDAT", bytes(data))
            + _png_chunk(b"IEND", b"")
        )
        frame = decode_png_rgba(sub)
        if n == 0 and dispose == 2:
            dispose = 1  # spec: APNG_DISPOSE_OP_PREVIOUS on frame 0
        saved = canvas.copy() if dispose == 2 else None
        region = canvas[fy : fy + fh, fx : fx + fw]
        if blend == 0:  # SOURCE
            region[:] = frame
        else:  # OVER
            fa = frame[..., 3:4].astype(np.float64) / 255.0
            ba = region[..., 3:4].astype(np.float64) / 255.0
            oa = fa + ba * (1.0 - fa)
            safe = np.where(oa == 0.0, 1.0, oa)
            oc = (
                frame[..., :3] * fa + region[..., :3] * ba * (1.0 - fa)
            ) / safe
            region[..., :3] = np.rint(oc).astype(np.uint8)
            region[..., 3:4] = np.rint(oa * 255.0).astype(np.uint8)
            region[(oa[..., 0] == 0.0)] = 0
        out.append(canvas.copy())
        delays.append(round(1000 * dnum / (dden or 100)))
        if dispose == 1:
            canvas[fy : fy + fh, fx : fx + fw] = 0
        elif dispose == 2 and saved is not None:
            canvas = saved
    return delays, out


def encode_apng(
    frames: list[dict], canvas: tuple[int, int], num_plays: int = 0
) -> bytes:
    """Fixture encoder: each frame dict has ``pixels`` (hxwx4 RGBA or
    hxwx3 RGB), optional ``x``/``y``, ``delay_ms``, ``dispose`` (0-2)
    and ``blend`` (0 source / 1 over). Frame 1 rides the IDAT (so
    non-animated decoders see it); the rest are fdAT."""
    cw, chh = canvas
    seq = 0
    out = _SIG + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", cw, chh, 8, 6, 0, 0, 0)
    ) + _png_chunk(
        b"acTL", struct.pack(">II", len(frames), num_plays)
    )

    def rows(px: np.ndarray) -> bytes:
        h, w = px.shape[:2]
        if px.shape[2] == 3:
            px = np.dstack([px, np.full((h, w), 255, np.uint8)])
        return zlib.compress(
            np.concatenate(
                [np.zeros((h, 1), np.uint8), px.reshape(h, w * 4)], axis=1
            ).tobytes(),
            6,
        )

    for i, f in enumerate(frames):
        px = np.asarray(f["pixels"], np.uint8)
        fh, fw = px.shape[:2]
        delay = int(f.get("delay_ms", 100))
        fctl = struct.pack(
            ">IIIIIHHBB",
            seq, fw, fh, f.get("x", 0), f.get("y", 0),
            delay, 1000, f.get("dispose", 0), f.get("blend", 1),
        )
        seq += 1
        out += _png_chunk(b"fcTL", fctl)
        data = rows(px)
        if i == 0:
            if (fw, fh) != (cw, chh) or f.get("x") or f.get("y"):
                raise ValueError("frame 1 (the IDAT) must cover the canvas")
            out += _png_chunk(b"IDAT", data)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + data)
            seq += 1
    return out + _png_chunk(b"IEND", b"")


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode an HxWx3 uint8 RGB array as a filter-0 truecolor PNG.

    Byte-lossless under :func:`decode_png` — the multimodal fixture and
    resize re-encode path."""
    h, w, _ = pixels.shape
    body = np.concatenate(
        [np.zeros((h, 1), np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    return (
        _SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(body, 6))
        + chunk(b"IEND", b"")
    )
