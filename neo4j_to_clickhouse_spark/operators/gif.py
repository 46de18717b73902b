"""Dependency-free GIF codec (GIF87a / GIF89a, the public CompuServe
spec): LZW decoder for the first frame and a palette LZW encoder.

Closes one more of the reference pipeline's opaque-media boundaries
(SURVEY.md §2; the reference stores media as opaque bytes and never
decodes — here GIF joins BMP/PPM/PNG as a REAL pure-stdlib decode
path behind :func:`multimodal.decode_image`, leaving only formats that
genuinely need external codecs stubbed).

Decoder scope (deterministic, first frame):
- global and local color tables, any palette size;
- interlaced images (four-pass deinterlace);
- 89a extension blocks are skipped (animation/graphic-control state is
  composition semantics, not pixel decoding; frame 1 is composed onto a
  background-color canvas at its (left, top) offset);
- sub-block reassembly and variable-width LSB-first LZW with code-size
  growth, deferred clear codes, and the KwKwK self-reference case.

Encoder scope: HxWx3 uint8 RGB with <= 256 distinct colors (the GIF
pixel model) -> single-frame non-interlaced GIF89a with a real LZW
stream (dictionary reset at 4096 codes per the spec). Images with more
colors raise ValueError — quantization is a modeling choice, not a
codec concern.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_CODE_SIZE = 12  # GIF LZW codes never exceed 12 bits


# --- bit streams (LSB-first, per spec appendix) ------------------------------

class _BitReader:
    def __init__(self, data: bytes):
        self._data = data
        self._pos = 0
        self._bit = 0

    def read(self, n: int) -> int:
        out = 0
        got = 0
        while got < n:
            if self._pos >= len(self._data):
                raise ValueError("truncated GIF LZW stream")
            byte = self._data[self._pos]
            avail = 8 - self._bit
            take = min(n - got, avail)
            out |= ((byte >> self._bit) & ((1 << take) - 1)) << got
            got += take
            self._bit += take
            if self._bit == 8:
                self._bit = 0
                self._pos += 1
        return out


class _BitWriter:
    def __init__(self):
        self._out = bytearray()
        self._cur = 0
        self._bit = 0

    def write(self, value: int, n: int) -> None:
        while n > 0:
            take = min(n, 8 - self._bit)
            self._cur |= (value & ((1 << take) - 1)) << self._bit
            value >>= take
            n -= take
            self._bit += take
            if self._bit == 8:
                self._out.append(self._cur)
                self._cur = 0
                self._bit = 0

    def getvalue(self) -> bytes:
        if self._bit:
            self._out.append(self._cur)
            self._cur = 0
            self._bit = 0
        return bytes(self._out)


# --- LZW ---------------------------------------------------------------------

def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """GIF variable-width LZW: returns exactly n_pixels palette indices."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    reader = _BitReader(data)
    out = bytearray()

    table: list[bytes] = []
    code_size = 0
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, code_size, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        code_size = min_code_size + 1
        prev = None

    reset()
    while len(out) < n_pixels:
        code = reader.read(code_size)
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError("GIF LZW stream starts with invalid code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("GIF LZW code out of range")
        out += entry
        prev = entry
        if (
            len(table) == (1 << code_size)
            and code_size < _MAX_CODE_SIZE
        ):
            code_size += 1
    if len(out) < n_pixels:
        raise ValueError("GIF LZW stream ended before image was complete")
    return bytes(out[:n_pixels])


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    writer = _BitWriter()

    table: dict[bytes, int] = {}
    code_size = 0
    next_code = 0

    def reset() -> None:
        nonlocal table, code_size, next_code
        table = {bytes([i]): i for i in range(clear)}
        code_size = min_code_size + 1
        next_code = end + 1

    reset()
    writer.write(clear, code_size)
    w = b""
    for i in indices:
        wk = w + bytes([i])
        if wk in table:
            w = wk
            continue
        writer.write(table[w], code_size)
        table[wk] = next_code
        # lock-step with the decoder: its appends LAG one emission
        # behind (the KwKwK lag), so it widens after appending entry
        # (1<<cs)-1 exactly when this side widens after assigning entry
        # (1<<cs) — both between the same two emissions
        if next_code == (1 << code_size) and code_size < _MAX_CODE_SIZE:
            code_size += 1
        next_code += 1
        if next_code >= (1 << _MAX_CODE_SIZE):
            writer.write(clear, code_size)
            reset()
        w = bytes([i])
    if w:
        writer.write(table[w], code_size)
    writer.write(end, code_size)
    return writer.getvalue()


# --- container ---------------------------------------------------------------

def _read_color_table(buf: bytes, off: int, flag_bits: int) -> tuple[np.ndarray, int]:
    n = 2 << (flag_bits & 0x07)
    end = off + 3 * n
    if len(buf) < end:
        raise ValueError("truncated GIF color table")
    table = np.frombuffer(buf, np.uint8, 3 * n, off).reshape(n, 3)
    return table, end


def _skip_subblocks(buf: bytes, off: int) -> int:
    while True:
        if off >= len(buf):
            raise ValueError("truncated GIF sub-blocks")
        size = buf[off]
        off += 1
        if size == 0:
            return off
        off += size


def _read_subblocks(buf: bytes, off: int) -> tuple[bytes, int]:
    parts = []
    while True:
        if off >= len(buf):
            raise ValueError("truncated GIF sub-blocks")
        size = buf[off]
        off += 1
        if size == 0:
            return b"".join(parts), off
        if len(buf) < off + size:
            raise ValueError("truncated GIF sub-blocks")
        parts.append(buf[off : off + size])
        off += size


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            out[y] = rows[src]
            src += 1
    return out


def decode_gif(payload: bytes) -> np.ndarray:
    """First frame of a GIF87a/89a stream as an HxWx3 uint8 RGB array on
    the logical-screen canvas (background-filled outside the frame)."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF87a/GIF89a stream")
    sw, sh, packed, bg_index, _aspect = struct.unpack_from(
        "<HHBBB", payload, 6
    )
    if sw == 0 or sh == 0:
        raise ValueError("empty GIF logical screen")
    off = 13
    gct = None
    if packed & 0x80:
        gct, off = _read_color_table(payload, off, packed)

    while True:
        if off >= len(payload):
            raise ValueError("GIF ended without an image block")
        block = payload[off]
        off += 1
        if block == 0x3B:  # trailer
            raise ValueError("GIF contains no image data")
        if block == 0x21:  # extension: label byte + sub-blocks
            if off >= len(payload):
                raise ValueError("truncated GIF extension")
            off = _skip_subblocks(payload, off + 1)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", payload, off)
        off += 9
        if w == 0 or h == 0 or left + w > sw or top + h > sh:
            raise ValueError("GIF frame exceeds the logical screen")
        palette = gct
        if ipacked & 0x80:
            palette, off = _read_color_table(payload, off, ipacked)
        if palette is None:
            raise ValueError("GIF image has no color table")
        if off >= len(payload):
            raise ValueError("truncated GIF image data")
        min_code_size = payload[off]
        data, _off = _read_subblocks(payload, off + 1)
        indices = np.frombuffer(
            _lzw_decode(data, min_code_size, w * h), np.uint8
        )
        if indices.max(initial=0) >= palette.shape[0]:
            raise ValueError("GIF pixel index outside the color table")
        rows = palette[indices].reshape(h, w, 3)
        if ipacked & 0x40:
            rows = _deinterlace(rows)
        # GIF89a 18: the background index refers to the GLOBAL color
        # table — resolving it in a frame's LOCAL palette would paint a
        # wrong background outside the frame rect (ADVICE r07).
        bg = (
            gct[bg_index]
            if gct is not None and bg_index < gct.shape[0]
            else np.zeros(3, np.uint8)
        )
        canvas = np.empty((sh, sw, 3), np.uint8)
        canvas[:] = bg
        canvas[top : top + h, left : left + w] = rows
        return canvas


def encode_gif_animation(
    frames: list[dict],
    screen: tuple[int, int] | None = None,
    bg_rgb: tuple[int, int, int] = (0, 0, 0),
) -> bytes:
    """Fixture encoder for animation tests (house pattern, like
    ``encode_apng``): each frame dict has ``pixels`` (hxwx3
    uint8), optional ``left``/``top``, ``delay_cs``, ``disposal``, and
    ``mask`` (bool hxw — False pixels are written as the transparent
    index and left undrawn). One shared global palette; index 255 is
    reserved for transparency when any frame carries a mask."""
    all_colors = [np.asarray(bg_rgb, np.uint8).reshape(1, 3)]
    for f in frames:
        all_colors.append(
            np.asarray(f["pixels"], np.uint8).reshape(-1, 3)
        )
    palette = np.unique(np.concatenate(all_colors), axis=0)
    any_mask = any(f.get("mask") is not None for f in frames)
    if palette.shape[0] > (255 if any_mask else 256):
        raise ValueError("too many distinct colors for a GIF palette")
    lut = {tuple(c): i for i, c in enumerate(palette)}
    t_index = 255 if any_mask else None
    bits = 8 if any_mask else max(int(palette.shape[0] - 1).bit_length(), 1)
    table_n = 1 << bits
    min_code_size = max(bits, 2)
    if screen is None:
        screen = (
            max(f.get("left", 0) + f["pixels"].shape[1] for f in frames),
            max(f.get("top", 0) + f["pixels"].shape[0] for f in frames),
        )
    sw, sh = screen
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack(
        "<HHBBB", sw, sh, 0x80 | ((bits - 1) & 0x07), lut[tuple(bg_rgb)], 0
    )
    table = np.zeros((table_n, 3), np.uint8)
    table[: palette.shape[0]] = palette
    out += table.tobytes()
    for f in frames:
        px = np.asarray(f["pixels"], np.uint8)
        h, w = px.shape[:2]
        gpacked = (f.get("disposal", 0) & 0x7) << 2
        if f.get("mask") is not None:
            gpacked |= 1
        out += b"\x21\xf9\x04" + bytes([gpacked]) + struct.pack(
            "<H", f.get("delay_cs", 10)
        ) + bytes([t_index or 0]) + b"\x00"
        out += b"\x2c" + struct.pack(
            "<HHHHB", f.get("left", 0), f.get("top", 0), w, h, 0
        )
        flat = px.reshape(-1, 3)
        idx = np.array([lut[tuple(c)] for c in flat], np.uint8)
        if f.get("mask") is not None:
            idx[~np.asarray(f["mask"], bool).reshape(-1)] = t_index
        out.append(min_code_size)
        stream = _lzw_encode(idx.tobytes(), min_code_size)
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def encode_gif(pixels: np.ndarray) -> bytes:
    """Encode an HxWx3 uint8 RGB array (<= 256 distinct colors) as a
    single-frame non-interlaced GIF89a."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected an HxWx3 RGB array")
    h, w, _ = pixels.shape
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError("GIF dimensions out of range")
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    flat = pixels.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if palette.shape[0] > 256:
        raise ValueError(
            f"{palette.shape[0]} distinct colors: GIF needs <= 256 "
            "(quantize upstream)"
        )
    bits = max(int(palette.shape[0] - 1).bit_length(), 1)
    table_n = 1 << bits
    min_code_size = max(bits, 2)

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 0x07), 0, 0)
    table = np.zeros((table_n, 3), np.uint8)
    table[: palette.shape[0]] = palette
    out += table.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(min_code_size)
    stream = _lzw_encode(
        inverse.astype(np.uint8).tobytes(), min_code_size
    )
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
