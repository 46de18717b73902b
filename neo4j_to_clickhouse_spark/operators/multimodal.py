"""Multimodal (image/audio/video) column operators (north star).

Design: media are opaque ``binary`` payload columns + typed metadata
(:data:`neo4j_to_clickhouse_spark.schemas.MULTIMODAL_SCHEMA`), the layout
that survives 100 TB — payload bytes move through Arrow record batches,
metadata stays queryable without touching payloads (column pruning means a
metadata-only query never reads a single payload byte from parquet).

Feature extraction and the header probe are Arrow-batched
``mapInPandas`` operators. Decode is REAL for the formats the native
pure-Python codecs below cover; everything else is stubbed:
``decode_stub='fake'`` produces a deterministic stand-in from the
payload hash (real Spark plumbing, fake pixels); ``decode_stub='raise'``
raises NotImplementedError where the external codec call belongs.
Everything around the stub — schema, batching, partitioning, output
contract — is production-shaped and tested.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator
from typing import Literal

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# --- dependency-free image codecs (BMP/PPM/PNG/GIF/WebP-lossless) ---------
# The container ships no Pillow/ffmpeg, but uncompressed 24-bit BMP and
# binary PPM (P6) need only `struct` + numpy, PNG needs only stdlib zlib
# (sibling :mod:`.png`), GIF LZW is pure arithmetic (sibling :mod:`.gif`),
# and WebP-lossless is prefix codes + LZ77 + invertible transforms
# (sibling :mod:`.vp8l`, RFC 9649) — so for those formats the pixel path
# is REAL. JPEG, TIFF, lossy WebP and AVIF/HEIC stills are probed for
# dims from their headers only (AVIF/HEIC through the ISOBMFF item tree,
# sibling :mod:`.isobmff`, with the optional system libheif's handle
# probe as the fallback, sibling :mod:`.heif`); MP4, AVI and animated
# images are probed for duration from their container headers. Pixel
# decode of those formats is the stub.


def decode_image(payload: bytes | None) -> tuple[str, np.ndarray] | None:
    """Sniff + decode a payload into (format, HxWx3 uint8 RGB array).
    Handles uncompressed BMP, binary PPM/PGM, PNG, GIF87a/89a first
    frames and WebP-lossless (VP8L). Returns None for everything else —
    the caller falls back to its stub."""
    if not payload or len(payload) < 2:
        return None
    try:
        if payload[:2] == b"BM":
            return ("bmp", _decode_bmp(payload))
        if payload[:2] in (b"P5", b"P6"):
            return ("ppm", _decode_ppm(payload))
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            from neo4j_to_clickhouse_spark.operators.png import decode_png

            return ("png", decode_png(payload))
        if payload[:4] == b"GIF8":
            from neo4j_to_clickhouse_spark.operators.gif import decode_gif

            return ("gif", decode_gif(payload))
        if len(payload) >= 12 and payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            from neo4j_to_clickhouse_spark.operators.vp8l import decode_webp

            return ("webp", decode_webp(payload))
    except (ValueError, struct.error, IndexError):
        return None
    return None


def _decode_bmp(buf: bytes) -> np.ndarray:
    """BITMAPINFOHEADER BMP decode covering the variants scraped
    corpora actually contain: 24-bit BGR and 32-bit BGRA/BGRX (BI_RGB),
    16-bit 555 and BI_BITFIELDS 565/555, 1/4/8-bit palette, and RLE8
    (BI_RLE8) — bottom-up unless height is negative, rows padded to 4
    bytes. Everything else raises ValueError (stub fallback)."""
    if len(buf) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", buf, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", buf, 14)
    planes, bpp = struct.unpack_from("<HH", buf, 26)
    compression = struct.unpack_from("<I", buf, 30)[0]
    n_colors = struct.unpack_from("<I", buf, 46)[0]
    if hdr_size < 40 or planes != 1:
        raise ValueError("only BITMAPINFOHEADER BMPs are supported")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0:
        raise ValueError("empty BMP image")

    def palette() -> np.ndarray:
        n = n_colors or (1 << bpp)
        p0 = 14 + hdr_size
        if p0 + 4 * n > len(buf):
            raise ValueError("truncated BMP palette")
        # BGRX quads -> RGB
        quads = np.frombuffer(buf, np.uint8, 4 * n, p0).reshape(n, 4)
        return quads[:, 2::-1].copy()

    if compression == 1:  # BI_RLE8
        if bpp != 8:
            raise ValueError("BI_RLE8 requires 8-bit pixels")
        pal = palette()
        idx = np.zeros((height, width), np.uint8)
        x = y = 0
        i = data_off
        while i + 1 < len(buf):
            n, v = buf[i], buf[i + 1]
            i += 2
            if n > 0:  # encoded run
                end = min(x + n, width)
                if y < height:
                    idx[y, x:end] = v
                x = end
            elif v == 0:  # end of line
                x, y = 0, y + 1
            elif v == 1:  # end of bitmap
                break
            elif v == 2:  # delta
                if i + 1 >= len(buf):
                    raise ValueError("truncated BMP RLE delta")
                x, y = x + buf[i], y + buf[i + 1]
                i += 2
            else:  # absolute mode: v literal indices, word-aligned
                if i + v > len(buf):
                    raise ValueError("truncated BMP RLE literals")
                end = min(x + v, width)
                if y < height:
                    idx[y, x:end] = np.frombuffer(
                        buf, np.uint8, end - x, i
                    )
                x += v
                i += v + (v & 1)
        rows = pal[idx]
        return rows.copy() if top_down else rows[::-1].copy()

    if compression == 3:  # BI_BITFIELDS (16/32-bit channel masks)
        if len(buf) < 66:
            raise ValueError("truncated BMP bitfields")
        masks = struct.unpack_from("<III", buf, 54)
    elif compression == 0:
        masks = None
    else:
        raise ValueError(f"unsupported BMP compression {compression}")

    row_bytes = (width * bpp + 31) // 32 * 4
    need = data_off + row_bytes * height
    if len(buf) < need:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(
        buf, np.uint8, row_bytes * height, data_off
    ).reshape(height, row_bytes)
    if not top_down:
        raw = raw[::-1]

    if bpp == 24:
        if masks is not None:
            raise ValueError("bitfields are undefined for 24-bit BMP")
        px = raw[:, : width * 3].reshape(height, width, 3)
        return px[:, :, ::-1].copy()
    if bpp == 32:
        px = raw[:, : width * 4].reshape(height, width, 4)
        if masks is not None and masks != (0xFF0000, 0xFF00, 0xFF):
            raise ValueError("unsupported 32-bit BMP channel masks")
        return px[:, :, 2::-1].copy()  # BGRA/BGRX -> RGB
    if bpp == 16:
        vals = raw[:, : width * 2].copy().view("<u2").reshape(height, width)
        if masks is None or masks == (0x7C00, 0x3E0, 0x1F):
            shifts, widths = (10, 5, 0), (5, 5, 5)
        elif masks == (0xF800, 0x7E0, 0x1F):
            shifts, widths = (11, 5, 0), (5, 6, 5)
        else:
            raise ValueError("unsupported 16-bit BMP channel masks")
        out = np.empty((height, width, 3), np.uint8)
        for c, (s, wd) in enumerate(zip(shifts, widths)):
            v = (vals >> s) & ((1 << wd) - 1)
            # expand to 8 bits by bit replication (the exact scaling)
            out[..., c] = ((v * 255) // ((1 << wd) - 1)).astype(np.uint8)
        return out
    if bpp in (1, 4, 8):
        pal = palette()
        if bpp == 8:
            idx = raw[:, :width]
        elif bpp == 4:
            hi = raw >> 4
            lo = raw & 0xF
            idx = np.empty((height, row_bytes * 2), np.uint8)
            idx[:, 0::2] = hi
            idx[:, 1::2] = lo
            idx = idx[:, :width]
        else:
            idx = np.unpackbits(raw, axis=1)[:, :width]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("BMP palette index out of range")
        return pal[idx].copy()
    raise ValueError(f"unsupported BMP bit depth {bpp}")


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an HxWx3 uint8 RGB array as a bottom-up 24-bit BMP."""
    h, w, _ = pixels.shape
    row_bytes = (w * 3 + 3) & ~3
    img = np.zeros((h, row_bytes), dtype=np.uint8)
    img[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR
    body = img.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + body


def _decode_ppm(buf: bytes) -> np.ndarray:
    """Binary PNM: PPM (P6) and grayscale PGM (P5), maxval 255; `#`
    comments allowed in the header."""
    gray = buf[:2] == b"P5"
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if pos < len(buf) and buf[pos : pos + 1] == b"#":
            while pos < len(buf) and buf[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(buf[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if w <= 0 or h <= 0 or maxval != 255:
        raise ValueError("only 8-bit binary PNM is supported")
    ch = 1 if gray else 3
    if len(buf) < pos + w * h * ch:
        raise ValueError("truncated PNM pixel data")
    px = np.frombuffer(
        buf, dtype=np.uint8, count=w * h * ch, offset=pos
    ).reshape(h, w, ch)
    return np.repeat(px, 3, axis=2).copy() if gray else px.copy()


def encode_ppm(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


# IMA ADPCM (WAV format tag 0x11) step tables — public algorithm
# (IMA Digital Audio Focus and Technical Working Groups, 1992; the
# same tables audioop's Intel/DVI codec uses, verified bit-exact).
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEP = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)


def _ima_decode_nibbles(nibbles, pred: int, index: int) -> list[int]:
    out = []
    for b in nibbles:
        step = _IMA_STEP[index]
        diff = step >> 3
        if b & 1:
            diff += step >> 2
        if b & 2:
            diff += step >> 1
        if b & 4:
            diff += step
        pred = pred - diff if b & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + _IMA_INDEX[b & 7]))
        out.append(pred)
    return out


def _wav_chunks(payload: bytes):
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return
    off = 12
    while off + 8 <= len(payload):
        tag = payload[off : off + 4]
        (size,) = struct.unpack_from("<I", payload, off + 4)
        yield tag, payload[off + 8 : off + 8 + size]
        off += 8 + size + (size & 1)


def _decode_ima_adpcm_wav(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """WAV format tag 0x11 (IMA/DVI ADPCM): per-block per-channel
    4-byte headers (predictor i16, step index u8), then low-nibble-
    first data bytes — stereo interleaves 4-byte groups per channel.
    Returns the PCM-contract triple or None if not IMA ADPCM."""
    fmt = data = None
    fact_samples = None
    for tag, body in _wav_chunks(payload):
        if tag == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body)
        elif tag == b"fact" and len(body) >= 4:
            (fact_samples,) = struct.unpack_from("<I", body)
        elif tag == b"data":
            data = body
    if fmt is None or data is None or fmt[0] != 0x11:
        return None
    _, nch, rate, _, block_align, bits = fmt
    if bits != 4 or nch not in (1, 2) or block_align <= 4 * nch:
        return None
    chans: list[list[int]] = [[], []]
    for b0 in range(0, len(data) - 4 * nch + 1, block_align):
        block = data[b0 : b0 + block_align]
        preds, idxs = [], []
        for c in range(nch):
            pred, index = struct.unpack_from("<hB", block, 4 * c)[:2]
            index = min(index, 88)
            chans[c].append(pred)  # the header carries sample 0
            preds.append(pred)
            idxs.append(index)
        body = block[4 * nch :]
        if nch == 1:
            nibs = []
            for byte in body:
                nibs += [byte & 0xF, byte >> 4]  # low nibble first
            chans[0] += _ima_decode_nibbles(nibs, preds[0], idxs[0])
        else:
            per_ch: list[list[int]] = [[], []]
            for g0 in range(0, len(body) - 7, 8):
                for c in range(2):
                    for byte in body[g0 + 4 * c : g0 + 4 * c + 4]:
                        per_ch[c] += [byte & 0xF, byte >> 4]
            for c in range(2):
                chans[c] += _ima_decode_nibbles(
                    per_ch[c], preds[c], idxs[c]
                )
    n = min(len(c) for c in chans[:nch])
    if fact_samples is not None:
        n = min(n, fact_samples)
    if nch == 2:
        mono = (
            (
                np.array(chans[0][:n], np.int32)
                + np.array(chans[1][:n], np.int32)
            )
            // 2
        ).astype(np.int16)
    else:
        mono = np.array(chans[0][:n], np.int16)
    return (rate, nch, mono)


def encode_wav_ima_adpcm(
    samples: np.ndarray, sample_rate: int = 8000, block_align: int = 256
) -> bytes:
    """Fixture encoder: mono int16 -> IMA-ADPCM WAV (format 0x11),
    standard greedy quantizer, fact chunk with the true length."""
    samples = samples.astype(np.int16)
    per_block = (block_align - 4) * 2 + 1
    blocks = b""
    i = 0
    index = 0  # step index carries across blocks via each block header
    while i < len(samples):
        chunk = samples[i : i + per_block]
        pred = int(chunk[0])
        head = struct.pack("<hBB", pred, index, 0)
        nibs = []
        for s in chunk[1:]:
            step = _IMA_STEP[index]
            delta = int(s) - pred
            b = 0
            if delta < 0:
                b = 8
                delta = -delta
            if delta >= step:
                b |= 4
                delta -= step
            if delta >= step >> 1:
                b |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                b |= 1
            nibs.append(b)
            pred = _ima_decode_nibbles([b], pred, index)[0]
            index = max(0, min(88, index + _IMA_INDEX[b & 7]))
        nibs += [0] * ((block_align - 4) * 2 - len(nibs))
        body = bytes(
            (nibs[j] & 0xF) | (nibs[j + 1] << 4)
            for j in range(0, len(nibs), 2)
        )
        blocks += head + body
        i += per_block
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate,
        sample_rate * block_align // per_block, block_align, 4, 2,
        per_block,
    )
    payload = (
        b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, len(samples))
        + b"data" + struct.pack("<I", len(blocks)) + blocks
    )
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def decode_wav(payload: bytes | None) -> tuple[int, int, np.ndarray] | None:
    """Decode a WAV payload into (sample_rate, n_channels, mono int16
    samples): 8/16-bit PCM via the stdlib ``wave`` module, IMA/DVI
    ADPCM (format tag 0x11) via the native block decoder. Returns None
    for anything else — the caller falls back to its stub."""
    import io
    import wave

    if not payload or payload[:4] != b"RIFF":
        return None
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            width, nch = w.getsampwidth(), w.getnchannels()
            if width not in (1, 2) or nch < 1:
                return None
            frames = w.readframes(w.getnframes())
            rate = w.getframerate()
    except (wave.Error, EOFError):
        return _decode_ima_adpcm_wav(payload)
    if width == 1:  # unsigned 8-bit -> centered int16
        samples = (
            np.frombuffer(frames, dtype=np.uint8).astype(np.int16) - 128
        ) * 256
    else:
        samples = np.frombuffer(frames, dtype="<i2").astype(np.int16)
    if nch > 1:
        samples = (
            samples[: len(samples) - len(samples) % nch]
            .reshape(-1, nch)
            .mean(axis=1)
            .astype(np.int16)
        )
    return (rate, nch, samples)


def encode_wav(
    samples: np.ndarray, sample_rate: int = 8000, n_channels: int = 1
) -> bytes:
    """Encode int16 samples as 16-bit PCM WAV (test/fixture helper)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def _audio_feature(
    rate: int, samples: np.ndarray, dim: int
) -> list[float]:
    """Deterministic audio features in [0,1): duration (capped at 60 s),
    RMS energy, zero-crossing rate, then an |amplitude| histogram filling
    the remaining dims — the contract a real embedding model replaces."""
    n = max(len(samples), 1)
    x = samples.astype(np.float64) / 32768.0
    dur = min(n / max(rate, 1), 60.0) / 60.0 * (255.0 / 256.0)
    rms = float(np.sqrt(np.mean(x * x))) * (255.0 / 256.0)
    zcr = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))) * (
        255.0 / 256.0
    )
    feats = [dur, rms, zcr]
    bins = dim - len(feats)
    if bins > 0:
        hist, _ = np.histogram(np.abs(x), bins=bins, range=(0.0, 1.0 + 1e-9))
        feats += list(hist / n * (255.0 / 256.0))
    return [float(v) for v in feats[:dim]]


def _pixel_feature(pixels: np.ndarray, dim: int) -> list[float]:
    """Deterministic pixel-derived feature in [0,1): per-channel means and
    stds, then a luminance histogram filling the remaining dims. Same
    output contract as the model-forward-pass this stands in for."""
    flat = pixels.reshape(-1, 3).astype(np.float64)
    feats = list(flat.mean(axis=0) / 256.0) + list(flat.std(axis=0) / 256.0)
    bins = dim - len(feats)
    if bins > 0:
        lum = flat @ np.array([0.299, 0.587, 0.114])
        hist, _ = np.histogram(lum, bins=bins, range=(0.0, 256.0))
        feats += list(hist / max(len(lum), 1) * (255.0 / 256.0))
    return [float(x) for x in feats[:dim]]


def ingest_binary_assets(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    modality: str,
    media_type: str | None = None,
) -> DataFrame:
    """Normalize any (id, binary) frame into the multimodal asset layout:
    content hash + byte size computed natively (sha2/octet_length are
    JVM-side), metadata fields nullable until a decoder fills them."""
    return df.select(
        F.col(id_col).cast("string").alias("asset_id"),
        F.lit(modality).alias("modality"),
        F.lit(media_type).cast("string").alias("media_type"),
        F.col(payload_col).alias("payload"),
        F.octet_length(F.col(payload_col)).cast("long").alias("n_bytes"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.sha2(F.col(payload_col), 256).alias("sha256"),
    )


_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RATIONAL


def _read_ifd_value(buf: bytes, bo: str, vtype: int, count: int, raw: bytes):
    """Decode a TIFF IFD entry's value list (inline or via offset)."""
    size = _TIFF_TYPE_SIZE.get(vtype)
    if size is None:
        return None
    total = size * count
    if total <= 4:
        data = raw[:total]
    else:
        (off,) = struct.unpack(bo + "I", raw)
        if off + total > len(buf):
            raise ValueError("TIFF value offset out of range")
        data = buf[off : off + total]
    if vtype == 3:
        return list(struct.unpack(bo + "H" * count, data))
    if vtype == 4:
        return list(struct.unpack(bo + "I" * count, data))
    if vtype == 1:
        return list(data)
    return None


def probe_image_dims(payload: bytes | None) -> tuple[int, int] | None:
    """Header-only (width, height) for every format :func:`decode_image`
    handles, plus JPEG, TIFF, lossy WebP and AVIF/HEIC stills — no
    entropy decode, no pixel work, O(header bytes). The 100 TB
    metadata-probe path: a dims/duration backfill over a billion assets
    must not decompress a billion images. Always agrees with the decoded
    array's dims where a decoder exists, and never returns None for a
    payload the decoder accepts (both pinned by tests); returns None for
    anything unrecognized or malformed."""
    if not payload or len(payload) < 8:
        return None
    try:
        if payload[:2] == b"BM" and len(payload) >= 26:
            w, h = struct.unpack_from("<ii", payload, 18)
            return (w, abs(h)) if w > 0 and h != 0 else None
        if payload[:2] in (b"P5", b"P6"):
            pos, fields = 2, []
            while len(fields) < 2 and pos < len(payload):
                while pos < len(payload) and payload[pos : pos + 1].isspace():
                    pos += 1
                if payload[pos : pos + 1] == b"#":
                    while pos < len(payload) and payload[pos] != 0x0A:
                        pos += 1
                    continue
                start = pos
                while (
                    pos < len(payload)
                    and not payload[pos : pos + 1].isspace()
                ):
                    pos += 1
                if start == pos:
                    return None
                fields.append(int(payload[start:pos]))
            return (fields[0], fields[1]) if len(fields) == 2 else None
        if payload[:2] == b"\xff\xd8":
            pos = 2
            while pos + 4 <= len(payload):
                if payload[pos] != 0xFF:
                    return None
                marker = payload[pos + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    pos += 2
                    continue
                (seg,) = struct.unpack_from(">H", payload, pos + 2)
                if 0xC0 <= marker <= 0xCF and marker not in (
                    0xC4, 0xC8, 0xCC
                ):  # any SOF incl. 12-bit/hierarchical (decode stubs)
                    if pos + 9 > len(payload):
                        return None
                    h, w = struct.unpack_from(">HH", payload, pos + 5)
                    return (w, h)
                if marker in (0xDA, 0xD9):  # scan/no-SOF: give up
                    return None
                pos += 2 + seg
            return None
        if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
            w, h = struct.unpack_from(">II", payload, 16)
            return (w, h)
        if payload[:4] == b"GIF8" and len(payload) >= 10:
            w, h = struct.unpack_from("<HH", payload, 6)
            return (w, h)  # logical screen = the decoded canvas
        if payload[:4] in (b"II*\x00", b"MM\x00*"):
            bo = "<" if payload[:2] == b"II" else ">"
            (ifd,) = struct.unpack_from(bo + "I", payload, 4)
            if ifd + 2 > len(payload):
                return None
            (n,) = struct.unpack_from(bo + "H", payload, ifd)
            w = h = None
            for i in range(n):
                base = ifd + 2 + 12 * i
                if base + 12 > len(payload):
                    return None
                tag, vt, cnt = struct.unpack_from(
                    bo + "HHI", payload, base
                )
                if tag in (256, 257):
                    v = _read_ifd_value(
                        payload, bo, vt, cnt, payload[base + 8 : base + 12]
                    )
                    if not v:
                        return None
                    if tag == 256:
                        w = v[0]
                    else:
                        h = v[0]
            return (w, h) if w and h else None
        if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            if payload[12:16] == b"VP8X" and len(payload) >= 30:
                w = int.from_bytes(payload[24:27], "little") + 1
                h = int.from_bytes(payload[27:30], "little") + 1
                return (w, h)  # canvas = decoded dims (still or anim)
            if payload[12:16] == b"VP8L" and len(payload) >= 25:
                bits = int.from_bytes(payload[21:25], "little")
                return ((bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
            if payload[12:16] == b"VP8 " and len(payload) >= 30:
                w, h = struct.unpack_from("<HH", payload, 26)
                return (w & 0x3FFF, h & 0x3FFF)
            return None
        if payload[4:8] == b"ftyp":
            from neo4j_to_clickhouse_spark.operators import heif
            from neo4j_to_clickhouse_spark.operators.isobmff import (
                is_heif_still,
                probe_avif,
            )

            if is_heif_still(payload):
                info = probe_avif(payload)  # pure container walk
                if info is not None:
                    return (info["width"], info["height"])
                hp = heif.probe_heif(payload)  # handle-level, no pixels
                if hp is not None and hp["width"] > 0:
                    return (hp["width"], hp["height"])
    except (ValueError, struct.error, IndexError):
        return None
    return None


def probe_assets(assets: DataFrame) -> DataFrame:
    """Fill the nullable metadata columns (`width`, `height`,
    `duration_ms`) from the payloads themselves — header-only parses
    (:func:`probe_image_dims` + WAV/AVI/mvhd/ANMF/fcTL header walks),
    never pixel or sample decompression, so probing a billion assets
    costs O(header bytes) each; unrecognized headers stay NULL.
    Arrow-batched ``mapInPandas`` over the full asset schema — the
    metadata becomes queryable WITHOUT any downstream reader touching
    payload bytes again (column pruning serves metadata-only queries
    from parquet alone).
    """
    schema = assets.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from neo4j_to_clickhouse_spark.operators.audio_probe import (
            is_aiff,
            is_flac,
            is_mp3,
            is_ogg,
            probe_aiff,
            probe_flac,
            probe_mp3,
            probe_ogg,
        )
        from neo4j_to_clickhouse_spark.operators.avi import is_avi, probe_avi
        from neo4j_to_clickhouse_spark.operators.isobmff import (
            is_heif_still,
            is_mp4,
            movie_duration_ms,
            probe_mp4,
        )
        from neo4j_to_clickhouse_spark.operators.png import (
            apng_frame_delays,
            is_apng,
        )
        from neo4j_to_clickhouse_spark.operators.vp8l import (
            is_animated_webp,
            webp_animation_durations,
        )

        def wav_duration_ms(payload) -> int | None:
            # header fields only — wave never touches the sample data
            import io
            import wave

            if not payload or payload[:4] != b"RIFF":
                return None
            try:
                with wave.open(io.BytesIO(payload), "rb") as wv:
                    rate = wv.getframerate()
                    return (
                        int(wv.getnframes() * 1000 / rate) if rate else None
                    )
            except (wave.Error, EOFError):
                # IMA-ADPCM: rate from fmt, length from the fact chunk
                rate = n = None
                for tag, body in _wav_chunks(payload):
                    if tag == b"fmt " and len(body) >= 16:
                        fmt_tag, _, rate = struct.unpack_from("<HHI", body)
                        if fmt_tag != 0x11:
                            return None
                    elif tag == b"fact" and len(body) >= 4:
                        (n,) = struct.unpack_from("<I", body)
                if rate and n is not None:
                    return int(n * 1000 / rate)
                return None

        for pdf in batches:
            widths, heights, durations = [], [], []
            for payload in pdf["payload"]:
                d = None
                # dims: header-only parse for every image format —
                # the probe never decompresses pixel data
                dims = probe_image_dims(payload)
                w, h = dims if dims is not None else (None, None)
                # duration: header walks only (WAV fmt chunk, AVI avih,
                # mvhd, ANMF headers, fcTL headers, FLAC STREAMINFO,
                # MP3 Xing/VBRI or frame-header chain)
                if payload is not None and payload[:4] == b"RIFF":
                    d = wav_duration_ms(payload)
                    if d is None and is_avi(payload):
                        video = probe_avi(payload)
                        if video is not None:
                            d = video[1]
                    if d is None and is_animated_webp(payload):
                        d = sum(webp_animation_durations(payload))
                elif is_heif_still(payload):
                    d = movie_duration_ms(payload)  # animated AVIF
                elif is_mp4(payload):
                    info = probe_mp4(payload)
                    if info is not None:
                        d = info["duration_ms"]
                        for trk in info["tracks"]:
                            if trk["width"] and trk["height"]:
                                w, h = trk["width"], trk["height"]
                                break
                elif is_apng(payload):
                    d = sum(apng_frame_delays(payload))
                elif is_flac(payload):
                    info = probe_flac(payload)
                    if info is not None:
                        d = info["duration_ms"]
                elif is_ogg(payload):
                    info = probe_ogg(payload)
                    if info is not None:
                        d = info["duration_ms"]
                elif is_aiff(payload):
                    info = probe_aiff(payload)
                    if info is not None:
                        d = info["duration_ms"]
                # MP3 last: frame sync is only a 12-bit pattern, every
                # exact-magic format above must get first refusal
                elif dims is None and is_mp3(payload):
                    info = probe_mp3(payload)
                    if info is not None:
                        d = info["duration_ms"]
                widths.append(w)
                heights.append(h)
                durations.append(d)
            pdf = pdf.copy()
            pdf["width"] = pd.array(widths, dtype="Int32")
            pdf["height"] = pd.array(heights, dtype="Int32")
            pdf["duration_ms"] = pd.array(durations, dtype="Int64")
            yield pdf

    return assets.mapInPandas(run, schema)


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _fake_feature(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in feature vector: bytes of sha256(payload)
    cycled to `dim`, scaled to [0,1). Replace with the real model forward
    pass; the Spark-side contract (binary in, float array out, Arrow
    batches) is identical."""
    h = hashlib.sha256(payload or b"").digest()
    return [h[i % len(h)] / 255.0 for i in range(dim)]


def extract_features(
    assets: DataFrame,
    dim: int = 16,
    decode_stub: Literal["fake", "raise"] = "fake",
    batch_size: int = 256,
) -> DataFrame:
    """Decode + featurize payloads via Arrow-batched ``mapInPandas``.

    Every image format :func:`decode_image` handles, and PCM/IMA-ADPCM
    WAV, is decoded FOR REAL and yields pixel- or sample-derived
    features; other formats hit the stub (`fake` = payload-hash vector,
    `raise` = marked codec hole for Pillow/ffmpeg).

    Batch shape is the real one for GPU inference at scale: the iterator
    yields bounded pandas chunks so executor memory is payload-batch-sized,
    never partition-sized. Partition count should track total payload
    bytes / ~128 MB (use ``repartition`` upstream), not row count.
    """

    def featurize(payload):
        decoded = decode_image(payload)
        if decoded is not None:
            return _pixel_feature(decoded[1], dim)
        audio = decode_wav(payload)
        if audio is not None:
            return _audio_feature(audio[0], audio[2], dim)
        if decode_stub == "raise":
            raise NotImplementedError(
                "media codec not available in this environment: "
                "plug Pillow/torchaudio/ffmpeg decode here"
            )
        return _fake_feature(payload, dim)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                yield pd.DataFrame(
                    {
                        "asset_id": chunk["asset_id"],
                        "modality": chunk["modality"],
                        "n_bytes": chunk["n_bytes"],
                        "feature": [
                            featurize(p) for p in chunk["payload"]
                        ],
                    }
                )

    cols = assets.select("asset_id", "modality", "n_bytes", "payload")
    return cols.mapInPandas(run, FEATURE_SCHEMA)
