"""Dependency-free WebP-lossless (VP8L) codec — RFC 9649.

Closes the WebP half of the reference pipeline's opaque-media boundary
(SURVEY.md §2; the reference stores media as opaque bytes and never
decodes — WebP-lossless joins BMP/PPM/JPEG/PNG/GIF as a REAL
pure-stdlib decode path behind :func:`multimodal.decode_image`,
leaving only formats that genuinely need external DSP codecs stubbed:
lossy VP8, AVIF, H.264/VP9/AV1).

Decoder scope (the full lossless bitstream):
- RIFF container, both bare ``VP8L`` and ``VP8X``-extended layouts
  (lossy ``VP8 `` payloads raise ValueError -> the caller's stub);
- canonical prefix codes: simple (1-2 symbol) and code-length-coded
  forms, including the trimmed ``max_symbol`` path and 16/17/18
  repeat/zero-run codes over the spec's code-length-code order;
- meta-prefix (prefix-code image) spatial partitioning;
- color cache (the 0x1e35a7bd multiplicative hash);
- LZ77 backward references: prefix-coded length/distance with extra
  bits, and the 120-entry close-neighborhood plane-code table — the
  table constant was extracted empirically from libwebp decode (not
  transcribed) and is re-verified against libwebp per plane code by
  ``tests/test_vp8l.py`` whenever the system library is present;
- all four inverse transforms: PREDICTOR (14 modes, with the spec's
  flat-addressing top-right wrap at the right edge), CROSS-COLOR
  (signed ``(t*c)>>5`` deltas), SUBTRACT-GREEN, COLOR-INDEXING
  (delta-coded palette, sub-byte index packing for small palettes).

Encoder scope: HxWx3 uint8 RGB -> valid lossless VP8L. Deliberately
simple but REAL: complete two-length canonical prefix codes (Kraft
equality exactly 1, so strict decoders accept the streams), optional
subtract-green transform, optional greedy LZ77 run references, and an
optional color cache — enough surface to round-trip every decoder
path the encoder side can legally reach; the remaining decoder-only
paths (predictor/cross-color/indexing transforms, meta-prefix) are
exercised by libwebp-encoded fixtures in the tests.

Pixels are ARGB uint32 internally, exactly as the spec's transform
arithmetic is defined; the public decode returns HxWx3 RGB.
"""

from __future__ import annotations

import struct

import numpy as np

# Alphabet sizes (RFC 9649 §5.2.2): green carries literals + 24 length
# prefixes + the color cache; red/blue/alpha are plain bytes; 40
# distance prefixes.
_NUM_LENGTH_PREFIXES = 24
_NUM_DISTANCE_PREFIXES = 40
_CODE_LENGTH_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
)
_HASH_MUL = 0x1E35A7BD

# Close-neighborhood distance codes 1..120 -> (dx, dy) pixel offsets
# (RFC 9649 §5.2.3). EXTRACTED from libwebp decode output (one probe
# stream per code), not transcribed from the spec text; the layout is
# the 120 nearest offsets ordered by squared distance, then larger dy
# first, then positive dx before negative. tests/test_vp8l.py re-runs
# the per-code libwebp cross-check when the system library is present.
_PLANE_OFFSETS = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


# --- bit streams (LSB-first within bytes, RFC 9649 §4) -----------------------


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0):
        self._data = data
        self._pos = pos
        self._bit = 0

    def read(self, n: int) -> int:
        out = 0
        got = 0
        while got < n:
            if self._pos >= len(self._data):
                raise ValueError("truncated VP8L bitstream")
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

    def read_bit(self) -> int:
        return self.read(1)

    def peek8(self) -> int:
        """Next 8 stream bits LSB-first, zero-padded past the end —
        the prefix-LUT fast path; never consumes or raises."""
        d = self._data
        pos = self._pos
        bit = self._bit
        v = 0
        got = 0
        while got < 8 and pos < len(d):
            v |= (d[pos] >> bit) << got
            got += 8 - bit
            bit = 0
            pos += 1
        return v & 0xFF

    def consume(self, n: int) -> None:
        """Advance by n bits (paired with :meth:`peek8`); raises when
        that would pass the end of the stream."""
        bit = self._bit + n
        self._pos += bit >> 3
        self._bit = bit & 7
        if self._pos > len(self._data) or (
            self._pos == len(self._data) and self._bit > 0
        ):
            raise ValueError("truncated VP8L bitstream")


class _BitWriter:
    def __init__(self):
        self._bytes = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, n: int) -> None:
        self._acc |= (value & ((1 << n) - 1)) << self._nbits
        self._nbits += n
        while self._nbits >= 8:
            self._bytes.append(self._acc & 0xFF)
            self._acc >>= 8
            self._nbits -= 8

    def write_code(self, code: int, length: int) -> None:
        """Prefix codes go MSB-first (DEFLATE convention)."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def getvalue(self) -> bytes:
        out = bytearray(self._bytes)
        if self._nbits:
            out.append(self._acc & 0xFF)
        return bytes(out)


# --- canonical prefix codes --------------------------------------------------


def _canonical_codes(lengths: list[int]) -> dict[int, int]:
    """DEFLATE canonical code assignment: symbol -> code, for symbols
    with nonzero length, ordered by (length, symbol)."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = next_code[ln]
            next_code[ln] += 1
    return out


class _PrefixCode:
    """Decoding table for one canonical prefix code.

    ``single`` marks the degenerate one-symbol code that consumes zero
    bits (both the spec's simple form and a code-length-coded code in
    which exactly one symbol has nonzero length).
    """

    def __init__(
        self,
        lengths: list[int] | None = None,
        explicit: list[int] | None = None,
    ):
        if explicit is not None:  # simple form: first listed gets code 0
            if len(explicit) == 1:
                self.single: int | None = explicit[0]
                self._table: dict[tuple[int, int], int] = {}
            else:
                self.single = None
                self._table = {(1, 0): explicit[0], (1, 1): explicit[1]}
            self._max_len = 1
            self._build_lut()
            return
        assert lengths is not None
        nonzero = [s for s, ln in enumerate(lengths) if ln]
        if not nonzero:
            raise ValueError("prefix code with no symbols")
        if len(nonzero) == 1:
            self.single = nonzero[0]
            self._table = {}
            self._max_len = 0
            self._lut: list[tuple[int, int] | None] = []
            return
        self.single = None
        self._max_len = max(lengths)
        if self._max_len > 15:
            raise ValueError("prefix code length > 15")
        codes = _canonical_codes(lengths)
        # over-subscription check: canonical codes must fit their length
        for sym, code in codes.items():
            if code >> lengths[sym]:
                raise ValueError("over-subscribed prefix code")
        self._table = {
            (lengths[sym], code): sym for sym, code in codes.items()
        }
        self._build_lut()

    def _build_lut(self) -> None:
        """256-entry fast table over the next 8 stream bits: codes are
        read MSB-first but the stream is LSB-first, so a length-L code
        c occupies the bit-reversed pattern in the low L stream bits.
        Codes longer than 8 bits fall back to the bit-by-bit walk."""
        lut: list[tuple[int, int] | None] = [None] * 256
        for (length, code), sym in self._table.items():
            if length > 8:
                continue
            rev = 0
            for i in range(length):
                rev |= ((code >> i) & 1) << (length - 1 - i)
            for v in range(rev, 256, 1 << length):
                lut[v] = (sym, length)
        self._lut = lut

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        # inlined peek8+consume: this runs once per symbol of every
        # pixel, so method-call and attribute overhead dominate
        d = br._data
        pos = br._pos
        bit = br._bit
        n = len(d)
        v = (d[pos] >> bit) if pos < n else 0
        if pos + 1 < n:
            v |= d[pos + 1] << (8 - bit)
        hit = self._lut[v & 0xFF]
        if hit is not None:
            bit += hit[1]
            pos += bit >> 3
            bit &= 7
            if pos > n or (pos == n and bit > 0):
                raise ValueError("truncated VP8L bitstream")
            br._pos = pos
            br._bit = bit
            return hit[0]
        code = 0
        for length in range(1, self._max_len + 1):
            code = (code << 1) | br.read_bit()
            sym = self._table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid prefix code in VP8L stream")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    """RFC 9649 §5.2.1: simple form or code-length-coded form."""
    if br.read_bit():  # simple
        num_symbols = br.read_bit() + 1
        if br.read_bit():  # first symbol in 8 bits
            first = br.read(8)
        else:
            first = br.read(1)
        symbols = [first]
        if num_symbols == 2:
            symbols.append(br.read(8))
        for s in symbols:
            if s >= alphabet_size:
                raise ValueError("simple-code symbol outside alphabet")
        return _PrefixCode(explicit=symbols)
    num_codes = br.read(4) + 4
    if num_codes > len(_CODE_LENGTH_ORDER):
        raise ValueError("too many code-length codes")
    cl_lengths = [0] * len(_CODE_LENGTH_ORDER)
    for i in range(num_codes):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_code = _PrefixCode(lengths=cl_lengths)
    if br.read_bit():  # trimmed: explicit number of coded symbols
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
        if max_symbol > alphabet_size:
            raise ValueError("trimmed length exceeds alphabet")
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        clen = cl_code.read(br)
        if clen < 16:
            lengths[symbol] = clen
            symbol += 1
            if clen:
                prev = clen
        else:
            if clen == 16:
                repeat, fill = 3 + br.read(2), prev
            elif clen == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise ValueError("code-length repeat past alphabet")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _PrefixCode(lengths=lengths)


def _prefix_value(prefix: int, br: _BitReader) -> int:
    """Length/distance prefix decoding (RFC 9649 §5.2.3)."""
    if prefix < 4:
        return prefix + 1
    extra = (prefix - 2) >> 1
    offset = (2 + (prefix & 1)) << extra
    return offset + br.read(extra) + 1


def _div_round_up(a: int, shift: int) -> int:
    return (a + (1 << shift) - 1) >> shift

# --- decoding ----------------------------------------------------------------


class _Transform:
    def __init__(self, kind: int, xsize: int, ysize: int):
        self.kind = kind
        self.xsize = xsize  # image width when this transform was read
        self.ysize = ysize
        self.bits = 0  # tile subsampling for predictor/cross-color
        self.data: np.ndarray | None = None  # tile image or palette
        self.table_size = 0  # palette entries for color indexing


_PREDICTOR = 0
_CROSS_COLOR = 1
_SUBTRACT_GREEN = 2
_COLOR_INDEXING = 3


def _read_transform(
    br: _BitReader, xsize: int, ysize: int
) -> tuple[_Transform, int]:
    """Read one transform; returns it plus the (possibly reduced) width
    for everything read after it (color indexing packs pixels)."""
    kind = br.read(2)
    t = _Transform(kind, xsize, ysize)
    if kind in (_PREDICTOR, _CROSS_COLOR):
        t.bits = br.read(3) + 2
        t.data = _decode_image_stream(
            br,
            _div_round_up(xsize, t.bits),
            _div_round_up(ysize, t.bits),
            level0=False,
        )
    elif kind == _COLOR_INDEXING:
        t.table_size = br.read(8) + 1
        palette = _decode_image_stream(br, t.table_size, 1, level0=False)
        # palette entries are component-wise delta coded
        pal = palette.reshape(-1).astype(np.uint32)
        out = np.zeros_like(pal)
        prev = np.uint32(0)
        for i in range(pal.shape[0]):
            a = (((prev >> 24) + (pal[i] >> 24)) & 0xFF) << 24
            r = (((prev >> 16) + (pal[i] >> 16)) & 0xFF) << 16
            g = (((prev >> 8) + (pal[i] >> 8)) & 0xFF) << 8
            b = ((prev & 0xFF) + (pal[i] & 0xFF)) & 0xFF
            prev = np.uint32(a | r | g | b)
            out[i] = prev
        t.data = out
        if t.table_size <= 2:
            t.bits = 3  # 8 pixels per byte
        elif t.table_size <= 4:
            t.bits = 2
        elif t.table_size <= 16:
            t.bits = 1
        else:
            t.bits = 0
        xsize = _div_round_up(xsize, t.bits) if t.bits else xsize
    # SUBTRACT_GREEN carries no data
    return t, xsize


def _decode_image_stream(
    br: _BitReader,
    xsize: int,
    ysize: int,
    level0: bool,
) -> np.ndarray:
    """Decode one entropy-coded ARGB image (RFC 9649 §5). Only the
    level-0 (main) image may carry a meta-prefix image; transforms are
    read by the caller (:func:`_decode_level0`) because the
    color-indexing transform changes the width this stream decodes at."""
    # color cache
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("invalid color-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    # prefix-code groups (with optional meta-prefix image at level 0)
    meta: np.ndarray | None = None
    meta_bits = 0
    num_groups = 1
    if level0 and br.read_bit():
        meta_bits = br.read(3) + 2
        meta = _decode_image_stream(
            br,
            _div_round_up(xsize, meta_bits),
            _div_round_up(ysize, meta_bits),
            level0=False,
        )
        meta_idx = (meta >> 8) & 0xFFFF
        num_groups = int(meta_idx.max()) + 1
    green_alpha = 256 + _NUM_LENGTH_PREFIXES + cache_size
    groups = []
    for _ in range(num_groups):
        groups.append(
            (
                _read_prefix_code(br, green_alpha),
                _read_prefix_code(br, 256),  # red
                _read_prefix_code(br, 256),  # blue
                _read_prefix_code(br, 256),  # alpha
                _read_prefix_code(br, _NUM_DISTANCE_PREFIXES),
            )
        )
    # pixel decode
    n = xsize * ysize
    pixels = np.zeros(n, dtype=np.uint32)
    cache = [0] * cache_size
    group = groups[0]
    pos = 0
    while pos < n:
        if meta is not None:
            x, y = pos % xsize, pos // xsize
            tile = meta[
                (y >> meta_bits) * _div_round_up(xsize, meta_bits)
                + (x >> meta_bits)
            ]
            group = groups[(int(tile) >> 8) & 0xFFFF]
        g_code, r_code, b_code, a_code, d_code = group
        s = g_code.read(br)
        if s < 256:  # literal
            red = r_code.read(br)
            blue = b_code.read(br)
            alpha = a_code.read(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            pixels[pos] = px
            if cache_size:
                cache[(px * _HASH_MUL & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += 1
        elif s < 256 + _NUM_LENGTH_PREFIXES:  # back reference
            length = _prefix_value(s - 256, br)
            dist_code = _prefix_value(d_code.read(br), br)
            if dist_code > len(_PLANE_OFFSETS):
                distance = dist_code - len(_PLANE_OFFSETS)
            else:
                dx, dy = _PLANE_OFFSETS[dist_code - 1]
                distance = dy * xsize + dx
                if distance < 1:
                    distance = 1
            if distance > pos or pos + length > n:
                raise ValueError("VP8L back reference out of range")
            for _ in range(length):
                px = int(pixels[pos - distance])
                pixels[pos] = px
                if cache_size:
                    cache[
                        (px * _HASH_MUL & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = px
                pos += 1
        else:  # color-cache hit
            idx = s - 256 - _NUM_LENGTH_PREFIXES
            pixels[pos] = cache[idx]
            pos += 1
    return pixels


# --- inverse transforms ------------------------------------------------------


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-channel (a + b) // 2 on packed ARGB uint32."""
    return (
        (((a ^ b) & 0xFEFEFEFE) >> np.uint32(1)) + (a & b)
    ).astype(np.uint32)


def _channels(p: int) -> tuple[int, int, int, int]:
    return (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF


def _pack(a: int, r: int, g: int, b: int) -> int:
    return ((a & 0xFF) << 24) | ((r & 0xFF) << 16) | ((g & 0xFF) << 8) | (
        b & 0xFF
    )


def _select(left: int, top: int, topleft: int) -> int:
    la, lr, lg, lb = _channels(left)
    ta, tr, tg, tb = _channels(top)
    ca, cr, cg, cb = _channels(topleft)
    p_l = abs(ta - ca) + abs(tr - cr) + abs(tg - cg) + abs(tb - cb)
    p_t = abs(la - ca) + abs(lr - cr) + abs(lg - cg) + abs(lb - cb)
    return left if p_l < p_t else top


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        c = _clamp(
            ((l >> shift) & 0xFF) + ((t >> shift) & 0xFF) - ((tl >> shift) & 0xFF)
        )
        out |= c << shift
    return out


def _clamp_add_sub_half(ave: int, tl: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        a = (ave >> shift) & 0xFF
        b = (tl >> shift) & 0xFF
        d = a - b
        half = (abs(d) >> 1) * (1 if d >= 0 else -1)  # C truncation toward 0
        out |= _clamp(a + half) << shift
    return out


def _avg2_i(a: int, b: int) -> int:
    return ((((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)) & 0xFFFFFFFF


def _add_pixels(p: int, pred: int) -> int:
    """Per-channel modular byte addition of residual + prediction."""
    out = 0
    for shift in (24, 16, 8, 0):
        out |= ((((p >> shift) & 0xFF) + ((pred >> shift) & 0xFF)) & 0xFF) << shift
    return out


def _inverse_predictor(t: _Transform, pixels: np.ndarray) -> np.ndarray:
    w, h = t.xsize, t.ysize
    tiles_per_row = _div_round_up(w, t.bits)
    assert t.data is not None
    px = pixels  # flat, modified in place
    for pos in range(w * h):
        x, y = pos % w, pos // w
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = int(px[pos - 1])  # left
        elif x == 0:
            pred = int(px[pos - w])  # top
        else:
            mode = (
                int(t.data[(y >> t.bits) * tiles_per_row + (x >> t.bits)])
                >> 8
            ) & 0xFF
            left = int(px[pos - 1])
            top = int(px[pos - w])
            topleft = int(px[pos - w - 1])
            # flat addressing: at the right edge the "top-right" index
            # wraps to the first pixel of the current row (RFC 9649)
            topright = int(px[pos - w + 1])
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = left
            elif mode == 2:
                pred = top
            elif mode == 3:
                pred = topright
            elif mode == 4:
                pred = topleft
            elif mode == 5:
                pred = _avg2_i(_avg2_i(left, topright), top)
            elif mode == 6:
                pred = _avg2_i(left, topleft)
            elif mode == 7:
                pred = _avg2_i(left, top)
            elif mode == 8:
                pred = _avg2_i(topleft, top)
            elif mode == 9:
                pred = _avg2_i(top, topright)
            elif mode == 10:
                pred = _avg2_i(
                    _avg2_i(left, topleft), _avg2_i(top, topright)
                )
            elif mode == 11:
                pred = _select(left, top, topleft)
            elif mode == 12:
                pred = _clamp_add_sub_full(left, top, topleft)
            elif mode == 13:
                pred = _clamp_add_sub_half(_avg2_i(left, top), topleft)
            else:
                raise ValueError(f"invalid predictor mode {mode}")
        px[pos] = _add_pixels(int(px[pos]), pred)
    return px


def _ct_delta(t: int, c: int) -> int:
    """(int8)t * (int8)c >> 5 — both operands sign-extended."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inverse_cross_color(t: _Transform, pixels: np.ndarray) -> np.ndarray:
    w, h = t.xsize, t.ysize
    tiles_per_row = _div_round_up(w, t.bits)
    assert t.data is not None
    for pos in range(w * h):
        x, y = pos % w, pos // w
        elem = int(t.data[(y >> t.bits) * tiles_per_row + (x >> t.bits)])
        g2r = elem & 0xFF  # blue channel
        g2b = (elem >> 8) & 0xFF  # green channel
        r2b = (elem >> 16) & 0xFF  # red channel
        p = int(pixels[pos])
        a, r, g, b = _channels(p)
        r = (r + _ct_delta(g2r, g)) & 0xFF
        b = (b + _ct_delta(g2b, g)) & 0xFF
        b = (b + _ct_delta(r2b, r)) & 0xFF
        pixels[pos] = _pack(a, r, g, b)
    return pixels


def _inverse_subtract_green(pixels: np.ndarray) -> np.ndarray:
    g = (pixels >> np.uint32(8)) & np.uint32(0xFF)
    r = (((pixels >> np.uint32(16)) & np.uint32(0xFF)) + g) & np.uint32(0xFF)
    b = ((pixels & np.uint32(0xFF)) + g) & np.uint32(0xFF)
    return (
        (pixels & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b
    ).astype(np.uint32)


def _inverse_color_indexing(t: _Transform, pixels: np.ndarray) -> np.ndarray:
    assert t.data is not None
    w, h = t.xsize, t.ysize  # FINAL dims (captured before packing)
    out = np.zeros(w * h, dtype=np.uint32)
    if t.bits:
        packed_w = _div_round_up(w, t.bits)
        bpp = 8 >> t.bits
        mask = (1 << bpp) - 1
        for pos in range(w * h):
            x, y = pos % w, pos // w
            green = (int(pixels[y * packed_w + (x >> t.bits)]) >> 8) & 0xFF
            idx = (green >> ((x & ((1 << t.bits) - 1)) * bpp)) & mask
            out[pos] = t.data[idx] if idx < t.table_size else 0
    else:
        for pos in range(w * h):
            idx = (int(pixels[pos]) >> 8) & 0xFF
            out[pos] = t.data[idx] if idx < t.table_size else 0
    return out


def _decode_argb_body(br: _BitReader, width: int, height: int) -> np.ndarray:
    """Decode a headerless VP8L image body (optional transforms +
    entropy-coded ARGB) into a flat uint32 array."""
    transforms: list[_Transform] = []
    pixels = _decode_level0(br, width, height, transforms)
    for t in reversed(transforms):
        if t.kind == _COLOR_INDEXING:
            pixels = _inverse_color_indexing(t, pixels)
        elif t.kind == _SUBTRACT_GREEN:
            pixels = _inverse_subtract_green(pixels)
        elif t.kind == _CROSS_COLOR:
            pixels = _inverse_cross_color(t, pixels)
        elif t.kind == _PREDICTOR:
            pixels = _inverse_predictor(t, pixels)
    return pixels


def decode_vp8l(payload: bytes) -> np.ndarray:
    """Decode a raw VP8L chunk payload into an HxWx4 uint8 RGBA array."""
    if len(payload) < 5 or payload[0] != 0x2F:
        raise ValueError("not a VP8L stream")
    br = _BitReader(payload, 1)
    width = br.read(14) + 1
    height = br.read(14) + 1
    br.read(1)  # alpha-is-used hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    pixels = _decode_argb_body(br, width, height)
    rgba = np.zeros((height, width, 4), dtype=np.uint8)
    flat = pixels.reshape(height, width)
    rgba[..., 0] = (flat >> np.uint32(16)) & np.uint32(0xFF)
    rgba[..., 1] = (flat >> np.uint32(8)) & np.uint32(0xFF)
    rgba[..., 2] = flat & np.uint32(0xFF)
    rgba[..., 3] = (flat >> np.uint32(24)) & np.uint32(0xFF)
    return rgba


def _decode_level0(
    br: _BitReader, width: int, height: int, transforms: list[_Transform]
) -> np.ndarray:
    """Level-0 wrapper: reads transforms (which may pack the width),
    then the main entropy-coded image at the packed width."""
    xsize = width
    while br.read_bit():
        t, xsize = _read_transform(br, xsize, height)
        if any(prev.kind == t.kind for prev in transforms):
            raise ValueError("duplicate VP8L transform")
        transforms.append(t)
    return _decode_image_stream(br, xsize, height, level0=True)


# --- container ---------------------------------------------------------------


def decode_webp(payload: bytes) -> np.ndarray:
    """Decode a WebP container into an HxWx3 uint8 RGB array (alpha
    dropped, as with the other first-frame decoders). Lossless (VP8L)
    payloads decode here; lossy (VP8) payloads raise ``ValueError``;
    animated files return the first composed frame."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP container")
    if is_animated_webp(payload):
        _, frames = decode_webp_frames(payload)
        return frames[0][..., :3].copy()
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    end = min(len(payload), 8 + riff_size)
    off = 12
    while off + 8 <= end:
        tag = payload[off : off + 4]
        size = struct.unpack_from("<I", payload, off + 4)[0]
        body = payload[off + 8 : off + 8 + size]
        if tag == b"VP8L":
            rgba = decode_vp8l(body)
            return rgba[..., :3].copy()
        if tag == b"VP8 ":
            raise ValueError("lossy VP8 WebP is not supported")
        off += 8 + size + (size & 1)  # chunks are even-padded
    raise ValueError("no VP8/VP8L chunk in WebP container")


def decode_webp_rgba(payload: bytes) -> np.ndarray:
    """Decode a WebP container into an HxWx4 uint8 RGBA array (VP8L
    carries alpha inline; lossy VP8 payloads raise ``ValueError``).
    Animated files return the first composed frame."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP container")
    if is_animated_webp(payload):
        _, frames = decode_webp_frames(payload)
        return frames[0]
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    end = min(len(payload), 8 + riff_size)
    off = 12
    while off + 8 <= end:
        tag = payload[off : off + 4]
        size = struct.unpack_from("<I", payload, off + 4)[0]
        body = payload[off + 8 : off + 8 + size]
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            raise ValueError("lossy VP8 WebP is not supported")
        off += 8 + size + (size & 1)
    raise ValueError("no VP8/VP8L chunk in WebP container")


# --- animation (VP8X ANIM/ANMF container) -------------------------------------


def _webp_chunks(payload: bytes):
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP container")
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    end = min(len(payload), 8 + riff_size)
    off = 12
    while off + 8 <= end:
        tag = payload[off : off + 4]
        size = struct.unpack_from("<I", payload, off + 4)[0]
        yield tag, payload[off + 8 : off + 8 + size]
        off += 8 + size + (size & 1)


def is_animated_webp(payload: bytes | None) -> bool:
    """VP8X container with the animation flag (0x02) set."""
    if (
        payload is None
        or len(payload) < 21
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WEBP"
        or payload[12:16] != b"VP8X"
    ):
        return False
    return bool(payload[20] & 0x02)


def webp_animation_durations(payload: bytes) -> list[int]:
    """Per-frame durations (ms) from the ANMF headers alone — no pixel
    work, so metadata probes stay cheap."""
    if not is_animated_webp(payload):
        raise ValueError("not an animated WebP")
    out = []
    for tag, body in _webp_chunks(payload):
        if tag == b"ANMF" and len(body) >= 16:
            out.append(int.from_bytes(body[12:15], "little"))
    return out


def decode_webp_frames(
    payload: bytes,
) -> tuple[list[int], list[np.ndarray]]:
    """Decode an animated WebP into composed RGBA canvases.

    Returns ``(durations_ms, canvases)``. Composition follows the WebP
    container spec + libwebp's WebPAnimDecoder conventions: the canvas
    (VP8X dims) starts fully transparent; each ANMF frame either
    alpha-blends (straight ``over``, the default) or overwrites its
    rectangle (blend flag 0x02 = do-not-blend); after emitting, a
    frame with disposal flag 0x01 clears its rectangle back to
    transparent black. Frame data is decoded by handing the ANMF's
    subchunks back to the single-frame decoder in a synthesized
    container (lossy VP8 frames raise ``ValueError``)."""
    if not is_animated_webp(payload):
        raise ValueError("not an animated WebP")
    cw = (int.from_bytes(payload[24:27], "little") + 1)
    ch = (int.from_bytes(payload[27:30], "little") + 1)
    canvas = np.zeros((ch, cw, 4), np.uint8)
    durations: list[int] = []
    frames: list[np.ndarray] = []
    for tag, body in _webp_chunks(payload):
        if tag != b"ANMF" or len(body) < 16:
            continue
        fx = int.from_bytes(body[0:3], "little") * 2
        fy = int.from_bytes(body[3:6], "little") * 2
        fw = int.from_bytes(body[6:9], "little") + 1
        fh = int.from_bytes(body[9:12], "little") + 1
        dur = int.from_bytes(body[12:15], "little")
        flags = body[15]
        if fx + fw > cw or fy + fh > ch:
            raise ValueError("ANMF frame exceeds the canvas")
        # frame data = subchunks; rewrap so the still decoder applies
        inner = b"WEBP" + body[16:]
        frame = decode_webp_rgba(
            b"RIFF" + struct.pack("<I", len(inner)) + inner
        )
        if frame.shape[0] != fh or frame.shape[1] != fw:
            raise ValueError("ANMF dims disagree with the frame stream")
        region = canvas[fy : fy + fh, fx : fx + fw]
        if flags & 0x02:  # do not blend: replace
            region[:] = frame
        else:  # straight alpha over, float-composited then rounded
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
        frames.append(canvas.copy())
        durations.append(dur)
        if flags & 0x01:  # dispose to background: transparent black
            canvas[fy : fy + fh, fx : fx + fw] = 0
    if not frames:
        raise ValueError("animated WebP contains no ANMF frames")
    return durations, frames


def encode_webp_animation(
    frames: list[dict],
    canvas: tuple[int, int],
    bg_bgra: tuple[int, int, int, int] = (0, 0, 0, 0),
    loop: int = 0,
) -> bytes:
    """Fixture encoder: each frame dict carries ``pixels`` (hxwx3 RGB
    or hxwx4 RGBA, VP8L-encoded losslessly), optional ``x``/``y``
    (even, per the 2x container granularity), ``duration_ms``,
    ``blend`` (default True) and ``dispose`` (default False)."""
    cw, chh = canvas
    body = b"VP8X" + struct.pack("<I", 10) + bytes([0x02, 0, 0, 0]) + (
        cw - 1
    ).to_bytes(3, "little") + (chh - 1).to_bytes(3, "little")
    anim = bytes(bg_bgra) + struct.pack("<H", loop)
    body += b"ANIM" + struct.pack("<I", len(anim)) + anim
    for f in frames:
        px = np.asarray(f["pixels"], np.uint8)
        fh, fw = px.shape[:2]
        x, y = f.get("x", 0), f.get("y", 0)
        if x % 2 or y % 2:
            raise ValueError("ANMF offsets have 2-pixel granularity")
        payload = encode_webp(px)
        sub = payload[12:]  # the VP8L chunk (even-padded already)
        flags = 0
        if not f.get("blend", True):
            flags |= 0x02
        if f.get("dispose", False):
            flags |= 0x01
        anmf = (
            (x // 2).to_bytes(3, "little")
            + (y // 2).to_bytes(3, "little")
            + (fw - 1).to_bytes(3, "little")
            + (fh - 1).to_bytes(3, "little")
            + int(f.get("duration_ms", 100)).to_bytes(3, "little")
            + bytes([flags])
            + sub
        )
        body += b"ANMF" + struct.pack("<I", len(anmf)) + anmf
        if len(anmf) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


# --- encoding ----------------------------------------------------------------


def _prefix_encode(v: int) -> tuple[int, int, int]:
    """Value -> (prefix_symbol, extra_bits_value, extra_bits_count)."""
    if v < 1:
        raise ValueError("prefix-coded values start at 1")
    if v <= 4:
        return v - 1, 0, 0
    for prefix in range(4, 40):
        extra = (prefix - 2) >> 1
        lo = ((2 + (prefix & 1)) << extra) + 1
        hi = lo + (1 << extra) - 1
        if lo <= v <= hi:
            return prefix, v - lo, extra
    raise ValueError(f"value {v} out of prefix-code range")


class _WrittenCode:
    """One encoder-side prefix code: either simple (<=2 symbols, all
    <=255) or a complete two-length canonical code (Kraft sum exactly
    1, so strict decoders accept it)."""

    def __init__(self, used: list[int], alphabet_size: int):
        self.alphabet_size = alphabet_size
        if not used:
            used = [0]
        used = sorted(used)
        if len(used) <= 2 and used[-1] <= 255:
            self.simple: list[int] | None = used
            self.codes = (
                {used[0]: (0, 0)}
                if len(used) == 1
                else {used[0]: (0, 1), used[1]: (1, 1)}
            )
            self.lengths: list[int] = []
            return
        self.simple = None
        if len(used) == 1:  # lone symbol >255: pad for completeness
            used = [0] + used
        m = len(used)
        k = max(1, (m - 1).bit_length())
        a = (1 << k) - m  # symbols at length k-1 (0 when m is a power of 2)
        lengths = [0] * alphabet_size
        for i, sym in enumerate(used):
            lengths[sym] = (k - 1) if i < a else k
        self.lengths = lengths
        self.codes = {
            sym: (code, lengths[sym])
            for sym, code in _canonical_codes(lengths).items()
        }

    def write_definition(self, bw: _BitWriter) -> None:
        if self.simple is not None:
            bw.write(1, 1)  # simple
            bw.write(len(self.simple) - 1, 1)
            bw.write(1, 1)  # first symbol in 8 bits
            bw.write(self.simple[0], 8)
            if len(self.simple) == 2:
                bw.write(self.simple[1], 8)
            return
        bw.write(0, 1)  # code-length-coded
        # code-length code over the distinct length values (incl. 0 gaps)
        used_cl = sorted(set(self.lengths))
        if len(used_cl) == 1:  # all symbols coded at one length: pad
            used_cl = sorted({0} | set(used_cl))
        m = len(used_cl)
        k = max(1, (m - 1).bit_length())
        a = (1 << k) - m
        cl_lengths = [0] * 19
        for i, sym in enumerate(used_cl):
            cl_lengths[sym] = (k - 1) if i < a else k
        cl_codes = _canonical_codes(cl_lengths)
        bw.write(15, 4)  # all 19 code-length codes present
        for sym in _CODE_LENGTH_ORDER:
            bw.write(cl_lengths[sym], 3)
        bw.write(0, 1)  # no trimmed max_symbol
        for ln in self.lengths:
            bw.write_code(cl_codes[ln], cl_lengths[ln])

    def write_symbol(self, bw: _BitWriter, sym: int) -> None:
        code, length = self.codes[sym]
        bw.write_code(code, length)


def _encode_tokens(
    width: int,
    height: int,
    tokens: list[tuple],
    cache_bits: int = 0,
    subtract_green: bool = False,
) -> bytes:
    """Serialize a VP8L chunk from explicit tokens: ``("lit", argb)``,
    ``("copy", length, dist_code)`` (dist_code is the PREFIX-DECODED
    distance value: plane code 1..120 or actual distance + 120), or
    ``("cache", index)``. The caller is responsible for token
    consistency (cache indices valid under ``cache_bits``, references
    in range); this writer only assigns prefix codes."""
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(0, 1)  # alpha unused (encoder is RGB-opaque)
    bw.write(0, 3)  # version
    if subtract_green:
        bw.write(1, 1)
        bw.write(_SUBTRACT_GREEN, 2)
    bw.write(0, 1)  # end of transforms
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(0, 1)  # no meta-prefix image
    greens: list[int] = []
    reds: list[int] = []
    blues: list[int] = []
    alphas: list[int] = []
    dists: list[int] = []
    for tok in tokens:
        if tok[0] == "lit":
            _, px = tok
            greens.append((px >> 8) & 0xFF)
            reds.append((px >> 16) & 0xFF)
            blues.append(px & 0xFF)
            alphas.append((px >> 24) & 0xFF)
        elif tok[0] == "copy":
            _, length, dist_code = tok
            greens.append(256 + _prefix_encode(length)[0])
            dists.append(_prefix_encode(dist_code)[0])
        else:
            _, idx = tok
            greens.append(256 + _NUM_LENGTH_PREFIXES + idx)
    cache_size = (1 << cache_bits) if cache_bits else 0
    g = _WrittenCode(sorted(set(greens)), 256 + _NUM_LENGTH_PREFIXES + cache_size)
    r = _WrittenCode(sorted(set(reds)), 256)
    b = _WrittenCode(sorted(set(blues)), 256)
    a = _WrittenCode(sorted(set(alphas)), 256)
    d = _WrittenCode(sorted(set(dists)), _NUM_DISTANCE_PREFIXES)
    for code in (g, r, b, a, d):
        code.write_definition(bw)
    for tok in tokens:
        if tok[0] == "lit":
            _, px = tok
            g.write_symbol(bw, (px >> 8) & 0xFF)
            r.write_symbol(bw, (px >> 16) & 0xFF)
            b.write_symbol(bw, px & 0xFF)
            a.write_symbol(bw, (px >> 24) & 0xFF)
        elif tok[0] == "copy":
            _, length, dist_code = tok
            prefix, extra_v, extra_n = _prefix_encode(length)
            g.write_symbol(bw, 256 + prefix)
            bw.write(extra_v, extra_n)
            prefix, extra_v, extra_n = _prefix_encode(dist_code)
            d.write_symbol(bw, prefix)
            bw.write(extra_v, extra_n)
        else:
            g.write_symbol(bw, 256 + _NUM_LENGTH_PREFIXES + tok[1])
    return bw.getvalue()


def _riff_wrap(vp8l: bytes) -> bytes:
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def encode_webp(
    pixels: np.ndarray,
    use_lz77: bool = True,
    cache_bits: int = 0,
    subtract_green: bool = False,
) -> bytes:
    """Encode an HxWx3 uint8 RGB array as lossless WebP (VP8L).

    ``use_lz77`` emits greedy distance-1 run references for repeated
    pixels; ``cache_bits`` enables the color cache; ``subtract_green``
    applies that transform — all three exist so round-trip tests can
    exercise each decoder path, and all produce byte-valid streams any
    conformant decoder accepts. An HxWx4 input keeps its alpha channel
    (VP8L carries alpha inline)."""
    if pixels.ndim != 3 or pixels.shape[2] not in (3, 4):
        raise ValueError("expected an HxWx3 RGB or HxWx4 RGBA array")
    h, w, _ = pixels.shape
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("VP8L dimensions must be 1..16384")
    if not 0 <= cache_bits <= 11:
        raise ValueError("cache_bits must be 0..11")
    px = pixels.astype(np.uint32)
    red, green, blue = px[..., 0], px[..., 1], px[..., 2]
    alpha = px[..., 3] if pixels.shape[2] == 4 else np.uint32(0xFF)
    if subtract_green:
        red = (red - green) & np.uint32(0xFF)
        blue = (blue - green) & np.uint32(0xFF)
    argb = (
        (alpha << np.uint32(24))
        | (red << np.uint32(16))
        | (green << np.uint32(8))
        | blue
    ).reshape(-1)
    tokens: list[tuple] = []
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [None] * cache_size
    i = 0
    n = argb.shape[0]
    while i < n:
        v = int(argb[i])
        if use_lz77 and i > 0 and v == int(argb[i - 1]):
            run = 1
            while i + run < n and int(argb[i + run]) == v and run < 4096:
                run += 1
            tokens.append(("copy", run, 1 + 120))  # literal distance 1
            i += run
            continue
        if cache_size:
            slot = (v * _HASH_MUL & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[slot] == v:
                tokens.append(("cache", slot))
                i += 1
                continue
            cache[slot] = v
        tokens.append(("lit", v))
        i += 1
    return _riff_wrap(
        _encode_tokens(
            w, h, tokens, cache_bits=cache_bits, subtract_green=subtract_green
        )
    )
