"""Pure-Python baseline JPEG codec (ITU-T T.81 sequential DCT).

The container ships no Pillow/libjpeg, but baseline JPEG — the format of
essentially every real multimodal corpus — needs only the public T.81
spec: segment parse, canonical Huffman entropy decode, dequantize,
separable 2-D IDCT (one numpy matmul pair per block), chroma upsample,
JFIF YCbCr->RGB. This module is the correctness baseline behind
:func:`.multimodal.decode_image`; a production deployment swaps in
Pillow/libjpeg-turbo for throughput (the entropy decode here is
Python-loop-bound, ~10^5 blocks/s — fine for fixtures and spot decode,
not for a 100 TB image crawl, which is why the boundary stays pluggable).

Supported: SOF0 (baseline), SOF1 (extended sequential — identical
decode path), SOF2 (progressive: DC-first/refine and AC
spectral-selection/successive-approximation scans with EOB runs, the
jdphuff algorithm), 8-bit samples, grayscale or YCbCr, any
integer-ratio subsampling (4:4:4, 4:2:2, 4:2:0), restart intervals,
and both sequential scan layouts — fully interleaved (one SOS, MCU
raster) and non-interleaved (T.81 A.2.2: one SOS per component, block
raster). Rejected with ``ValueError``: 12-bit precision,
arithmetic-coded (SOF9/SOF10) and hierarchical/lossless SOFs,
partially-interleaved component subsets —
the caller treats that as "not decodable here".

Reference parity: the reference pipeline stores media as opaque blobs
and defers decode to consumers (docs/ARCHITECTURE.md payload-opacity
contract); this codec exists for the beyond-reference multimodal
operators, so their JPEG path is REAL end-to-end instead of a stub.
"""

from __future__ import annotations

import struct

import numpy as np

# Zig-zag order: ZIGZAG[k] = (row, col) flat index of the k-th
# transmitted coefficient (T.81 figure 5).
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

_UNZIGZAG = np.argsort(ZIGZAG)


def _dct_basis() -> np.ndarray:
    """Orthonormal 8-point DCT-II basis M: forward X = M x M^T, inverse
    x = M^T X M. Row u: c(u)·cos((2n+1)uπ/16)."""
    n = np.arange(8)
    m = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16) * 0.5
    m[0, :] = 0.5 / np.sqrt(2)
    return m


_M = _dct_basis()


def _idct2(coef: np.ndarray) -> np.ndarray:
    return _M.T @ coef @ _M


class _Huffman:
    """Canonical Huffman table from DHT counts+symbols; decode walks the
    (length, code) map one bit at a time (max 16 — T.81 limit)."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.map: dict[tuple[int, int], int] = {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.map[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: "_BitReader") -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            sym = self.map.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy stream")


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment, unstuffing
    0xFF00 and stopping at any other marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _next_byte(self) -> int:
        d, p = self.data, self.pos
        if p >= len(d):
            raise ValueError("truncated entropy stream")
        b = d[p]
        if b == 0xFF:
            if p + 1 >= len(d):
                raise ValueError("truncated entropy stream")
            nxt = d[p + 1]
            if nxt == 0x00:
                self.pos = p + 2
                return 0xFF
            raise _MarkerHit(0xFF00 | nxt)
        self.pos = p + 1
        return b

    def read_bit(self) -> int:
        if self.nbits == 0:
            self.acc = self._next_byte()
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self, expected: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.nbits = 0
        d, p = self.data, self.pos
        if p + 1 >= len(d) or d[p] != 0xFF or d[p + 1] != 0xD0 + expected:
            raise ValueError("missing restart marker in entropy stream")
        self.pos = p + 2


class _MarkerHit(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map the t received bits to a signed amplitude."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode baseline JPEG bytes to an HxWx3 uint8 RGB array.

    Raises ``ValueError`` for non-JPEG input and for JPEG variants
    outside the baseline subset documented in the module docstring.
    """
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _Huffman] = {}
    frame = None  # (height, width, [(cid, h, v, tq), ...])
    restart_interval = 0
    planes = None  # shared across scans (non-interleaved layouts)
    decoded: set[int] = set()
    progressive = False
    prog_coefs = None  # coefficient store (progressive frames)
    dc_scanned: set[int] = set()
    pos = 2
    d = payload
    while pos + 2 <= len(d):
        if d[pos] != 0xFF:
            raise ValueError("marker expected in JPEG stream")
        # T.81 B.1.1.2 allows any number of 0xFF fill bytes before the
        # marker code byte (ADVICE r05) — skip them.
        while pos + 1 < len(d) and d[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(d):
            break
        marker = d[pos + 1]
        if marker == 0xD9:  # EOI
            if (
                progressive
                and frame is not None
                and prog_coefs is not None
                and dc_scanned == {cid for cid, *_ in frame[2]}
            ):
                return _assemble_progressive(frame, prog_coefs, qt)
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / RSTn
            # standalone markers carry no length field (T.81 B.1.1.3)
            pos += 2
            continue
        if pos + 4 > len(d):
            break  # truncated header — falls through to "no SOS" below
        seglen = struct.unpack_from(">H", d, pos + 2)[0]
        body = d[pos + 4 : pos + 2 + seglen]
        if seglen < 2 or len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        nxt = pos + 2 + seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(body, np.uint8, 64, i).astype(np.int32)
                    i += 64
                else:
                    tbl = np.frombuffer(body, ">u2", 64, i).astype(np.int32)
                    i += 128
                qt[tq] = tbl
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
            if len(body) < 6 or len(body) < 6 + 3 * body[5]:
                raise ValueError("truncated SOF segment")
            prec, h, w, nc = body[0], *struct.unpack_from(">HH", body, 1), body[5]
            if prec != 8:
                raise ValueError("only 8-bit JPEG is supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only Huffman-coded baseline/extended-sequential/"
                f"progressive JPEG is supported (SOF marker 0x{marker:02X})"
            )
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                counts = list(body[i + 1 : i + 17])
                n = sum(counts)
                if i + 17 + n > len(body):
                    raise ValueError("truncated DHT segment")
                symbols = bytes(body[i + 17 : i + 17 + n])
                huff[(tc, th)] = _Huffman(counts, symbols)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("truncated DRI segment")
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            if len(body) < 1 or len(body) < 1 + 2 * body[0]:
                raise ValueError("truncated SOS segment")
            ns = body[0]
            scan = {}
            for c in range(ns):
                cs, tables = body[1 + 2 * c], body[2 + 2 * c]
                scan[cs] = (tables >> 4, tables & 0x0F)
            if len(body) < 4 + 2 * ns:
                raise ValueError("truncated SOS segment")
            sp_ss = body[1 + 2 * ns]
            sp_se = body[2 + 2 * ns]
            sp_ah = body[3 + 2 * ns] >> 4
            sp_al = body[3 + 2 * ns] & 0x0F
            all_cids = {cid for cid, *_ in frame[2]}
            if progressive:
                if not set(scan) <= all_cids:
                    raise ValueError(
                        "scan references unknown component ids"
                    )
                if sp_ss == 0 and len(scan) not in (1, len(all_cids)):
                    raise ValueError(
                        "partially interleaved JPEG scans are not "
                        "supported"
                    )
                if prog_coefs is None:
                    prog_coefs = _alloc_coefs(frame)
                try:
                    end = _decode_prog_scan(
                        d, nxt, frame, scan, huff, restart_interval,
                        prog_coefs, sp_ss, sp_se, sp_ah, sp_al,
                    )
                except _MarkerHit as mh:
                    raise ValueError(
                        f"unexpected marker 0x{mh.marker:04X} in "
                        "entropy stream"
                    ) from None
                if sp_ss == 0 and sp_ah == 0:
                    dc_scanned |= set(scan)
                pos = end
                continue
            # legal sequential layouts: all components interleaved in
            # one scan, or one component per scan (T.81 A.2.2/A.2.3).
            # A partially-interleaved subset is possible in the spec but
            # unseen in practice; a component repeating across scans is
            # the progressive signature — both rejected explicitly.
            if not set(scan) <= all_cids:
                raise ValueError("scan references unknown component ids")
            if len(scan) not in (1, len(all_cids)):
                raise ValueError(
                    "partially interleaved JPEG scans are not supported"
                )
            if decoded & set(scan):
                raise ValueError(
                    "component repeated across scans (progressive?)"
                )
            if planes is None:
                planes = _alloc_planes(frame)
            try:
                end = _decode_entropy(
                    d, nxt, frame, scan, qt, huff, restart_interval,
                    planes,
                )
            except _MarkerHit as mh:
                raise ValueError(
                    f"unexpected marker 0x{mh.marker:04X} in entropy stream"
                ) from None
            decoded |= set(scan)
            if decoded == all_cids:
                return _assemble(frame, planes)
            pos = end
            continue
        pos = nxt
    raise ValueError(
        "no SOS segment found"
        if not decoded
        else "JPEG ended before every component was scanned"
    )


def _alloc_coefs(frame) -> dict[int, np.ndarray]:
    """Per-component coefficient store for progressive frames:
    (block_rows, block_cols, 64) int32 in TRANSMISSION (zig-zag) order,
    MCU-padded like the pixel planes."""
    height, width, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    return {
        cid: np.zeros((mcuy * cv, mcux * ch, 64), np.int32)
        for cid, ch, cv, _ in comps
    }


def _dc_first(br, dch, pred, cid, cv, al) -> None:
    t = dch.decode(br)
    diff = _extend(br.receive(t), t)
    pred[cid] += diff
    cv[0] = pred[cid] * (1 << al)


def _dc_refine(br, cv, al) -> None:
    if br.receive(1):
        cv[0] |= 1 << al


def _ac_first(br, ach, cv, ss, se, al, state) -> None:
    if state["eob"] > 0:
        state["eob"] -= 1
        return
    k = ss
    while k <= se:
        rs = ach.decode(br)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r != 15:
                state["eob"] = (1 << r) - 1
                if r:
                    state["eob"] += br.receive(r)
                return
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        cv[k] = _extend(br.receive(s), s) * (1 << al)
        k += 1


def _ac_refine(br, ach, cv, ss, se, al, state) -> None:
    """Successive-approximation AC refinement (T.81 G.1.2.3 — the
    correction-bit walk of libjpeg's decode_mcu_AC_refine): nonzero-
    history coefficients absorb one correction bit as they are passed;
    zero-history coefficients count down the run, and a size-1 symbol
    plants a new ±2^Al at the run's end."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if state["eob"] == 0:
        while k <= se:
            rs = ach.decode(br)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    state["eob"] = 1 << r
                    if r:
                        state["eob"] += br.receive(r)
                    break  # rest of this block handled below
                # ZRL: pass 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("invalid refinement magnitude")
                val = p1 if br.receive(1) else m1
            while k <= se:
                if cv[k] != 0:
                    if br.receive(1) and (cv[k] & p1) == 0:
                        cv[k] += p1 if cv[k] > 0 else m1
                else:
                    if r == 0:
                        if s:
                            cv[k] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if state["eob"] > 0:
        while k <= se:
            if cv[k] != 0:
                if br.receive(1) and (cv[k] & p1) == 0:
                    cv[k] += p1 if cv[k] > 0 else m1
            k += 1
        state["eob"] -= 1


def _decode_prog_scan(
    d, pos, frame, scan, huff, ri, coefs, ss, se, ah, al
) -> int:
    """Decode one progressive scan into the shared coefficient store;
    returns the byte offset just past the scan's entropy data."""
    height, width, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    by_id = {c[0]: c for c in comps}
    if ss == 0:
        if se != 0:
            raise ValueError("DC progressive scan must have Se = 0")
        if ah == 0:
            for cid in scan:
                if (0, scan[cid][0]) not in huff:
                    raise ValueError("missing DC Huffman table")
    else:
        if len(scan) != 1:
            raise ValueError(
                "AC progressive scans must be non-interleaved"
            )
        if not 1 <= ss <= se <= 63:
            raise ValueError("bad spectral selection band")
        for cid in scan:
            if (1, scan[cid][1]) not in huff:
                raise ValueError("missing AC Huffman table")
    br = _BitReader(d, pos)
    pred = {cid: 0 for cid in scan}
    state = {"eob": 0}
    rst = 0

    def block(cid, by, bx):
        cv = coefs[cid][by, bx]
        if ss == 0 and ah == 0:
            _dc_first(br, huff[(0, scan[cid][0])], pred, cid, cv, al)
        elif ss == 0:
            _dc_refine(br, cv, al)
        elif ah == 0:
            _ac_first(br, huff[(1, scan[cid][1])], cv, ss, se, al, state)
        else:
            _ac_refine(br, huff[(1, scan[cid][1])], cv, ss, se, al, state)

    # T.81 A.2: ANY single-component scan is non-interleaved (sampling
    # factors ignored), even when the lone frame component declares
    # h/v > 1 — len(scan)==len(comps) would misroute that grayscale
    # case through the MCU raster and desync.  Partial interleave
    # (1 < Ns < Nf) is rejected at parse time.
    if ss == 0 and len(scan) > 1:  # interleaved DC scan
        for m in range(mcux * mcuy):
            if ri and m and m % ri == 0:
                br.restart(rst)
                rst = (rst + 1) & 7
                pred = dict.fromkeys(pred, 0)
                state["eob"] = 0
            my, mx = divmod(m, mcux)
            for cid, ch, cv_, _tq in comps:
                for by in range(cv_):
                    for bx in range(ch):
                        block(cid, my * cv_ + by, mx * ch + bx)
    else:  # single component, block raster
        (cid,) = scan
        _, ch, cv_, _tq = by_id[cid]
        w_i = -(-width * ch // hmax)
        h_i = -(-height * cv_ // vmax)
        bw_, bh_ = -(-w_i // 8), -(-h_i // 8)
        for m in range(bw_ * bh_):
            if ri and m and m % ri == 0:
                br.restart(rst)
                rst = (rst + 1) & 7
                pred = dict.fromkeys(pred, 0)
                state["eob"] = 0
            by, bx = divmod(m, bw_)
            block(cid, by, bx)
    return br.pos


def _assemble_progressive(frame, coefs, qt) -> np.ndarray:
    height, width, comps = frame
    planes = {}
    for cid, ch, cv_, tq in comps:
        if tq not in qt:
            raise ValueError(f"missing quantization table {tq}")
        q = qt[tq]
        arr = coefs[cid]
        bh, bw_ = arr.shape[:2]
        nat = np.zeros((bh, bw_, 64), np.float64)
        nat[:, :, ZIGZAG] = arr * q[None, None, :]
        blocks = nat.reshape(bh, bw_, 8, 8)
        plane = np.empty((bh * 8, bw_ * 8), np.float64)
        for y in range(bh):
            for x in range(bw_):
                plane[y * 8 : y * 8 + 8, x * 8 : x * 8 + 8] = (
                    _idct2(blocks[y, x]) + 128.0
                )
        planes[cid] = plane
    return _assemble(frame, planes)


def _alloc_planes(frame) -> dict[int, np.ndarray]:
    height, width, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    return {
        cid: np.zeros((mcuy * cv * 8, mcux * ch * 8), np.float64)
        for cid, ch, cv, _ in comps
    }


def _decode_entropy(d, pos, frame, scan, qt, huff, ri, planes) -> int:
    """Decode ONE scan's entropy stream into the shared component
    planes. Handles the fully-interleaved layout (all frame components,
    MCU raster) and the non-interleaved layout (single component, 8x8
    blocks in the component's own raster — T.81 A.2.2, where the "MCU"
    is one block). Returns the byte offset just past the scan."""
    height, width, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    by_id = {c[0]: c for c in comps}
    for cid in scan:
        tq = by_id[cid][3]
        if tq not in qt:
            raise ValueError(f"missing quantization table {tq}")
        if (0, scan[cid][0]) not in huff or (1, scan[cid][1]) not in huff:
            raise ValueError("missing Huffman table for scan component")
    br = _BitReader(d, pos)
    pred = {cid: 0 for cid in scan}
    rst = 0
    coef = np.zeros(64, np.int32)

    def decode_block(cid, y0, x0):
        dc_t, ac_t = scan[cid]
        dch, ach = huff[(0, dc_t)], huff[(1, ac_t)]
        q = qt[by_id[cid][3]]
        coef[:] = 0
        t = dch.decode(br)
        diff = _extend(br.receive(t), t)
        pred[cid] += diff
        coef[0] = pred[cid]
        k = 1
        while k < 64:
            rs = ach.decode(br)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("AC run past block end")
            coef[k] = _extend(br.receive(s), s)
            k += 1
        block = np.zeros(64, np.float64)
        block[ZIGZAG] = coef * q
        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = (
            _idct2(block.reshape(8, 8)) + 128.0
        )

    # T.81 A.2: a single-component scan is ALWAYS non-interleaved — see
    # the progressive-path note; same grayscale h/v>1 desync otherwise.
    if len(scan) > 1:  # interleaved: MCU raster
        for m in range(mcux * mcuy):
            if ri and m and m % ri == 0:
                br.restart(rst)
                rst = (rst + 1) & 7
                pred = dict.fromkeys(pred, 0)
            my, mx = divmod(m, mcux)
            for cid, ch, cv, _tq in comps:
                for by in range(cv):
                    for bx in range(ch):
                        decode_block(
                            cid, (my * cv + by) * 8, (mx * ch + bx) * 8
                        )
    else:  # non-interleaved: one component, block raster (MCU = block)
        (cid,) = scan
        _, ch, cv, _tq = by_id[cid]
        w_i = -(-width * ch // hmax)
        h_i = -(-height * cv // vmax)
        bw_, bh_ = -(-w_i // 8), -(-h_i // 8)
        for m in range(bw_ * bh_):
            if ri and m and m % ri == 0:
                br.restart(rst)
                rst = (rst + 1) & 7
                pred = dict.fromkeys(pred, 0)
            by, bx = divmod(m, bw_)
            decode_block(cid, by * 8, bx * 8)
    # byte-align: any partially-read byte was already consumed into the
    # accumulator, so br.pos is the first byte of the next marker (or of
    # its 0xFF lead-in)
    return br.pos


def _assemble(frame, planes) -> np.ndarray:
    height, width, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    out = []
    for cid, ch, cv, _ in comps:
        p = planes[cid]
        if ch != hmax or cv != vmax:
            if hmax % ch or vmax % cv:
                raise ValueError("non-integer subsampling ratio")
            p = np.repeat(np.repeat(p, vmax // cv, 0), hmax // ch, 1)
        out.append(p[:height, :width])
    if len(out) == 1:
        # round like the YCbCr path below — truncation loses a level on
        # any non-integer reconstruction (only exact-integer flat-block
        # fixtures ever masked it)
        y = np.clip(np.round(out[0]), 0, 255)
        return np.repeat(y[:, :, None], 3, axis=2).astype(np.uint8)
    if len(out) != 3:
        raise ValueError(f"unsupported component count {len(out)}")
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --- DC-only encoder (test/fixture helper) ----------------------------------
# Standard T.81 Annex K Huffman tables — enough to emit legal baseline
# streams whose every block is a flat 8x8 patch (DC coefficient + EOB).
# With an all-ones quantization table the decode is bit-exact, so tests
# get analytically-known pixels without any external codec.

_K_DC_COUNTS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_K_DC_SYMBOLS = bytes(range(12))
_K_AC_COUNTS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_K_AC_SYMBOLS = bytes([
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        return bytes(self.out)


def _huff_codes(counts: list[int], symbols: bytes) -> dict[int, tuple[int, int]]:
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


# AC table for progressive fixture scans: the 15 EOBRUN symbols
# (r<<4 | 0 for r = 0..14) as 15 canonical length-4 codes — the Annex K
# AC table lacks the r>0 EOB symbols progressive streams use.
_P_AC_COUNTS = [0, 0, 0, 15] + [0] * 12
_P_AC_SYMBOLS = bytes(r << 4 for r in range(15))


def _eobrun_bits(n: int) -> tuple[int, int, int]:
    """(r, extra, extra_bits) encoding an EOB run covering n blocks:
    the decoder reconstructs (1 << r) + extra blocks."""
    r = n.bit_length() - 1
    return r, n - (1 << r), r


def encode_jpeg_progressive_flat(
    width: int,
    height: int,
    rgb: tuple[int, int, int],
    subsampling: tuple[int, int] = (1, 1),
) -> bytes:
    """Encode a solid-color PROGRESSIVE JPEG (SOF2) fixture exercising
    all four scan types: interleaved DC-first at Al=1, per-component
    AC-first (pure EOB runs — flat blocks have no AC energy), DC
    refinement delivering bit 0, and per-component AC refinement
    (EOB runs over the all-zero history). Decodes to exactly the same
    pixels as the sequential :func:`encode_jpeg_flat` of the color."""
    r, g, b = rgb
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    levels = [int(round(v)) for v in (y, cb, cr)]
    sh, sv = subsampling
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)

    seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    comps = [(1, sh, sv, 0), (2, 1, 1, 0), (3, 1, 1, 0)]
    seg(
        0xC2,
        struct.pack(">BHHB", 8, height, width, 3)
        + b"".join(
            struct.pack(">BBB", cid, (h << 4) | v, tq)
            for cid, h, v, tq in comps
        ),
    )
    seg(0xC4, bytes([0x00]) + bytes(_K_DC_COUNTS) + _K_DC_SYMBOLS)
    seg(0xC4, bytes([0x10]) + bytes(_P_AC_COUNTS) + _P_AC_SYMBOLS)
    dc_codes = _huff_codes(_K_DC_COUNTS, _K_DC_SYMBOLS)
    ac_codes = _huff_codes(_P_AC_COUNTS, _P_AC_SYMBOLS)
    mcux = -(-width // (8 * sh))
    mcuy = -(-height // (8 * sv))

    def comp_blocks(ch, cv):
        w_i = -(-width * ch // sh)
        h_i = -(-height * cv // sv)
        return (-(-w_i // 8)) * (-(-h_i // 8))

    # scan 1: DC first, interleaved, Al=1
    seg(
        0xDA,
        struct.pack(">B", 3)
        + b"".join(struct.pack(">BB", cid, 0x00) for cid in (1, 2, 3))
        + bytes([0, 0, 1]),  # Ss=0 Se=0 Ah=0 Al=1
    )
    bw = _BitWriter()
    pred = {1: 0, 2: 0, 3: 0}
    for _m in range(mcux * mcuy):
        for (cid, ch, cv, _tq), level in zip(comps, levels):
            dc1 = (8 * (level - 128)) >> 1  # arithmetic point transform
            for _blk in range(ch * cv):
                diff = dc1 - pred[cid]
                pred[cid] = dc1
                mag = abs(diff)
                t = mag.bit_length()
                code, length = dc_codes[t]
                bw.write(code, length)
                if t:
                    bw.write(
                        diff if diff >= 0 else diff + (1 << t) - 1, t
                    )
    out.extend(bw.flush())
    # scans 2-4: AC first per component, band 1..63, Al=1 — EOB runs
    for cid, ch, cv, _tq in comps:
        seg(
            0xDA,
            struct.pack(">B", 1) + struct.pack(">BB", cid, 0x00)
            + bytes([1, 63, 1]),  # Ss=1 Se=63 Ah=0 Al=1
        )
        bw = _BitWriter()
        n = comp_blocks(ch, cv)
        while n:
            run = min(n, 1 << 14)
            r_, extra, ebits = _eobrun_bits(run)
            code, length = ac_codes[r_ << 4]
            bw.write(code, length)
            if ebits:
                bw.write(extra, ebits)
            n -= run
        out.extend(bw.flush())
    # scan 5: DC refinement, interleaved, Ah=1 Al=0 — one bit per block
    seg(
        0xDA,
        struct.pack(">B", 3)
        + b"".join(struct.pack(">BB", cid, 0x00) for cid in (1, 2, 3))
        + bytes([0, 0, 0x10]),  # Ss=0 Se=0 Ah=1 Al=0
    )
    bw = _BitWriter()
    for _m in range(mcux * mcuy):
        for (cid, ch, cv, _tq), level in zip(comps, levels):
            bit0 = (8 * (level - 128)) & 1
            for _blk in range(ch * cv):
                bw.write(bit0, 1)
    out.extend(bw.flush())
    # scans 6-8: AC refinement per component — EOB runs, zero history
    for cid, ch, cv, _tq in comps:
        seg(
            0xDA,
            struct.pack(">B", 1) + struct.pack(">BB", cid, 0x00)
            + bytes([1, 63, 0x10]),  # Ss=1 Se=63 Ah=1 Al=0
        )
        bw = _BitWriter()
        n = comp_blocks(ch, cv)
        while n:
            run = min(n, 1 << 14)
            r_, extra, ebits = _eobrun_bits(run)
            code, length = ac_codes[r_ << 4]
            bw.write(code, length)
            if ebits:
                bw.write(extra, ebits)
            n -= run
        out.extend(bw.flush())
    out.extend(b"\xff\xd9")
    return bytes(out)


def encode_jpeg_flat(
    width: int,
    height: int,
    rgb: tuple[int, int, int],
    subsampling: tuple[int, int] = (1, 1),
    restart_interval: int = 0,
    multiscan: bool = False,
) -> bytes:
    """Encode a solid-color baseline JPEG (fixture helper, like
    :func:`.multimodal.encode_wav`).

    Every block carries only a DC coefficient, the quantization tables
    are all ones, and the Huffman tables are the T.81 Annex K standards —
    so :func:`decode_jpeg` (or any conformant decoder) reproduces the
    YCbCr-rounded color exactly. ``subsampling`` is the luma (h, v)
    factor: (1, 1) = 4:4:4, (2, 2) = 4:2:0.
    """
    r, g, b = rgb
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    levels = [int(round(v)) for v in (y, cb, cr)]
    sh, sv = subsampling
    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)

    seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # DQT id 0, all ones
    comps = [(1, sh, sv, 0), (2, 1, 1, 0), (3, 1, 1, 0)]
    sof = struct.pack(">BHHB", 8, height, width, 3) + b"".join(
        struct.pack(">BBB", cid, (h << 4) | v, tq) for cid, h, v, tq in comps
    )
    seg(0xC0, sof)
    seg(0xC4, bytes([0x00]) + bytes(_K_DC_COUNTS) + _K_DC_SYMBOLS)
    seg(0xC4, bytes([0x10]) + bytes(_K_AC_COUNTS) + _K_AC_SYMBOLS)
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    if multiscan:
        # T.81 A.2.2 non-interleaved layout: one SOS per component,
        # blocks in the component's own raster (MCU = one block)
        dc_codes = _huff_codes(_K_DC_COUNTS, _K_DC_SYMBOLS)
        ac_codes = _huff_codes(_K_AC_COUNTS, _K_AC_SYMBOLS)
        eob_code, eob_len = ac_codes[0x00]
        for (cid, ch, cv, _tq), level in zip(comps, levels):
            seg(
                0xDA,
                struct.pack(">B", 1)
                + struct.pack(">BB", cid, 0x00)
                + bytes([0, 63, 0]),
            )
            w_i = -(-width * ch // sh)
            h_i = -(-height * cv // sv)
            bw_, bh_ = -(-w_i // 8), -(-h_i // 8)
            bw = _BitWriter()
            dc = 8 * (level - 128)
            pred_v = 0
            rst = 0
            for m in range(bw_ * bh_):
                if restart_interval and m and m % restart_interval == 0:
                    out.extend(bw.flush())
                    bw = _BitWriter()
                    out.extend(bytes([0xFF, 0xD0 + rst]))
                    rst = (rst + 1) & 7
                    pred_v = 0
                diff = dc - pred_v
                pred_v = dc
                mag = abs(diff)
                t = mag.bit_length()
                code, length = dc_codes[t]
                bw.write(code, length)
                if t:
                    bw.write(
                        diff if diff >= 0 else diff + (1 << t) - 1, t
                    )
                bw.write(eob_code, eob_len)
            out.extend(bw.flush())
        out.extend(b"\xff\xd9")  # EOI
        return bytes(out)
    seg(
        0xDA,
        struct.pack(">B", 3)
        + b"".join(struct.pack(">BB", cid, 0x00) for cid in (1, 2, 3))
        + bytes([0, 63, 0]),
    )
    dc_codes = _huff_codes(_K_DC_COUNTS, _K_DC_SYMBOLS)
    ac_codes = _huff_codes(_K_AC_COUNTS, _K_AC_SYMBOLS)
    eob_code, eob_len = ac_codes[0x00]
    bw = _BitWriter()
    mcux = -(-width // (8 * sh))
    mcuy = -(-height // (8 * sv))
    pred = {1: 0, 2: 0, 3: 0}
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            out.extend(bw.flush())
            bw = _BitWriter()
            out.extend(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) & 7
            pred = {1: 0, 2: 0, 3: 0}
        for (cid, ch, cv, _tq), level in zip(comps, levels):
            dc = 8 * (level - 128)  # orthonormal DCT of a flat block
            for _blk in range(ch * cv):
                diff = dc - pred[cid]
                pred[cid] = dc
                mag = abs(diff)
                t = mag.bit_length()
                code, length = dc_codes[t]
                bw.write(code, length)
                if t:
                    bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
                bw.write(eob_code, eob_len)
    out.extend(bw.flush())
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)
