"""Pure-Python ISOBMFF (ISO/IEC 14496-12) container parser: AVIF + MP4.

Shrinks the multimodal codec boundary at the CONTAINER level: AVIF
stills (HEIF/MIAF, ISO/IEC 23008-12) and MP4 videos are both ISOBMFF
box trees, so their dimensions, bit depth, alpha presence, track
layout, duration, and per-frame byte ranges are all readable with zero
codec work.  Consumers:

- :func:`.multimodal.probe_assets` fills ``width``/``height``/
  ``duration_ms`` via :func:`probe_avif` (HEIF stills incl. HEIC/grid),
  :func:`probe_mp4` and :func:`movie_duration_ms` (MP4 + animated AVIF);
- the ``mp4_keyframe_stats`` registry query reads the flattened sample
  tables through :func:`mp4_sample_index` (keyframe-aligned byte ranges
  from the stsz/stsc/stco/stss/stts walk).

The fixture encoders (:func:`encode_avif` / :func:`encode_mp4`) build
spec-valid containers with closed-form layouts for the oracle queries
(``mp4_keyframe_stats`` / ``multimodal_probe_stats``) and tests.

Box grammar: 4-byte big-endian size + 4-byte type; ``size == 1`` means
a 64-bit ``largesize`` follows; ``size == 0`` means "to end of
enclosing box".  FullBoxes carry a 1-byte version + 3-byte flags
prefix.  Only publicly documented boxes are read (ISO 14496-12 §8,
ISO 23008-12 §6, AV1-ISOBMFF §2.3); unknown boxes are skipped by size.

Reference parity: the reference pipeline stores media as opaque bytes
and defers all probing to workers (`README.md` multimodal rows); here
the probe is a first-class Arrow-batched operator.
"""

from __future__ import annotations

import struct
from typing import Iterator

_ALPHA_URNS = (
    b"urn:mpeg:mpegB:cicp:systems:auxiliary:alpha",
    b"urn:mpeg:hevc:2015:auxid:1",  # HEIC alpha; accepted for parity
)


def iter_boxes(
    buf: bytes, start: int = 0, end: int | None = None
) -> Iterator[tuple[bytes, int, int]]:
    """Yield ``(type, payload_start, payload_end)`` for each box in
    ``buf[start:end]``.  Corrupt sizes terminate iteration rather than
    raising — probers treat a truncated tree as "whatever was parsed".
    """
    if end is None:
        end = len(buf)
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", buf, pos)[0]
        btype = buf[pos + 4 : pos + 8]
        header = 8
        if size == 1:
            if pos + 16 > end:
                return
            size = struct.unpack_from(">Q", buf, pos + 8)[0]
            header = 16
        elif size == 0:
            size = end - pos
        if size < header or pos + size > end:
            return
        yield btype, pos + header, pos + size
        pos += size


def find_box(
    buf: bytes, path: tuple[bytes, ...], start: int = 0, end: int | None = None
) -> tuple[int, int] | None:
    """Resolve a path of box types to the payload span of the first
    match, descending through container payloads."""
    if end is None:
        end = len(buf)
    for btype, p0, p1 in iter_boxes(buf, start, end):
        if btype != path[0]:
            continue
        if btype == b"meta":  # FullBox container: skip version/flags
            p0 += 4
        if len(path) == 1:
            return p0, p1
        return find_box(buf, path[1:], p0, p1)
    return None


def _full(buf: bytes, p0: int) -> tuple[int, int, int]:
    """Split a FullBox payload: returns (version, flags, body_start)."""
    version = buf[p0]
    flags = int.from_bytes(buf[p0 + 1 : p0 + 4], "big")
    return version, flags, p0 + 4


# ---------------------------------------------------------------------
# AVIF (HEIF still-image) probe
# ---------------------------------------------------------------------


def is_isobmff(payload: bytes | None) -> bool:
    return (
        payload is not None
        and len(payload) >= 12
        and payload[4:8] == b"ftyp"
        and struct.unpack_from(">I", payload)[0] >= 16
    )


def _ftyp_brands(buf: bytes) -> list[bytes]:
    span = find_box(buf, (b"ftyp",))
    if span is None:
        return []
    p0, p1 = span
    brands = [buf[p0 : p0 + 4]]
    for off in range(p0 + 8, p1 - 3, 4):
        brands.append(buf[off : off + 4])
    return brands


def is_avif(payload: bytes | None) -> bool:
    if not is_isobmff(payload):
        return False
    brands = _ftyp_brands(payload)
    return any(b in (b"avif", b"avis") for b in brands)


# HEIF still-image brands (ISO 23008-12 §10): AVIF plus the HEVC-coded
# HEIC family and the codec-agnostic MIAF/HEIF structural brands.
_HEIF_STILL_BRANDS = (
    b"avif",
    b"avis",
    b"heic",
    b"heix",
    b"heim",
    b"heis",
    b"mif1",
    b"miaf",
)


def is_heif_still(payload: bytes | None) -> bool:
    if not is_isobmff(payload):
        return False
    return any(b in _HEIF_STILL_BRANDS for b in _ftyp_brands(payload))


def _parse_iinf(buf: bytes, p0: int, p1: int) -> dict[int, bytes]:
    """item_ID -> item_type (4cc) from the item-information box."""
    version, _, body = _full(buf, p0)
    if version == 0:
        body += 2
    else:
        body += 4
    items: dict[int, bytes] = {}
    for btype, i0, i1 in iter_boxes(buf, body, p1):
        if btype != b"infe":
            continue
        iversion, _, b = _full(buf, i0)
        if iversion < 2:
            continue  # pre-HEIF infe has no item_type; ignore
        if iversion == 2:
            item_id = struct.unpack_from(">H", buf, b)[0]
            b += 2
        else:
            item_id = struct.unpack_from(">I", buf, b)[0]
            b += 4
        b += 2  # item_protection_index
        items[item_id] = buf[b : b + 4]
    return items


def _parse_ipma(buf: bytes, p0: int, p1: int) -> dict[int, list[int]]:
    """item_ID -> [1-based ipco property indices]."""
    version, flags, body = _full(buf, p0)
    (entry_count,) = struct.unpack_from(">I", buf, body)
    body += 4
    assoc: dict[int, list[int]] = {}
    for _ in range(entry_count):
        if version < 1:
            (item_id,) = struct.unpack_from(">H", buf, body)
            body += 2
        else:
            (item_id,) = struct.unpack_from(">I", buf, body)
            body += 4
        count = buf[body]
        body += 1
        props: list[int] = []
        for _ in range(count):
            if flags & 1:
                (v,) = struct.unpack_from(">H", buf, body)
                body += 2
                props.append(v & 0x7FFF)
            else:
                props.append(buf[body] & 0x7F)
                body += 1
        assoc[item_id] = props
        if body > p1:
            break
    return assoc


def _parse_iref(buf: bytes, p0: int, p1: int) -> list[tuple[bytes, int, list[int]]]:
    """[(reference_type, from_item, [to_items])]."""
    version, _, body = _full(buf, p0)
    refs: list[tuple[bytes, int, list[int]]] = []
    for btype, r0, r1 in iter_boxes(buf, body, p1):
        if version == 0:
            from_id, count = struct.unpack_from(">HH", buf, r0)
            ids = list(struct.unpack_from(f">{count}H", buf, r0 + 4))
        else:
            from_id, count = struct.unpack_from(">IH", buf, r0)
            ids = list(struct.unpack_from(f">{count}I", buf, r0 + 6))
        refs.append((btype, from_id, ids))
    return refs


def _av1c_depth(cfg: bytes) -> int:
    """Bit depth from an av1C config record (AV1-ISOBMFF §2.3)."""
    if len(cfg) < 2:
        return 8
    seq_profile = cfg[1] >> 5
    high_bitdepth = (cfg[2] >> 6) & 1 if len(cfg) > 2 else 0
    twelve_bit = (cfg[2] >> 5) & 1 if len(cfg) > 2 else 0
    if not high_bitdepth:
        return 8
    return 12 if (seq_profile == 2 and twelve_bit) else 10


_STILL_CODECS = (b"av01", b"hvc1", b"hev1")


def probe_avif(payload: bytes) -> dict | None:
    """Container-level HEIF still metadata (AVIF and HEVC-coded HEIC —
    the item tree is codec-agnostic): no pixel decode involved.

    Returns ``{"width", "height", "bit_depth", "has_alpha", "codec",
    "animated"}`` or None if the payload is not a HEIF still / is too
    mangled to carry an ``ispe`` for the primary item.
    """
    if not is_heif_still(payload):
        return None
    buf = payload
    meta = find_box(buf, (b"meta",))
    if meta is None:
        return None
    m0, m1 = meta
    # primary item
    pitm = find_box(buf, (b"pitm",), m0, m1)
    primary = None
    if pitm is not None:
        version, _, b = _full(buf, pitm[0])
        primary = struct.unpack_from(">H" if version == 0 else ">I", buf, b)[0]
    iinf = find_box(buf, (b"iinf",), m0, m1)
    items = _parse_iinf(buf, *iinf) if iinf else {}
    ipco = find_box(buf, (b"iprp", b"ipco"), m0, m1)
    if ipco is None:
        return None
    props = list(iter_boxes(buf, *ipco))  # 1-based indexing below
    ipma = find_box(buf, (b"iprp", b"ipma"), m0, m1)
    assoc = _parse_ipma(buf, *ipma) if ipma else {}
    iref = find_box(buf, (b"iref",), m0, m1)
    refs = _parse_iref(buf, *iref) if iref else []

    if primary is None and items:
        coded = [i for i, t in items.items() if t in _STILL_CODECS]
        primary = min(coded) if coded else None
    if primary is None:
        return None

    def item_props(item_id: int) -> list[tuple[bytes, int, int]]:
        return [
            props[i - 1] for i in assoc.get(item_id, []) if 0 < i <= len(props)
        ]

    width = height = None
    depth = 8
    for btype, q0, q1 in item_props(primary):
        if btype == b"ispe":
            _, _, b = _full(buf, q0)
            width, height = struct.unpack_from(">II", buf, b)
        elif btype == b"av1C":
            depth = _av1c_depth(buf[q0:q1])
        elif btype == b"pixi":
            _, _, b = _full(buf, q0)
            n = buf[b]
            if n:
                depth = buf[b + 1]
    if width is None:
        return None

    # alpha: an auxiliary item referencing the primary via 'auxl' whose
    # auxC type is the CICP alpha URN
    has_alpha = False
    for rtype, from_id, to_ids in refs:
        if rtype != b"auxl" or primary not in to_ids:
            continue
        for btype, q0, q1 in item_props(from_id):
            if btype == b"auxC":
                _, _, b = _full(buf, q0)
                urn = buf[b:q1].split(b"\x00", 1)[0]
                if urn in _ALPHA_URNS:
                    has_alpha = True
    return {
        "width": int(width),
        "height": int(height),
        "bit_depth": int(depth),
        "has_alpha": has_alpha,
        "codec": (items.get(primary) or b"av01").decode("ascii", "replace"),
        "animated": b"avis" in _ftyp_brands(buf),
    }


# ---------------------------------------------------------------------
# MP4 probe + sample index
# ---------------------------------------------------------------------

_VIDEO_CODECS = {b"avc1", b"avc3", b"hev1", b"hvc1", b"vp08", b"vp09", b"av01"}


def is_mp4(payload: bytes | None) -> bool:
    if not is_isobmff(payload):
        return False
    brands = _ftyp_brands(payload)
    if any(b in _HEIF_STILL_BRANDS for b in brands):
        return False
    return find_box(payload, (b"moov",)) is not None


def has_movie_box(payload: bytes | None) -> bool:
    """True when the ISOBMFF file carries a ``moov`` — plain MP4s, but
    also animated AVIF (``avis``: still-image meta + a real AV1 video
    track) and HEIF sequences. The sample-table functions below accept
    any such file; :func:`is_mp4` stays the *classifier* (a HEIF brand
    is not "an MP4" even when it has tracks)."""
    return is_isobmff(payload) and find_box(payload, (b"moov",)) is not None


def _mvhd_duration_ms(buf: bytes, m0: int, m1: int) -> int | None:
    span = find_box(buf, (b"mvhd",), m0, m1)
    if span is None:
        return None
    version, _, b = _full(buf, span[0])
    if version == 1:
        timescale, duration = struct.unpack_from(">IQ", buf, b + 16)
    else:
        timescale, duration = struct.unpack_from(">II", buf, b + 8)
    if not timescale:
        return None
    return int(duration * 1000 // timescale)


def movie_duration_ms(payload: bytes) -> int | None:
    """mvhd movie duration of any ISOBMFF file with a moov (MP4s and
    animated AVIF / HEIF sequences alike), in milliseconds."""
    if not has_movie_box(payload):
        return None
    m0, m1 = find_box(payload, (b"moov",))
    return _mvhd_duration_ms(payload, m0, m1)


def probe_mp4(payload: bytes) -> dict | None:
    """Track-level MP4 metadata from ``moov`` alone (no codec work):
    movie duration plus per-track handler/codec/dims/sample counts."""
    if not is_mp4(payload):
        return None
    buf = payload
    m0, m1 = find_box(buf, (b"moov",))
    tracks = []
    for btype, t0, t1 in iter_boxes(buf, m0, m1):
        if btype != b"trak":
            continue
        info = _probe_trak(buf, t0, t1)
        if info is not None:
            tracks.append(info)
    return {
        "duration_ms": _mvhd_duration_ms(buf, m0, m1),
        "n_tracks": len(tracks),
        "tracks": tracks,
    }


def _probe_trak(buf: bytes, t0: int, t1: int) -> dict | None:
    tkhd = find_box(buf, (b"tkhd",), t0, t1)
    track_id = width = height = None
    if tkhd is not None:
        version, _, b = _full(buf, tkhd[0])
        if version == 1:
            track_id = struct.unpack_from(">I", buf, b + 16)[0]
            dims_off = b + 84
        else:
            track_id = struct.unpack_from(">I", buf, b + 8)[0]
            dims_off = b + 72
        w_fixed, h_fixed = struct.unpack_from(">II", buf, dims_off)
        width, height = w_fixed >> 16, h_fixed >> 16
    mdia = find_box(buf, (b"mdia",), t0, t1)
    if mdia is None:
        return None
    d0, d1 = mdia
    handler = codec = None
    hdlr = find_box(buf, (b"hdlr",), d0, d1)
    if hdlr is not None:
        _, _, b = _full(buf, hdlr[0])
        handler = buf[b + 4 : b + 8].decode("ascii", "replace")
    timescale = None
    mdhd = find_box(buf, (b"mdhd",), d0, d1)
    if mdhd is not None:
        version, _, b = _full(buf, mdhd[0])
        timescale = struct.unpack_from(
            ">I", buf, b + (16 if version == 1 else 8)
        )[0]
    stbl = find_box(buf, (b"minf", b"stbl"), d0, d1)
    n_samples = dur_ticks = 0
    n_key = None
    if stbl is not None:
        s0, s1 = stbl
        stsd = find_box(buf, (b"stsd",), s0, s1)
        if stsd is not None:
            _, _, b = _full(buf, stsd[0])
            for entry_type, _, _ in iter_boxes(buf, b + 4, stsd[1]):
                codec = entry_type.decode("ascii", "replace")
                break
        stts = find_box(buf, (b"stts",), s0, s1)
        if stts is not None:
            _, _, b = _full(buf, stts[0])
            (count,) = struct.unpack_from(">I", buf, b)
            for i in range(count):
                n, delta = struct.unpack_from(">II", buf, b + 4 + 8 * i)
                n_samples += n
                dur_ticks += n * delta
        stss = find_box(buf, (b"stss",), s0, s1)
        if stss is not None:
            _, _, b = _full(buf, stss[0])
            n_key = struct.unpack_from(">I", buf, b)[0]
        elif n_samples:
            n_key = n_samples  # no stss => every sample is a sync sample
    return {
        "track_id": track_id,
        "handler": handler,
        "codec": codec,
        "width": width or None,
        "height": height or None,
        "timescale": timescale,
        "n_samples": n_samples,
        "n_keyframes": n_key,
        "duration_ms": (
            int(dur_ticks * 1000 // timescale) if timescale else None
        ),
    }


def mp4_sample_index(
    payload: bytes, track_id: int | None = None
) -> list[tuple[int, int, bool, int]]:
    """Flatten the sample tables of one track into
    ``[(byte_offset, byte_size, is_keyframe, pts_ms), ...]``.

    Defaults to the first video track (handler ``vide`` or a known
    video codec in ``stsd``).  This is the container's own frame map —
    ``payload[off:off+size]`` is the codec bitstream for that frame.
    Raises ``ValueError`` when the track or its mandatory tables are
    missing (fragmented MP4 with empty ``stbl`` included: ``moof``
    parsing is out of scope for the prober).
    """
    if not has_movie_box(payload):
        raise ValueError("no movie box in payload")
    buf = payload
    m0, m1 = find_box(buf, (b"moov",))
    chosen = None
    for btype, t0, t1 in iter_boxes(buf, m0, m1):
        if btype != b"trak":
            continue
        info = _probe_trak(buf, t0, t1)
        if info is None:
            continue
        if track_id is not None:
            if info["track_id"] == track_id:
                chosen = (t0, t1, info)
                break
        elif info["handler"] == "vide" or (
            info["codec"] or ""
        ).encode() in _VIDEO_CODECS:
            chosen = (t0, t1, info)
            break
    if chosen is None:
        raise ValueError("no matching track")
    t0, t1, info = chosen
    stbl = find_box(buf, (b"mdia", b"minf", b"stbl"), t0, t1)
    if stbl is None:
        raise ValueError("track has no sample table")
    s0, s1 = stbl

    def full_body(name: bytes) -> int | None:
        span = find_box(buf, (name,), s0, s1)
        if span is None:
            return None
        return _full(buf, span[0])[2]

    # sizes
    b = full_body(b"stsz")
    if b is None:
        raise ValueError("missing stsz")
    uniform, count = struct.unpack_from(">II", buf, b)
    if uniform:
        # the count is trusted only as far as the payload can hold the
        # samples it claims: a corrupted count must not build a list of
        # billions of entries
        if uniform * count > len(buf):
            raise ValueError("stsz claims more sample bytes than the payload")
        sizes = [uniform] * count
    else:
        sizes = list(struct.unpack_from(f">{count}I", buf, b + 8))
    # chunk offsets
    b = full_body(b"stco")
    if b is not None:
        (n,) = struct.unpack_from(">I", buf, b)
        chunk_offsets = list(struct.unpack_from(f">{n}I", buf, b + 4))
    else:
        b = full_body(b"co64")
        if b is None:
            raise ValueError("missing stco/co64")
        (n,) = struct.unpack_from(">I", buf, b)
        chunk_offsets = list(struct.unpack_from(f">{n}Q", buf, b + 4))
    # sample-to-chunk
    b = full_body(b"stsc")
    if b is None:
        raise ValueError("missing stsc")
    (n,) = struct.unpack_from(">I", buf, b)
    stsc = [struct.unpack_from(">III", buf, b + 4 + 12 * i) for i in range(n)]
    # sync table
    b = full_body(b"stss")
    if b is None:
        keyframes = None  # all sync
    else:
        (n,) = struct.unpack_from(">I", buf, b)
        keyframes = set(struct.unpack_from(f">{n}I", buf, b + 4))
    # timing: runs expand only up to the stsz sample count (deltas past
    # it are never read), so a corrupted run length stays bounded
    b = full_body(b"stts")
    deltas: list[int] = []
    if b is not None:
        (n,) = struct.unpack_from(">I", buf, b)
        for i in range(n):
            if len(deltas) >= len(sizes):
                break
            cnt, delta = struct.unpack_from(">II", buf, b + 4 + 8 * i)
            deltas.extend([delta] * min(cnt, len(sizes) - len(deltas)))
    timescale = info["timescale"] or 1000

    samples: list[tuple[int, int, bool, int]] = []
    sample_no = 0  # 0-based; stss/stsc are 1-based
    ticks = 0
    for ci, chunk_off in enumerate(chunk_offsets, start=1):
        per_chunk = 1
        for first_chunk, spc, _desc in stsc:
            if first_chunk <= ci:
                per_chunk = spc
            else:
                break
        off = chunk_off
        for _ in range(per_chunk):
            if sample_no >= len(sizes):
                break
            size = sizes[sample_no]
            is_key = keyframes is None or (sample_no + 1) in keyframes
            pts_ms = int(ticks * 1000 // timescale)
            samples.append((off, size, is_key, pts_ms))
            if sample_no < len(deltas):
                ticks += deltas[sample_no]
            off += size
            sample_no += 1
    return samples


# ---------------------------------------------------------------------
# Fixture encoders (test/oracle helpers, like multimodal.encode_bmp):
# build minimal spec-valid containers so the parser can be certified
# round-trip against payloads whose ground truth is closed-form.
# ---------------------------------------------------------------------


def box(btype: bytes, payload: bytes, largesize: bool = False) -> bytes:
    """Serialize one box. ``largesize`` forces the 64-bit size form."""
    if largesize:
        return struct.pack(">I4sQ", 1, btype, 16 + len(payload)) + payload
    return struct.pack(">I4s", 8 + len(payload), btype) + payload


def fullbox(
    btype: bytes, version: int, flags: int, payload: bytes
) -> bytes:
    return box(
        btype, bytes([version]) + flags.to_bytes(3, "big") + payload
    )


def encode_avif(
    width: int,
    height: int,
    depth: int = 8,
    alpha: bool = False,
    animated: bool = False,
    infe_version: int = 2,
    ipma_version: int = 0,
    ipma_wide: bool = False,
    item_data: bytes = b"\x00" * 16,
) -> bytes:
    """Minimal MIAF-shaped AVIF: ftyp + meta(pitm/iinf/iprp/[iref]) +
    mdat. The av1C config encodes ``depth`` per AV1-ISOBMFF §2.3."""
    brand = b"avis" if animated else b"avif"
    ftyp = box(b"ftyp", brand + struct.pack(">I", 0) + brand + b"mif1")
    if depth == 12:
        av1c = bytes([0x81, 0x40, 0x60, 0x00])  # profile 2, hbd, twelve
    elif depth == 10:
        av1c = bytes([0x81, 0x00, 0x40, 0x00])  # hbd
    else:
        av1c = bytes([0x81, 0x00, 0x00, 0x00])
    props = [
        fullbox(b"ispe", 0, 0, struct.pack(">II", width, height)),
        box(b"av1C", av1c),
        fullbox(b"pixi", 0, 0, bytes([3, depth, depth, depth])),
    ]
    assoc = {1: [1, 2, 3]}
    items = {1: b"av01"}
    refs = b""
    if alpha:
        props.append(
            fullbox(
                b"auxC", 0, 0, _ALPHA_URNS[0] + b"\x00"
            )
        )
        items[2] = b"av01"
        assoc[2] = [1, 2, 4]
        refs = fullbox(
            b"iref", 0, 0, box(b"auxl", struct.pack(">HH H", 2, 1, 1))
        )

    def infe(item_id: int, itype: bytes) -> bytes:
        if infe_version == 2:
            body = struct.pack(">HH", item_id, 0) + itype + b"\x00"
        else:
            body = struct.pack(">IH", item_id, 0) + itype + b"\x00"
        return fullbox(b"infe", infe_version, 0, body)

    iinf = fullbox(
        b"iinf",
        0,
        0,
        struct.pack(">H", len(items))
        + b"".join(infe(i, t) for i, t in sorted(items.items())),
    )
    ipco = box(b"ipco", b"".join(props))
    entries = b""
    for item_id, prop_ids in sorted(assoc.items()):
        ent = (
            struct.pack(">H", item_id)
            if ipma_version == 0
            else struct.pack(">I", item_id)
        )
        ent += bytes([len(prop_ids)])
        for p in prop_ids:
            ent += struct.pack(">H", p) if ipma_wide else bytes([p])
        entries += ent
    ipma = fullbox(
        b"ipma",
        ipma_version,
        1 if ipma_wide else 0,
        struct.pack(">I", len(assoc)) + entries,
    )
    pitm = fullbox(b"pitm", 0, 0, struct.pack(">H", 1))
    hdlr = fullbox(
        b"hdlr", 0, 0, b"\x00" * 4 + b"pict" + b"\x00" * 12 + b"\x00"
    )
    meta = fullbox(
        b"meta",
        0,
        0,
        hdlr + pitm + iinf + box(b"iprp", ipco + ipma) + refs,
    )
    return ftyp + meta + box(b"mdat", item_data)


def encode_mp4(
    samples: list[bytes],
    sample_deltas: list[int],
    keyframes: list[int] | None,
    timescale: int = 1000,
    width: int = 0,
    height: int = 0,
    codec: bytes = b"av01",
    samples_per_chunk: int = 2,
    use_co64: bool = False,
    v1_headers: bool = False,
    track_id: int = 1,
    major_brand: bytes = b"isom",
) -> bytes:
    """Minimal progressive MP4: ftyp + mdat + moov, one video track.
    ``keyframes`` is 1-based sample numbers (None → no stss box, every
    sample sync). Chunk offsets are exact, so
    :func:`mp4_sample_index` round-trips the real byte ranges."""
    assert len(samples) == len(sample_deltas)
    compat = b"mp41" if major_brand == b"isom" else b"msf1"
    ftyp = box(
        b"ftyp", major_brand + struct.pack(">I", 0) + major_brand + compat
    )
    mdat_payload = b"".join(samples)
    mdat = box(b"mdat", mdat_payload)
    data_base = len(ftyp) + 8  # mdat payload offset in the file

    # chunk layout: fixed samples_per_chunk (last chunk may be short)
    chunk_offsets = []
    off = data_base
    for i, s in enumerate(samples):
        if i % samples_per_chunk == 0:
            chunk_offsets.append(off)
        off += len(s)

    # stts: run-length encode the deltas
    runs: list[tuple[int, int]] = []
    for d in sample_deltas:
        if runs and runs[-1][1] == d:
            runs[-1] = (runs[-1][0] + 1, d)
        else:
            runs.append((1, d))
    stts = fullbox(
        b"stts",
        0,
        0,
        struct.pack(">I", len(runs))
        + b"".join(struct.pack(">II", n, d) for n, d in runs),
    )
    entry = box(codec, b"\x00" * 8)  # opaque sample entry
    stsd = fullbox(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    sizes = [len(s) for s in samples]
    uniform = sizes and all(s == sizes[0] for s in sizes)
    stsz = fullbox(
        b"stsz",
        0,
        0,
        (
            struct.pack(">II", sizes[0], len(sizes))
            if uniform
            else struct.pack(">II", 0, len(sizes))
            + b"".join(struct.pack(">I", s) for s in sizes)
        ),
    )
    stsc = fullbox(
        b"stsc", 0, 0, struct.pack(">I", 1) + struct.pack(
            ">III", 1, samples_per_chunk, 1
        )
    )
    if use_co64:
        stco = fullbox(
            b"co64",
            0,
            0,
            struct.pack(">I", len(chunk_offsets))
            + b"".join(struct.pack(">Q", o) for o in chunk_offsets),
        )
    else:
        stco = fullbox(
            b"stco",
            0,
            0,
            struct.pack(">I", len(chunk_offsets))
            + b"".join(struct.pack(">I", o) for o in chunk_offsets),
        )
    stbl_children = stsd + stts + stsz + stsc + stco
    if keyframes is not None:
        stbl_children += fullbox(
            b"stss",
            0,
            0,
            struct.pack(">I", len(keyframes))
            + b"".join(struct.pack(">I", k) for k in keyframes),
        )
    stbl = box(b"stbl", stbl_children)
    hdlr = fullbox(
        b"hdlr", 0, 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00"
    )
    dur = sum(sample_deltas)
    if v1_headers:
        mdhd = fullbox(
            b"mdhd",
            1,
            0,
            struct.pack(">QQIQ", 0, 0, timescale, dur) + b"\x55\xc4\x00\x00",
        )
        tkhd = fullbox(
            b"tkhd",
            1,
            7,
            struct.pack(">QQIIQ", 0, 0, track_id, 0, dur)
            + b"\x00" * 52
            + struct.pack(">II", width << 16, height << 16),
        )
        mvhd = fullbox(
            b"mvhd",
            1,
            0,
            struct.pack(">QQIQ", 0, 0, timescale, dur)
            + b"\x00" * 80,
        )
    else:
        mdhd = fullbox(
            b"mdhd",
            0,
            0,
            struct.pack(">IIII", 0, 0, timescale, dur) + b"\x55\xc4\x00\x00",
        )
        tkhd = fullbox(
            b"tkhd",
            0,
            7,
            struct.pack(">IIIII", 0, 0, track_id, 0, dur)
            + b"\x00" * 52
            + struct.pack(">II", width << 16, height << 16),
        )
        mvhd = fullbox(
            b"mvhd",
            0,
            0,
            struct.pack(">IIII", 0, 0, timescale, dur) + b"\x00" * 80,
        )
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
