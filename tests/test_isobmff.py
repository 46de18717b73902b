"""ISOBMFF (ISO/IEC 14496-12) container parser tests — AVIF + MP4.

House codec-test pattern (cf. ``test_vp8l.py`` / ``test_text_multimodal.py``):
hand-built box trees with exact closed-form ground truth, version/flags
variants (v0/v1 FullBoxes, ipma essential-wide entries, co64, uniform
stsz, 64-bit ``largesize``), a byte-by-byte truncation sweep that must
never escape the documented error contract, malformed-input rejection,
corrupted (not truncated) sample counts that must stay bounded by the
payload, and the Spark wiring: ``probe_assets`` fills AVIF dims and
MP4 / animated-AVIF durations.
"""

from __future__ import annotations

import struct

import pytest

from neo4j_to_clickhouse_spark.operators import multimodal as M
from neo4j_to_clickhouse_spark.operators.isobmff import (
    box,
    encode_avif,
    encode_mp4,
    find_box,
    fullbox,
    is_avif,
    is_heif_still,
    is_isobmff,
    is_mp4,
    iter_boxes,
    movie_duration_ms,
    mp4_sample_index,
    probe_avif,
    probe_mp4,
)


def _mp4_fixture(**kw):
    """9 samples of distinct sizes/bytes, keyframes every 3rd sample."""
    samples = [bytes([i + 1]) * (10 + 7 * i) for i in range(9)]
    deltas = [100, 100, 100, 200, 200, 200, 150, 150, 150]
    kw.setdefault("keyframes", [1, 4, 7])
    kw.setdefault("width", 320)
    kw.setdefault("height", 180)
    return samples, deltas, encode_mp4(samples, deltas, **kw)


# --- box grammar --------------------------------------------------------------


def test_iter_boxes_largesize_and_size_zero():
    inner = box(b"aaaa", b"x" * 5)
    big = box(b"bbbb", b"y" * 9, largesize=True)
    # size == 0: "to end of enclosing box"
    tail = struct.pack(">I4s", 0, b"cccc") + b"z" * 3
    buf = inner + big + tail
    got = list(iter_boxes(buf))
    assert [t for t, _, _ in got] == [b"aaaa", b"bbbb", b"cccc"]
    t, p0, p1 = got[1]
    assert buf[p0:p1] == b"y" * 9  # 16-byte header skipped
    t, p0, p1 = got[2]
    assert buf[p0:p1] == b"z" * 3  # runs to end of buffer


def test_iter_boxes_corrupt_sizes_terminate():
    # size smaller than its own header
    assert list(iter_boxes(struct.pack(">I4s", 4, b"free"))) == []
    # size overrunning the buffer
    assert list(iter_boxes(struct.pack(">I4s", 100, b"free") + b"x")) == []
    # truncated largesize
    assert list(iter_boxes(struct.pack(">I4s", 1, b"free"))) == []


def test_find_box_descends_and_skips_meta_fullbox_header():
    tree = box(
        b"moov", box(b"trak", box(b"mdia", box(b"hdlr", b"HH")))
    )
    span = find_box(tree, (b"moov", b"trak", b"mdia", b"hdlr"))
    assert span is not None and tree[span[0] : span[1]] == b"HH"
    # meta is a FullBox container: the 4-byte version/flags prefix is
    # skipped before walking children
    meta = fullbox(b"meta", 0, 0, box(b"pitm", b"PP"))
    span = find_box(meta, (b"meta", b"pitm"))
    assert span is not None and meta[span[0] : span[1]] == b"PP"


# --- AVIF probe ---------------------------------------------------------------


def test_avif_probe_basic():
    data = encode_avif(640, 360)
    assert is_isobmff(data) and is_avif(data) and not is_mp4(data)
    info = probe_avif(data)
    assert info == {
        "width": 640,
        "height": 360,
        "bit_depth": 8,
        "has_alpha": False,
        "codec": "av01",
        "animated": False,
    }


@pytest.mark.parametrize("depth", [8, 10, 12])
def test_avif_probe_bit_depths(depth):
    info = probe_avif(encode_avif(64, 48, depth=depth))
    assert info["bit_depth"] == depth


def test_avif_probe_alpha_and_animation():
    info = probe_avif(encode_avif(100, 50, alpha=True))
    assert info["has_alpha"] is True
    assert probe_avif(encode_avif(100, 50))["has_alpha"] is False
    assert probe_avif(encode_avif(100, 50, animated=True))["animated"]


@pytest.mark.parametrize(
    "infe_version,ipma_version,ipma_wide",
    [(2, 0, False), (2, 0, True), (2, 1, False), (3, 0, False), (3, 1, True)],
)
def test_avif_probe_fullbox_version_variants(
    infe_version, ipma_version, ipma_wide
):
    data = encode_avif(
        33,
        77,
        depth=10,
        alpha=True,
        infe_version=infe_version,
        ipma_version=ipma_version,
        ipma_wide=ipma_wide,
    )
    info = probe_avif(data)
    assert (info["width"], info["height"]) == (33, 77)
    assert info["bit_depth"] == 10
    assert info["has_alpha"] is True


def test_avif_rejects_non_avif():
    assert probe_avif(b"") is None
    assert probe_avif(b"\x00" * 40) is None
    assert not is_avif(encode_mp4([b"x" * 4], [100], None))
    # valid ftyp but no meta box
    data = box(b"ftyp", b"avif" + b"\x00" * 4 + b"avif" + b"mif1")
    assert probe_avif(data) is None


def test_avif_truncation_sweep():
    """Every prefix either probes to None or to internally consistent
    values — never an uncaught exception (the probe contract)."""
    data = encode_avif(640, 360, depth=10, alpha=True)
    for cut in range(len(data)):
        info = probe_avif(data[:cut])
        assert info is None or (
            info["width"] == 640 and info["height"] == 360
        )


# --- MP4 probe ----------------------------------------------------------------


@pytest.mark.parametrize("v1_headers", [False, True])
def test_mp4_probe_tracks(v1_headers):
    samples, deltas, data = _mp4_fixture(v1_headers=v1_headers)
    assert is_mp4(data) and not is_avif(data)
    info = probe_mp4(data)
    assert info["duration_ms"] == sum(deltas)  # timescale 1000
    assert info["n_tracks"] == 1
    trk = info["tracks"][0]
    assert trk["handler"] == "vide"
    assert trk["codec"] == "av01"
    assert (trk["width"], trk["height"]) == (320, 180)
    assert trk["n_samples"] == 9
    assert trk["n_keyframes"] == 3
    assert trk["duration_ms"] == sum(deltas)


def test_mp4_probe_no_stss_means_all_sync():
    _, _, data = _mp4_fixture(keyframes=None)
    assert probe_mp4(data)["tracks"][0]["n_keyframes"] == 9
    index = mp4_sample_index(data)
    assert all(k for _, _, k, _ in index)


# --- MP4 sample index ---------------------------------------------------------


@pytest.mark.parametrize("spc,use_co64", [(1, False), (2, False), (4, True)])
def test_mp4_sample_index_roundtrip(spc, use_co64):
    """The flattened index must map every sample back to its exact
    planted bytes across chunking layouts and stco/co64."""
    samples, deltas, data = _mp4_fixture(
        samples_per_chunk=spc, use_co64=use_co64
    )
    index = mp4_sample_index(data)
    assert len(index) == len(samples)
    pts = 0
    for i, (off, size, key, pts_ms) in enumerate(index):
        assert data[off : off + size] == samples[i]
        assert key == (i % 3 == 0)  # stss [1, 4, 7]
        assert pts_ms == pts
        pts += deltas[i]


def test_mp4_sample_index_uniform_stsz():
    samples = [bytes([i]) * 32 for i in range(5)]
    data = encode_mp4(samples, [40] * 5, keyframes=[1])
    index = mp4_sample_index(data)
    assert [s for _, s, _, _ in index] == [32] * 5
    for i, (off, size, _, _) in enumerate(index):
        assert data[off : off + size] == samples[i]


def test_mp4_sample_index_missing_tables_raise():
    with pytest.raises(ValueError):
        mp4_sample_index(b"not mp4 at all")
    # a moov with a video track but an empty stbl (fragmented-MP4 shape)
    stbl = box(b"stbl", b"")
    hdlr = fullbox(b"hdlr", 0, 0, b"\x00" * 4 + b"vide" + b"\x00" * 13)
    mdhd = fullbox(
        b"mdhd", 0, 0, struct.pack(">IIII", 0, 0, 1000, 0) + b"\x00" * 4
    )
    trak = box(b"trak", box(b"mdia", mdhd + hdlr + box(b"minf", stbl)))
    mvhd = fullbox(
        b"mvhd", 0, 0, struct.pack(">IIII", 0, 0, 1000, 0) + b"\x00" * 80
    )
    data = (
        box(b"ftyp", b"isom" + b"\x00" * 4 + b"isom" + b"mp41")
        + box(b"moov", mvhd + trak)
    )
    assert is_mp4(data)
    with pytest.raises(ValueError):
        mp4_sample_index(data)
    # audio-only movie: no matching track
    _, _, video = _mp4_fixture()
    with pytest.raises(ValueError):
        mp4_sample_index(video, track_id=99)


def test_mp4_truncation_sweep():
    """Prefixes must either fail the sniff, raise ValueError, or yield
    samples whose byte ranges still lie inside the prefix."""
    samples, _, data = _mp4_fixture()
    for cut in range(len(data)):
        prefix = data[:cut]
        if not is_mp4(prefix):
            continue
        try:
            index = mp4_sample_index(prefix)
        except ValueError:
            continue
        for off, size, _, _ in index:
            # offsets come from stco; sizes from stsz — the index may
            # point past a truncated mdat, but must never misalign
            # within available bytes
            if off + size <= cut:
                i = [s[0] for s in samples].index(prefix[off])
                assert prefix[off : off + size] == samples[i]


def _patched(data, box_type, offset, value):
    """``data`` with one u32 of box ``box_type`` set to ``value`` — a
    corrupted count, the payload length unchanged. ``offset`` counts
    from the box payload, so 4 is the first field after the FullBox
    version/flags."""
    out = bytearray(data)
    struct.pack_into(">I", out, data.index(box_type) + 4 + offset, value)
    return bytes(out)


def test_mp4_sample_index_rejects_uniform_count_beyond_payload():
    """A uniform stsz whose count x size exceeds the payload is
    malformed: ValueError, not a silently short index."""
    data = encode_mp4([b"\0" * 20] * 5, [40] * 5, keyframes=None)
    assert len(mp4_sample_index(data)) == 5
    with pytest.raises(ValueError):
        mp4_sample_index(_patched(data, b"stsz", 8, 5_000_000))


def test_mp4_sample_index_bounds_stts_run_by_sample_count():
    """A corrupted stts run length expands only up to the stsz sample
    count: the index is unchanged and memory stays small."""
    import tracemalloc

    data = encode_mp4([b"\0" * 20] * 5, [40] * 5, keyframes=None)
    expected = mp4_sample_index(data)
    # stts body: entry_count, then (sample_count, delta) runs
    bad = _patched(data, b"stts", 8, 5_000_000)
    tracemalloc.start()
    try:
        got = mp4_sample_index(bad)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert got == expected
    assert peak < 5_000_000


# --- Spark wiring (multimodal consumers) ---------------------------------------


def test_probe_assets_fills_avif_and_mp4_metadata(spark):
    avif = encode_avif(640, 360, depth=10, alpha=True)
    _, deltas, mp4 = _mp4_fixture()
    # animated AVIF: a HEIF brand over an AV1 track — a HEIF still to
    # the classifier, its duration from the movie header
    avis = encode_mp4(
        [b"\x01" * 12] * 3, [250] * 3, keyframes=[1, 2, 3],
        major_brand=b"avis",
    )
    assert is_heif_still(avis) and not is_mp4(avis)
    assert movie_duration_ms(avis) == 750
    df = spark.createDataFrame(
        [
            ("img-avif", bytearray(avif)),
            ("vid-mp4", bytearray(mp4)),
            ("anim-avif", bytearray(avis)),
        ],
        "asset_id string, payload binary",
    )
    assets = M.ingest_binary_assets(df, "asset_id", "payload", "image")
    rows = {r.asset_id: r for r in M.probe_assets(assets).collect()}
    assert (rows["img-avif"].width, rows["img-avif"].height) == (640, 360)
    assert rows["img-avif"].duration_ms is None
    assert rows["vid-mp4"].duration_ms == sum(deltas)
    assert (rows["vid-mp4"].width, rows["vid-mp4"].height) == (320, 180)
    assert rows["anim-avif"].duration_ms == 750
