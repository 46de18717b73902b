"""Hypothesis property tests for the round-10 codec layers.

Each compression/composition primitive must round-trip arbitrary
inputs — the fuzzer explores the run/literal boundaries, table-growth
edges, and rect geometries the hand-written cases fix only pointwise.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

_SETTINGS = {"max_examples": 60, "deadline": None}


@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(**_SETTINGS)
def test_vp8l_rgba_roundtrip(w, h, seed):
    from neo4j_to_clickhouse_spark.operators.vp8l import (
        decode_webp_rgba,
        encode_webp,
    )

    rng = np.random.default_rng(seed)
    rgba = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
    assert np.array_equal(decode_webp_rgba(encode_webp(rgba)), rgba)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),   # frame w
            st.integers(min_value=1, max_value=8),   # frame h
            st.integers(min_value=0, max_value=4),   # left
            st.integers(min_value=0, max_value=4),   # top
            st.integers(min_value=0, max_value=3),   # disposal (3 used as 0..3)
            st.integers(min_value=0, max_value=2**32 - 1),
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=40, deadline=None)
def test_gif_animation_frames_decode_consistently(specs):
    """Arbitrary frame geometry/disposal animations decode without
    error, every canvas matches the logical screen, and a re-decode is
    deterministic."""
    from neo4j_to_clickhouse_spark.operators.gif import (
        decode_gif_frames,
        encode_gif_animation,
    )

    frames = []
    for w, h, left, top, disposal, seed in specs:
        rng = np.random.default_rng(seed)
        frames.append(
            {
                "pixels": (
                    rng.integers(0, 4, (h, w, 1), dtype=np.uint8) * 60
                ).repeat(3, axis=2),
                "left": left,
                "top": top,
                "disposal": disposal,
                "delay_cs": 5,
            }
        )
    screen = (
        max(f["left"] + f["pixels"].shape[1] for f in frames),
        max(f["top"] + f["pixels"].shape[0] for f in frames),
    )
    data = encode_gif_animation(frames, screen=screen)
    delays, canvases = decode_gif_frames(data)
    assert len(canvases) == len(frames)
    assert all(c.shape == (screen[1], screen[0], 3) for c in canvases)
    delays2, canvases2 = decode_gif_frames(data)
    assert all(np.array_equal(a, b) for a, b in zip(canvases, canvases2))
    # the frame rect's own pixels always land when drawn opaque
    for f, c in zip(frames[:1], canvases[:1]):
        h, w = f["pixels"].shape[:2]
        assert np.array_equal(
            c[f["top"] : f["top"] + h, f["left"] : f["left"] + w],
            f["pixels"],
        )


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # x (evened below)
            st.integers(min_value=0, max_value=3),  # y
            st.booleans(),                          # blend
            st.booleans(),                          # dispose
            st.integers(min_value=0, max_value=2**32 - 1),
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=30, deadline=None)
def test_webp_animation_decodes_consistently(specs):
    from neo4j_to_clickhouse_spark.operators.vp8l import (
        decode_webp_frames,
        encode_webp_animation,
    )

    frames = []
    for x, y, blend, dispose, seed in specs:
        rng = np.random.default_rng(seed)
        frames.append(
            {
                "pixels": rng.integers(0, 256, (4, 6, 4), dtype=np.uint8),
                "x": x * 2,
                "y": y * 2,
                "blend": blend,
                "dispose": dispose,
                "duration_ms": 50,
            }
        )
    canvas = (
        max(f["x"] + 6 for f in frames),
        max(f["y"] + 4 for f in frames),
    )
    data = encode_webp_animation(frames, canvas=canvas)
    durations, canvases = decode_webp_frames(data)
    assert durations == [50] * len(frames)
    assert all(c.shape == (canvas[1], canvas[0], 4) for c in canvases)
    # a no-blend frame's rect equals its source pixels exactly
    for f, c in zip(frames, canvases):
        if not f["blend"]:
            assert np.array_equal(
                c[f["y"] : f["y"] + 4, f["x"] : f["x"] + 6], f["pixels"]
            )


@given(
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=25, deadline=None)
def test_apng_roundtrip_full_frames(n_extra, seed):
    """Full-canvas SOURCE frames: every composed canvas equals its
    source pixels exactly (including the IDAT-backed first frame)."""
    from neo4j_to_clickhouse_spark.operators.png import (
        decode_apng_frames,
        encode_apng,
    )

    rng = np.random.default_rng(seed)
    pixels = [
        rng.integers(0, 256, (5, 7, 4), dtype=np.uint8)
        for _ in range(1 + n_extra)
    ]
    data = encode_apng(
        [{"pixels": p, "blend": 0, "delay_ms": 30} for p in pixels],
        canvas=(7, 5),
    )
    _, canvases = decode_apng_frames(data)
    assert len(canvases) == len(pixels)
    for c, p in zip(canvases, pixels):
        assert np.array_equal(c, p)
