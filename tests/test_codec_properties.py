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
