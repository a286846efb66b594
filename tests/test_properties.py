"""Hypothesis property tests for the pure (non-Spark) layers."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from rp_extract_spark.codecs import decode_image, decode_png, encode_lossy, encode_png, psnr
from rp_extract_spark.functions.kernel import (
    extract_segment_features,
    extract_segment_features_batch,
)
from rp_extract_spark.functions.stats import stat_features

from .reference_oracle import ref


gray_images = arrays(
    np.uint8,
    st.tuples(st.integers(2, 40), st.integers(2, 40)),
    elements=st.integers(0, 255),
)
rgb_images = arrays(
    np.uint8,
    st.tuples(st.integers(2, 20), st.integers(2, 20), st.just(3)),
    elements=st.integers(0, 255),
)


@settings(max_examples=60, deadline=None)
@given(px=gray_images)
def test_png_roundtrip_property(px):
    assert np.array_equal(decode_png(encode_png(px)), px)


@settings(max_examples=30, deadline=None)
@given(px=rgb_images)
def test_png_roundtrip_rgb_property(px):
    assert np.array_equal(decode_png(encode_png(px)), px)


@settings(max_examples=40, deadline=None)
@given(px=gray_images)
def test_lossy_psnr_property(px):
    dec = decode_image(encode_lossy(px), "jpeg")
    assert dec.shape == px.shape
    assert psnr(px, dec) >= 40.0


@settings(max_examples=40, deadline=None)
@given(
    m=arrays(
        np.float64,
        st.tuples(st.integers(1, 12), st.integers(2, 40)),
        elements=st.floats(-1e3, 1e3, allow_nan=False),
    )
)
def test_stat_features_matches_reference_property(m):
    assert np.allclose(
        stat_features(m), ref.calc_statistical_features(m), equal_nan=True
    )


@settings(max_examples=15, deadline=None)
@given(
    seeds=st.lists(st.integers(0, 10_000), min_size=1, max_size=6),
)
def test_batch_kernel_equals_single_property(seeds):
    rng_shapes = [(24 + (s % 40), 61 + (s % 70)) for s in seeds]
    pxs = [
        np.random.default_rng(s).integers(0, 256, size=shape, dtype=np.uint8)
        for s, shape in zip(seeds, rng_shapes)
    ]
    batch = extract_segment_features_batch(pxs)
    for px, got in zip(pxs, batch):
        want = extract_segment_features(px)
        for k in ("rp", "ssd", "rh", "mvd"):
            assert np.allclose(got[k], want[k]), k


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(4, 4096),
    h=st.integers(4, 4096),
    d=st.tuples(*[st.integers(0, 15)] * 4),
)
def test_cutmix_geometry_always_in_bounds(w, h, d):
    from rp_extract_spark.operators.images import cutmix_geometry

    x0, y0, cw, ch = cutmix_geometry(w, h, d)
    assert 0 <= x0 and 0 <= y0
    assert cw >= 1 and ch >= 1
    assert x0 + cw <= w and y0 + ch <= h


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(4, 4096),
    h=st.integers(4, 4096),
    d0=st.integers(0, 15),
    d1=st.integers(0, 15),
)
def test_mosaic_geometry_center_in_middle_band(w, h, d0, d1):
    from rp_extract_spark.operators.images import mosaic_geometry

    cx, cy = mosaic_geometry(w, h, d0, d1)
    assert w // 4 <= cx <= w // 4 + w // 2
    assert h // 4 <= cy <= h // 4 + h // 2
    # every quadrant is a valid (possibly empty) slice of the canvas
    assert 0 <= cx <= w and 0 <= cy <= h


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(8, 4096),
    h=st.integers(8, 4096),
    out=st.integers(1, 512),
    d=st.tuples(*[st.integers(0, 15)] * 4),
)
def test_rrc_geometry_always_in_bounds(w, h, out, d):
    from rp_extract_spark.operators.images import rrc_geometry

    x0, y0, cw, ch = rrc_geometry(w, h, d)
    assert 1 <= cw <= w and 1 <= ch <= h
    assert 0 <= x0 and x0 + cw <= w
    assert 0 <= y0 and y0 + ch <= h
    # the anchor-resize source map stays inside the crop for every
    # destination pixel: src = a0 + (dst * crop) // out
    assert all(x0 <= x0 + (dst * cw) // out < x0 + cw
               for dst in (0, out // 2, out - 1))
    assert all(y0 <= y0 + (dst * ch) // out < y0 + ch
               for dst in (0, out // 2, out - 1))
