"""The descriptor kernel against checked-in golden vectors
(``tests/golden/kernel.npz``, written by
``tests/golden/make_kernel_golden.py``): the rtol-1e-8 contract,
enforced without the reference implementation."""

import os

import numpy as np
import pytest

from rp_extract_spark.functions.kernel import (
    extract_segment_features,
    extract_segment_features_batch,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "kernel.npz")
KEYS = ("rp", "ssd", "rh", "rh2", "mvd")


@pytest.fixture(scope="module")
def golden():
    with np.load(GOLDEN) as z:
        data = dict(z)
    n = sum(1 for k in data if k.startswith("px"))
    assert n == 12 and str(data["commit"])
    pixels = [data[f"px{i}"] for i in range(n)]
    want = [{k: data[f"{k}{i}"] for k in KEYS} for i in range(n)]
    return pixels, want


def _check(got, want, i):
    assert sorted(got) == sorted(KEYS), i
    for k in KEYS:
        np.testing.assert_allclose(got[k], want[k], rtol=1e-8, atol=1e-10,
                                   err_msg=f"image {i} {k}")


def test_single_image_kernel_matches_golden(golden):
    pixels, want = golden
    assert len({px.shape for px in pixels}) == 12
    for i, px in enumerate(pixels):
        _check(extract_segment_features(px), want[i], i)


def test_batch_kernel_matches_golden(golden):
    pixels, want = golden
    # mixed shapes, repeated: the batch path groups by shape and must
    # scatter each result back to its input position
    order = list(range(12)) + [5, 0, 11]
    got = extract_segment_features_batch([pixels[i] for i in order])
    for feats, i in zip(got, order):
        _check(feats, want[i], i)
