"""Kernel parity vs the reference implementation run as a golden oracle.

Each transform stage and the full per-segment pipeline must
numpy.allclose the reference's own functions executed on the same
matrices (the executable analog of the reference's inline Matlab-parity
golden blocks, rp_extract.py:539-676)."""

import numpy as np
import pytest

from rp_extract_spark.functions import kernel
from rp_extract_spark.functions.stats import stat_features

from .reference_oracle import ref

rng = np.random.default_rng(7)


def _sone_matrix(n_bands=24, w=96):
    """A positive matrix in a realistic post-scaling value range."""
    return rng.random((n_bands, w)) * kernel.HEARING_THRESHOLD_FACTOR


def test_constants_match():
    assert np.allclose(kernel.LOUDN_BARK, ref.loudn_bark)
    assert np.allclose(kernel.SPREAD, ref.CONST_spread)
    assert np.allclose(kernel.BARK_LIMITS, np.asarray(ref.bark, dtype=float))
    assert np.allclose(kernel.PHON_LEVELS, np.asarray(ref.phon, dtype=float))


def test_nextpow2():
    for n in [1, 2, 3, 4, 5, 63, 64, 65, 96, 100, 256]:
        assert 2 ** kernel.nextpow2(n) >= n
        assert kernel.nextpow2(n) == ref.nextpow2(n)


def test_spectral_masking_matches():
    m = _sone_matrix()
    assert np.allclose(kernel._spreading_matrix(24) @ m, ref.do_spectral_masking(m.copy()))


def test_db_matches():
    m = _sone_matrix()
    assert np.allclose(kernel.transform_db(m), ref.transform2db(m.copy()))


def test_phon_matches():
    m = kernel.transform_db(kernel._spreading_matrix(24) @ _sone_matrix())
    assert np.allclose(kernel.transform_phon(m), ref.transform2phon(m.copy()))


def test_phon_matches_extremes():
    # exercise below-lowest-contour and above-100-phon extrapolation
    m = np.concatenate(
        [
            np.full((24, 4), -10.0),
            np.full((24, 4), 0.0),
            np.full((24, 4), 130.0),
            rng.uniform(-5, 130, (24, 20)),
        ],
        axis=1,
    )
    assert np.allclose(kernel.transform_phon(m), ref.transform2phon(m.copy()))


def test_sone_matches():
    m = rng.uniform(0, 120, (24, 50))
    assert np.allclose(kernel.transform_sone(m), ref.transform2sone(m.copy()))


def test_stat_features_matches():
    m = rng.random((24, 96)) * 30
    assert np.allclose(stat_features(m), ref.calc_statistical_features(m))


def test_stat_features_nan_to_zero():
    m = np.ones((3, 10))  # zero variance → skew/kurt NaN → 0
    got = stat_features(m)
    assert np.allclose(got, ref.calc_statistical_features(m))
    assert got[0, 2] == 0.0 and got[0, 3] == 0.0


def _reference_segment_pipeline(pixels, mod_ampl_limit=60):
    """Reference functions chained per its own segment loop
    (rp_extract.py:529-760), on the image-graft input convention."""
    gray = pixels.astype(np.float64)
    if gray.ndim == 3:
        gray = gray.mean(axis=2)
    h, w = gray.shape
    matrix = (gray / 255.0) * (0.0875 * 2**15)
    matrix = kernel.band_matrix(h, 24) @ matrix  # graft-defined band map
    matrix = ref.do_spectral_masking(matrix)
    matrix = ref.transform2db(matrix)
    matrix = ref.transform2phon(matrix)
    matrix = ref.transform2sone(matrix)
    ssd = ref.calc_statistical_features(matrix).flatten("F")
    fft_size = 2 ** ref.nextpow2(matrix.shape[1])
    rhythm = np.zeros((matrix.shape[0], fft_size), dtype=np.complex128)
    for b in range(matrix.shape[0]):
        rhythm[b, :] = np.fft.fft(matrix[b, :], fft_size)
    rhythm = rhythm / 256
    rp = np.abs(rhythm[:, 1 : mod_ampl_limit + 1])
    mvd = ref.calc_statistical_features(rp.transpose()).flatten("F")
    rh = np.sum(np.abs(rhythm[:, 1 : mod_ampl_limit + 1]), axis=0)
    mod_freq_res = 1 / (float(2**18) / 44100)
    mod_freq_axis = mod_freq_res * np.arange(1, mod_ampl_limit + 1)
    fluct_curve = 1 / (mod_freq_axis / 4 + 4 / mod_freq_axis)
    rp = rp * fluct_curve[None, :]
    rh2 = np.sum(rp, axis=0)  # extract_rh2, rp_extract.py:745-747
    return {"rp": rp.flatten("F"), "ssd": ssd, "rh": rh, "rh2": rh2, "mvd": mvd}


@pytest.mark.parametrize("shape", [(48, 64), (64, 96), (128, 256), (24, 61), (33, 70, 3)])
def test_full_segment_pipeline_matches(shape):
    px = rng.integers(0, 256, size=shape, dtype=np.uint8)
    want = _reference_segment_pipeline(px)
    got = kernel.extract_segment_features(px)
    for k in ("rp", "ssd", "rh", "rh2", "mvd"):
        assert np.allclose(got[k], want[k]), k
    assert got["rp"].shape == (24 * 60,)
    assert got["ssd"].shape == (24 * 7,)
    assert got["rh"].shape == (60,)
    assert got["mvd"].shape == (60 * 7,)


def test_cross_segment_aggregation_matches():
    segs = [
        kernel.extract_segment_features(
            rng.integers(0, 256, size=(48, 64), dtype=np.uint8)
        )
        for _ in range(5)
    ]
    rp = np.stack([s["rp"] for s in segs])
    ssd = np.stack([s["ssd"] for s in segs])
    rh = np.stack([s["rh"] for s in segs])
    mvd = np.stack([s["mvd"] for s in segs])
    agg = kernel.aggregate_segments(rp, ssd, rh, mvd)
    assert np.allclose(agg["rp"], np.median(rp, axis=0))
    assert np.allclose(agg["ssd"], np.mean(ssd, axis=0))
    assert np.allclose(agg["rh"], np.median(rh, axis=0))
    assert np.allclose(agg["mvd"], np.mean(mvd, axis=0))
    # temporal stats: 7-stat across time axis, reference convention
    assert np.allclose(
        agg["tssd"], ref.calc_statistical_features(ssd.T).flatten("F")
    )
    assert np.allclose(agg["trh"], ref.calc_statistical_features(rh.T).flatten("F"))
    assert agg["tssd"].shape == (168 * 7,)
    assert agg["trh"].shape == (60 * 7,)
