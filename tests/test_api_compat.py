"""Drop-in API compatibility: rp_extract_spark.rp_extract must accept
the reference's call patterns and agree numerically."""

import numpy as np
import pytest

from rp_extract_spark import available_feature_types, rp_extract
from tests.reference_oracle import ref
from tests.test_audio_parity import _signal


def test_docstring_call_pattern():
    # the reference's own doctest call shape (rp_extract.py:425-434)
    wav = _signal(60.0, 11025)
    feat = rp_extract(wav, 11025, extract_rp=True, extract_ssd=True,
                      extract_rh=True)
    assert sorted(feat.keys()) == ["rh", "rp", "ssd"]
    assert feat["ssd"].shape[0] == 168
    assert feat["rh"].shape[0] == 60
    assert feat["rp"].shape[0] == 1440


@pytest.mark.parametrize("kw", [
    dict(extract_rp=True),
    dict(extract_ssd=True, extract_tssd=True),
    dict(extract_rh=True, extract_trh=True, extract_mvd=True),
])
def test_flag_subsets_match_reference(kw):
    wav = _signal(60.0, 22050, seed=4)
    want = ref.rp_extract(wav, 22050, verbose=False, **kw)
    got = rp_extract(wav, 22050, **kw)
    assert sorted(got.keys()) == sorted(want.keys())
    for k in want:
        assert np.allclose(got[k], want[k], rtol=1e-8, atol=1e-10), k


def test_return_segment_features_matches_reference():
    wav = _signal(60.0, 11025, seed=6)
    want = ref.rp_extract(wav, 11025, extract_rp=True, extract_ssd=True,
                          return_segment_features=True, verbose=False)
    got = rp_extract(wav, 11025, extract_rp=True, extract_ssd=True,
                     return_segment_features=True)
    assert np.array_equal(got["segpos"], want["segpos"])
    assert np.allclose(got["timepos"], want["timepos"])
    assert np.allclose(got["rp"], want["rp"], rtol=1e-8, atol=1e-10)
    assert np.allclose(got["ssd"], want["ssd"], rtol=1e-8, atol=1e-10)


def test_rh2_actually_returned():
    # our documented improvement: the reference computes rh2 but drops it
    wav = _signal(13.0, 11025)
    got = rp_extract(wav, 11025, extract_rh2=True)
    assert got["rh2"].shape == (60,)
    assert (got["rh2"] >= 0).all()


def test_available_feature_types():
    assert set(ref.available_feature_types()) <= set(available_feature_types())
