"""TRUE-audio-path parity: our WAV→spectrogram→kernel pipeline vs the
reference's own rp_extract() entry point executed as oracle.

This is the strongest possible parity evidence: the reference's actual
user-facing function, on its actual input modality (normalized PCM),
compared descriptor-by-descriptor."""

import numpy as np
import pytest

from rp_extract_spark.functions.audio import (
    calc_spectrogram,
    extract_audio_features,
    extract_audio_segment_features,
)
from tests.reference_oracle import ref


def _signal(seconds: float, samplerate: int, seed: int = 0) -> np.ndarray:
    """Deterministic music-ish PCM in (-1,1): beats + harmonics + noise."""
    rng = np.random.default_rng(seed)
    t = np.arange(int(seconds * samplerate)) / samplerate
    x = (
        0.4 * np.sin(2 * np.pi * 220 * t)
        + 0.2 * np.sin(2 * np.pi * 440 * t + 0.5)
        + 0.2 * np.sign(np.sin(2 * np.pi * 2.0 * t))  # 120 BPM pulse
        + 0.1 * rng.standard_normal(t.size)
    )
    return (x / np.max(np.abs(x)) * 0.95).astype(np.float64)


FAMS = ["rp", "ssd", "rh", "mvd", "tssd", "trh"]


def _ref_features(wavedata, samplerate, **kw):
    return ref.rp_extract(
        wavedata, samplerate,
        extract_rp=True, extract_ssd=True, extract_tssd=True,
        extract_rh=True, extract_trh=True, extract_mvd=True,
        verbose=False, **kw,
    )


@pytest.mark.parametrize("samplerate,seconds", [(11025, 60.0), (44100, 60.0)])
def test_full_clip_parity(samplerate, seconds):
    wav = _signal(seconds, samplerate)
    want = _ref_features(wav, samplerate)
    got = extract_audio_features(wav, samplerate)
    for fam in FAMS:
        assert got[fam].shape == want[fam].shape, fam
        assert np.allclose(got[fam], want[fam], rtol=1e-8, atol=1e-10), fam


def test_short_input_rewrite_parity():
    # duration < 45 s: the reference forces step=1/skip=0 — we must too
    wav = _signal(13.0, 22050)
    want = _ref_features(wav, 22050)
    got = extract_audio_features(wav, 22050)
    for fam in FAMS:
        assert np.allclose(got[fam], want[fam], rtol=1e-8, atol=1e-10), fam


def test_segment_level_parity():
    wav = _signal(60.0, 11025, seed=3)
    want = ref.rp_extract(
        wav, 11025, extract_rp=True, extract_rh=True, extract_ssd=True,
        extract_mvd=True, return_segment_features=True, verbose=False,
    )
    from rp_extract_spark.functions.segmentation import segment_plan

    plan = segment_plan(wav.shape[0], 11025)
    assert np.array_equal(plan["positions"], want["segpos"])
    for i, p in enumerate(plan["positions"]):
        seg = extract_audio_segment_features(wav[p[0] - 1 : p[1]], 11025)
        assert np.allclose(seg["rp"], want["rp"][i], rtol=1e-8, atol=1e-10)
        assert np.allclose(seg["rh"], want["rh"][i], rtol=1e-8, atol=1e-10)
        assert np.allclose(seg["ssd"], want["ssd"][i], rtol=1e-8, atol=1e-10)
        assert np.allclose(seg["mvd"], want["mvd"][i], rtol=1e-8, atol=1e-10)


def test_spectrogram_matches_reference():
    wav = _signal(6.0, 11025, seed=5)[: 2**16] * (0.0875 * 2**15)
    want = ref.calc_spectrogram(wav, 256)
    got = calc_spectrogram(wav, 256)
    assert got.shape == want.shape == (256, 511)
    assert np.allclose(got, np.abs(want), rtol=1e-9, atol=1e-12)


def test_unsupported_samplerate_raises():
    with pytest.raises(ValueError):
        extract_audio_features(_signal(10.0, 11025), 16000)


def test_spark_audio_extract_end_to_end(spark):
    """WAV clips through the distributed operator match the reference
    entry point per clip."""
    from rp_extract_spark.codecs.wav import encode_wav
    from rp_extract_spark.operators.multimodal import extract_features_audio

    wav_a = _signal(13.0, 11025, seed=1)
    wav_b = _signal(13.0, 11025, seed=2)
    rows = [
        ("a", bytearray(encode_wav(wav_a, 11025, samplewidth=4))),
        ("b", bytearray(encode_wav(wav_b, 11025, samplewidth=4))),
        ("bad", bytearray(b"ID3mp3payload")),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    got = {r.clip_id: r for r in extract_features_audio(df).collect()}
    assert got["bad"].err is not None
    for cid, wav in (("a", wav_a), ("b", wav_b)):
        # the WAV carries float32 samples — feed the reference the same
        # quantized signal the operator decodes
        want = _ref_features(wav.astype(np.float32).astype(np.float64), 11025)
        r = got[cid]
        assert r.err is None and r.samplerate == 11025 and r.n_segments == 2
        for fam in FAMS:
            assert np.allclose(np.array(getattr(r, fam)), want[fam],
                               rtol=1e-7, atol=1e-9), (cid, fam)


def test_resample_preserves_tone():
    from rp_extract_spark.functions.audio import resample_fft

    sr_from, sr_to = 48000, 44100
    t = np.arange(sr_from) / sr_from  # 1 second
    x = np.sin(2 * np.pi * 1000 * t)
    y = resample_fft(x, sr_from, sr_to)
    assert y.shape[0] == sr_to
    # dominant frequency bin still 1 kHz on the new rate's axis
    spec = np.abs(np.fft.rfft(y))
    assert abs(np.argmax(spec) - 1000) <= 1
    # amplitude preserved within band-limited tolerance
    assert abs(np.max(np.abs(y[1000:-1000])) - 1.0) < 0.01


def test_auto_resample_path_extracts():
    from rp_extract_spark.functions.audio import auto_resample

    wav48 = _signal(8.0, 48000, seed=9)
    sr, samples = auto_resample(wav48, 48000)
    assert sr == 44100
    feats = extract_audio_features(samples, sr)
    assert feats["rp"].shape == (1440,)
    assert np.isfinite(feats["rp"]).all()


def test_spark_audio_extract_auto_resamples(spark):
    from rp_extract_spark.codecs.wav import encode_wav
    from rp_extract_spark.operators.multimodal import extract_features_audio

    wav48 = _signal(40.0, 48000, seed=11)
    df = spark.createDataFrame(
        [("x", bytearray(encode_wav(wav48, 48000, samplewidth=4)))],
        "clip_id string, bytes binary",
    )
    r = extract_features_audio(df).collect()[0]
    assert r.err is None and r.samplerate == 44100
    assert len(r.rp) == 1440 and all(np.isfinite(r.rp))


def test_mel_filterbank_properties():
    """F13 (dead code in the reference, librosa-dependent there):
    Slaney filterbank invariants — triangles peak at interior mel
    points, cover (fmin,fmax), and Slaney normalization holds."""
    from rp_extract_spark.functions.audio import (
        _hz_to_mel,
        _mel_to_hz,
        mel_matrix,
        transform2mel,
    )

    # scale round-trip + anchor points
    f = np.array([0.0, 500.0, 1000.0, 4000.0, 11025.0])
    assert np.allclose(_mel_to_hz(_hz_to_mel(f)), f)
    assert np.isclose(_hz_to_mel(np.array([1000.0]))[0], 15.0)  # 1 kHz = 15 slaney-mel

    sr, nfft, nm = 22050, 512, 40
    basis = mel_matrix(sr, nfft, nm)
    assert basis.shape == (nm, nfft // 2 + 1)
    assert (basis >= 0).all()
    # every filter has positive mass; Slaney norm = 2/(width in Hz)
    mel_pts = _mel_to_hz(np.linspace(_hz_to_mel(0.0), _hz_to_mel(sr / 2.0), nm + 2))
    peaks = basis.max(axis=1)
    widths = mel_pts[2:] - mel_pts[:-2]
    assert (peaks > 0).all()
    assert (peaks <= 2.0 / widths + 1e-12).all()
    # applying to a spectrogram keeps the frame axis
    spec = np.abs(np.random.default_rng(0).normal(size=(nfft, 7)))
    mel_spec = transform2mel(spec, sr, nfft, nm)
    assert mel_spec.shape == (nm, 7)
    assert np.allclose(mel_spec, basis @ spec[: nfft // 2 + 1])


def test_bark_bands_clamp_like_reference():
    # rp_extract.py:289-293: max_band = min(n_bark_bands, 24)
    from rp_extract_spark.functions.audio import bark_matrix_hz

    fa = np.linspace(0.0, 22050.0, 513)
    assert bark_matrix_hz(fa, 30).shape == (24, 513)
    wav = _signal(13.0, 11025)
    from rp_extract_spark import rp_extract as our_rp

    got = our_rp(wav, 11025, extract_ssd=True, n_bark_bands=30)
    want = ref.rp_extract(wav, 11025, extract_ssd=True, n_bark_bands=30,
                          verbose=False)
    assert np.allclose(got["ssd"], want["ssd"], rtol=1e-8, atol=1e-10)


@pytest.mark.parametrize("flags", [
    # bark off requires everything band-indexed off — the reference's
    # own do_spectral_masking/transform2phon assume <=24 bark rows
    dict(transform_bark=False, spectral_masking=False, transform_db=False,
         transform_phon=False, transform_sone=False),
    dict(spectral_masking=False),
    dict(transform_db=False, transform_phon=False, transform_sone=False),
    dict(transform_phon=False, transform_sone=False),
    dict(transform_sone=False),
    dict(fluctuation_strength_weighting=False),
    dict(n_bark_bands=15),
    dict(mod_ampl_limit=30),
])
def test_stage_toggle_parity(flags):
    """The reference's stage-by-stage golden discipline (v210715
    blocks, SURVEY §5 item 2) as executable tests: disabling each
    pipeline stage individually must still match the reference's own
    code with the same flags — isolating every stage boundary."""
    from rp_extract_spark import rp_extract as our_rp

    wav = _signal(13.0, 11025, seed=8)
    want = ref.rp_extract(wav, 11025, extract_rp=True, extract_ssd=True,
                          extract_rh=True, verbose=False, **flags)
    got = our_rp(wav, 11025, extract_rp=True, extract_ssd=True,
                 extract_rh=True, **flags)
    for fam in ("rp", "ssd", "rh"):
        assert got[fam].shape == want[fam].shape, (fam, flags)
        assert np.allclose(got[fam], want[fam], rtol=1e-8, atol=1e-10), (fam, flags)
