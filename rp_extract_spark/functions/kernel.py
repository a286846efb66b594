"""Descriptor kernel: RP / RH / SSD / MVD analogs over decoded images.

This is the numpy "kernel layer" that runs inside the Arrow-batched
Python stages.  It re-expresses the per-segment pipeline of the reference
(``/root/reference/rp_extract.py:529-760``) over an image graft where a
decoded grayscale pixel matrix ``(h, w)`` plays the role the power
spectrogram ``(n_freq, n_frames)`` plays in the reference (SURVEY.md
§1.1): image rows = frequency bins, image columns = time frames, and
one image = one analysis segment of its entity's timeline.

Pipeline (flags and order mirror rp_extract.py:380-409 defaults):

1.  normalize uint8 pixels to (0,1) (analog of PCM normalization,
    audiofile_read.py:44-49) and scale by the hearing-threshold factor
    ``0.0875 * 2**15`` (rp_extract.py:525,545);
2.  band aggregation into ``n_bands=24`` bark-style bands — contiguous
    row groups summed (transform2bark semantics, rp_extract.py:287-306,
    with an equal-split row→band map since image rows carry no Hz axis);
3.  spectral masking: multiply by the published spreading-function
    matrix ``10^((15.81+7.5(d+.474)-17.5(1+(d+.474)^2)^.5)/10)``
    (rp_extract.py:96-102, 309-316);
4.  dB: clamp <1 to 1, then ``10*log10`` (rp_extract.py:319-323);
5.  phon: piecewise-linear interpolation against the 6 equal-loudness
    contours (rp_extract.py:326-365), edge levels keep the upper value;
6.  sone: ``2^((x-40)/10)`` for x>=40 else ``(x/40)^2.642``
    (rp_extract.py:369-375);
7.  SSD = 7-stat block per band (stats.py) → (24, 7);
8.  2nd FFT per band row, size ``2^nextpow2(w)``, divided by the
    reference's hard-coded 256 (rp_extract.py:708), abs of modulation
    bins 1..mod_ampl_limit (DC excluded, rp_extract.py:680-686) →
    RP (24, 60); MVD = 7-stat over RP.T → (60, 7); RH = band-sum of the
    unweighted magnitudes → (60,);
9.  fluctuation-strength weighting ``1/(f/4 + 4/f)`` on RP with the
    reference's modulation-frequency resolution 44100/2**18 ≈ 0.168 Hz
    (rp_extract.py:726-739).

All matrices flatten **Fortran-order** (rp_extract.py:451) — part of
the output contract.  Everything is float64 and fully vectorized across
bands (batched FFT with ``axis=1``); no per-row Python.
"""

from __future__ import annotations

import numpy as np

from .stats import stat_features

# ---- constants (published psychoacoustic tables used by the reference) ----

N_BANDS = 24
MOD_AMPL_LIMIT = 60
HEARING_THRESHOLD_FACTOR = 0.0875 * (2**15)
SECOND_FFT_DIVISOR = 256.0  # rp_extract.py:708 ("why 256?") — kept verbatim
# modulation-frequency resolution of the reference's default segmentation:
# samplerate / segment_size = 44100 / 2**18 (rp_extract.py:730)
MOD_FREQ_RES = 44100.0 / float(2**18)

# Phon levels bounding the six equal-loudness contours (rp_extract.py:52)
PHON_LEVELS = np.array([3.0, 20.0, 40.0, 60.0, 80.0, 100.0, 101.0])

# Equal-loudness contours: dB level at which each of 22 reference
# frequencies is perceived at 3/20/40/60/80/100 phon (rp_extract.py:61-66)
EQ_LOUDNESS = np.array(
    [
        [55, 40, 32, 24, 19, 14, 10, 6, 4, 3, 2, 2, 0, -2, -5, -4, 0, 5, 10, 14, 25, 35],
        [66, 52, 43, 37, 32, 27, 23, 21, 20, 20, 20, 20, 19, 16, 13, 13, 18, 22, 25, 30, 40, 50],
        [76, 64, 57, 51, 47, 43, 41, 41, 40, 40, 40, 39.5, 38, 35, 33, 33, 35, 41, 46, 50, 60, 70],
        [89, 79, 74, 70, 66, 63, 61, 60, 60, 60, 60, 59, 56, 53, 52, 53, 56, 61, 65, 70, 80, 90],
        [103, 96, 92, 88, 85, 83, 81, 80, 80, 80, 80, 79, 76, 72, 70, 70, 75, 79, 83, 87, 95, 105],
        [118, 110, 107, 105, 103, 102, 101, 100, 100, 100, 100, 99, 97, 94, 90, 90, 95, 100, 103, 105, 108, 115],
    ],
    dtype=np.float64,
)

# Frequencies (Hz) of the contour sample points (rp_extract.py:68)
LOUDN_FREQ = np.array(
    [31.62, 50, 70.7, 100, 141.4, 200, 316.2, 500, 707.1, 1000, 1414, 1682,
     2000, 2515, 3162, 3976, 5000, 7071, 10000, 11890, 14140, 15500],
    dtype=np.float64,
)

# The per-segment descriptor families, in output order. A caller may ask
# for a subset: the kernel then computes only what those need, as the
# reference computes only the families its extract_* flags ask for
# (rp_extract.py:383-391).
FAMILIES = ("rp", "ssd", "rh", "rh2", "mvd")

# Bark band upper limits (Hz) (rp_extract.py:43)
BARK_LIMITS = np.array(
    [100, 200, 300, 400, 510, 630, 770, 920, 1080, 1270, 1480, 1720, 2000,
     2320, 2700, 3150, 3700, 4400, 5300, 6400, 7700, 9500, 12000, 15500],
    dtype=np.float64,
)


def _interp_loudness_to_bark() -> np.ndarray:
    """Inverse-distance interpolation of the contour loudness values at
    the bark band limits (semantics of rp_extract.py:70-92)."""
    out = np.zeros((EQ_LOUDNESS.shape[0], BARK_LIMITS.size))
    for i, f in enumerate(BARK_LIMITS):
        exact = np.where(LOUDN_FREQ == f)[0]
        if exact.size:
            out[:, i] = EQ_LOUDNESS[:, exact[0]]
            continue
        j = int(np.searchsorted(LOUDN_FREQ, f, side="right")) - 1
        w1 = 1.0 / abs(LOUDN_FREQ[j] - f)
        w2 = 1.0 / abs(LOUDN_FREQ[j + 1] - f)
        out[:, i] = (EQ_LOUDNESS[:, j] * w1 + EQ_LOUDNESS[:, j + 1] * w2) / (w1 + w2)
    return out


LOUDN_BARK = _interp_loudness_to_bark()  # (6 contours, 24 bands)


def _spreading_matrix(n: int = N_BANDS) -> np.ndarray:
    """Spectral-masking spreading function (rp_extract.py:96-102)."""
    d = np.arange(n)[:, None] - np.arange(n)[None, :] + 0.474
    return 10.0 ** ((15.81 + 7.5 * d - 17.5 * np.sqrt(1.0 + d * d)) / 10.0)


SPREAD = _spreading_matrix()


def nextpow2(n: int) -> int:
    """Smallest e>=1 with 2**e >= n (rp_extract.py:109-122 semantics:
    the reference's loop starts at 2**1, so nextpow2(1) == 1)."""
    return max(int(np.ceil(np.log2(n))), 1) if n > 1 else 1


def band_matrix(h: int, n_bands: int = N_BANDS) -> np.ndarray:
    """Precomputed (n_bands, h) 0/1 row→band aggregation matrix.

    Equal-split contiguous row groups: band b sums pixel rows
    [floor(b*h/n), floor((b+1)*h/n)).  This is the image-graft analog of
    transform2bark's range predicate (rp_extract.py:300): summing
    adjacent frequency rows into <=24 bands; image rows have no Hz
    axis, so the split is uniform (every band non-empty when h>=n)."""
    edges = (np.arange(n_bands + 1) * h) // n_bands
    m = np.zeros((n_bands, h), dtype=np.float64)
    for b in range(n_bands):
        m[b, edges[b] : edges[b + 1]] = 1.0
    return m


def transform_db(matrix: np.ndarray) -> np.ndarray:
    """Clamp <1 → 1, then 10*log10 (rp_extract.py:319-323).
    Shape-agnostic (elementwise); band axis is axis -2 throughout."""
    return 10.0 * np.log10(np.maximum(matrix, 1.0))


def transform_phon(matrix: np.ndarray) -> np.ndarray:
    """dB → phon via the equal-loudness contours (rp_extract.py:326-365).

    Exact reference semantics: the level of each (band, frame) cell is
    the count of the *first five* contours (3..80 phon) its dB value
    strictly exceeds (the reference's loop ``for lev in range(1,6)``
    compares contours 0..4 only). Level 0 keeps the lowest phon value
    (3, the ifac=1 edge rule at rp_extract.py:356); levels 1..4
    interpolate between contours (level-1, level); level 5 interpolates
    between the 80- and 100-phon contours **without clamping** — values
    above the 100-phon contour extrapolate past 100, and the table's
    101-phon entry is unreachable."""
    n_bands = matrix.shape[-2]
    thresholds = LOUDN_BARK[:, :n_bands].T  # (n_bands, 6) ascending per band
    # level = number of the first five contours strictly exceeded (0..5)
    # matrix may be (bands, frames) or batched (n, bands, frames).
    # Five accumulated comparisons instead of one broadcast (..., 5)
    # tensor: same result, 5x less peak memory (the hot stage under
    # 32-way worker concurrency).
    level = (matrix > thresholds[:, None, 0]).astype(np.int8)
    for j in range(1, 5):
        level += matrix > thresholds[:, None, j]
    level = level.astype(np.int64)
    band_idx = np.arange(n_bands)[:, None]  # broadcasts over batch + frames
    lo_idx = np.maximum(level - 1, 0)
    hi_idx = np.where(level > 0, level, 1)
    lo_db = thresholds[band_idx, lo_idx]
    hi_db = thresholds[band_idx, hi_idx]
    lo_ph = PHON_LEVELS[lo_idx]
    hi_ph = PHON_LEVELS[hi_idx]
    with np.errstate(invalid="ignore", divide="ignore"):
        ifac = (matrix - lo_db) / (hi_db - lo_db)
    out = lo_ph + ifac * (hi_ph - lo_ph)
    return np.where(level == 0, PHON_LEVELS[0], out)


def transform_sone(matrix: np.ndarray) -> np.ndarray:
    """Phon → sone piecewise transform (rp_extract.py:369-375)."""
    return np.where(
        matrix >= 40.0,
        2.0 ** ((matrix - 40.0) / 10.0),
        (matrix / 40.0) ** 2.642,
    )


def fluctuation_curve(n: int = MOD_AMPL_LIMIT, res: float = MOD_FREQ_RES) -> np.ndarray:
    """Fluctuation-strength weighting 1/(f/4 + 4/f) over modulation bins
    1..n (DC excluded) (rp_extract.py:726-739)."""
    f = res * np.arange(1, n + 1, dtype=np.float64)
    return 1.0 / (f / 4.0 + 4.0 / f)


FLUCT_CURVE = fluctuation_curve()


def families_of(families) -> tuple[str, ...]:
    """``families`` in ``FAMILIES`` order; an unknown name or an empty
    set raises."""
    unknown = sorted(set(families) - set(FAMILIES))
    if unknown or not families:
        raise ValueError(
            f"families must be a non-empty subset of {FAMILIES}, "
            f"got {tuple(families)}"
        )
    return tuple(f for f in FAMILIES if f in families)


def _flatten_f(m: np.ndarray) -> np.ndarray:
    """Fortran-order flatten of the last two axes, per image
    (rp_extract.py:451 output contract)."""
    if m.ndim == 2:
        return m.flatten("F")
    return np.swapaxes(m, -1, -2).reshape(m.shape[0], -1)


def _pipeline(
    gray: np.ndarray,
    n_bands: int,
    mod_ampl_limit: int,
    transform_bark: bool,
    spectral_masking: bool,
    do_transform_db: bool,
    do_transform_phon: bool,
    do_transform_sone: bool,
    fluctuation_strength_weighting: bool,
    families: tuple[str, ...] = FAMILIES,
) -> dict[str, np.ndarray]:
    """Shared kernel over (h, w) or a same-shape stack (n, h, w).

    All stages broadcast over the leading batch axis: matmuls via
    np.matmul's batched last-two-axes semantics, the 2nd FFT via
    axis=-1, the 7-stat block via stat_features_nd. Batching across
    images amortizes the per-call numpy dispatch overhead that
    dominates at Arrow-batch granularity."""
    from .stats import stat_features_nd

    h, w = gray.shape[-2], gray.shape[-1]
    if h < 2 or w < 2:
        raise ValueError(f"image too small for descriptors: {gray.shape[-2:]}")

    # 1. normalize + hearing-threshold scaling (rp_extract.py:525,545)
    matrix = (gray / 255.0) * HEARING_THRESHOLD_FACTOR

    # 2. band aggregation (transform2bark analog)
    if transform_bark:
        matrix = np.matmul(band_matrix(h, n_bands), matrix)
    return _from_banded(
        matrix, mod_ampl_limit, spectral_masking, do_transform_db,
        do_transform_phon, do_transform_sone, fluctuation_strength_weighting,
        families=families,
    )


def _from_banded(
    matrix: np.ndarray,
    mod_ampl_limit: int,
    spectral_masking: bool,
    do_transform_db: bool,
    do_transform_phon: bool,
    do_transform_sone: bool,
    fluctuation_strength_weighting: bool,
    mod_freq_res: float = MOD_FREQ_RES,
    families: tuple[str, ...] = FAMILIES,
) -> dict[str, np.ndarray]:
    """Stages 3-8 (masking → sone → SSD → 2nd FFT → RP/RH/MVD) over an
    already band-aggregated matrix — shared by the image graft and the
    true audio path (which differ only in how the banded sonogram is
    produced). ``mod_freq_res`` parameterizes the fluctuation-weighting
    axis (samplerate/segment_size, rp_extract.py:730). Only the
    ``families`` asked for are computed and returned."""
    from .stats import stat_features_nd

    w = matrix.shape[-1]
    # 3-6. psychoacoustic transforms
    if spectral_masking:
        matrix = np.matmul(_spreading_matrix(matrix.shape[-2]), matrix)
    if do_transform_db:
        matrix = transform_db(matrix)
        if do_transform_phon:
            matrix = transform_phon(matrix)
            if do_transform_sone:
                matrix = transform_sone(matrix)

    out = {}
    # 7. SSD
    if "ssd" in families:
        out["ssd"] = _flatten_f(stat_features_nd(matrix))  # (..., bands, 7)

    # 8. 2nd FFT across band rows (reference loops per band,
    # rp_extract.py:700-706; axis-batched FFT is the vectorized form)
    fft_size = 2 ** nextpow2(w)
    if mod_ampl_limit >= fft_size:
        raise ValueError(
            f"mod_ampl_limit {mod_ampl_limit} must be < 2nd-FFT size {fft_size}"
        )
    spectra = np.fft.fft(matrix, n=fft_size, axis=-1) / SECOND_FFT_DIVISOR
    mags = np.abs(spectra[..., 1 : mod_ampl_limit + 1])  # DC excluded

    if "rh" in families:
        # before weighting (rp_extract.py:719-721)
        out["rh"] = mags.sum(axis=-2).astype(np.float64)
    if "mvd" in families:
        # (..., limit, 7)
        out["mvd"] = _flatten_f(stat_features_nd(np.swapaxes(mags, -1, -2)))

    if "rp" in families or "rh2" in families:
        rp = mags
        if fluctuation_strength_weighting:
            rp = rp * fluctuation_curve(mod_ampl_limit, mod_freq_res)
        if "rp" in families:
            out["rp"] = _flatten_f(rp)
        if "rh2" in families:
            # RH option 2: band-sum AFTER fluctuation weighting
            # (extract_rh2, rp_extract.py:745-747)
            out["rh2"] = rp.sum(axis=-2).astype(np.float64)
    return {k: out[k] for k in families}


def extract_segment_features(
    pixels: np.ndarray,
    n_bands: int = N_BANDS,
    mod_ampl_limit: int = MOD_AMPL_LIMIT,
    transform_bark: bool = True,
    spectral_masking: bool = True,
    do_transform_db: bool = True,
    do_transform_phon: bool = True,
    do_transform_sone: bool = True,
    fluctuation_strength_weighting: bool = True,
    families=FAMILIES,
) -> dict[str, np.ndarray]:
    """Run the full per-segment pipeline on one decoded image.

    Returns flattened float64 vectors: ``rp`` (n_bands*limit, F-order),
    ``ssd`` (n_bands*7), ``rh`` (limit,), ``rh2`` (limit,), ``mvd``
    (limit*7) — those of them ``families`` names, computed alone.
    The shared prefix (scaled sonogram → sone matrix) is computed once
    for all feature families (the reference's operator-gating fusion,
    SURVEY.md O3)."""
    gray = pixels.astype(np.float64)
    if gray.ndim == 3:
        gray = gray.mean(axis=2)  # channel mixdown (rp_extract.py:477-481)
    return _pipeline(
        gray, n_bands, mod_ampl_limit, transform_bark, spectral_masking,
        do_transform_db, do_transform_phon, do_transform_sone,
        fluctuation_strength_weighting, families_of(families),
    )


def extract_segment_features_batch(
    pixel_list: list[np.ndarray],
    n_bands: int = N_BANDS,
    mod_ampl_limit: int = MOD_AMPL_LIMIT,
    families=FAMILIES,
    **flags,
) -> list[dict[str, np.ndarray]]:
    """Batched kernel: group images by shape, run each group as one
    stacked (n, h, w) pipeline (vectorized FFT/matmul/stats across
    images), scatter results back in input order. Identical numerics
    to the per-image path, ``families`` included."""
    families = families_of(families)
    by_shape: dict[tuple[int, int], list[int]] = {}
    for i, px in enumerate(pixel_list):
        by_shape.setdefault(px.shape[:2], []).append(i)
    out: list[dict[str, np.ndarray] | None] = [None] * len(pixel_list)
    for (h, w), idxs in by_shape.items():
        # cap each stack at 2^18 elements (2 MB float64): worker memory
        # stays bounded whatever the caller's Arrow batch size, and
        # transform_phon peaks at ~11x its input. On 1024 fixture images
        # (one BLAS thread, min of 5, four interleaved runs) this took
        # 0.44-0.54 ms/image and grew the process 23 MB; one 2^22 cap
        # over the largest image took 0.55-0.61 ms/image and grew it
        # 85 MB.
        max_group = max(1, (1 << 18) // (h * w))
        for start in range(0, len(idxs), max_group):
            chunk = idxs[start : start + max_group]
            # float64 grays exist one stack at a time, never for the
            # whole batch
            stack = np.empty((len(chunk), h, w))
            for j, i in enumerate(chunk):
                px = pixel_list[i]
                # channel mixdown (rp_extract.py:477-481)
                stack[j] = px.astype(np.float64).mean(axis=2) if px.ndim == 3 else px
            feats = _pipeline(
                stack, n_bands, mod_ampl_limit,
                flags.get("transform_bark", True),
                flags.get("spectral_masking", True),
                flags.get("do_transform_db", True),
                flags.get("do_transform_phon", True),
                flags.get("do_transform_sone", True),
                flags.get("fluctuation_strength_weighting", True),
                families,
            )
            for j, i in enumerate(chunk):
                out[i] = {k: feats[k][j] for k in feats}
    return out  # type: ignore[return-value]


def aggregate_segments(
    rp_list: np.ndarray,
    ssd_list: np.ndarray,
    rh_list: np.ndarray,
    mvd_list: np.ndarray,
) -> dict[str, np.ndarray]:
    """Cross-segment aggregation (rp_extract.py:765-795): median for
    RP/RH, mean for SSD/MVD, 7-stat-over-time for TSSD/TRH."""
    return {
        "rp": np.median(rp_list, axis=0),
        "ssd": np.mean(ssd_list, axis=0),
        "rh": np.median(rh_list, axis=0),
        "mvd": np.mean(mvd_list, axis=0),
        "tssd": stat_features(np.asarray(ssd_list).T).flatten("F"),
        "trh": stat_features(np.asarray(rh_list).T).flatten("F"),
    }


def mod_freq_axis(n: int = MOD_AMPL_LIMIT, res: float = MOD_FREQ_RES) -> np.ndarray:
    """Modulation-frequency axis over bins 1..n (DC excluded),
    rp_extract.py:730-736."""
    return res * np.arange(1, n + 1, dtype=np.float64)


def peak_modulation_bpm(rh: np.ndarray) -> float:
    """Argmax of the RH vector converted to 'beats per minute' on the
    reference's modulation axis (T2: RP_extract_Tutorial.v4.ipynb
    cell 47, rp_plot.py:50-54): bpm = peak_bin_freq * 60."""
    idx = int(np.argmax(np.asarray(rh)))
    return float(mod_freq_axis()[idx] * 60.0)
