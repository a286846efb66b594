"""Import the reference implementation as a numerical golden oracle.

The container lacks scipy, which ``/root/reference/rp_extract.py``
imports for ``stats.skew``/``stats.kurtosis``/``fftpack.fft``.  We shim
those three with numpy-backed equivalents (the documented biased-moment
formulas scipy implements) so the *reference's own code* can run and
serve as the parity oracle for our kernel — the executable form of the
reference's Matlab-parity golden-value discipline (rp_extract.py
inline ``v210715`` blocks).

No reference code is copied; it is imported read-only at test time.
"""

from __future__ import annotations

import importlib.util
import sys
import types

import numpy as np

REFERENCE_PATH = "/root/reference/rp_extract.py"


def _moments(a, axis):
    a = np.asarray(a, dtype=np.float64)
    mean = a.mean(axis=axis, keepdims=True)
    d = a - mean
    m2 = np.mean(d**2, axis=axis)
    m3 = np.mean(d**3, axis=axis)
    m4 = np.mean(d**4, axis=axis)
    return m2, m3, m4


def _skew(a, axis=0, bias=True):
    m2, m3, _ = _moments(a, axis)
    with np.errstate(invalid="ignore", divide="ignore"):
        return m3 / np.power(m2, 1.5)


def _kurtosis(a, axis=0, fisher=True, bias=True):
    m2, _, m4 = _moments(a, axis)
    with np.errstate(invalid="ignore", divide="ignore"):
        k = m4 / (m2 * m2)
    return k - 3.0 if fisher else k


def load_reference():
    """Import rp_extract.py from /root/reference with a scipy shim."""
    if "ref_rp_extract" in sys.modules:
        return sys.modules["ref_rp_extract"]

    if "scipy" not in sys.modules:
        from importlib.machinery import ModuleSpec

        def _mod(name):
            m = types.ModuleType(name)
            # a real ModuleSpec so later importlib.util.find_spec("scipy")
            # probes (pandas/pyspark optional-dependency checks) don't choke
            m.__spec__ = ModuleSpec(name, loader=None)
            m.__version__ = "0.0.0-shim"
            return m

        scipy = _mod("scipy")
        stats = _mod("scipy.stats")
        stats.skew = _skew
        stats.kurtosis = _kurtosis
        fftpack = _mod("scipy.fftpack")
        fftpack.fft = np.fft.fft
        interpolate = _mod("scipy.interpolate")
        scipy.stats = stats
        scipy.fftpack = fftpack
        scipy.interpolate = interpolate
        sys.modules["scipy"] = scipy
        sys.modules["scipy.stats"] = stats
        sys.modules["scipy.fftpack"] = fftpack
        sys.modules["scipy.interpolate"] = interpolate

    spec = importlib.util.spec_from_file_location("ref_rp_extract", REFERENCE_PATH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["ref_rp_extract"] = mod
    try:
        spec.loader.exec_module(mod)
    except BaseException:
        # a half-imported module would answer every later call with an
        # AttributeError instead of the error that names REFERENCE_PATH
        del sys.modules["ref_rp_extract"]
        raise
    return mod


class _Reference:
    """The reference module, imported on the first attribute read. A
    test module that binds it imports without the reference, so its
    reference-free tests still run, and each test that reads it fails
    with the error that names ``REFERENCE_PATH``."""

    def __getattr__(self, name):
        return getattr(load_reference(), name)


ref = _Reference()
