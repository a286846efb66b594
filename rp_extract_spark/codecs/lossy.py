"""Fast deterministic fixture-lossy codec (LQ01 container).

Round 1 used this as the stand-in for JPEG; since round 2 a REAL
baseline JPEG codec exists in ``codecs/jpeg.py`` (pure-numpy entropy
coding, interop-verified against javax.imageio) and ``decode_image``
dispatches on magic bytes. This module is retained as the
high-throughput synthetic-fixture codec: quantize-to-step-Q + PNG
container is ~20x cheaper per image than full entropy coding, which
matters when synthesizing 30k+ benchmark images, and its quantization
loss has a closed-form PSNR floor.

PSNR math: uniform quantization with step Q has MSE ≈ (Q²-1)/12, so
Q=4 → PSNR ≈ 10·log10(255²/1.25) ≈ 47 dB, comfortably above the
40 dB gate from BASELINE.json's input_hint.
"""

from __future__ import annotations

import numpy as np

from .png import decode_png, encode_png

_MARKER = b"LQ01"  # prepended so fake-jpeg bytes are distinguishable
DEFAULT_Q = 4


def encode_lossy(pixels: np.ndarray, q: int = DEFAULT_Q) -> bytes:
    """Quantize uint8 pixels to step q and encode; deterministic."""
    if pixels.dtype != np.uint8:
        raise ValueError("encode_lossy expects uint8 pixels")
    quant = ((pixels.astype(np.int32) // q) * q + q // 2).clip(0, 255).astype(np.uint8)
    return _MARKER + encode_png(quant)


def decode_lossy(data: bytes) -> np.ndarray:
    if data[:4] != _MARKER:
        raise ValueError("not a fake-lossy payload")
    return decode_png(data[4:])


def is_lossy(data: bytes) -> bool:
    return data[:4] == _MARKER
