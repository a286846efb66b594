"""Write ``tests/golden/kernel.npz``: the descriptor kernel's output on
one seeded grayscale image per fixture shape (``sources.images``'
``_W_CYCLE`` x ``_H_CYCLE``), so the rtol-1e-8 kernel contract is
checked without the reference implementation.

The file stores each image's pixels and its rp/ssd/rh/rh2/mvd vectors,
plus the commit the vectors came from. Regenerate only on purpose,
from a commit whose kernel was checked against the reference:

    python tests/golden/make_kernel_golden.py
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from rp_extract_spark.functions.kernel import (  # noqa: E402
    extract_segment_features,
)
from rp_extract_spark.sources.images import _H_CYCLE, _W_CYCLE  # noqa: E402

OUT = os.path.join(ROOT, "tests", "golden", "kernel.npz")
KEYS = ("rp", "ssd", "rh", "rh2", "mvd")
SEED = 20240715


def shapes() -> list[tuple[int, int]]:
    return [(h, w) for w in _W_CYCLE for h in _H_CYCLE]


def main() -> None:
    git = ["git", "-C", ROOT]
    if subprocess.run(git + ["diff", "--quiet", "HEAD", "--",
                             "rp_extract_spark/functions"]).returncode:
        sys.exit("rp_extract_spark/functions has uncommitted changes: "
                 "the vectors would not match the recorded commit")
    commit = subprocess.run(git + ["rev-parse", "HEAD"], check=True,
                            capture_output=True, text=True).stdout.strip()
    rng = np.random.default_rng(SEED)
    arrays = {"commit": np.array(commit)}
    for i, (h, w) in enumerate(shapes()):
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        arrays[f"px{i}"] = px
        feats = extract_segment_features(px)
        for k in KEYS:
            arrays[f"{k}{i}"] = feats[k]
    np.savez_compressed(OUT, **arrays)
    print(f"wrote {OUT}: {len(shapes())} shapes from {commit}")


if __name__ == "__main__":
    main()
