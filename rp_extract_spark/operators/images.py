"""Image-analysis operators: perceptual hashing, per-image quality
stats, geometric transforms (augmentation), and ViT-style patch
tiling — the image-corpus curation layer a multimodal training
pipeline needs on top of the decode path (SURVEY §1.1; the reference's
image graft decodes to the banded sonogram, these operators cover the
corpus-side curation the reference leaves to its caller).

Design rules shared by every operator here:
- one ``mapInArrow`` decode stage (``_prims.arrow_stage``), no
  shuffle — each operator is a stateless scan; grouping (dedup)
  happens AFTER the hash scan on 8-byte values, so image bytes never
  cross an exchange;
- per-record error isolation (err column) — one corrupt blob never
  kills a 100-TB scan. ``_prims.arrow_stage`` is the single home of
  that rule (projection, batch loop, err row); each operator supplies
  only its per-record function, decoding through ``_prims.gray``;
- deterministic, integer-first math so every transform is exactly
  recomputable by a SQL engine over the relational pixel view
  (operators/multimodal.image_pixels) — the oracle contract.

Perceptual hash conventions (bit j = y*8+x row-major, MSB-first,
packed into a signed int64 two's-complement — ``F.bin`` prints the
same 64 bits both for Spark and for the closed-form SQL replay):
- aHash: anchor-resize to 8x8, bit = 64*pixel > sum(pixels) — the
  mean threshold kept in exact integer arithmetic;
- dHash: anchor-resize to 8x9, bit = row[x] < row[x+1] (horizontal
  gradient sign);
- pHash: anchor-resize to 32x32, 2-D DCT-II (plain, unnormalized),
  top-left 8x8 coefficient block, bit = coef > median(block). The
  64-value median (mean of the two middle order statistics) follows
  the classic ImageHash convention.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._prims import (arrow_stage, expand, gray, md5_digits, md5_hex, md5_int,
                      moments)
from ..codecs import encode_png
from .multimodal import block_mean_resize

# 32-point DCT-II basis: M[u, y] = cos(pi * (2y+1) * u / 64). Plain
# (unnormalized) form — the threshold is a median so scale cancels.
_DCT32 = np.cos(
    np.pi * (2 * np.arange(32)[None, :] + 1) * np.arange(32)[:, None] / 64.0
)


def _png_row(px: np.ndarray) -> dict:
    """The (bytes, w, h, fmt) fields of a re-encoded grayscale PNG."""
    out = np.ascontiguousarray(px, dtype=np.uint8)
    return {"bytes": encode_png(out), "w": out.shape[1], "h": out.shape[0],
            "fmt": "png"}


def _same_shape(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    if a.shape != b.shape:
        raise ValueError(f"shape mismatch {a.shape} vs {b.shape}")
    return a, b


def _pack_bits64(bits: np.ndarray) -> int:
    """64 bits (MSB first) -> signed int64 (two's complement)."""
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def ahash64(gray: np.ndarray) -> int:
    """Average hash: 8x8 anchor resize, exact-integer mean threshold
    (bit = 64*px > sum, avoiding any float division)."""
    r = block_mean_resize(gray, 8, 8).astype(np.int64)
    s = int(r.sum())
    return _pack_bits64((r.ravel() * 64 > s).astype(np.uint8))


def dhash64(gray: np.ndarray) -> int:
    """Difference hash: 8x9 anchor resize, bit = row[x] < row[x+1]."""
    r = block_mean_resize(gray, 8, 9).astype(np.int64)
    return _pack_bits64((r[:, :-1] < r[:, 1:]).ravel().astype(np.uint8))


def phash64(gray: np.ndarray) -> int:
    """DCT perceptual hash: 32x32 anchor resize, 2-D DCT-II, top-left
    8x8 block, bit = coef > median(block)."""
    r = block_mean_resize(gray, 32, 32).astype(np.float64)
    c = _DCT32 @ r @ _DCT32.T
    low = c[:8, :8].ravel()
    med = float(np.median(low))
    return _pack_bits64((low > med).astype(np.uint8))


HASH_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("ahash", T.LongType(), True),
        T.StructField("dhash", T.LongType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def image_hashes(images: DataFrame) -> DataFrame:
    """(image_id, ahash, dhash, phash, err) — one shuffle-free Arrow
    scan; 3 perceptual hashes per decode (the decode dominates, so
    computing all three costs ~the same as one)."""

    def fn(data, fmt):
        px = gray(data, fmt)
        return {"ahash": ahash64(px), "dhash": dhash64(px), "phash": phash64(px)}

    return arrow_stage(images, ["image_id"], ["bytes", "fmt"], HASH_SCHEMA, fn)


def phash_dedup(
    images: DataFrame,
    hash_type: str = "dhash",
    max_hamming: int = 2,
    max_iters: int = 10,
) -> DataFrame:
    """Near-duplicate image groups: (image_id, <hash>, rep_id).

    Perceptual-hash scan (shuffle-free, bytes never leave the decode
    stage) then the shared 64-bit Hamming machinery
    (dedup.hamming64_dedup): exact-hash groupBy at ``max_hamming=0``,
    else the 4x16-bit band pigeonhole — candidate pairs are band
    equi-joins on 8-byte values, verified with bit_count, merged
    transitively. The image analog of simhash_dedup; at 100 TB the
    only data crossing exchanges is (id, int64)."""
    if hash_type not in ("ahash", "dhash", "phash"):
        raise ValueError(f"unknown hash_type {hash_type!r}")
    from .dedup import hamming64_dedup

    hashed = image_hashes(images).filter(F.col("err").isNull()).select(
        "image_id", hash_type
    )
    return hamming64_dedup(hashed, hash_type, "image_id", max_hamming, max_iters)


def streaming_image_dedup(
    images: DataFrame,
    ts_col: str = "ts",
    hash_type: str = "dhash",
    ttl_minutes: int = 0,
) -> DataFrame:
    """Streaming analog of ``phash_dedup(max_hamming=0)``: the Arrow
    hash stage runs per micro-batch (mapInArrow is streaming-
    compatible), then keyed state emits the FIRST image per 64-bit
    perceptual hash and drops replays, carrying the winning image_id.
    Exact-hash tier only — Hamming band tiers need the batch path
    (candidate joins are not expressible as per-key state). Rows whose
    decode fails are dropped from the stream (batch pipelines wanting
    a quarantine column use ``image_hashes``)."""
    if hash_type not in ("ahash", "dhash", "phash"):
        raise ValueError(f"unknown hash_type {hash_type!r}")
    from ..streaming.stateful import streaming_dedup

    kernel = {"ahash": ahash64, "dhash": dhash64, "phash": phash64}[hash_type]
    schema = T.StructType(
        [
            images.schema["image_id"],
            T.StructField(hash_type, T.LongType(), True),
            images.schema[ts_col],
            T.StructField("err", T.StringType(), True),
        ]
    )

    def fn(data, fmt):
        return {hash_type: kernel(gray(data, fmt))}

    hashed = arrow_stage(
        images, ["image_id", ts_col], ["bytes", "fmt"], schema, fn
    ).filter(F.col("err").isNull()).drop("err")
    return streaming_dedup(
        hashed,
        key_col=hash_type,
        ts_col=ts_col,
        ttl_minutes=ttl_minutes,
        carry_cols=("image_id",),
    )


STATS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("px_sum", T.LongType(), True),
        T.StructField("px_sq_sum", T.LongType(), True),
        T.StructField("px_min", T.IntegerType(), True),
        T.StructField("px_max", T.IntegerType(), True),
        T.StructField("mean", T.DoubleType(), True),
        T.StructField("variance", T.DoubleType(), True),
        T.StructField("entropy_bits", T.DoubleType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def image_stats(images: DataFrame) -> DataFrame:
    """Per-image quality signals for corpus gating: brightness (mean),
    contrast (population variance), dynamic range (min/max) and
    256-bin histogram entropy in bits — near-constant images (logos,
    solid frames, failed captures) score near-zero entropy and get
    filtered before expensive feature extraction. Exact integer sums
    (px_sum, px_sq_sum) ride along so any SQL engine can re-derive the
    floats bit-for-bit: mean = px_sum/n, variance = px_sq_sum/n -
    mean^2 (that exact expression order), entropy = -sum p*log2(p)."""

    def fn(data, fmt):
        px = gray(data, fmt)
        h, w = px.shape
        flat = px.ravel().astype(np.int64)
        n = int(flat.size)
        s = int(flat.sum())
        sq = int((flat * flat).sum())
        mean = s / n
        counts = np.bincount(flat, minlength=256)
        p = counts[counts > 0] / n
        return {
            "w": w, "h": h, "n_px": n, "px_sum": s, "px_sq_sum": sq,
            "px_min": int(flat.min()), "px_max": int(flat.max()),
            "mean": mean, "variance": sq / n - mean * mean,
            "entropy_bits": float(-(p * np.log2(p)).sum()),
        }

    return arrow_stage(images, ["image_id"], ["bytes", "fmt"], STATS_SCHEMA, fn)


def decontaminate_images(
    corpus: DataFrame,
    benchmark: DataFrame,
    hash_type: str = "dhash",
    max_hamming: int = 2,
) -> DataFrame:
    """Benchmark decontamination for image corpora — the visual analog
    of curation.decontaminate: drop every corpus image whose perceptual
    hash sits within Hamming distance ``max_hamming`` of ANY benchmark
    image (an eval image that leaked into training data rarely survives
    re-encode/resize byte-identical, but its perceptual hash does).

    Scale shape: both sides hash in shuffle-free Arrow scans; the
    benchmark hash/band table (eval sets are small) is BROADCAST
    against the corpus bands, verified with bit_count, and the
    resulting contaminated-id set is broadcast back for the anti-join —
    corpus image bytes never cross an exchange. Returns the kept corpus
    rows (all original columns)."""
    if max_hamming > 3:
        raise ValueError("4 bands guarantee recall only up to max_hamming=3")
    c = image_hashes(corpus).filter(F.col("err").isNull()).select(
        "image_id", F.col(hash_type).alias("__h")
    )
    b = image_hashes(benchmark).filter(F.col("err").isNull()).select(
        F.col(hash_type).alias("__bh")
    ).distinct()
    if max_hamming == 0:
        contaminated = c.join(
            F.broadcast(b), c["__h"] == b["__bh"], "left_semi"
        ).select("image_id")
    else:
        def bands(df, col, out):
            return df.select(
                "*",
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftrightunsigned(col, 16 * i)
                            .bitwiseAND(F.lit(0xFFFF))
                            .alias("val"),
                        )
                        for i in range(4)
                    ])
                ).alias(out),
            ).select("*", F.col(f"{out}.band").alias("band"),
                     F.col(f"{out}.val").alias("val")).drop(out)

        cb = bands(c, "__h", "__cb")
        bb = bands(b, "__bh", "__bb")
        contaminated = (
            cb.join(F.broadcast(bb), ["band", "val"])
            .filter(
                F.bit_count(F.col("__h").bitwiseXOR(F.col("__bh")))
                <= max_hamming
            )
            .select("image_id")
            .distinct()
        )
    return corpus.join(F.broadcast(contaminated), "image_id", "left_anti")


GRADIENT_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("n_interior", T.LongType(), True),
        T.StructField("abs_gx_sum", T.LongType(), True),
        T.StructField("abs_gy_sum", T.LongType(), True),
        T.StructField("lap_sq_sum", T.LongType(), True),
        T.StructField("sharpness", T.DoubleType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def image_gradients(images: DataFrame) -> DataFrame:
    """Gradient/sharpness signals over interior pixels (1 <= y <= h-2,
    1 <= x <= w-2), all exact integers: central differences
    gx = px[y, x+1] - px[y, x-1], gy = px[y+1, x] - px[y-1, x], and the
    4-neighbor Laplacian lap = 4*px - left - right - up - down.
    ``sharpness`` = lap_sq_sum / n_interior is the classic
    variance-of-Laplacian-style blur gate (near-zero for blurred or
    flat captures — the standard drop rule a vision-corpus curation
    pass applies before feature extraction)."""

    def fn(data, fmt):
        px = gray(data, fmt, np.int64)
        c = px[1:-1, 1:-1]
        gx = px[1:-1, 2:] - px[1:-1, :-2]
        gy = px[2:, 1:-1] - px[:-2, 1:-1]
        lap = (
            4 * c
            - px[1:-1, 2:] - px[1:-1, :-2]
            - px[2:, 1:-1] - px[:-2, 1:-1]
        )
        n = int(c.size)
        lap_sq = int((lap * lap).sum())
        return {
            "n_interior": n,
            "abs_gx_sum": int(np.abs(gx).sum()),
            "abs_gy_sum": int(np.abs(gy).sum()),
            "lap_sq_sum": lap_sq,
            "sharpness": lap_sq / n if n else 0.0,
        }

    return arrow_stage(
        images, ["image_id"], ["bytes", "fmt"], GRADIENT_SCHEMA, fn
    )


def equalize_images(images: DataFrame) -> DataFrame:
    """Histogram equalization (the classic contrast normalization a
    training pipeline applies before feature extraction), kept fully
    integer-exact so SQL replays it bit-for-bit: with cdf(v) the count
    of pixels <= v and m = cdf(min pixel),

        out(v) = floor((cdf(v) - m) * 255 / (n - m) + 1/2)
               = ((cdf(v) - m) * 510 + (n - m)) // (2 * (n - m))

    (integer half-up rounding — no float division anywhere). A
    constant image (n == m) maps to 0. Emits re-encoded PNGs,
    error-isolated per record."""

    def fn(data, fmt):
        px = gray(data, fmt, np.int64)
        n = px.size
        cdf = np.cumsum(np.bincount(px.ravel(), minlength=256))
        m = int(cdf[int(px.min())])
        denom = n - m
        if denom > 0:
            lut = ((cdf - m) * 510 + denom) // (2 * denom)
        else:
            lut = np.zeros(256, dtype=np.int64)
        return _png_row(lut[px])

    return arrow_stage(
        images, ["image_id"], ["bytes", "fmt"], TRANSFORMED_SCHEMA, fn
    )


TRANSFORMED_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)

_TRANSFORMS = ("flip_h", "flip_v", "rot90", "rot180", "rot270", "crop")


def transform_images(
    images: DataFrame,
    op: str,
    y0: int = 0,
    x0: int = 0,
    crop_h: int | None = None,
    crop_w: int | None = None,
) -> DataFrame:
    """Deterministic geometric augmentation: decode -> transform ->
    re-encode PNG, error-isolated. Pixel-coordinate contracts (input
    pixel in[y, x], input dims h x w), each exactly replayable in SQL:

    - flip_h:  out[y, x] = in[y, w-1-x]           (dims h x w)
    - flip_v:  out[y, x] = in[h-1-y, x]           (dims h x w)
    - rot90:   out[y, x] = in[x, w-1-y]           (dims w x h, CCW)
    - rot180:  out[y, x] = in[h-1-y, w-1-x]       (dims h x w)
    - rot270:  out[y, x] = in[h-1-x, y]           (dims w x h)
    - crop:    out[y, x] = in[y0+y, x0+x]         (dims crop_h x crop_w;
               raises per-record if the window exceeds the image)
    """
    if op not in _TRANSFORMS:
        raise ValueError(f"unknown transform {op!r}; one of {_TRANSFORMS}")
    if op == "crop" and (crop_h is None or crop_w is None):
        raise ValueError("crop requires crop_h and crop_w")

    def apply(px: np.ndarray) -> np.ndarray:
        if op == "flip_h":
            return px[:, ::-1]
        if op == "flip_v":
            return px[::-1, :]
        if op == "rot90":
            return np.rot90(px, 1)
        if op == "rot180":
            return np.rot90(px, 2)
        if op == "rot270":
            return np.rot90(px, 3)
        h, w = px.shape
        if y0 < 0 or x0 < 0 or y0 + crop_h > h or x0 + crop_w > w:
            raise ValueError(
                f"crop window ({y0},{x0})+({crop_h}x{crop_w}) exceeds {h}x{w}"
            )
        return px[y0 : y0 + crop_h, x0 : x0 + crop_w]

    def fn(data, fmt):
        return _png_row(apply(gray(data, fmt)))

    return arrow_stage(
        images, ["image_id"], ["bytes", "fmt"], TRANSFORMED_SCHEMA, fn
    )


TILE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("ty", T.IntegerType(), True),
        T.StructField("tx", T.IntegerType(), True),
        T.StructField("px_sum", T.LongType(), True),
        T.StructField("px_sq_sum", T.LongType(), True),
        T.StructField("px_min", T.IntegerType(), True),
        T.StructField("px_max", T.IntegerType(), True),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)
_TILE = T.StructType(TILE_SCHEMA.fields[1:-1])  # one tile: ty .. bytes


def tile_images(
    images: DataFrame,
    tile_h: int = 16,
    tile_w: int = 16,
    emit_bytes: bool = False,
) -> DataFrame:
    """ViT-style patch extraction: split each image into the
    non-overlapping full (tile_h x tile_w) grid — tile (ty, tx) covers
    input rows [ty*tile_h, (ty+1)*tile_h) x cols [tx*tile_w,
    (tx+1)*tile_w); a ragged right/bottom remainder is DROPPED (full
    patches only, the ViT convention — callers needing total coverage
    resize first). Emits exact integer patch stats; ``emit_bytes``
    additionally re-encodes each patch as PNG (off by default — at
    100 TB the stats pass is the cheap curation scan, the bytes pass
    the expensive materialization). Errors quarantine per record with
    ty = tx = -1."""

    def fn(data, fmt):
        px = gray(data, fmt)
        tiles = []
        for ty in range(px.shape[0] // tile_h):
            for tx in range(px.shape[1] // tile_w):
                t = px[ty * tile_h : (ty + 1) * tile_h,
                       tx * tile_w : (tx + 1) * tile_w]
                flat = t.ravel().astype(np.int64)
                tiles.append((
                    ty, tx, int(flat.sum()), int((flat * flat).sum()),
                    int(flat.min()), int(flat.max()),
                    encode_png(np.ascontiguousarray(t)) if emit_bytes else None,
                ))
        return {"tiles": tiles}

    schema = T.StructType([TILE_SCHEMA["image_id"],
                           T.StructField("tiles", T.ArrayType(_TILE)),
                           TILE_SCHEMA["err"]])
    return arrow_stage(
        images, ["image_id"], ["bytes", "fmt"], schema, fn
    ).select("image_id", expand("tiles", _TILE, ty=-1, tx=-1), "err")


GRID_HASH_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("__h", T.LongType(), True),
        T.StructField("__grid", T.ArrayType(T.IntegerType()), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def phash_dedup_verified(
    images: DataFrame,
    hash_type: str = "dhash",
    max_hamming: int = 2,
    max_sse: int = 40000,
    grid: int = 16,
    max_iters: int = 10,
) -> DataFrame:
    """Near-duplicate image dedup with a pixel-level VERIFY stage:
    (image_id, <hash>, rep_id). The image analog of
    dedup.minhash_lsh_dedup(verify=...) — perceptual-hash bands
    generate candidates, exact integer SSE over an anchor-resampled
    ``grid`` x ``grid`` pixel grid confirms them.

    Why: perceptual hashes sample a sparse anchor lattice (dHash reads
    8x9 pixels), so two images can collide at Hamming 0 while most of
    their pixels differ — at web scale such false positives silently
    delete unique training images. The verify grid (default 16x16,
    finer than any of the three hash lattices) bounds the damage: a
    candidate pair survives only if sum((a-b)^2) over the grid is
    <= ``max_sse`` (integer-exact, SQL-replayable).

    Physical plan: ONE Arrow decode scan emits (id, hash, grid) —
    image bytes never leave the scan; the band equi-join moves
    (id, int64); only CANDIDATE rows move the ~1 KB grid payload
    (two id-keyed joins), mirroring the signature-join cost of the
    verified MinHash path. Components via min-label propagation."""
    if hash_type not in ("ahash", "dhash", "phash"):
        raise ValueError(f"unknown hash_type {hash_type!r}")
    from .dedup import hamming64_candidates, propagate_min_ids

    kernel = {"ahash": ahash64, "dhash": dhash64, "phash": phash64}[hash_type]

    def fn(data, fmt):
        px = gray(data, fmt)
        g = block_mean_resize(px, grid, grid).astype(np.int32)
        return {"__h": kernel(px), "__grid": g.ravel().tolist()}

    hashed = arrow_stage(
        images, ["image_id"], ["bytes", "fmt"], GRID_HASH_SCHEMA, fn
    ).filter(F.col("err").isNull()).drop("err")
    cand = hamming64_candidates(
        hashed.select("image_id", "__h"), "__h", "image_id", max_hamming
    )
    grids = hashed.select(F.col("image_id"), F.col("__grid"))
    sse = F.aggregate(
        F.zip_with("__ga", "__gb", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    verified = (
        cand.join(grids.select(F.col("image_id").alias("id_a"),
                               F.col("__grid").alias("__ga")), "id_a")
        .join(grids.select(F.col("image_id").alias("id_b"),
                           F.col("__grid").alias("__gb")), "id_b")
        .filter(sse <= F.lit(int(max_sse)))
        .select("id_a", "id_b")
    )
    edge_bk = F.xxhash64("id_a", "id_b")
    edges = (
        verified.select(F.col("id_a").alias("image_id"), edge_bk.alias("__bk"))
        .unionByName(
            verified.select(F.col("id_b").alias("image_id"),
                            edge_bk.alias("__bk"))
        )
        .unionByName(
            hashed.select("image_id",
                          F.xxhash64("image_id", F.lit(-1)).alias("__bk"))
        )
    )
    labels = propagate_min_ids(edges, "image_id", "__bk", max_iters=max_iters)
    return (
        hashed.select("image_id", F.col("__h").alias(hash_type))
        .join(labels, "image_id")
        .select("image_id", hash_type, "rep_id")
    )


_GATE_REASONS = [
    "decode_error", "too_small", "extreme_aspect", "too_dark",
    "too_bright", "low_contrast", "low_entropy",
]


def quality_gate_images(
    images: DataFrame,
    min_w: int = 64,
    min_h: int = 48,
    max_aspect: tuple[int, int] = (4, 1),
    brightness: tuple[int, int] = (16, 240),
    min_variance: float = 25.0,
    min_entropy_bits: float = 1.0,
) -> DataFrame:
    """LAION-style image curation gate: per image, boolean ``passes``
    plus a deterministic comma-joined ``reject_reasons`` string —
    resolution, aspect ratio, brightness, contrast and histogram
    entropy, the standard pre-filters before any expensive embedding
    or feature stage. Built on the image_stats scan (one decode, no
    shuffle); every gate is evaluated in EXACT integer arithmetic on
    the ridden-along sums so a SQL engine replays each decision
    bit-for-bit:

    - too_small:       w < min_w OR h < min_h
    - extreme_aspect:  max(w,h) * ad > min(w,h) * an   (an, ad) = max_aspect
    - too_dark/bright: px_sum <> bound * n_px          (integer bounds)
    - low_contrast:    n*px_sq_sum - px_sum^2 < min_variance * n^2
                       (exact when min_variance has a short binary
                       fraction; default 25.0 is exact)
    - low_entropy:     entropy_bits < min_entropy_bits (float compare;
                       callers pick thresholds away from attainable
                       values — flat images score exactly 0.0)

    Decode failures quarantine as passes=false / 'decode_error' — one
    corrupt blob never kills the scan."""
    an, ad = max_aspect
    lo, hi = brightness
    s = image_stats(images)
    n, px_sum = F.col("n_px"), F.col("px_sum")
    checks = [
        ("decode_error", F.col("err").isNotNull()),
        ("too_small", (F.col("w") < min_w) | (F.col("h") < min_h)),
        ("extreme_aspect",
         F.greatest("w", "h") * ad > F.least("w", "h") * an),
        ("too_dark", px_sum < F.lit(int(lo)) * n),
        ("too_bright", px_sum > F.lit(int(hi)) * n),
        ("low_contrast",
         n * F.col("px_sq_sum") - px_sum * px_sum
         < F.lit(float(min_variance)) * n * n),
        ("low_entropy", F.col("entropy_bits") < F.lit(float(min_entropy_bits))),
    ]
    # decode failures null out the stats columns; make later gates
    # three-valued-logic-safe by short-circuiting on err
    reasons = F.filter(
        F.array(*[
            F.when(
                cond if name == "decode_error"
                else F.col("err").isNull() & cond,
                F.lit(name),
            )
            for name, cond in checks
        ]),
        lambda x: x.isNotNull(),
    )
    return s.select(
        "image_id", "w", "h", "n_px", "px_sum", "px_sq_sum",
        "entropy_bits",
        reasons.alias("__r"),
    ).select(
        "image_id", "w", "h", "n_px", "px_sum", "px_sq_sum", "entropy_bits",
        (F.size("__r") == 0).alias("passes"),
        F.concat_ws(",", "__r").alias("reject_reasons"),
    )


# SDXL's published 1024^2-budget resolution buckets (width, height),
# multiples of 64 — the public reference list for aspect bucketing.
SDXL_BUCKETS: list[tuple[int, int]] = [
    (1024, 1024),
    (1152, 896), (896, 1152),
    (1216, 832), (832, 1216),
    (1344, 768), (768, 1344),
    (1536, 640), (640, 1536),
]


def aspect_bucket_images(
    images: DataFrame,
    buckets: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Aspect-ratio bucketing for batched training (the SDXL recipe):
    assign each image to the bucket minimizing |w/h - bw/bh|, ties to
    the earliest bucket in the list. A PURE PROJECTION — no decode, no
    shuffle, no UDF: the argmin runs inside one codegen'd expression
    (sort_array over a literal struct array), so at 100 TB this is a
    metadata-speed scan.

    Exactness: |w/h - bw/bh| = |w*bh - h*bw| / (h*bh); h is constant
    per image, so buckets order by |w*bh - h*bw| / bh — one exact
    integer product/difference and ONE correctly-rounded double
    division, bit-identical across engines (the oracle replays it
    verbatim). Returns (image_id, w, h, bucket_w, bucket_h)."""
    bks = buckets if buckets is not None else SDXL_BUCKETS
    cand = F.array(*[
        F.struct(
            (F.abs(F.col("w") * bh - F.col("h") * bw) / F.lit(bh))
            .cast("double").alias("score"),
            F.lit(i).alias("idx"),
            F.lit(bw).alias("bw"),
            F.lit(bh).alias("bh"),
        )
        for i, (bw, bh) in enumerate(bks)
    ])
    best = F.sort_array(cand)[0]
    return images.select(
        "image_id", "w", "h",
        best["bw"].alias("bucket_w"),
        best["bh"].alias("bucket_h"),
    )


ENTROPY_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("n_distinct", T.IntegerType(), True),
        T.StructField("entropy", T.DoubleType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def image_entropy(images: DataFrame) -> DataFrame:
    """Grayscale histogram entropy in nats — the flat/synthetic-image
    curation signal (a solid color scores 0, a busy natural image
    approaches ln 256 ~ 5.545; LAION-style pipelines gate on it next
    to the blur/size gates). One shuffle-free Arrow scan; the
    histogram is exact integers and the entropy is evaluated as
    ``ln(n) - sum(c*ln c)/n`` — the exact expression a SQL oracle
    replays (cross-engine drift ~1e-12, six orders below the 1e-6
    comparison grain used by the driver query)."""

    def fn(data, fmt):
        px = gray(data, fmt)
        c = np.bincount(px.ravel(), minlength=256).astype(np.float64)
        nz = c[c > 0]
        n = float(px.size)
        return {
            "n_px": int(px.size),
            "n_distinct": int(nz.size),
            "entropy": float(np.log(n) - float(np.sum(nz * np.log(nz))) / n),
        }

    return arrow_stage(
        images, ["image_id"], ["bytes", "fmt"], ENTROPY_SCHEMA, fn
    )


LETTERBOX_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("inner_w", T.IntegerType(), True),
        T.StructField("inner_h", T.IntegerType(), True),
        T.StructField("pad_left", T.IntegerType(), True),
        T.StructField("pad_top", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def letterbox_geometry(
    w: int, h: int, out_w: int, out_h: int
) -> tuple[int, int, int, int]:
    """Integer aspect-fit: (inner_w, inner_h, pad_left, pad_top).
    Wide-or-equal images (w*out_h >= h*out_w) fill the full width;
    tall images the full height — floor division, min size 1, center
    pad — so the geometry is exactly recomputable in SQL."""
    if w * out_h >= h * out_w:
        nw, nh = out_w, max(1, (h * out_w) // w)
    else:
        nw, nh = max(1, (w * out_h) // h), out_h
    return nw, nh, (out_w - nw) // 2, (out_h - nh) // 2


def letterbox_images(
    images: DataFrame,
    out_w: int = 64,
    out_h: int = 64,
    fill: int = 114,
) -> DataFrame:
    """Aspect-preserving resize + center pad to a fixed canvas (the
    YOLO/ViT letterbox batching transform). Geometry is pure integer
    arithmetic (``letterbox_geometry``), sampling is the shared anchor
    rule ``src = (dst*dim)//inner`` (same as resize_images), fill is a
    constant — every output pixel is closed-form over the source, so
    the full canvas is SQL-replayable. One Arrow scan, error-isolated,
    no shuffle; at 100 TB this is the standard pre-batch transform
    stage running entirely inside the decode pass."""

    def fn(data, fmt):
        px = gray(data, fmt)
        h, w = px.shape
        nw, nh, pl, pt = letterbox_geometry(w, h, out_w, out_h)
        canvas = np.full((out_h, out_w), fill, dtype=np.uint8)
        canvas[pt:pt + nh, pl:pl + nw] = block_mean_resize(px, nh, nw)
        return {
            **_png_row(canvas), "inner_w": nw, "inner_h": nh,
            "pad_left": pl, "pad_top": pt,
        }

    return arrow_stage(
        images, ["image_id"], ["bytes", "fmt"], LETTERBOX_SCHEMA, fn
    )


def corpus_pixel_stats(images: DataFrame) -> DataFrame:
    """Dataset normalization constants — the corpus-level mean/std a
    trainer bakes into its input transform (the ImageNet
    mean=0.485... step, computed over OUR corpus instead of assumed):
    one pass of exact int64 per-image sums (the image_stats scan),
    map-side-combined into a single global row. Quarantined
    (undecodable) rows are excluded, like every pixel-consuming stage.
    Derived floats use one fixed expression order — mean = px_sum /
    n_px, var = px_sq_sum / n_px - mean*mean, std = sqrt(var) — each
    step correctly rounded in IEEE double, so any engine replaying the
    same order from the same exact integers reproduces the bits.
    Scale shape: a single partial-aggregate reduction; no shuffle of
    anything wider than six numbers per partition."""
    st = image_stats(images).filter(F.col("err").isNull())
    g = st.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_px").alias("n_px"),
        F.sum("px_sum").alias("px_sum"),
        F.sum("px_sq_sum").alias("px_sq_sum"),
        F.min("px_min").alias("px_min"),
        F.max("px_max").alias("px_max"),
    )
    mean = F.col("px_sum") / F.col("n_px")
    var = F.col("px_sq_sum") / F.col("n_px") - mean * mean
    return g.select(
        "n_images", "n_px", "px_sum", "px_sq_sum", "px_min", "px_max",
        mean.alias("mean"), F.sqrt(var).alias("std"),
    )


def plan_epoch_augment(
    images: DataFrame, seed: int = 0, epoch: int = 0
) -> DataFrame:
    """Per-(image, epoch) augmentation decisions, decided JVM-side from
    md5 hex digits — reshuffle-stable, engine-independent (the
    epoch_shuffle / hash_sample key discipline; a new draw per epoch,
    the same draw on every run). Adds ``flip_h`` and ``rot180``
    (0/1): hex digit 1 parity and hex digit 2 parity of
    ``md5(image_id:seed:epoch)``. Pure projection — no shuffle, no
    Python."""
    key = md5_hex(F.col("image_id"), int(seed), int(epoch), sep=":")

    def hexd(i: int):
        return md5_int(key, i, 1).cast("int")

    return images.withColumn("flip_h", (hexd(1) % 2).cast("int")).withColumn(
        "rot180", (hexd(2) % 2).cast("int")
    )


AUGMENT_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("flip_h", T.IntegerType(), True),
        T.StructField("rot180", T.IntegerType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("m0", T.LongType(), True),
        T.StructField("mx", T.LongType(), True),
        T.StructField("my", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def augment_moments(
    images: DataFrame, seed: int = 0, epoch: int = 0
) -> DataFrame:
    """Apply the hash-decided per-epoch augmentation (flip_h then
    rot180) and emit position-sensitive integer image moments of the
    RESULT: m0 = sum(px), mx = sum(px*x), my = sum(px*y). m0 is
    invariant under flip/rotate (same pixel multiset) — mx/my are
    not, so they witness that the geometry was actually applied, not
    just planned. Exact int64 (<= 255 * 256^3), replayable closed-form
    by SQL via the source-coordinate map: flip XOR rot reads column
    w-1-x, rot reads row h-1-y. One decode scan, error-isolated."""
    planned = plan_epoch_augment(images, seed=seed, epoch=epoch)

    def fn(data, fmt, fl, rt):
        px = gray(data, fmt, np.int64)
        if fl:
            px = px[:, ::-1]
        if rt:
            px = np.rot90(px, 2)
        return moments(px)

    return arrow_stage(
        planned,
        ["image_id", "flip_h", "rot180"],
        ["bytes", "fmt", "flip_h", "rot180"],
        AUGMENT_SCHEMA,
        fn,
    )


def image_moments(
    images: DataFrame, carry_cols: "tuple[str, ...]" = ()
) -> DataFrame:
    """Position-sensitive integer image moments of whatever pixels the
    upstream stage produced: m0 = sum(px), mx = sum(px*x),
    my = sum(px*y) — exact int64, the standard witness that a geometry
    stage APPLIED its transform (m0 alone is flip/rotate-invariant and
    proves nothing; mx/my pin every pixel to its coordinate).
    ``carry_cols`` pass through untouched so transform parameters
    (crop windows, bucket keys) ride alongside their evidence. One
    Arrow decode scan, no shuffle, error-isolated (quarantined
    None-bytes rows yield err rows, never exceptions)."""
    carry = tuple(carry_cols)
    fields = [T.StructField("image_id", T.StringType(), False)]
    in_schema = {f.name: f.dataType for f in images.schema.fields}
    fields += [T.StructField(c, in_schema[c], True) for c in carry]
    fields += [
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("m0", T.LongType(), True),
        T.StructField("mx", T.LongType(), True),
        T.StructField("my", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
    schema = T.StructType(fields)

    def fn(data, fmt):
        return moments(gray(data, fmt, np.int64))

    return arrow_stage(
        images, ["image_id", *carry], ["bytes", "fmt"], schema, fn
    )


MIXUP_SCHEMA = T.StructType(
    [
        T.StructField("a_id", T.StringType(), False),
        T.StructField("b_id", T.StringType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("m0", T.LongType(), True),
        T.StructField("mx", T.LongType(), True),
        T.StructField("my", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def _pair_by_shape(
    images: DataFrame, seed: int = 0, epoch: int = 0
) -> DataFrame:
    """Deterministic sample pairing WITHIN each (w, h) shape class
    (mixup/cutmix need congruent tensors) via pack_batches(batch_size=2)
    on the per-epoch md5 permutation; the odd leftover per class is
    dropped (drop_partial). One shuffle co-locates each pair (join on
    the shape class + batch_idx). Returns
    (w, h, batch_idx, a_id, a_bytes, a_fmt, b_id, b_bytes, b_fmt)."""
    from .curation import pack_batches

    packed = pack_batches(
        images.select("image_id", "bytes", "fmt", "w", "h"),
        bucket_cols=("w", "h"),
        id_col="image_id",
        batch_size=2,
        seed=seed,
        epoch=epoch,
    )
    a = packed.filter(F.col("slot") == 0).select(
        "w", "h", "batch_idx",
        F.col("image_id").alias("a_id"),
        F.col("bytes").alias("a_bytes"),
        F.col("fmt").alias("a_fmt"),
    )
    b = packed.filter(F.col("slot") == 1).select(
        "w", "h", "batch_idx",
        F.col("image_id").alias("b_id"),
        F.col("bytes").alias("b_bytes"),
        F.col("fmt").alias("b_fmt"),
    )
    return a.join(b, ["w", "h", "batch_idx"])


def mixup_images(
    images: DataFrame, seed: int = 0, epoch: int = 0
) -> DataFrame:
    """Deterministic mixup pairing + integer blend — the
    sample-mixing augmentation (Zhang et al. 2018) at its lambda=1/2
    point, where the blend (pa + pb) // 2 stays exact integer
    arithmetic: pairing via ``_pair_by_shape`` (pack_batches(B=2) on
    the per-epoch md5 permutation), then a single Arrow stage decodes
    both sides and emits the blended image's integer moments (the
    augment_moments witness columns). Requires ``w``/``h`` columns on
    the input (every scan/source here carries them)."""
    pairs = _pair_by_shape(images, seed=seed, epoch=epoch)

    def fn(ab, af, bb, bf):
        pa, pb = _same_shape(gray(ab, af, np.int64), gray(bb, bf, np.int64))
        return moments((pa + pb) // 2)

    return arrow_stage(
        pairs, ["a_id", "b_id"], ["a_bytes", "a_fmt", "b_bytes", "b_fmt"],
        MIXUP_SCHEMA, fn,
    )


def rrc_geometry(
    w: int, h: int, d: "tuple[int, int, int, int]",
) -> tuple[int, int, int, int]:
    """Integer RandomResizedCrop window from four hex digits d0..d3
    (each 0..15): crop size spans [dim//2, dim] (the torchvision
    scale=(0.25, 1.0) area band, realized per-axis so everything stays
    integer), position spans the valid range — all floor arithmetic,
    exactly recomputable in SQL. Returns (x0, y0, cw, ch)."""
    cw = (w // 2) + (d[0] * (w - w // 2)) // 15
    ch = (h // 2) + (d[1] * (h - h // 2)) // 15
    x0 = (d[2] * (w - cw)) // 15
    y0 = (d[3] * (h - ch)) // 15
    return x0, y0, cw, ch


RRC_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("x0", T.IntegerType(), True),
        T.StructField("y0", T.IntegerType(), True),
        T.StructField("crop_w", T.IntegerType(), True),
        T.StructField("crop_h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def random_resized_crop(
    images: DataFrame,
    out_w: int = 32,
    out_h: int = 32,
    seed: int = 0,
    epoch: int = 0,
) -> DataFrame:
    """Deterministic RandomResizedCrop — the torchvision SSL staple,
    reshuffle-stable per (image, epoch): the crop window comes from
    four md5 hex digits of ``md5(image_id:seed:epoch)`` via
    ``rrc_geometry`` (a new window per epoch, the same window on every
    run/engine — no RNG state to ship to executors), then the window
    anchor-resizes to (out_h, out_w) with the shared
    ``src = x0 + (dst*crop)//out`` rule (resize_images / letterbox
    sampling). Every output pixel is closed-form over the source, so
    the full canvas is SQL-replayable. One Arrow decode scan, no
    shuffle, error-isolated."""

    def fn(iid, data, fmt):
        px = gray(data, fmt)
        h, w = px.shape
        d = md5_digits(iid, int(seed), int(epoch))[:4]
        x0, y0, cw, ch = rrc_geometry(w, h, d)
        yi = y0 + (np.arange(out_h)[:, None] * ch) // out_h
        xi = x0 + (np.arange(out_w)[None, :] * cw) // out_w
        return {
            **_png_row(px[yi, xi]), "x0": x0, "y0": y0,
            "crop_w": cw, "crop_h": ch,
        }

    return arrow_stage(
        images, ["image_id"], ["image_id", "bytes", "fmt"], RRC_SCHEMA, fn
    )


def cutmix_geometry(
    w: int, h: int, d: "tuple[int, int, int, int]",
) -> tuple[int, int, int, int]:
    """Integer CutMix patch window from four hex digits d0..d3 (each
    0..15): patch size spans [dim//4, dim//4 + dim//2] (the Beta-ish
    mid-range area band, realized per-axis so everything stays
    integer), position spans the valid range — all floor arithmetic
    over non-negative ints, exactly recomputable in SQL. Returns
    (x0, y0, cw, ch)."""
    cw = (w // 4) + (d[0] * (w // 2)) // 15
    ch = (h // 4) + (d[1] * (h // 2)) // 15
    x0 = (d[2] * (w - cw)) // 15
    y0 = (d[3] * (h - ch)) // 15
    return x0, y0, cw, ch


CUTMIX_SCHEMA = T.StructType(
    [
        T.StructField("a_id", T.StringType(), False),
        T.StructField("b_id", T.StringType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("x0", T.IntegerType(), True),
        T.StructField("y0", T.IntegerType(), True),
        T.StructField("cut_w", T.IntegerType(), True),
        T.StructField("cut_h", T.IntegerType(), True),
        T.StructField("patch_area", T.LongType(), True),
        T.StructField("m0", T.LongType(), True),
        T.StructField("mx", T.LongType(), True),
        T.StructField("my", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def cutmix_images(
    images: DataFrame, seed: int = 0, epoch: int = 0
) -> DataFrame:
    """Deterministic CutMix (Yun et al. 2019): pairing via
    ``_pair_by_shape`` (the mixup co-location), then b's pixels replace
    a's inside a rectangular patch whose window comes from four md5
    hex digits of ``md5(a_id:b_id:seed:epoch)`` via ``cutmix_geometry``
    — reshuffle-stable per (pair, epoch), no RNG state shipped to
    executors. The composite is pure pixel selection (no arithmetic on
    values), so its m0/mx/my moments replay closed-form in SQL with one
    CASE over the window; ``patch_area`` carries the CutMix lambda
    (lam = 1 - patch_area/(w*h)) as exact integers. One Arrow stage,
    error-isolated."""
    pairs = _pair_by_shape(images, seed=seed, epoch=epoch)

    def fn(aid, bid, ab, af, bb, bf):
        pa, pb = _same_shape(gray(ab, af, np.int64), gray(bb, bf, np.int64))
        h, w = pa.shape
        d = md5_digits(aid, bid, int(seed), int(epoch))[:4]
        x0, y0, cw, ch = cutmix_geometry(w, h, d)
        px = pa.copy()
        px[y0 : y0 + ch, x0 : x0 + cw] = pb[y0 : y0 + ch, x0 : x0 + cw]
        return {
            "x0": x0, "y0": y0, "cut_w": cw, "cut_h": ch,
            "patch_area": int(cw) * int(ch), **moments(px),
        }

    return arrow_stage(
        pairs, ["a_id", "b_id"],
        ["a_id", "b_id", "a_bytes", "a_fmt", "b_bytes", "b_fmt"],
        CUTMIX_SCHEMA, fn,
    )


JITTER_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("bright", T.IntegerType(), True),
        T.StructField("contrast", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def color_jitter(
    images: DataFrame, seed: int = 0, epoch: int = 0
) -> DataFrame:
    """Deterministic brightness/contrast jitter — the color-jitter
    augmentation restricted to the two channels that exist in
    grayscale, kept EXACTLY integer so SQL replays every pixel:
    brightness delta ``bright = d0*4 - 30`` (-30..+30) and contrast
    numerator ``contrast = 8 + d1`` over a fixed /16 denominator
    (0.5x..1.4375x) come from md5 hex digits of
    ``md5(image_id:seed:epoch)``; each pixel maps to
    ``clamp((px*contrast)//16 + 128 - (128*contrast)//16 + bright,
    0, 255)`` — contrast pivots about mid-gray with BOTH floor
    divisions over non-negative ints (negative floor/truncate division
    differs between Python and SQL engines; this form never produces
    one). One Arrow decode scan, no shuffle, error-isolated; verify
    downstream with ``image_moments(carry_cols=('bright','contrast'))``."""

    def fn(iid, data, fmt):
        px = gray(data, fmt, np.int64)
        k = md5_digits(iid, int(seed), int(epoch))
        bright = k[0] * 4 - 30
        contrast = 8 + k[1]
        out = (px * contrast) // 16 + 128 - (128 * contrast) // 16 + bright
        return {
            **_png_row(np.clip(out, 0, 255)),
            "bright": bright, "contrast": contrast,
        }

    return arrow_stage(
        images, ["image_id"], ["image_id", "bytes", "fmt"], JITTER_SCHEMA, fn
    )


def _quad_by_shape(
    images: DataFrame, seed: int = 0, epoch: int = 0
) -> DataFrame:
    """Deterministic 4-sample grouping WITHIN each (w, h) shape class —
    ``_pair_by_shape`` at batch_size=4 (mosaic needs four congruent
    tensors); trailing partials per class are dropped. One shuffle
    co-locates each quad."""
    from .curation import pack_batches

    packed = pack_batches(
        images.select("image_id", "bytes", "fmt", "w", "h"),
        bucket_cols=("w", "h"),
        id_col="image_id",
        batch_size=4,
        seed=seed,
        epoch=epoch,
    )
    out = None
    for slot, tag in enumerate("abcd"):
        side = packed.filter(F.col("slot") == slot).select(
            "w", "h", "batch_idx",
            F.col("image_id").alias(f"{tag}_id"),
            F.col("bytes").alias(f"{tag}_bytes"),
            F.col("fmt").alias(f"{tag}_fmt"),
        )
        out = side if out is None else out.join(
            side, ["w", "h", "batch_idx"])
    return out


def mosaic_geometry(w: int, h: int, d0: int, d1: int) -> tuple[int, int]:
    """Integer mosaic center from two md5 hex digits: each axis spans
    the middle half of the canvas ([dim//4, dim//4 + dim//2], the YOLO
    mosaic center jitter band), all floor arithmetic over non-negative
    ints — exactly recomputable in SQL."""
    cx = (w // 4) + (d0 * (w // 2)) // 15
    cy = (h // 4) + (d1 * (h // 2)) // 15
    return cx, cy


MOSAIC_SCHEMA = T.StructType(
    [
        T.StructField("a_id", T.StringType(), False),
        T.StructField("b_id", T.StringType(), False),
        T.StructField("c_id", T.StringType(), False),
        T.StructField("d_id", T.StringType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("cx", T.IntegerType(), True),
        T.StructField("cy", T.IntegerType(), True),
        T.StructField("m0", T.LongType(), True),
        T.StructField("mx", T.LongType(), True),
        T.StructField("my", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def mosaic_images(
    images: DataFrame, seed: int = 0, epoch: int = 0
) -> DataFrame:
    """Deterministic 4-image mosaic (the YOLOv4 augmentation,
    Bochkovskiy et al. 2020): quads co-located by ``_quad_by_shape``,
    the canvas split at a center drawn from two md5 hex digits of the
    QUAD key ``md5(a:b:c:d:seed:epoch)`` via ``mosaic_geometry``, and
    each quadrant takes its parent's pixels verbatim — pure pixel
    selection, so one SQL CASE over (x < cx, y < cy) replays every
    output pixel; m0/mx/my witness the applied geometry (m0 alone
    would not distinguish parents; the position moments do). One
    Arrow stage, error-isolated."""
    quads = _quad_by_shape(images, seed=seed, epoch=epoch)

    tags = "abcd"

    def fn(*v):
        ims = [gray(v[4 + 2 * i], v[5 + 2 * i], np.int64) for i in range(4)]
        if len({im.shape for im in ims}) != 1:
            raise ValueError("shape mismatch inside quad")
        h, w = ims[0].shape
        k = md5_digits(*v[:4], int(seed), int(epoch))
        cx, cy = mosaic_geometry(w, h, k[0], k[1])
        px = ims[3].copy()
        px[:cy, :cx] = ims[0][:cy, :cx]
        px[:cy, cx:] = ims[1][:cy, cx:]
        px[cy:, :cx] = ims[2][cy:, :cx]
        return {"cx": cx, "cy": cy, **moments(px)}

    ids = [f"{t}_id" for t in tags]
    return arrow_stage(
        quads, ids,
        ids + [f"{t}_{c}" for t in tags for c in ("bytes", "fmt")],
        MOSAIC_SCHEMA, fn,
    )


MAE_MASK_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("n_patches", T.IntegerType(), True),
        T.StructField("n_masked", T.IntegerType(), True),
        T.StructField("visible_sum", T.LongType(), True),
        T.StructField("masked_sum", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def mae_mask(
    images: DataFrame,
    patch: int = 16,
    mask_num: int = 3,
    mask_den: int = 4,
    seed: int = 0,
    epoch: int = 0,
) -> DataFrame:
    """Deterministic MAE patch masking (He et al. 2022): tile each
    image into ``patch x patch`` full patches (ragged remainders drop,
    the tile_images rule), rank patches by
    ``md5(image_id:seed:epoch:patch_idx)`` and mask EXACTLY
    ``(n_patches * mask_num) // mask_den`` of them — the first in rank
    order — per (image, epoch). Exact-count realization (never
    expectation-only), reshuffle-stable, no RNG state on executors:
    the loader can recompute any epoch's mask set independently on any
    rank. The visible/masked pixel sums witness the exact mask set
    (position-sensitive: a swapped patch changes both sums). One Arrow
    decode stage, error-isolated."""
    if not 0 <= mask_num <= mask_den or mask_den < 1:
        raise ValueError(f"bad mask ratio {mask_num}/{mask_den}")

    def fn(iid, data, fmt):
        px = gray(data, fmt, np.int64)
        h, w = px.shape
        gy, gx = h // patch, w // patch
        n = gy * gx
        if n == 0:
            raise ValueError("image smaller than one patch")
        sums = (
            px[: gy * patch, : gx * patch]
            .reshape(gy, patch, gx, patch)
            .sum(axis=(1, 3))
            .reshape(-1)
        )
        order = sorted(
            range(n),
            key=lambda j: (md5_digits(iid, int(seed), int(epoch), j), j),
        )
        m = (n * mask_num) // mask_den
        msum = int(sum(int(sums[j]) for j in order[:m]))
        return {
            "n_patches": n, "n_masked": m,
            "visible_sum": int(sums.sum()) - msum, "masked_sum": msum,
        }

    return arrow_stage(
        images, ["image_id"], ["image_id", "bytes", "fmt"], MAE_MASK_SCHEMA, fn
    )


PHOTOMETRIC_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("sol", T.IntegerType(), True),
        T.StructField("sol_thr", T.IntegerType(), True),
        T.StructField("post_bits", T.IntegerType(), True),
        T.StructField("inv", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def photometric_images(
    images: DataFrame, seed: int = 0, epoch: int = 0
) -> DataFrame:
    """Deterministic photometric augmentation — the solarize /
    posterize / invert trio of RandAugment-style policies (reference
    scope: the corpus-side augmentation pass a training pipeline runs
    over the decode stage; the reference leaves augmentation to its
    caller, rp_extract.py consumes un-augmented frames), each kept
    EXACTLY integer so SQL replays every output pixel:

    - decisions come from md5 hex digits of
      ``md5(image_id:seed:epoch:pm)`` (the epoch_shuffle key
      discipline — reshuffle-stable, engine-independent, a fresh draw
      per epoch; the ``:pm`` suffix decorrelates from the geometric
      plan of ``plan_epoch_augment`` at equal seeds): digit 1 parity
      → solarize on/off, digits 2-3 → threshold 0..255, digit 4
      parity → posterize on/off, digit 5 parity → 3 vs 4 kept bits,
      digit 6 parity → invert on/off;
    - applied in a FIXED order (solarize → posterize → invert) so the
      oracle is one CASE chain: solarize maps v >= thr to 255 - v;
      posterize with b kept bits maps v to (v // 2**(8-b)) * 2**(8-b)
      (floor over non-negative ints only — the color_jitter rule);
      invert maps v to 255 - v.

    One Arrow decode scan, no shuffle, error-isolated; verify
    downstream with ``image_moments(carry_cols=('sol', 'sol_thr',
    'post_bits', 'inv'))`` — position-sensitive moments witness the
    applied mapping pixel-by-pixel."""

    def fn(iid, data, fmt):
        out = gray(data, fmt, np.int64)
        k = md5_digits(iid, int(seed), int(epoch), "pm")
        sol = k[0] % 2
        sol_thr = k[1] * 16 + k[2]
        post_bits = (3 + k[4] % 2) if k[3] % 2 else 0
        inv = k[5] % 2
        if sol:
            out = np.where(out >= sol_thr, 255 - out, out)
        if post_bits:
            m = 1 << (8 - post_bits)
            out = (out // m) * m
        if inv:
            out = 255 - out
        return {
            **_png_row(out), "sol": sol, "sol_thr": sol_thr,
            "post_bits": post_bits, "inv": inv,
        }

    return arrow_stage(
        images, ["image_id"], ["image_id", "bytes", "fmt"],
        PHOTOMETRIC_SCHEMA, fn,
    )


BORDER_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("border_top", T.IntegerType(), True),
        T.StructField("border_bottom", T.IntegerType(), True),
        T.StructField("border_left", T.IntegerType(), True),
        T.StructField("border_right", T.IntegerType(), True),
        T.StructField("crop_w", T.IntegerType(), True),
        T.StructField("crop_h", T.IntegerType(), True),
        T.StructField("m0_crop", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def detect_borders(images: DataFrame) -> DataFrame:
    """Constant-border detection — the LAION-style curation stage that
    finds letterbox bars / solid frames around the real content so a
    downstream crop recovers the unpadded image (the inverse of
    ``letterbox_images``; reference scope: corpus curation the
    reference leaves to its caller). Exact integer rule, fully
    SQL-replayable:

    - a ROW is border iff min(row) == max(row) (constant); border_top
      = the count of leading constant rows (h if every row is
      constant), border_bottom = trailing constant rows below the last
      non-constant one;
    - a COLUMN is judged within the surviving row band only (vertical
      bars of a letterboxed canvas are constant there even though the
      full column crosses the horizontal bars): border_left /
      border_right by the same leading/trailing rule;
    - degenerate cases pin the contract: all rows constant →
      (h, 0, 0, 0) with an empty 0x0 crop; all in-band columns
      constant → border_left = w, border_right = 0, crop_w = 0;
    - ``m0_crop`` (exact int64 pixel sum of the cropped region, 0 when
      empty) witnesses WHICH pixels survived, not just how many.

    One Arrow decode scan, no shuffle, error-isolated (quarantined
    None-bytes rows yield err rows). At 100 TB this runs inside the
    decode pass; only 10 small integers per image leave the stage."""

    def fn(data, fmt):
        px = gray(data, fmt, np.int64)
        h, w = px.shape
        nc_rows = np.nonzero(px.min(axis=1) != px.max(axis=1))[0]
        if nc_rows.size == 0:
            return {
                "w": w, "h": h, "border_top": h, "border_bottom": 0,
                "border_left": 0, "border_right": 0, "crop_w": 0,
                "crop_h": 0, "m0_crop": 0,
            }
        top = int(nc_rows[0])
        bottom = int(h - 1 - nc_rows[-1])
        band = px[top:h - bottom]
        nc_cols = np.nonzero(band.min(axis=0) != band.max(axis=0))[0]
        if nc_cols.size == 0:
            return {
                "w": w, "h": h, "border_top": top, "border_bottom": bottom,
                "border_left": w, "border_right": 0, "crop_w": 0,
                "crop_h": h - top - bottom, "m0_crop": 0,
            }
        left = int(nc_cols[0])
        right = int(w - 1 - nc_cols[-1])
        return {
            "w": w, "h": h, "border_top": top, "border_bottom": bottom,
            "border_left": left, "border_right": right,
            "crop_w": w - left - right, "crop_h": h - top - bottom,
            "m0_crop": int(band[:, left:w - right].sum()),
        }

    return arrow_stage(
        images, ["image_id"], ["bytes", "fmt"], BORDER_SCHEMA, fn
    )


ERASE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("x0", T.IntegerType(), True),
        T.StructField("y0", T.IntegerType(), True),
        T.StructField("erase_w", T.IntegerType(), True),
        T.StructField("erase_h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def random_erasing(
    images: DataFrame, seed: int = 0, epoch: int = 0, fill: int = 128
) -> DataFrame:
    """Deterministic Random Erasing (Zhong et al. 2020, the cutout
    regularization pass a loader applies per epoch; reference scope:
    augmentation is caller-side for rp_extract.py, this is the
    corpus-scale equivalent): a single rectangular window per image is
    overwritten with the constant ``fill``. The window derives from
    four md5 hex digits of ``md5(image_id:seed:epoch:re)`` through
    ``cutmix_geometry`` (size in [dim//4, 3·dim//4] per axis, position
    across the valid range — all floor arithmetic over non-negative
    ints), so epoch N is reshuffle-stable and every output pixel is one
    SQL CASE over the coordinates: v = fill inside the window, the
    source pixel outside. Witness downstream with ``image_moments(
    carry_cols=('x0','y0','erase_w','erase_h'))`` — position-sensitive
    moments pin the erased window pixel-by-pixel.

    One Arrow decode scan, no shuffle, error-isolated."""
    if not 0 <= int(fill) <= 255:
        raise ValueError("fill must be a byte value")

    def fn(iid, data, fmt):
        out = gray(data, fmt, np.int64)
        h, w = out.shape
        d = md5_digits(iid, int(seed), int(epoch), "re")[:4]
        x0, y0, ew, eh = cutmix_geometry(w, h, d)
        out[y0:y0 + eh, x0:x0 + ew] = int(fill)
        return {
            **_png_row(out), "x0": x0, "y0": y0,
            "erase_w": ew, "erase_h": eh,
        }

    return arrow_stage(
        images, ["image_id"], ["image_id", "bytes", "fmt"], ERASE_SCHEMA, fn
    )


PAIR_SSE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("sse", T.LongType(), True),
        T.StructField("mse_u", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def image_pair_sse(
    a: DataFrame, b: DataFrame, grain: int = 1_000_000
) -> DataFrame:
    """Exact distortion audit between two aligned image tables — the
    measurement that quantifies what an augmentation / re-encode stage
    actually did to the pixels (the PSNR numerator, kept EXACT: sse is
    an int64 sum of squared byte differences, ``mse_u = sse·grain div
    n_px`` one deferred floor division; the log-scale PSNR itself is
    left to the caller because log10 is the one non-replayable step).

    Scale shape: ONE id-keyed equi join (each side's bytes cross the
    exchange exactly once — the join is on the narrow key, AQE picks
    broadcast when a side is small), then a single Arrow stage decodes
    both blobs row-locally. Mismatched dimensions are err rows, not
    exceptions (per-record isolation)."""
    g = int(grain)
    ja = a.select(
        "image_id",
        F.col("bytes").alias("__ab"),
        F.col("fmt").alias("__af"),
    )
    jb = b.select(
        "image_id",
        F.col("bytes").alias("__bb"),
        F.col("fmt").alias("__bf"),
    )
    # FULL outer: an image present on only one side is an err row, not
    # a silently smaller audit sample (per-record isolation covers
    # missing counterparts, not just decode failures)
    j = ja.join(jb, "image_id", "full")

    def fn(ab, af, bb, bf):
        # after the full join an absent side has NULL fmt; a present
        # row with NULL bytes is quarantined by gray()
        if af is None or bf is None:
            raise ValueError(f"missing in {'a' if af is None else 'b'}")
        pa, pb = _same_shape(gray(ab, af, np.int64), gray(bb, bf, np.int64))
        h, w = pa.shape
        n_px = int(pa.size)
        sse = int(((pa - pb) ** 2).sum())
        return {
            "w": w, "h": h, "n_px": n_px, "sse": sse,
            "mse_u": (sse * g) // n_px,
        }

    return arrow_stage(
        j, ["image_id"], ["__ab", "__af", "__bb", "__bf"], PAIR_SSE_SCHEMA, fn
    )


AUTOCONTRAST_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("lo", T.IntegerType(), True),
        T.StructField("hi", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def image_autocontrast(images: DataFrame) -> DataFrame:
    """Exact-integer autocontrast (the PIL/RandAugment cutoff=0 form;
    sibling of image_equalize): stretch each image's value range
    [lo, hi] = [min, max] linearly onto [0, 255] with ONE floor
    division per pixel — ``v' = (v - lo) * 255 // (hi - lo)`` over
    non-negative ints only (the color_jitter rule), identity when the
    image is flat (hi == lo). Every output pixel is recomputable in
    SQL from the per-image min/max, so the transform oracles end to
    end (the equalize LUT precedent).

    One Arrow decode scan, no shuffle, error-isolated."""

    def fn(data, fmt):
        px = gray(data, fmt, np.int64)
        lo = int(px.min())
        hi = int(px.max())
        out = ((px - lo) * 255) // (hi - lo) if hi > lo else px
        return {**_png_row(out), "lo": lo, "hi": hi}

    return arrow_stage(
        images, ["image_id"], ["bytes", "fmt"], AUTOCONTRAST_SCHEMA, fn
    )


# ------------------------------------------------- D4-orbit canonical hash

ORBIT_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("ohash", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def orbit_dhash64(gray: np.ndarray) -> int:
    """Augmentation-invariant perceptual hash: the minimum (unsigned)
    dHash over the 8 dihedral transforms of the image (4 rotations x
    optional horizontal flip). Because the D4 orbit of a transformed
    copy is the SAME set of arrays, a flipped or rotated duplicate
    maps to bit-identical canonical hashes — exact group closure, no
    Hamming tolerance needed for pure geometric copies."""
    best = None
    for flip in (False, True):
        a = gray[:, ::-1] if flip else gray
        for k in range(4):
            u = dhash64(np.rot90(a, k)) & 0xFFFFFFFFFFFFFFFF
            if best is None or u < best:
                best = u
    return best - (1 << 64) if best >= 1 << 63 else best


def orbit_hashes(images: DataFrame) -> DataFrame:
    """(image_id, ohash, err) — one shuffle-free Arrow scan computing
    the D4-canonical dHash per image (8 cheap 8x9 anchor resizes per
    decode; the decode dominates)."""

    def fn(data, fmt):
        return {"ohash": orbit_dhash64(gray(data, fmt))}

    return arrow_stage(
        images, ["image_id"], ["bytes", "fmt"], ORBIT_SCHEMA, fn
    )


def orbit_dedup(images: DataFrame) -> DataFrame:
    """Geometric-duplicate detection: images whose D4-canonical dHash
    collides group together; the lexicographically-smallest image_id
    keeps the group. Returns (image_id, obits, keeper_id, is_dup) —
    hash scan is shuffle-free, the grouping shuffles only the 8-byte
    canonical hashes (never image bytes)."""
    hs = orbit_hashes(images).filter(F.col("err").isNull())
    keep = hs.groupBy("ohash").agg(F.min("image_id").alias("keeper_id"))
    return (
        hs.join(keep, "ohash")
        .select(
            "image_id",
            F.lpad(F.bin(F.col("ohash")), 64, "0").alias("obits"),
            "keeper_id",
            (F.col("image_id") != F.col("keeper_id")).alias("is_dup"),
        )
    )


def best_of_burst(images: DataFrame, group_col: str = "burst_id") -> DataFrame:
    """Sharpest-image-per-group selection — burst dedup: a capture
    burst (or a crawl's repeated variants of one asset) keeps only the
    least-blurred member, ranked by the integer Laplacian energy
    ``lap_sq_sum`` from :func:`image_gradients` with image_id as the
    deterministic tiebreak. Raw total energy is the right rank within
    a burst (same camera, same dims); normalize sizes upstream when
    groups mix resolutions.

    Scale path: the Arrow gradient stage is embarrassingly parallel,
    the argmax is one groupBy min(struct(-energy, id)) — no window, no
    per-group sort; decode errors quarantine (never silently win).
    Returns (group, image_id, lap_sq_sum, n_interior, n_candidates).
    """
    g = image_gradients(images).filter(F.col("err").isNull())
    j = images.select(group_col, "image_id").join(
        g.select("image_id", "lap_sq_sum", "n_interior"), "image_id"
    )
    pick = j.groupBy(group_col).agg(
        F.min(
            F.struct(
                (-F.col("lap_sq_sum")).alias("__neg"),
                F.col("image_id").alias("image_id"),
                F.col("lap_sq_sum").alias("lap_sq_sum"),
                F.col("n_interior").alias("n_interior"),
            )
        ).alias("__b"),
        F.count(F.lit(1)).alias("n_candidates"),
    )
    return pick.select(
        group_col,
        F.col("__b.image_id").alias("image_id"),
        F.col("__b.lap_sq_sum").alias("lap_sq_sum"),
        F.col("__b.n_interior").alias("n_interior"),
        "n_candidates",
    )


META_AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("decl_w", T.IntegerType(), True),
        T.StructField("decl_h", T.IntegerType(), True),
        T.StructField("real_w", T.IntegerType(), True),
        T.StructField("real_h", T.IntegerType(), True),
        T.StructField("meta_ok", T.IntegerType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def audit_image_meta(images: DataFrame) -> DataFrame:
    """Declared-vs-decoded metadata audit — the ingest check that
    catches corrupted manifests and transcoding bugs (a model trained
    on wrong aspect metadata letterboxes garbage). Decodes each image
    and compares the catalog's (w, h) columns against the real pixel
    dimensions; decode failures quarantine with meta_ok NULL (a row
    that cannot decode is a different defect class than a lying
    manifest). Arrow stage, embarrassingly parallel; only the verdict
    columns leave it."""

    def fn(data, fmt, dw, dh):
        rh, rw = gray(data, fmt).shape
        return {"real_w": rw, "real_h": rh, "meta_ok": int(dw == rw and dh == rh)}

    decl = images.select(
        "image_id", "bytes", "fmt",
        F.col("w").alias("decl_w"), F.col("h").alias("decl_h"),
    )
    return arrow_stage(
        decl, ["image_id", "decl_w", "decl_h"],
        ["bytes", "fmt", "decl_w", "decl_h"], META_AUDIT_SCHEMA, fn,
    )


