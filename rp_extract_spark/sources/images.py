"""Deterministic synthetic image+caption tables (FIXTURES.md F1-F3).

The authoritative input shape comes from BASELINE.json ``input_hint``:
``(image_id string, bytes binary, w int, h int, fmt string,
caption string, phash bigint)`` plus the temporal columns
``entity_id``/``ts`` that drive the as-of/window layer.

Generation is **distributed**: rows are synthesized on executors via
``mapInPandas`` over ``spark.range(n)``, seeded per row id, so the same
(id → row) mapping holds at any partitioning and any scale — no
driver-side materialization, no wall-clock, no external data. This is
the scale path: synthesizing 10^8 rows is an embarrassingly parallel
map over a range scan.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..codecs import encode_jpeg, encode_lossy, encode_png

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

CAPTION_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("caption_ts", T.TimestampType(), False),
        T.StructField("caption", T.StringType(), False),
    ]
)

_BASE_TS = np.datetime64("2024-01-01T00:00:00")
_W_CYCLE = [64, 96, 128, 256]
_H_CYCLE = [48, 64, 128]
_WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel"]


def _h(*parts: int) -> int:
    """Deterministic 64-bit hash of integers (stable across processes,
    unlike Python's salted hash())."""
    m = hashlib.blake2b(",".join(map(str, parts)).encode(), digest_size=8)
    return int.from_bytes(m.digest(), "big")


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (no scipy in this container)."""
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    d = np.cos(np.pi * (2 * x + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    d[0] /= np.sqrt(2.0)
    return d


_DCT32 = _dct_matrix(32)


def compute_phash(gray: np.ndarray) -> int:
    """8x8 DCT perceptual hash (public pHash construction): block-mean
    resize to 32x32, 2-D DCT, median-threshold the top-left 8x8 minus
    DC → 64-bit signature."""
    h, w = gray.shape
    # block-mean resize to 32x32 via index binning
    yi = (np.arange(32)[:, None] * h) // 32
    xi = (np.arange(32)[None, :] * w) // 32
    small = gray[yi, xi].astype(np.float64)
    dct = _DCT32 @ small @ _DCT32.T
    block = dct[:8, :8].flatten()[1:]  # drop DC
    bits = block > np.median(block)
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    # fold into signed int64
    return val - (1 << 64) if val >= (1 << 63) else val


def _entity_count(n: int) -> int:
    return max(n // 50, 1)


def _ts_offsets(ent: int, k: int) -> int:
    """Seconds offset of the k-th image of an entity. Deterministic
    prefix sum of per-step gaps; mixes short gaps (5 min), long gaps
    (2 h, beyond any session threshold) and exact duplicates (gap 0,
    pins the as-of tie rule)."""
    total = 0
    for j in range(1, k + 1):
        r = _h(ent, j) % 10
        if r < 6:
            gap = 300
        elif r < 9:
            gap = 7200
        else:
            gap = 0  # duplicate timestamp
        total += gap
    return total


def _entity_of(i: int, n_ent: int, hot_entity_fraction: float, seed: int) -> tuple[int, int]:
    """Row id → (entity, k-th image of that entity). With
    ``hot_entity_fraction`` > 0, that share of rows is rerouted to
    entity 0 (FIXTURES.md F2: hot entities for skew tests); k stays a
    deterministic per-entity counter."""
    if hot_entity_fraction and (_h(seed, i, 4) % 1000) < int(hot_entity_fraction * 1000):
        # dense per-hot-row counter: row i is (roughly) the
        # (i * fraction)-th hot row; exact density is irrelevant, only
        # determinism and monotonicity in i matter for the timeline
        return 0, i
    return i % n_ent, i // n_ent


@lru_cache(maxsize=None)
def _sin_row(w: int, p: int) -> np.ndarray:
    # identical to 60 * np.sin(2 * np.pi * xx / p) for one mgrid row
    return 60 * np.sin(2 * np.pi * np.arange(w) / p)


@lru_cache(maxsize=None)
def _cos_col(h: int, p: int) -> np.ndarray:
    return 40 * np.cos(2 * np.pi * np.arange(h) / p)


def _make_image_batch(ids: np.ndarray, n_total: int, seed: int, lossy_fraction: float,
                      hot_phash_fraction: float, hot_entity_fraction: float = 0.0,
                      ) -> pd.DataFrame:
    n_ent = _entity_count(n_total)
    cols: dict[str, list] = {
        "image_id": [], "bytes": [], "w": [], "h": [], "fmt": [],
        "caption": [], "phash": [], "entity_id": [], "ts": [],
    }
    for i in ids:
        i = int(i)
        rng = np.random.default_rng(seed + i)
        w = _W_CYCLE[i % len(_W_CYCLE)]
        h = _H_CYCLE[i % len(_H_CYCLE)]
        # structured content: smooth gradient + sinusoid + noise. The
        # two trig terms depend only on (dim, period) — memoized 1-D
        # rows broadcast to the same float64 sums as the old mgrid
        # form (identical op order), computed once per (w|h, period)
        # instead of once per image (round 6)
        img = (
            127.5
            + _sin_row(w, 8 + i % 23)[None, :]
            + _cos_col(h, 5 + i % 17)[:, None]
            + rng.normal(0, 25, (h, w))
        )
        px = np.clip(img, 0, 255).astype(np.uint8)
        lossy = (_h(seed, i, 1) % 1000) < int(lossy_fraction * 1000)
        if lossy:
            # every 8th lossy row carries a REAL baseline JPEG (full
            # entropy coding, codecs/jpeg.py) so the pipeline exercises
            # the production decode path end-to-end; the rest use the
            # fast LQ01 fixture codec to keep 30k-image synthesis cheap
            data = encode_jpeg(px, 97) if i % 8 == 0 else encode_lossy(px)
        else:
            data = encode_png(px)
        phash = compute_phash(px.astype(np.float64))
        if hot_phash_fraction and (_h(seed, i, 2) % 1000) < int(hot_phash_fraction * 1000):
            phash = 0x5A5A5A5A  # hot key for skew tests
        ent, k = _entity_of(i, n_ent, hot_entity_fraction, seed)
        if hot_entity_fraction and ent == 0 and k >= n_ent:
            # hot-entity rows use a closed-form strictly-increasing
            # timeline (the O(k) prefix sum would be quadratic here)
            offset = 86_400 + k * 60
        else:
            offset = _ts_offsets(ent, k)
        ts = _BASE_TS + np.timedelta64(offset, "s")
        cols["image_id"].append(f"img{i:08d}")
        cols["bytes"].append(data)
        cols["w"].append(w)
        cols["h"].append(h)
        cols["fmt"].append("jpeg" if lossy else "png")
        cols["caption"].append(f"caption {i} {_WORDS[i % len(_WORDS)]}")
        cols["phash"].append(phash)
        cols["entity_id"].append(f"e{ent:05d}")
        cols["ts"].append(pd.Timestamp(ts))
    return pd.DataFrame(cols)


def images_df(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    lossy_fraction: float = 0.2,
    hot_phash_fraction: float = 0.0,
    hot_entity_fraction: float = 0.0,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic image table of exactly the input_hint
    shape (+ entity_id/ts)."""
    n_total = n

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b):
                yield _make_image_batch(
                    b["id"].values, n_total, seed, lossy_fraction,
                    hot_phash_fraction, hot_entity_fraction,
                )

    # ~64 images per partition, capped: enough tasks to keep every core
    # busy locally; on a real cluster the cap scales with executor count
    rng_df = spark.range(0, n, numPartitions=partitions or min(max(n // 64, 1), 1024))
    return rng_df.mapInPandas(gen, IMAGE_SCHEMA)


def captions_df(spark: SparkSession, n_images: int, seed: int = 42,
                per_entity: int = 40) -> DataFrame:
    """Caption timeline (FIXTURES F3): per entity a set of caption
    events at deterministic times straddling the image timestamps —
    strictly-before, exactly-equal, and strictly-after rows (the last
    must never surface through the as-of join: leakage property)."""
    n_ent = _entity_count(n_images)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for eid in b["id"].values:
                ent = int(eid)
                for c in range(per_entity):
                    # anchor near the entity's image stream: pick an
                    # image index k and offset −10 min / 0 / +2 min
                    k = _h(seed, ent, c, 3) % max(n_images // n_ent, 1)
                    anchor = _ts_offsets(ent, int(k))
                    mode = c % 3
                    off = -600 if mode == 0 else (0 if mode == 1 else 120)
                    ts = _BASE_TS + np.timedelta64(anchor + off, "s")
                    rows.append(
                        {
                            "entity_id": f"e{ent:05d}",
                            "caption_ts": pd.Timestamp(ts),
                            "caption": f"cap-e{ent}-{anchor + off}",
                        }
                    )
            df = pd.DataFrame(rows)
            # keep (entity_id, caption_ts) unique, deterministic winner
            df = (
                df.sort_values(["entity_id", "caption_ts", "caption"])
                .drop_duplicates(["entity_id", "caption_ts"], keep="last")
            )
            yield df

    rng_df = spark.range(0, n_ent, numPartitions=min(max(n_ent // 32, 1), 32))
    return rng_df.mapInPandas(gen, CAPTION_SCHEMA)


def formula_images_df(spark: SparkSession, n: int) -> DataFrame:
    """Closed-form pixel images for SQL-oracled image queries: pixel
    (y, x) of image ``i`` is ``(i*31 + x*7 + y*13) % 256`` — exactly
    recomputable by any SQL engine with integer arithmetic, unlike the
    rng-noise images of ``images_df``. Encoded as real PNGs so the
    decode → transform → encode pipeline is exercised end to end;
    dimensions follow the same ``_W_CYCLE``/``_H_CYCLE`` as the main
    fixture. Distributed generation, same scale path as images_df."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"].values:
                i = int(i)
                w = _W_CYCLE[i % len(_W_CYCLE)]
                h = _H_CYCLE[i % len(_H_CYCLE)]
                yy, xx = np.mgrid[0:h, 0:w]
                px = ((i * 31 + xx * 7 + yy * 13) % 256).astype(np.uint8)
                rows.append(
                    {
                        "image_id": f"img{i:08d}",
                        "bytes": encode_png(px),
                        "w": w,
                        "h": h,
                        "fmt": "png",
                    }
                )
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("h", T.IntegerType(), False),
            T.StructField("fmt", T.StringType(), False),
        ]
    )
    rng_df = spark.range(0, n, numPartitions=min(max(n // 16, 1), 32))
    return rng_df.mapInPandas(gen, schema)


def near_dup_images_df(spark: SparkSession, n: int) -> DataFrame:
    """Closed-form near-duplicate image fixture for the perceptual-hash
    dedup oracle: images come in groups of 3 (group g = i//3) sharing
    the base formula ``pixel(y, x) = (g*37 + x*7 + y*13) % 251`` on a
    fixed 16x16 canvas; variant v = i%3 perturbs sampled dHash anchor
    pixels — v>=1 sets pixel (0,0) to (base+128) % 256, v==2
    additionally pixel (2,0) — so intra-group dHash Hamming distance
    is <= 2 while distinct groups sit >= 5 apart (measured over the
    first 6 groups; the 37-stride decorrelates group bases). Every
    pixel, hence every hash bit, is exactly recomputable in SQL.

    ORACLE-SCALE ONLY (n <= ~30): the base offsets cycle mod 251, so
    at many groups distinct groups collide to identical or near-Hamming
    images and chain into deep components (observed at n=2000:
    propagate_min_ids hits its round cap). Scale benchmarks use
    seeded-random bases instead (BENCH/BASELINE.md, "Image-dedup
    scaling")."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"].values:
                i = int(i)
                g, v = divmod(i, 3)
                yy, xx = np.mgrid[0:16, 0:16]
                px = ((g * 37 + xx * 7 + yy * 13) % 251).astype(np.int64)
                if v >= 1:
                    px[0, 0] = (px[0, 0] + 128) % 256
                if v == 2:
                    px[2, 0] = (px[2, 0] + 128) % 256
                rows.append(
                    {
                        "image_id": f"img{i:08d}",
                        "bytes": encode_png(px.astype(np.uint8)),
                        "w": 16,
                        "h": 16,
                        "fmt": "png",
                    }
                )
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("h", T.IntegerType(), False),
            T.StructField("fmt", T.StringType(), False),
        ]
    )
    rng_df = spark.range(0, n, numPartitions=min(max(n // 16, 1), 32))
    return rng_df.mapInPandas(gen, schema)


def verified_dup_images_df(spark: SparkSession, n: int) -> DataFrame:
    """Closed-form fixture for MSE-VERIFIED near-dup dedup
    (operators/images.phash_dedup_verified): images come in groups of
    4 (g = i//4) on a fixed 16x16 canvas with base pixel
    ``(g*41 + x*7 + y*13) % 251``; variant v = i%4:

    - v0: the base image;
    - v1: pixel (0,0) += 128 (mod 256) — dHash Hamming <= 1, grid
      SSE 16384 (one 128^2 term): a TRUE near-dup;
    - v2: pixels (0,0) and (2,0) += 128 — Hamming <= 2, SSE 32768:
      still a true near-dup;
    - v3: ALL odd rows += 128 (mod 256) — the dHash anchor grid on a
      16-row image samples only even rows (y = 2r), so v3's dHash is
      IDENTICAL to the base (Hamming 0) while 128 of 256 pixels differ
      by 128 (SSE 2,097,152): the canonical hash-collision FALSE
      POSITIVE that only a pixel-level verify stage can reject.

    Cross-group pixel deltas are >= 41 everywhere (bases stride 41
    mod 251), so grid SSE >= 256*41^2 = 430,336 — any cross-group
    hash collision is also rejected by the verify. Every pixel is
    exactly recomputable in SQL (ORACLE_IMAGE_DEDUP_VERIFIED).

    ORACLE-SCALE ONLY (n <= ~40), same cycling caveat as
    near_dup_images_df; scale benchmarks use seeded-random bases."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"].values:
                i = int(i)
                g, v = divmod(i, 4)
                yy, xx = np.mgrid[0:16, 0:16]
                px = ((g * 41 + xx * 7 + yy * 13) % 251).astype(np.int64)
                if v in (1, 2):
                    px[0, 0] = (px[0, 0] + 128) % 256
                if v == 2:
                    px[2, 0] = (px[2, 0] + 128) % 256
                if v == 3:
                    px[1::2, :] = (px[1::2, :] + 128) % 256
                rows.append(
                    {
                        "image_id": f"img{i:08d}",
                        "bytes": encode_png(px.astype(np.uint8)),
                        "w": 16,
                        "h": 16,
                        "fmt": "png",
                    }
                )
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("h", T.IntegerType(), False),
            T.StructField("fmt", T.StringType(), False),
        ]
    )
    rng_df = spark.range(0, n, numPartitions=min(max(n // 16, 1), 32))
    return rng_df.mapInPandas(gen, schema)


def gate_images_df(spark: SparkSession, n: int) -> DataFrame:
    """Closed-form fixture for the quality gate: the formula images of
    ``formula_images_df`` except every 5th image (i % 5 == 4) is FLAT
    — all pixels equal ``(i*31) % 256`` — so zero variance and zero
    entropy exercise the contrast/entropy rejections while the
    dimension cycles exercise resolution and aspect gates. Exactly
    recomputable in SQL (one CASE over the formula)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"].values:
                i = int(i)
                w = _W_CYCLE[i % len(_W_CYCLE)]
                h = _H_CYCLE[i % len(_H_CYCLE)]
                if i % 5 == 4:
                    px = np.full((h, w), (i * 31) % 256, dtype=np.uint8)
                else:
                    yy, xx = np.mgrid[0:h, 0:w]
                    px = ((i * 31 + xx * 7 + yy * 13) % 256).astype(np.uint8)
                rows.append(
                    {
                        "image_id": f"img{i:08d}",
                        "bytes": encode_png(px),
                        "w": w,
                        "h": h,
                        "fmt": "png",
                    }
                )
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("h", T.IntegerType(), False),
            T.StructField("fmt", T.StringType(), False),
        ]
    )
    rng_df = spark.range(0, n, numPartitions=min(max(n // 16, 1), 32))
    return rng_df.mapInPandas(gen, schema)


def curation_images_df(spark: SparkSession, n: int) -> DataFrame:
    """Closed-form fixture for the COMPOSED curation pipeline
    (gate -> verified dedup -> aspect buckets): groups of 5
    (g = i//5) on a per-group canvas (w = 16/20/24 by g%3, h = 16)
    with base pixel ``(g*41 + x*7 + y*13) % 251``; variant v = i%5:

    - v0/v1/v2: as verified_dup_images_df (base, one-pixel dup,
      two-pixel dup);
    - v3: the odd-rows +128 dHash-collision decoy (h = 16 keeps the
      dHash anchor rows even for every canvas width);
    - v4: FLAT (all pixels ``(g*41) % 251``) — zero variance/entropy,
      so the QUALITY GATE rejects it before dedup ever sees it. Flat
      images are identical across groups; if they reached the dedup
      stage they would chain every group together — the fixture
      proves stage ordering matters and the pipeline gets it right.

    Every pixel exactly recomputable in SQL; per-group widths make the
    final aspect-bucket stage non-degenerate. ORACLE-SCALE ONLY."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"].values:
                i = int(i)
                g, v = divmod(i, 5)
                w = [16, 20, 24][g % 3]
                if v == 4:
                    px = np.full((16, w), (g * 41) % 251, dtype=np.int64)
                else:
                    yy, xx = np.mgrid[0:16, 0:w]
                    px = ((g * 41 + xx * 7 + yy * 13) % 251).astype(np.int64)
                    if v in (1, 2):
                        px[0, 0] = (px[0, 0] + 128) % 256
                    if v == 2:
                        px[2, 0] = (px[2, 0] + 128) % 256
                    if v == 3:
                        px[1::2, :] = (px[1::2, :] + 128) % 256
                rows.append(
                    {
                        "image_id": f"img{i:08d}",
                        "bytes": encode_png(px.astype(np.uint8)),
                        "w": w,
                        "h": 16,
                        "fmt": "png",
                    }
                )
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("h", T.IntegerType(), False),
            T.StructField("fmt", T.StringType(), False),
        ]
    )
    rng_df = spark.range(0, n, numPartitions=min(max(n // 16, 1), 32))
    return rng_df.mapInPandas(gen, schema)
