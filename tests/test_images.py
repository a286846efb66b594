"""Image-curation operators: perceptual hashes, stats, transforms,
tiling, near-dup dedup (operators/images.py).

Hash expectations are verified against independent straight-line
reimplementations of the documented bit rules (not the operator's own
helpers), and the dedup grouping against brute-force all-pairs
Hamming over the fixture."""

import itertools

import numpy as np
import pytest

from rp_extract_spark.codecs import decode_image, encode_png
from rp_extract_spark.operators.images import (
    ahash64,
    dhash64,
    image_hashes,
    image_stats,
    phash64,
    phash_dedup,
    tile_images,
    transform_images,
)
from rp_extract_spark.sources.images import formula_images_df, near_dup_images_df


def _anchor(g, oh, ow):
    h, w = g.shape
    return g[
        (np.arange(oh)[:, None] * h) // oh, (np.arange(ow)[None, :] * w) // ow
    ]


def _bits_to_signed(bits):
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= 1 << 63 else v


def _naive_ahash(g):
    r = _anchor(g, 8, 8).astype(int)
    s = r.sum()
    return _bits_to_signed([1 if r[y, x] * 64 > s else 0
                            for y in range(8) for x in range(8)])


def _naive_dhash(g):
    r = _anchor(g, 8, 9).astype(int)
    return _bits_to_signed([1 if r[y, x] < r[y, x + 1] else 0
                            for y in range(8) for x in range(8)])


def _naive_phash(g):
    r = _anchor(g, 32, 32).astype(float)
    c = np.array(
        [
            [
                sum(
                    r[y, x]
                    * np.cos(np.pi * (2 * y + 1) * u / 64)
                    * np.cos(np.pi * (2 * x + 1) * v / 64)
                    for y in range(32)
                    for x in range(32)
                )
                for v in range(8)
            ]
            for u in range(8)
        ]
    )
    low = c.ravel()
    med = np.median(low)
    return _bits_to_signed([1 if val > med else 0 for val in low])


def _formula_img(i, w=24, h=16):
    yy, xx = np.mgrid[0:h, 0:w]
    return ((i * 31 + xx * 7 + yy * 13) % 256).astype(np.uint8)


def test_hashes_match_naive_bit_rules():
    for i in range(3):
        g = _formula_img(i)
        assert ahash64(g) == _naive_ahash(g)
        assert dhash64(g) == _naive_dhash(g)
        assert phash64(g) == _naive_phash(g)


def test_ahash_constant_image_is_zero():
    # 64*px > sum is strict: a constant image has no set bit
    assert ahash64(np.full((16, 16), 77, dtype=np.uint8)) == 0


def test_dhash_brightness_invariant():
    # strict < comparisons survive a uniform brightness shift as long
    # as no pixel clips or wraps
    g2 = np.minimum(_formula_img(2).astype(np.int64), 200).astype(np.uint8)
    assert dhash64(g2) == dhash64((g2 + 40).astype(np.uint8))


def test_hash_scan_spark_matches_local(spark):
    imgs = formula_images_df(spark, 6)
    out = {r.image_id: r for r in image_hashes(imgs).collect()}
    for r in imgs.select("image_id", "bytes", "fmt").collect():
        px = decode_image(bytes(r.bytes), r.fmt)
        row = out[r.image_id]
        assert row.err is None
        assert row.ahash == ahash64(px)
        assert row.dhash == dhash64(px)
        assert row.phash == phash64(px)


def test_hash_scan_is_shuffle_free(spark):
    plan = image_hashes(formula_images_df(spark, 4))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def test_image_stats_exact(spark):
    imgs = formula_images_df(spark, 3)
    rows = {r.image_id: r for r in image_stats(imgs).collect()}
    for r in imgs.select("image_id", "bytes", "fmt").collect():
        px = decode_image(bytes(r.bytes), r.fmt).astype(np.int64)
        row = rows[r.image_id]
        n = px.size
        assert row.n_px == n
        assert row.px_sum == int(px.sum())
        assert row.px_sq_sum == int((px * px).sum())
        assert row.px_min == int(px.min()) and row.px_max == int(px.max())
        mean = row.px_sum / n
        assert row.mean == mean
        assert row.variance == row.px_sq_sum / n - mean * mean
        counts = np.bincount(px.ravel(), minlength=256)
        p = counts[counts > 0] / n
        assert row.entropy_bits == pytest.approx(-(p * np.log2(p)).sum(), abs=1e-12)


def test_transforms_match_numpy(spark):
    imgs = formula_images_df(spark, 2)
    src = {
        r.image_id: decode_image(bytes(r.bytes), r.fmt)
        for r in imgs.select("image_id", "bytes", "fmt").collect()
    }
    cases = {
        "flip_h": lambda p: p[:, ::-1],
        "flip_v": lambda p: p[::-1, :],
        "rot90": lambda p: np.rot90(p, 1),
        "rot180": lambda p: np.rot90(p, 2),
        "rot270": lambda p: np.rot90(p, 3),
    }
    for op, fn in cases.items():
        for r in transform_images(imgs, op).collect():
            assert r.err is None
            got = decode_image(bytes(r.bytes), r.fmt)
            np.testing.assert_array_equal(got, fn(src[r.image_id]))
    for r in transform_images(imgs, "crop", y0=3, x0=5, crop_h=10, crop_w=12).collect():
        got = decode_image(bytes(r.bytes), r.fmt)
        np.testing.assert_array_equal(got, src[r.image_id][3:13, 5:17])


def test_transform_guards(spark):
    imgs = formula_images_df(spark, 1)
    with pytest.raises(ValueError, match="unknown transform"):
        transform_images(imgs, "shear")
    with pytest.raises(ValueError, match="crop requires"):
        transform_images(imgs, "crop")
    # oversized crop quarantines per record, never aborts the stage
    rows = transform_images(imgs, "crop", crop_h=10_000, crop_w=8).collect()
    assert all(r.err and "crop window" in r.err for r in rows)


def test_tiles_partition_the_image(spark):
    imgs = formula_images_df(spark, 4)  # dims 64/96/128/256 x 48/64/128
    tiles = tile_images(imgs, tile_h=16, tile_w=16).collect()
    src = {
        r.image_id: decode_image(bytes(r.bytes), r.fmt).astype(np.int64)
        for r in imgs.select("image_id", "bytes", "fmt").collect()
    }
    by_img = {}
    for t in tiles:
        assert t.err is None
        by_img.setdefault(t.image_id, []).append(t)
        px = src[t.image_id][
            t.ty * 16 : (t.ty + 1) * 16, t.tx * 16 : (t.tx + 1) * 16
        ]
        assert t.px_sum == int(px.sum())
        assert t.px_sq_sum == int((px * px).sum())
        assert (t.px_min, t.px_max) == (int(px.min()), int(px.max()))
        assert t.bytes is None  # stats-only pass by default
    for iid, ts in by_img.items():
        h, w = src[iid].shape
        assert len(ts) == (h // 16) * (w // 16)
        # full grid: every (ty, tx) exactly once
        assert {(t.ty, t.tx) for t in ts} == {
            (y, x) for y in range(h // 16) for x in range(w // 16)
        }


def test_tile_bytes_roundtrip(spark):
    imgs = formula_images_df(spark, 1)
    t = tile_images(imgs, tile_h=16, tile_w=16, emit_bytes=True).collect()[0]
    px = decode_image(bytes(t.bytes), "png")
    assert px.shape == (16, 16) and int(px.astype(np.int64).sum()) == t.px_sum


def test_near_dup_fixture_distances(spark):
    imgs = near_dup_images_df(spark, 18)
    hs = {
        int(r.image_id[3:]): r.dhash
        for r in image_hashes(imgs).collect()
    }
    for a, b in itertools.combinations(range(18), 2):
        d = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
        if a // 3 == b // 3:
            assert d <= 2, (a, b, d)
        else:
            assert d > 3, (a, b, d)


def test_phash_dedup_groups(spark):
    imgs = near_dup_images_df(spark, 18)
    out = phash_dedup(imgs, hash_type="dhash", max_hamming=2).collect()
    assert len(out) == 18
    for r in out:
        i = int(r.image_id[3:])
        assert r.rep_id == f"img{(i // 3) * 3:08d}", (r.image_id, r.rep_id)


def test_phash_dedup_exact_mode(spark):
    imgs = near_dup_images_df(spark, 9)
    out = phash_dedup(imgs, hash_type="dhash", max_hamming=0).collect()
    # exact mode groups only identical hashes: variant 0 of each group
    # is its own rep; variants may or may not share hashes, but every
    # rep must have the same hash as its members
    h = {r.image_id: r.dhash for r in out}
    for r in out:
        assert h[r.rep_id] == r.dhash
    with pytest.raises(ValueError, match="unknown hash_type"):
        phash_dedup(imgs, hash_type="md5")


def test_hash_error_isolation(spark):
    import pandas as pd

    good = near_dup_images_df(spark, 2).toPandas()
    bad = pd.DataFrame(
        [{"image_id": "broken", "bytes": b"\x00nope", "w": 1, "h": 1,
          "fmt": "png"}]
    )
    df = spark.createDataFrame(pd.concat([good, bad], ignore_index=True))
    rows = {r.image_id: r for r in image_hashes(df).collect()}
    assert rows["broken"].err is not None and rows["broken"].dhash is None
    assert rows["img00000000"].err is None
    srows = {r.image_id: r for r in image_stats(df).collect()}
    assert srows["broken"].err is not None
    trows = {r.image_id: r for r in tile_images(df).collect()}
    assert trows["broken"].err is not None and trows["broken"].ty == -1


def test_streaming_image_dedup_across_batches(spark, tmp_path):
    """First-seen-per-dhash streaming dedup: identical image bytes in a
    later micro-batch are dropped; the winning image_id is carried."""
    from datetime import datetime, timedelta

    from rp_extract_spark.operators.images import streaming_image_dedup

    base = datetime(2024, 1, 1)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    rows = near_dup_images_df(spark, 9).collect()
    by_id = {r.image_id: r for r in rows}

    def write_batch(items):
        spark.createDataFrame(
            [(iid, bytes(by_id[src_id].bytes), "png", ts)
             for iid, src_id, ts in items],
            "image_id string, bytes binary, fmt string, ts timestamp",
        ).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(
            "image_id string, bytes binary, fmt string, ts timestamp"
        ).parquet(src)
        q = (
            streaming_image_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two distinct images (groups 0 and 1, variant 0)
    write_batch([
        ("a", "img00000000", base),
        ("b", "img00000003", base + timedelta(seconds=1)),
    ])
    run()
    got = {r.image_id: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {"a", "b"} and all(r.n_dropped == 0 for r in got.values())

    # batch 2: byte-identical replay of group 0 (new id) + a new group
    write_batch([
        ("a2", "img00000000", base + timedelta(minutes=1)),
        ("c", "img00000006", base + timedelta(minutes=1)),
    ])
    run()
    rows2 = spark.read.parquet(out).collect()
    assert {r.image_id for r in rows2} == {"a", "b", "c"}  # a2 dropped
    assert len(rows2) == 3


def test_image_gradients_exact(spark):
    from rp_extract_spark.operators.images import image_gradients

    imgs = formula_images_df(spark, 3)
    rows = {r.image_id: r for r in image_gradients(imgs).collect()}
    for r in imgs.select("image_id", "bytes", "fmt").collect():
        px = decode_image(bytes(r.bytes), r.fmt).astype(np.int64)
        got = rows[r.image_id]
        assert got.err is None
        gx = px[1:-1, 2:] - px[1:-1, :-2]
        gy = px[2:, 1:-1] - px[:-2, 1:-1]
        lap = 4 * px[1:-1, 1:-1] - px[1:-1, 2:] - px[1:-1, :-2] \
            - px[2:, 1:-1] - px[:-2, 1:-1]
        assert got.n_interior == px[1:-1, 1:-1].size
        assert got.abs_gx_sum == int(np.abs(gx).sum())
        assert got.abs_gy_sum == int(np.abs(gy).sum())
        assert got.lap_sq_sum == int((lap * lap).sum())
        assert got.sharpness == got.lap_sq_sum / got.n_interior


def test_sharpness_flags_flat_images(spark):
    """The blur gate: a constant image has zero Laplacian energy."""
    import pandas as pd

    from rp_extract_spark.operators.images import image_gradients

    flat = encode_png(np.full((24, 24), 99, dtype=np.uint8))
    df = spark.createDataFrame(
        pd.DataFrame([{"image_id": "flat", "bytes": flat, "fmt": "png"}])
    )
    r = image_gradients(df).collect()[0]
    assert (r.abs_gx_sum, r.abs_gy_sum, r.lap_sq_sum, r.sharpness) == (0, 0, 0, 0.0)


def test_equalize_matches_classic_lut(spark):
    from rp_extract_spark.operators.images import equalize_images

    imgs = formula_images_df(spark, 2)
    src = {
        r.image_id: decode_image(bytes(r.bytes), r.fmt).astype(np.int64)
        for r in imgs.select("image_id", "bytes", "fmt").collect()
    }
    for r in equalize_images(imgs).collect():
        assert r.err is None
        got = decode_image(bytes(r.bytes), r.fmt)
        px = src[r.image_id]
        n = px.size
        cdf = np.cumsum(np.bincount(px.ravel(), minlength=256))
        m = int(cdf[int(px.min())])
        want = np.array(
            [((int(cdf[v]) - m) * 510 + (n - m)) // (2 * (n - m))
             for v in range(256)]
        )[px]
        np.testing.assert_array_equal(got.astype(np.int64), want)


def test_equalize_constant_image_is_zero(spark):
    import pandas as pd

    from rp_extract_spark.operators.images import equalize_images

    df = spark.createDataFrame(
        pd.DataFrame([{
            "image_id": "c",
            "bytes": encode_png(np.full((8, 8), 201, dtype=np.uint8)),
            "fmt": "png",
        }])
    )
    r = equalize_images(df).collect()[0]
    assert r.err is None
    assert int(decode_image(bytes(r.bytes), "png").max()) == 0


def test_equalize_spreads_histogram(spark):
    """Post-equalization the value range must span ~the full 0..255."""
    from rp_extract_spark.operators.images import equalize_images

    # a low-contrast image: values squeezed into [100, 131]
    import pandas as pd

    yy, xx = np.mgrid[0:32, 0:32]
    px = (100 + (xx + yy) % 32).astype(np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame([{"image_id": "lc", "bytes": encode_png(px),
                       "fmt": "png"}])
    )
    r = equalize_images(df).collect()[0]
    out = decode_image(bytes(r.bytes), "png")
    assert int(out.min()) <= 8 and int(out.max()) == 255


def test_decontaminate_images_drops_whole_groups(spark):
    from pyspark.sql import functions as F

    from rp_extract_spark.operators.images import decontaminate_images

    corpus = near_dup_images_df(spark, 18)
    bench = corpus.filter(F.col("image_id").isin("img00000001", "img00000010"))
    kept = {r.image_id for r in
            decontaminate_images(corpus, bench, max_hamming=2)
            .select("image_id").collect()}
    dropped = {f"img{i:08d}" for i in (0, 1, 2, 9, 10, 11)}
    assert kept == {f"img{i:08d}" for i in range(18)} - dropped
    # exact mode only drops byte/hash-identical members
    kept0 = {r.image_id for r in
             decontaminate_images(corpus, bench, max_hamming=0)
             .select("image_id").collect()}
    assert "img00000001" not in kept0 and "img00000010" not in kept0
    assert kept0 >= kept  # exact is never more aggressive than hamming<=2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="recall only up to"):
        decontaminate_images(corpus, bench, max_hamming=4)


# ---------------------------------------------------------------- verified


def test_verified_dedup_rejects_hash_collision_decoy(spark):
    """The v3 decoy perturbs only pixels the dHash anchor lattice never
    samples: its hash equals the base at Hamming 0, so the band stage
    MUST emit it as a candidate — and the SSE verify MUST reject it.
    v1/v2 (true near-dups) merge with the base."""
    from rp_extract_spark.operators.images import phash_dedup_verified
    from rp_extract_spark.sources.images import verified_dup_images_df

    imgs = verified_dup_images_df(spark, 8)
    hs = {
        r["image_id"]: r["dhash"]
        for r in image_hashes(imgs).collect()
    }
    # precondition: the decoy collides with the base at Hamming 0
    assert hs["img00000000"] == hs["img00000003"]
    assert hs["img00000004"] == hs["img00000007"]

    out = phash_dedup_verified(
        imgs, hash_type="dhash", max_hamming=2, max_sse=40000, grid=16
    )
    reps = {r["image_id"]: r["rep_id"] for r in out.collect()}
    assert reps == {
        "img00000000": "img00000000",
        "img00000001": "img00000000",
        "img00000002": "img00000000",
        "img00000003": "img00000003",  # decoy survives as its own rep
        "img00000004": "img00000004",
        "img00000005": "img00000004",
        "img00000006": "img00000004",
        "img00000007": "img00000007",
    }


def test_plain_dedup_merges_the_decoy(spark):
    """Contrast case: WITHOUT the verify stage the Hamming-0 decoy is
    (wrongly, pixel-wise) merged — the false positive the verified
    variant exists to stop."""
    from rp_extract_spark.sources.images import verified_dup_images_df

    out = phash_dedup(
        verified_dup_images_df(spark, 4), hash_type="dhash", max_hamming=2
    )
    reps = {r["image_id"]: r["rep_id"] for r in out.collect()}
    assert reps["img00000003"] == "img00000000"


# ------------------------------------------------------------ quality gate


def _gate_expect(i):
    w = [64, 96, 128, 256][i % 4]
    h = [48, 64, 128][i % 3]
    if i % 5 == 4:
        px = np.full((h, w), (i * 31) % 256, dtype=np.int64)
    else:
        yy, xx = np.mgrid[0:h, 0:w]
        px = (i * 31 + xx * 7 + yy * 13) % 256
    n = px.size
    s = int(px.sum())
    sq = int((px * px).sum())
    counts = np.bincount(px.ravel().astype(int), minlength=256)
    p = counts[counts > 0] / n
    ent = float(-(p * np.log2(p)).sum())
    reasons = []
    if w < 96 or h < 48:
        reasons.append("too_small")
    if max(w, h) > min(w, h) * 4:
        reasons.append("extreme_aspect")
    if s < 32 * n:
        reasons.append("too_dark")
    if s > 240 * n:
        reasons.append("too_bright")
    if n * sq - s * s < 25 * n * n:
        reasons.append("low_contrast")
    if ent < 1.0:
        reasons.append("low_entropy")
    return ",".join(reasons)


def test_quality_gate_reasons_match_straightline(spark):
    from rp_extract_spark.operators.images import quality_gate_images
    from rp_extract_spark.sources.images import gate_images_df

    out = quality_gate_images(
        gate_images_df(spark, 15),
        min_w=96, min_h=48, max_aspect=(4, 1), brightness=(32, 240),
        min_variance=25.0, min_entropy_bits=1.0,
    ).collect()
    assert len(out) == 15
    for r in out:
        i = int(r["image_id"][3:])
        exp = _gate_expect(i)
        assert r["reject_reasons"] == exp, (i, r["reject_reasons"], exp)
        assert r["passes"] == (exp == "")
    # the fixture must actually exercise every non-decode reason
    fired = set(",".join(_gate_expect(i) for i in range(15)).split(","))
    assert {"too_small", "extreme_aspect", "too_dark",
            "low_contrast", "low_entropy"} <= fired


def test_quality_gate_quarantines_corrupt_blob(spark):
    from rp_extract_spark.operators.images import quality_gate_images

    df = spark.createDataFrame(
        [("bad", bytearray(b"not a png"), 16, 16, "png")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    r = quality_gate_images(df).collect()[0]
    assert r["passes"] is False
    assert r["reject_reasons"] == "decode_error"


# ----------------------------------------------------------- aspect bucket


def test_aspect_buckets_match_argmin(spark):
    from rp_extract_spark.operators.images import (
        SDXL_BUCKETS,
        aspect_bucket_images,
    )

    out = aspect_bucket_images(formula_images_df(spark, 12)).collect()
    assert len(out) == 12
    for r in out:
        best = min(
            (abs(r["w"] * bh - r["h"] * bw) / bh, idx, bw, bh)
            for idx, (bw, bh) in enumerate(SDXL_BUCKETS)
        )
        assert (r["bucket_w"], r["bucket_h"]) == (best[2], best[3])
    # dimension cycles must hit more than one bucket
    assert len({(r["bucket_w"], r["bucket_h"]) for r in out}) >= 3


def test_aspect_buckets_plan_is_shuffle_free(spark):
    from rp_extract_spark.operators.images import aspect_bucket_images

    df = spark.createDataFrame(
        [("a", 64, 48)], "image_id string, w int, h int"
    )
    plan = aspect_bucket_images(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------------- composed pipeline


def test_curation_pipeline_stage_order(spark):
    """gate -> verified dedup -> buckets: flat variants (identical
    ACROSS groups — they would chain every group into one component)
    must be removed by the GATE before dedup; decoys must reach dedup
    and be rejected by the SSE verify; kept reps bucket by their
    group's canvas."""
    from rp_extract_spark.operators.images import (
        aspect_bucket_images,
        phash_dedup_verified,
        quality_gate_images,
    )
    from rp_extract_spark.sources.images import curation_images_df

    imgs = curation_images_df(spark, 20)
    gated = quality_gate_images(imgs, min_w=16, min_h=16)
    rejected = sorted(
        r["image_id"] for r in gated.filter(~gated["passes"]).collect()
    )
    # exactly the flat variants (v4 of each group) fail the gate
    assert rejected == [f"img{i:08d}" for i in (4, 9, 14, 19)]

    keep = imgs.join(
        gated.filter(gated["passes"]).select("image_id"), "image_id"
    )
    dd = phash_dedup_verified(keep, max_sse=40000, grid=16)
    comp = {}
    for r in dd.collect():
        comp.setdefault(r["rep_id"], []).append(r["image_id"])
    # per group: {v0, v1, v2} merged; decoy v3 alone; v4 never present
    assert sorted(len(v) for v in comp.values()) == [1, 1, 1, 1, 3, 3, 3, 3]
    assert "img00000004" not in {i for v in comp.values() for i in v}

    reps = spark.createDataFrame(
        [(k, 16 + 4 * ((int(k[3:]) // 5) % 3), 16) for k in comp],
        "image_id string, w int, h int",
    )
    buckets = {
        r["image_id"]: (r["bucket_w"], r["bucket_h"])
        for r in aspect_bucket_images(reps).collect()
    }
    assert buckets["img00000000"] == (1024, 1024)   # 16x16
    assert buckets["img00000005"] == (1152, 896)    # 20x16
    assert buckets["img00000010"] == (1216, 832)    # 24x16


def test_quality_gate_works_on_streams(spark, tmp_path):
    """quality_gate_images is a stateless mapInPandas + projection, so
    it must run unchanged as a Structured Streaming stage — curation
    gating on ingest, not just batch."""
    from rp_extract_spark.sources.images import gate_images_df

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    gate_images_df(spark, 10).write.mode("append").parquet(src)

    from rp_extract_spark.operators.images import quality_gate_images

    stream = spark.readStream.schema(
        "image_id string, bytes binary, w int, h int, fmt string"
    ).parquet(src)
    q = (
        quality_gate_images(stream, min_w=96, min_h=48)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.image_id: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 10
    # flat images (i%5==4) and w=64 images must be rejected on-stream
    assert not got["img00000004"].passes
    assert "low_entropy" in got["img00000004"].reject_reasons
    assert not got["img00000000"].passes  # w=64 < 96
    assert got["img00000001"].passes


# --------------------------------------------------------- source fixtures

_IMAGE_COLS = [
    ("image_id", "string", False), ("bytes", "binary", True),
    ("w", "int", True), ("h", "int", True), ("fmt", "string", True),
    ("caption", "string", True), ("phash", "bigint", True),
    ("entity_id", "string", False), ("ts", "timestamp", False),
]
_PNG_COLS = [
    ("image_id", "string", False), ("bytes", "binary", False),
    ("w", "int", False), ("h", "int", False), ("fmt", "string", False),
]
_CAPTION_COLS = [
    ("entity_id", "string", False), ("caption_ts", "timestamp", False),
    ("caption", "string", False),
]

# (fixture call, row count, sha256 prefix of the rows in key order,
# exact schema): any moved byte, row or nullability fails
_FIXTURE_PINS = {
    "images_df": (
        lambda s, m: m.images_df(s, 48), 48, "f565f7fdf70cb009", _IMAGE_COLS),
    "images_df_hot": (
        lambda s, m: m.images_df(s, 48, hot_phash_fraction=0.2,
                                 hot_entity_fraction=0.3, partitions=3),
        48, "630fb28f196f5087", _IMAGE_COLS),
    "captions_df": (
        lambda s, m: m.captions_df(s, 3200), 2135, "31d7f633a79b5870",
        _CAPTION_COLS),
    "formula_images_df": (
        lambda s, m: m.formula_images_df(s, 12), 12, "17aa88c841e853cd",
        _PNG_COLS),
    "near_dup_images_df": (
        lambda s, m: m.near_dup_images_df(s, 18), 18, "afece9ee66577187",
        _PNG_COLS),
    "verified_dup_images_df": (
        lambda s, m: m.verified_dup_images_df(s, 16), 16, "88eb6677694dcfab",
        _PNG_COLS),
    "gate_images_df": (
        lambda s, m: m.gate_images_df(s, 15), 15, "7b904d9120ffcfcf",
        _PNG_COLS),
    "curation_images_df": (
        lambda s, m: m.curation_images_df(s, 20), 20, "3fe9438e662b7763",
        _PNG_COLS),
}


@pytest.mark.parametrize("name", sorted(_FIXTURE_PINS))
def test_source_fixture_is_pinned(spark, name):
    import hashlib

    from rp_extract_spark.sources import images as src

    make, n_rows, digest, cols = _FIXTURE_PINS[name]
    df = make(spark, src)
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in df.schema] == cols
    # image tables are keyed by image_id; captions by all three columns
    key = ["image_id"] if cols is not _CAPTION_COLS else [c[0] for c in cols]
    h = hashlib.sha256()
    rows = df.orderBy(*key).collect()
    for r in rows:
        h.update(repr(tuple(r)).encode())
    assert (len(rows), h.hexdigest()[:16]) == (n_rows, digest)
