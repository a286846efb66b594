"""Round-5 fifth-wave loader operators: batch manifest collation,
generic image moments, deterministic RandomResizedCrop.

Expectations are straight-line hand computations (manual md5 ranks,
numpy fancy-index crops) — never the operator's own helpers.
"""

import hashlib

import numpy as np
from pyspark.sql import functions as F

from rp_extract_spark.codecs import decode_image, encode_png
from rp_extract_spark.operators.curation import (
    collate_manifest,
    pack_batches,
)
from rp_extract_spark.operators.images import (
    image_moments,
    random_resized_crop,
    rrc_geometry,
)


def _img_df(spark, arrays):
    rows = [
        (f"im{i:04d}", encode_png(a), a.shape[1], a.shape[0], "png")
        for i, a in enumerate(arrays)
    ]
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )


def _md5key(iid, seed, epoch):
    return hashlib.md5(f"{iid}:{seed}:{epoch}".encode()).hexdigest()


# --------------------------------------------------- collate_manifest


def test_collate_manifest_slot_order_and_size(spark):
    df = spark.createDataFrame(
        [(f"d{i:02d}", i % 2, 10 + i) for i in range(11)],
        "id string, bk int, sz long",
    )
    packed = pack_batches(
        df, bucket_cols=("bk",), id_col="id", batch_size=2, seed=3, epoch=1
    )
    out = collate_manifest(
        packed, bucket_cols=("bk",), id_col="id", size_col="sz"
    ).collect()
    # manual: per bucket, rank by md5(id:3:1), pack into pairs
    sizes = {f"d{i:02d}": 10 + i for i in range(11)}
    expect = {}
    for bk in (0, 1):
        ids = sorted(
            (f"d{i:02d}" for i in range(11) if i % 2 == bk),
            key=lambda s: (_md5key(s, 3, 1), s),
        )
        keep = (len(ids) // 2) * 2
        for b in range(keep // 2):
            members = ids[2 * b : 2 * b + 2]
            expect[(bk, b)] = (
                members,
                2,
                sum(sizes[m] for m in members),
            )
    got = {
        (r["bk"], r["batch_idx"]): (
            list(r["member_ids"]),
            r["n_members"],
            r["total_sz"],
        )
        for r in out
    }
    assert got == expect


def test_collate_manifest_without_size_col(spark):
    df = spark.createDataFrame(
        [(f"d{i}", 0) for i in range(4)], "id string, bk int"
    )
    packed = pack_batches(df, ("bk",), "id", batch_size=4, seed=0, epoch=0)
    rows = collate_manifest(packed, ("bk",), "id").collect()
    assert len(rows) == 1
    assert rows[0]["n_members"] == 4
    assert sorted(rows[0]["member_ids"]) == [f"d{i}" for i in range(4)]
    assert "total_" not in " ".join(rows[0].asDict().keys())


# ------------------------------------------------------ image_moments


def test_image_moments_exact_and_carry(spark):
    rng = np.random.default_rng(11)
    arrays = [rng.integers(0, 256, (9, 13), dtype=np.uint8) for _ in range(3)]
    df = _img_df(spark, arrays).withColumn("w2", F.col("w") * 2)
    rows = {
        r["image_id"]: r
        for r in image_moments(df, carry_cols=("w2",)).collect()
    }
    for i, a in enumerate(arrays):
        r = rows[f"im{i:04d}"]
        px = a.astype(np.int64)
        xs = np.arange(a.shape[1])
        ys = np.arange(a.shape[0])
        assert r["err"] is None
        assert r["w2"] == a.shape[1] * 2
        assert (r["w"], r["h"]) == (a.shape[1], a.shape[0])
        assert r["m0"] == int(px.sum())
        assert r["mx"] == int((px.sum(axis=0) * xs).sum())
        assert r["my"] == int((px.sum(axis=1) * ys).sum())


def test_image_moments_quarantined_row_isolated(spark):
    good = np.full((4, 4), 7, dtype=np.uint8)
    df = spark.createDataFrame(
        [
            ("ok", bytearray(encode_png(good)), "png"),
            ("bad", None, "png"),
            ("corrupt", bytearray(b"notapng"), "png"),
        ],
        "image_id string, bytes binary, fmt string",
    )
    rows = {r["image_id"]: r for r in image_moments(df).collect()}
    assert rows["ok"]["err"] is None and rows["ok"]["m0"] == 7 * 16
    assert rows["bad"]["err"] is not None and rows["bad"]["m0"] is None
    assert rows["corrupt"]["err"] is not None


# ------------------------------------------------- random_resized_crop


def test_rrc_geometry_window_always_valid():
    for w, h in ((64, 48), (97, 31), (16, 16)):
        for d0 in range(16):
            for d2 in range(16):
                x0, y0, cw, ch = rrc_geometry(w, h, (d0, d0, d2, d2))
                assert w // 2 <= cw <= w
                assert h // 2 <= ch <= h
                assert 0 <= x0 and x0 + cw <= w
                assert 0 <= y0 and y0 + ch <= h
    # digit 15 spans the full image, digit 0 the minimum crop at 0,0
    assert rrc_geometry(64, 48, (15, 15, 0, 0)) == (0, 0, 64, 48)
    assert rrc_geometry(64, 48, (0, 0, 0, 0)) == (0, 0, 32, 24)


def test_random_resized_crop_matches_manual(spark):
    rng = np.random.default_rng(3)
    arrays = [
        rng.integers(0, 256, (40, 56), dtype=np.uint8) for _ in range(4)
    ]
    rows = {
        r["image_id"]: r
        for r in random_resized_crop(
            _img_df(spark, arrays), out_w=16, out_h=8, seed=5, epoch=2
        ).collect()
    }
    for i, a in enumerate(arrays):
        iid = f"im{i:04d}"
        r = rows[iid]
        assert r["err"] is None
        d = tuple(int(c, 16) for c in _md5key(iid, 5, 2)[:4])
        x0, y0, cw, ch = rrc_geometry(56, 40, d)
        assert (r["x0"], r["y0"], r["crop_w"], r["crop_h"]) == (
            x0, y0, cw, ch,
        )
        yi = y0 + (np.arange(8)[:, None] * ch) // 8
        xi = x0 + (np.arange(16)[None, :] * cw) // 16
        got = decode_image(bytes(r["bytes"]), "png")
        assert got.shape == (8, 16)
        np.testing.assert_array_equal(got, a[yi, xi])


def test_random_resized_crop_epoch_changes_window(spark):
    a = np.arange(64 * 48, dtype=np.uint64).reshape(48, 64) % 256
    df = _img_df(spark, [a.astype(np.uint8)])
    w0 = random_resized_crop(df, seed=1, epoch=0).collect()[0]
    w1 = random_resized_crop(df, seed=1, epoch=1).collect()[0]
    k0 = (w0["x0"], w0["y0"], w0["crop_w"], w0["crop_h"])
    k1 = (w1["x0"], w1["y0"], w1["crop_w"], w1["crop_h"])
    assert k0 != k1
    # same epoch is reshuffle-stable
    w0b = random_resized_crop(df, seed=1, epoch=0).collect()[0]
    assert k0 == (w0b["x0"], w0b["y0"], w0b["crop_w"], w0b["crop_h"])


# ----------------------------------------------------- cutmix_images


def test_cutmix_geometry_window_always_valid():
    from rp_extract_spark.operators.images import cutmix_geometry

    for w, h in ((64, 48), (97, 31), (16, 16)):
        for d0 in range(16):
            for d2 in range(16):
                x0, y0, cw, ch = cutmix_geometry(w, h, (d0, d0, d2, d2))
                assert w // 4 <= cw <= w // 4 + w // 2
                assert h // 4 <= ch <= h // 4 + h // 2
                assert 0 <= x0 and x0 + cw <= w
                assert 0 <= y0 and y0 + ch <= h


def test_cutmix_matches_manual_composite(spark):
    from rp_extract_spark.operators.images import (
        cutmix_geometry,
        cutmix_images,
    )

    rng = np.random.default_rng(9)
    arrays = [
        rng.integers(0, 256, (24, 32), dtype=np.uint8) for _ in range(4)
    ]
    rows = cutmix_images(_img_df(spark, arrays), seed=2, epoch=3).collect()
    assert len(rows) == 2  # 4 congruent images -> 2 pairs
    by_id = {f"im{i:04d}": arrays[i] for i in range(4)}
    # manual pairing: rank all 4 ids by md5(id:2:3), pair (0,1), (2,3)
    order = sorted(by_id, key=lambda s: (_md5key(s, 2, 3), s))
    expect_pairs = {(order[0], order[1]), (order[2], order[3])}
    assert {(r["a_id"], r["b_id"]) for r in rows} == expect_pairs
    for r in rows:
        pa = by_id[r["a_id"]].astype(np.int64)
        pb = by_id[r["b_id"]].astype(np.int64)
        k = hashlib.md5(f"{r['a_id']}:{r['b_id']}:2:3".encode()).hexdigest()
        x0, y0, cw, ch = cutmix_geometry(
            32, 24, tuple(int(c, 16) for c in k[:4])
        )
        assert (r["x0"], r["y0"], r["cut_w"], r["cut_h"]) == (x0, y0, cw, ch)
        assert r["patch_area"] == cw * ch
        px = pa.copy()
        px[y0 : y0 + ch, x0 : x0 + cw] = pb[y0 : y0 + ch, x0 : x0 + cw]
        xs = np.arange(32)
        ys = np.arange(24)
        assert r["m0"] == int(px.sum())
        assert r["mx"] == int((px.sum(axis=0) * xs).sum())
        assert r["my"] == int((px.sum(axis=1) * ys).sum())


# ------------------------------------------------------- color_jitter


def test_color_jitter_matches_manual_map(spark):
    from rp_extract_spark.operators.images import color_jitter

    rng = np.random.default_rng(21)
    arrays = [rng.integers(0, 256, (8, 10), dtype=np.uint8) for _ in range(3)]
    rows = {
        r["image_id"]: r
        for r in color_jitter(_img_df(spark, arrays), seed=4, epoch=2)
        .collect()
    }
    for i, a in enumerate(arrays):
        iid = f"im{i:04d}"
        r = rows[iid]
        assert r["err"] is None
        k = _md5key(iid, 4, 2)
        bright = int(k[0], 16) * 4 - 30
        contrast = 8 + int(k[1], 16)
        assert (r["bright"], r["contrast"]) == (bright, contrast)
        px = a.astype(np.int64)
        want = np.clip(
            (px * contrast) // 16 + 128 - (128 * contrast) // 16 + bright,
            0, 255,
        ).astype(np.uint8)
        got = decode_image(bytes(r["bytes"]), "png")
        np.testing.assert_array_equal(got, want)


def test_color_jitter_error_isolated(spark):
    from rp_extract_spark.operators.images import color_jitter

    df = spark.createDataFrame(
        [("bad", bytearray(b"nope"), "png")],
        "image_id string, bytes binary, fmt string",
    )
    r = color_jitter(df).collect()[0]
    assert r["err"] is not None and r["bytes"] is None


# ------------------------------------------------- plan_loader_shards


def test_plan_loader_shards_manual_and_balance(spark):
    import pytest

    from rp_extract_spark.operators.curation import plan_loader_shards

    df = spark.createDataFrame(
        [(256, 128, b) for b in range(40)],
        "bucket_w int, bucket_h int, batch_idx long",
    )
    rows = plan_loader_shards(df, world_size=4, seed=1).collect()
    for r in rows:
        k = hashlib.md5(f"256:128:{r['batch_idx']}:1".encode()).hexdigest()
        assert r["rank"] == int(k[:15], 16) % 4
        assert 0 <= r["rank"] < 4
    # every rank gets work on 40 batches
    assert {r["rank"] for r in rows} == {0, 1, 2, 3}
    ones = plan_loader_shards(df, world_size=1).collect()
    assert all(r["rank"] == 0 for r in ones)
    with pytest.raises(ValueError):
        plan_loader_shards(df, world_size=0)


# ------------------------------------------------- plan_shard_packing


def test_plan_shard_packing_matches_manual_cumsum(spark):
    from rp_extract_spark.operators.curation import plan_shard_packing

    sizes = {i: 100 + 37 * (i % 7) for i in range(25)}
    df = spark.createDataFrame(
        [(i, sizes[i]) for i in sizes], "doc_id long, n_chars long"
    )
    out = plan_shard_packing(
        df, size_col="n_chars", id_col="doc_id",
        target_size=500, shuffle=True, seed=2,
    ).collect()
    order = sorted(
        sizes, key=lambda i: (hashlib.md5(f"{i}:2".encode()).hexdigest(), i)
    )
    start, expect = 0, {}
    for i in order:
        expect[i] = (sizes[i], start, start // 500)
        start += sizes[i]
    got = {r["doc_id"]: (r["size"], r["start_offset"], r["shard_id"])
           for r in out}
    assert got == expect
    # contiguity: shard ids are 0..max with no gaps
    shard_ids = sorted({v[2] for v in expect.values()})
    assert shard_ids == list(range(shard_ids[-1] + 1))


def test_plan_shard_packing_unshuffled_and_guard(spark):
    import pytest

    from rp_extract_spark.operators.curation import plan_shard_packing

    df = spark.createDataFrame(
        [(i, 10) for i in range(9)], "doc_id long, n_chars long"
    )
    rows = plan_shard_packing(
        df, target_size=30, shuffle=False
    ).orderBy("doc_id").collect()
    # id order (string order of 0..8 == numeric order here): 3 per shard
    assert [r["shard_id"] for r in rows] == [i // 3 for i in range(9)]
    assert [r["start_offset"] for r in rows] == [10 * i for i in range(9)]
    with pytest.raises(ValueError):
        plan_shard_packing(df, target_size=0)


# --------------------------------------------- repeat_factor_sampling


def test_repeat_factor_exact_ceil_sqrt(spark):
    import math

    from rp_extract_spark.operators.curation import repeat_factor_sampling

    # 3 classes: head 60, mid 30, tail 10 (N=100), t = 0.3
    rows = [(i, "head") for i in range(60)]
    rows += [(100 + i, "mid") for i in range(30)]
    rows += [(200 + i, "tail") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = repeat_factor_sampling(
        df, label_col="lang", id_col="doc_id",
        threshold_num=3, threshold_den=10,
    ).collect()

    def ceil_sqrt_ratio(num, den):
        k = 1
        while k * k * den < num:
            k += 1
        return k

    expect_rep = {
        lab: max(1, ceil_sqrt_ratio(3 * 100, 10 * n))
        for lab, n in (("head", 60), ("mid", 30), ("tail", 10))
    }
    assert expect_rep == {"head": 1, "mid": 1, "tail": 2}
    byid = {}
    for r in out:
        byid.setdefault(r["doc_id"], []).append(r)
    for did, rs in byid.items():
        lab = rs[0]["lang"]
        assert len(rs) == expect_rep[lab]
        assert sorted(x["copy_idx"] for x in rs) == list(
            range(1, expect_rep[lab] + 1)
        )
        assert all(x["repeats"] == expect_rep[lab] for x in rs)
    assert len(byid) == 100
    # sanity vs float formula on a boundary-free case
    for lab, n in (("head", 60), ("mid", 30), ("tail", 10)):
        assert expect_rep[lab] == max(1, math.ceil(math.sqrt(0.3 * 100 / n)))


def test_repeat_factor_boundary_is_integer_decided(spark):
    from rp_extract_spark.operators.curation import repeat_factor_sampling

    # exact-square boundary: t*N/n = 4 -> repeats exactly 2 (ceil(2)=2),
    # NOT 3 (a float sqrt(4) = 2.0000000000000004 would ceil to 3)
    rows = [(i, "a") for i in range(10)] + [(100 + i, "b") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = repeat_factor_sampling(
        df, label_col="lang", id_col="doc_id",
        threshold_num=1, threshold_den=1,
    )
    reps = {
        r["lang"]: r["repeats"]
        for r in out.select("lang", "repeats").distinct().collect()
    }
    assert reps["a"] == 2  # 40/10 = 4, ceil-sqrt = 2 exactly
    assert reps["b"] == 2  # 40/30 = 1.33, ceil-sqrt = 2


def test_null_group_ranks_as_one_group(spark):
    """A NULL bucket / label is one group, as SQL PARTITION BY makes it,
    whatever the input partitioning."""
    from pyspark.sql.window import Window

    from rp_extract_spark.operators.curation import stratified_split

    df = spark.createDataFrame(
        [(f"d{i:02d}", None if i < 14 else i % 3) for i in range(40)],
        "id string, bk int",
    )
    key = lambda r: (r["id"], r["bk"], r["batch_idx"], r["slot"])  # noqa: E731
    narrow, wide = (
        sorted(map(key, pack_batches(d, ("bk",), "id", batch_size=4,
                                     seed=9, epoch=2).collect()),
               key=repr)
        for d in (df.coalesce(1), df.repartition(8))
    )
    assert narrow == wide
    # 14 NULL-bucket rows pack into 3 full batches of 4
    assert sorted((b, s) for _, bk, b, s in narrow if bk is None) == [
        (b, s) for b in range(3) for s in range(4)
    ]

    lab = spark.createDataFrame(
        [(i, None if i < 10 else i % 3) for i in range(40)],
        "vec_id long, label int",
    )
    w = Window.partitionBy("label")
    rn, n = F.row_number().over(w.orderBy("vec_id")), F.count("*").over(w)
    want = lab.select(
        "vec_id",
        F.when(rn <= F.floor(n * 0.8), "train")
        .when(rn <= F.floor(n * 0.9), "val")
        .otherwise("test").alias("split"),
    )
    got = stratified_split(lab).select("vec_id", "split").collect()
    assert len(got) == 40
    assert sorted(map(tuple, got)) == sorted(map(tuple, want.collect()))
