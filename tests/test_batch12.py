"""Twelfth-batch operators: photometric augmentation, constant-border
detection, confusion-matrix report, calibration/ECE, HyperLogLog."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from rp_extract_spark.codecs import decode_image, encode_png
from rp_extract_spark.operators.classify import (
    calibration_bins,
    classification_report,
)
from rp_extract_spark.operators.images import (
    detect_borders,
    photometric_images,
)
from rp_extract_spark.operators.sketch import hll_distinct
from rp_extract_spark.sources.images import formula_images_df


# ------------------------------------------------------- photometric


def _expected_photometric(iid, px, seed, epoch):
    k = hashlib.md5(f"{iid}:{seed}:{epoch}:pm".encode()).hexdigest()
    sol = int(k[0], 16) % 2
    thr = int(k[1:3], 16)
    post = int(k[3], 16) % 2
    bits = (3 + int(k[4], 16) % 2) if post else 0
    inv = int(k[5], 16) % 2
    out = px.astype(np.int64)
    if sol:
        out = np.where(out >= thr, 255 - out, out)
    if bits:
        m = 1 << (8 - bits)
        out = (out // m) * m
    if inv:
        out = 255 - out
    return (sol, thr, bits, inv), out.astype(np.uint8)


def test_photometric_matches_independent_replay(spark):
    imgs = formula_images_df(spark, 8)
    src = {r.image_id: (bytes(r.bytes), r.fmt)
           for r in imgs.select("image_id", "bytes", "fmt").collect()}
    out = photometric_images(imgs, seed=4, epoch=1).collect()
    assert len(out) == 8
    covered = set()
    for r in out:
        assert r.err is None
        px = decode_image(*src[r.image_id])
        (sol, thr, bits, inv), want = _expected_photometric(
            r.image_id, px, 4, 1)
        assert (r.sol, r.sol_thr, r.post_bits, r.inv) == (
            sol, thr, bits, inv)
        got = decode_image(bytes(r.bytes), r.fmt)
        assert np.array_equal(got, want)
        covered |= {("sol", sol), ("post", bits > 0), ("inv", inv)}
    # 8 draws: expect both branches of at least one knob exercised
    assert len(covered) >= 4


def test_photometric_is_shuffle_free(spark):
    plan = photometric_images(formula_images_df(spark, 4))._jdf\
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------------ border detect


def _img_df(spark, arrays):
    rows = [(f"b{i:02d}", encode_png(a), "png")
            for i, a in enumerate(arrays)]
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string")


def test_detect_borders_recovers_planted_pads(spark):
    inner = ((np.arange(9)[:, None] * 13 + np.arange(11)[None, :] * 7)
             % 251).astype(np.uint8)
    canvas = np.full((9 + 3 + 2, 11 + 5 + 1), 7, dtype=np.uint8)
    canvas[3:12, 5:16] = inner
    r = detect_borders(_img_df(spark, [canvas])).collect()[0]
    assert (r.border_top, r.border_bottom, r.border_left,
            r.border_right) == (3, 2, 5, 1)
    assert (r.crop_w, r.crop_h) == (11, 9)
    assert r.m0_crop == int(inner.astype(np.int64).sum())
    assert r.err is None


def test_detect_borders_degenerate_contracts(spark):
    flat = np.full((6, 8), 50, dtype=np.uint8)          # all constant
    colbars = np.tile(np.arange(8, dtype=np.uint8), (6, 1))  # cols const
    rows = {r.image_id: r
            for r in detect_borders(_img_df(spark, [flat, colbars]))
            .collect()}
    f = rows["b00"]
    assert (f.border_top, f.border_bottom, f.border_left,
            f.border_right, f.crop_w, f.crop_h, f.m0_crop) == (
        6, 0, 0, 0, 0, 0, 0)
    c = rows["b01"]
    assert (c.border_top, c.border_bottom, c.border_left,
            c.border_right, c.crop_w, c.crop_h, c.m0_crop) == (
        0, 0, 8, 0, 0, 6, 0)


# --------------------------------------------------- confusion report


def test_classification_report_hand_case(spark):
    # labels: a x3 (pred a,a,b), b x2 (pred a,b), plus hallucinated
    # pred-only class z from a 'b' truth row
    df = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("a", "b"), ("b", "a"), ("b", "b"),
         ("b", "z")],
        "label string, pred string")
    rep = {r.cls: r for r in classification_report(df).collect()}
    a, b, z = rep["a"], rep["b"], rep["z"]
    assert (a.tp, a.fp, a.fn, a.support) == (2, 1, 1, 3)
    assert a.precision_u == 2 * 10**6 // 3
    assert a.recall_u == 2 * 10**6 // 3
    assert a.f1_u == 4 * 10**6 // 6
    assert (b.tp, b.fp, b.fn, b.support) == (1, 1, 2, 3)
    assert (z.tp, z.fp, z.fn, z.support) == (0, 1, 0, 0)
    assert (z.precision_u, z.recall_u, z.f1_u) == (0, 0, 0)


def test_classification_report_label_only_class(spark):
    df = spark.createDataFrame(
        [("a", "a"), ("ghost", "a")], "label string, pred string")
    rep = {r.cls: r for r in classification_report(df).collect()}
    g = rep["ghost"]
    assert (g.tp, g.fp, g.fn, g.support) == (0, 0, 1, 1)
    assert g.recall_u == 0 and g.precision_u == 0


# ------------------------------------------------------- calibration


def test_calibration_bins_hand_case(spark):
    # bin 0: two rows conf 10000/30000, one correct
    # bin 9: two rows conf 950000/1000000 (top edge folds in), both ok
    df = spark.createDataFrame(
        [(10000, 1), (30000, 0), (950000, 1), (1000000, 1)],
        "conf_u long, correct int")
    out = {r.bin: r for r in calibration_bins(df).collect()}
    b0, b9 = out[0], out[9]
    assert (b0.n, b0.n_correct, b0.sum_conf_u) == (2, 1, 40000)
    assert b0.acc_u == 500000 and b0.avg_conf_u == 20000
    assert b0.gap_w == abs(10**6 - 40000)
    assert (b9.n, b9.n_correct) == (2, 2)
    assert b9.gap_w == abs(2 * 10**6 - 1950000)
    ece = (b0.gap_w + b9.gap_w) // 4
    assert b0.ece_u == ece and b9.ece_u == ece


def test_calibration_bins_grain_guard(spark):
    df = spark.createDataFrame([(1, 1)], "conf_u long, correct int")
    with pytest.raises(ValueError):
        calibration_bins(df, n_bins=7)


# ----------------------------------------------------------- HLL


def _docs(spark, n):
    return spark.range(n).select(
        F.concat(F.lit("tok"), (F.col("id") % 500).cast("string"))
        .alias("text"))


def test_hll_deterministic_and_null_safe(spark):
    d = _docs(spark, 2000)
    r1 = hll_distinct(d, "text").collect()[0]
    r2 = hll_distinct(d, "text").collect()[0]
    assert r1 == r2
    with_nulls = d.union(spark.createDataFrame(
        [(None,), (None,)], "text string"))
    r3 = hll_distinct(with_nulls, "text").collect()[0]
    assert r3 == r1  # NULL keys excluded, registers unchanged


def test_hll_estimate_in_expected_error_band(spark):
    # m=64 -> relative std error ~1.04/sqrt(64) = 13%; allow 3 sigma
    r = hll_distinct(_docs(spark, 5000), "text").collect()[0]
    assert r.m == 64
    est = r.est_u / 1e6
    assert 500 * 0.6 <= est <= 500 * 1.4
    assert r.linear_counting == 0


def test_hll_duplicates_do_not_move_registers(spark):
    base = _docs(spark, 500)  # each token once
    dup = _docs(spark, 5000)  # each token ten times
    assert (hll_distinct(base, "text").collect()
            == hll_distinct(dup, "text").collect())


def test_hll_p_guard(spark):
    d = _docs(spark, 10)
    with pytest.raises(ValueError):
        hll_distinct(d, "text", p=2)
