"""Round-5 third-wave operators: cross-modal gate, image entropy,
letterbox transform, PMI collocations.

Expectations are straight-line hand computations (closed-form cosines,
exact-count PMI, known histograms) — never the operator's own helpers.
"""

import math

import numpy as np
import pytest

from rp_extract_spark.codecs import decode_image, encode_png
from rp_extract_spark.operators.images import (
    image_entropy,
    letterbox_geometry,
    letterbox_images,
)
from rp_extract_spark.operators.similarity import crossmodal_gate
from rp_extract_spark.operators.text import pmi_collocations

# ------------------------------------------------------------ crossmodal


def _pairs_df(spark, rows):
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "id int, img_emb array<float>, txt_emb array<float>",
    )


def test_crossmodal_gate_exact_scores(spark):
    # cos([3,4],[4,3]) = 24/25 = 0.96 exactly representable products
    df = _pairs_df(
        spark,
        [
            ([3.0, 4.0], [4.0, 3.0]),   # 0.96
            ([1.0, 0.0], [0.0, 1.0]),   # 0.0
            ([1.0, 0.0], [-1.0, 0.0]),  # -1.0
            ([2.0, 0.0], [2.0, 0.0]),   # 1.0 (non-unit norms)
        ],
    )
    out = {
        r["id"]: (r["score_u"], r["passed"])
        for r in crossmodal_gate(df, threshold_u=250_000).collect()
    }
    assert out[0] == (960_000, 1)
    assert out[1] == (0, 0)
    assert out[2] == (-1_000_000, 0)
    assert out[3] == (1_000_000, 1)


def test_crossmodal_gate_threshold_is_integer_exact(spark):
    df = _pairs_df(spark, [([3.0, 4.0], [4.0, 3.0])])
    pass_at = crossmodal_gate(df, threshold_u=960_000).collect()[0]["passed"]
    fail_at = crossmodal_gate(df, threshold_u=960_001).collect()[0]["passed"]
    assert (pass_at, fail_at) == (1, 0)


def test_crossmodal_gate_plan_is_jvm_only(spark):
    df = _pairs_df(spark, [([1.0, 0.0], [0.0, 1.0])])
    plan = crossmodal_gate(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # pure projection, no shuffle


# ------------------------------------------------------------- entropy


def _img_df(spark, arrays):
    rows = [
        (f"t{i}", bytearray(encode_png(a.astype(np.uint8))), "png")
        for i, a in enumerate(arrays)
    ]
    return spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")


def test_image_entropy_known_histograms(spark):
    flat = np.full((8, 8), 7)
    half = np.zeros((8, 8))
    half[:, 4:] = 255  # 32/32 split -> ln 2
    out = {
        r["image_id"]: r
        for r in image_entropy(_img_df(spark, [flat, half])).collect()
    }
    assert out["t0"]["n_distinct"] == 1
    assert out["t0"]["entropy"] == pytest.approx(0.0, abs=1e-12)
    assert out["t1"]["n_distinct"] == 2
    assert out["t1"]["entropy"] == pytest.approx(math.log(2), rel=1e-12)
    assert out["t0"]["n_px"] == out["t1"]["n_px"] == 64


# ------------------------------------------------------------ letterbox


def test_letterbox_geometry_cases():
    assert letterbox_geometry(128, 48, 64, 64) == (64, 24, 0, 20)
    assert letterbox_geometry(48, 128, 64, 64) == (24, 64, 20, 0)
    assert letterbox_geometry(64, 64, 64, 64) == (64, 64, 0, 0)
    assert letterbox_geometry(1000, 1, 64, 64) == (64, 1, 0, 31)
    assert letterbox_geometry(1, 1000, 64, 64) == (1, 64, 31, 0)


def test_letterbox_pixels_match_naive(spark):
    rng = np.random.default_rng(7)
    src = rng.integers(0, 256, size=(48, 128), dtype=np.uint8)  # wide
    out = letterbox_images(_img_df(spark, [src]), 64, 64, fill=114).collect()[0]
    assert (out["inner_w"], out["inner_h"]) == (64, 24)
    assert (out["pad_left"], out["pad_top"]) == (0, 20)
    px = decode_image(bytes(out["bytes"]), "png")
    assert px.shape == (64, 64)
    # pad region is the constant fill
    assert (px[:20, :] == 114).all() and (px[44:, :] == 114).all()
    # inner region is the anchor-sampled source
    yi = (np.arange(24)[:, None] * 48) // 24
    xi = (np.arange(64)[None, :] * 128) // 64
    assert (px[20:44, :] == src[yi, xi]).all()


def test_letterbox_error_isolated(spark):
    df = spark.createDataFrame(
        [("bad", bytearray(b"nope"), "png")],
        "image_id string, bytes binary, fmt string",
    )
    r = letterbox_images(df).collect()[0]
    assert r["bytes"] is None and r["err"] is not None


# ------------------------------------------------------------------ pmi


def test_pmi_collocations_hand_counts(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c")], "doc_id int, text string"
    )
    rows = pmi_collocations(docs, min_count=1, top_k=10).collect()
    got = {(r["w1"], r["w2"]): r for r in rows}
    # unigrams a:3 b:3 c:1 (Nu=7); bigrams (a,b):3 (b,a):1 (b,c):1 (Nb=5)
    assert got[("a", "b")]["c_xy"] == 3
    assert got[("a", "b")]["c_x"] == 3 and got[("a", "b")]["c_y"] == 3
    exp = {
        ("a", "b"): math.log((3.0 * 7 * 7) / (5.0 * 3 * 3)),
        ("b", "a"): math.log((1.0 * 7 * 7) / (5.0 * 3 * 3)),
        ("b", "c"): math.log((1.0 * 7 * 7) / (5.0 * 3 * 1)),
    }
    for k, v in exp.items():
        assert got[k]["pmi_u"] == math.floor(v * 1e6 + 0.5)
    # ordering: pmi_u desc, then (w1, w2)
    pmis = [r["pmi_u"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)


def test_pmi_min_count_filters(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c")], "doc_id int, text string"
    )
    rows = pmi_collocations(docs, min_count=2, top_k=10).collect()
    assert {(r["w1"], r["w2"]) for r in rows} == {("a", "b")}


def test_pmi_single_token_docs_yield_no_bigrams(spark):
    docs = spark.createDataFrame(
        [(0, "solo"), (1, "  "), (2, "x y")], "doc_id int, text string"
    )
    rows = pmi_collocations(docs, min_count=1, top_k=10).collect()
    assert {(r["w1"], r["w2"]) for r in rows} == {("x", "y")}
