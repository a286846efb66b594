"""Per-record isolation of every operator built on ``_prims.arrow_stage``.

Each operator runs on a table holding one good payload, one truncated
payload, one NULL payload and one junk payload. The row count is
preserved, the good row equals the row the operator emits for the good
payload alone (all rows share one Arrow batch, so this also catches a
nullable 64-bit hash rounded through float64), and every bad row
carries its decode error as
``"<ExceptionClass>: <message>"`` — a NULL payload always as
``ValueError: quarantined row (bytes is NULL)``.

``quality_gate_audio`` maps the same err rows to ``decode_error``
(tests/test_audio_gate.py); ``dedup_frames`` runs the stage over the
frames ``sample_video_frames`` decoded without error. The one-to-many
stages (``tile_images``, ``sample_video_frames``) return an array per
record that ``_prims.expand`` turns back into rows: a good record keeps
its rows and each bad record gives exactly one err row carrying the
sentinel indices (``ty = tx = -1``, ``frame_idx = -1``). A stage whose
schema has no ``err`` field lets ``fn``'s exception fail the task.
"""

from datetime import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

from rp_extract_spark import _prims
from rp_extract_spark.codecs import decode_image, encode_png
from rp_extract_spark.codecs.avi import encode_mjpeg_avi
from rp_extract_spark.codecs.wav import encode_wav
from rp_extract_spark.operators import images as im
from rp_extract_spark.operators import multimodal as mm

KINDS = ("good", "trunc", "null", "junk")
NULL_ERR = "ValueError: quarantined row (bytes is NULL)"


def _good_png(i: int) -> bytes:
    rng = np.random.default_rng(100 + i)
    return encode_png(rng.integers(0, 256, (32, 32), dtype=np.uint8))


def _payload(kind: str, i: int):
    good = _good_png(i)
    return {"good": good, "trunc": good[: len(good) // 2], "null": None,
            "junk": b"nope"}[kind]


def _images(spark, kinds=KINDS, copies=1):
    """``copies`` images per kind; each kind is its own (w, h) class so
    pair and quad operators group within a kind. One partition, so the
    bad rows share the good row's Arrow batch."""
    rows = [
        (f"{kind}{i}", None if (p := _payload(kind, i)) is None
         else bytearray(p), "png", 32 + k, 32 + k)
        for k, kind in enumerate(kinds) for i in range(copies)
    ]
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w int, h int"
    ).coalesce(1)


def _good_wav() -> bytes:
    return encode_wav(np.sin(np.arange(140_000) / 10.0) * 0.3, 22050)


def _clips(spark, kinds=KINDS):
    good = _good_wav()
    payload = {"good": good, "trunc": good[:30], "null": None,
               "junk": b"nope"}
    return spark.createDataFrame(
        [(f"{k}0", None if payload[k] is None else bytearray(payload[k]))
         for k in kinds],
        "clip_id string, bytes binary").coalesce(1)


def _image_err(kind: str) -> str:
    try:
        decode_image(_payload(kind, 0), "png")
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {e}"
    raise AssertionError(f"{kind} payload decoded")


def _audio_err(kind: str) -> str:
    data = {"trunc": _good_wav()[:30], "junk": b"nope"}[kind]
    try:
        mm.decode_audio(data)
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {e}"
    raise AssertionError(f"{kind} payload decoded")


# name -> (input kind, copies per kind, key columns, build); the first
# key column names the input kind
ID, PAIR, QUAD = ("image_id",), ("a_id", "b_id"), ("a_id", "b_id", "c_id", "d_id")
CASES = {
    "image_hashes": ("image", 1, ID, im.image_hashes),
    "image_stats": ("image", 1, ID, im.image_stats),
    "image_gradients": ("image", 1, ID, im.image_gradients),
    "equalize_images": ("image", 1, ID, im.equalize_images),
    "transform_images": (
        "image", 1, ID, lambda d: im.transform_images(d, "rot90")),
    "image_entropy": ("image", 1, ID, im.image_entropy),
    "letterbox_images": ("image", 1, ID, im.letterbox_images),
    "augment_moments": (
        "image", 1, ID + ("flip_h", "rot180"),
        lambda d: im.augment_moments(d, seed=3)),
    "image_moments": (
        "image", 1, ID + ("fmt",), lambda d: im.image_moments(d, ("fmt",))),
    "random_resized_crop": ("image", 1, ID, im.random_resized_crop),
    "color_jitter": ("image", 1, ID, im.color_jitter),
    "mae_mask": ("image", 1, ID, im.mae_mask),
    "photometric_images": ("image", 1, ID, im.photometric_images),
    "detect_borders": ("image", 1, ID, im.detect_borders),
    "random_erasing": ("image", 1, ID, im.random_erasing),
    "image_autocontrast": ("image", 1, ID, im.image_autocontrast),
    "orbit_hashes": ("image", 1, ID, im.orbit_hashes),
    "audit_image_meta": (
        "image", 1, ID + ("decl_w", "decl_h"), im.audit_image_meta),
    "image_pair_sse": ("image", 1, ID, lambda d: im.image_pair_sse(d, d)),
    "mixup_images": ("image", 2, PAIR, im.mixup_images),
    "cutmix_images": ("image", 2, PAIR, im.cutmix_images),
    "mosaic_images": ("image", 4, QUAD, im.mosaic_images),
    "resize_images": ("image", 1, ID, mm.resize_images),
    "analyze_audio": ("audio", 1, ("clip_id",), mm.analyze_audio),
    "extract_features_audio": (
        "audio", 1, ("clip_id",), mm.extract_features_audio),
    "fingerprint_audio": ("audio", 1, ("clip_id",), mm.fingerprint_audio),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_bad_records_are_isolated(spark, name):
    src, copies, keys, build = CASES[name]

    def run(kinds):
        df = (_images(spark, kinds, copies) if src == "image"
              else _clips(spark, kinds))
        return {r[keys[0]].rstrip("0123456789"): r.asDict()
                for r in build(df).collect()}

    alone = run(("good",))
    mixed = run(KINDS)
    assert sorted(mixed) == sorted(KINDS)  # one row per input (group)
    assert mixed["good"] == alone["good"] and mixed["good"]["err"] is None
    err = _image_err if src == "image" else _audio_err
    assert mixed["trunc"]["err"] == err("trunc")
    assert mixed["junk"]["err"] == err("junk")
    assert mixed["null"]["err"] == NULL_ERR
    values = set(alone["good"]) - set(keys) - {"err"}
    for kind in ("trunc", "null", "junk"):
        assert all(mixed[kind][c] is None for c in values), kind


def _good_video() -> bytes:
    return encode_mjpeg_avi(
        [np.full((16, 16), 40 * k, np.uint8) for k in range(5)], fps=10)


def _videos(spark, kinds=KINDS):
    good = _good_video()
    payload = {"good": good, "trunc": good[:30], "null": None,
               "junk": b"nope"}
    return spark.createDataFrame(
        [(f"{k}0", None if payload[k] is None else bytearray(payload[k]))
         for k in kinds],
        "video_id string, bytes binary").coalesce(1)


def _video_err(kind: str) -> str:
    data = {"trunc": _good_video()[:30], "junk": b"nope"}[kind]
    try:
        mm.demux_video(data)
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {e}"
    raise AssertionError(f"{kind} payload demuxed")


# name -> (build over the kinds, key column, sentinel index columns,
# expected err of a truncated / junk payload)
EXPANDING = {
    "tile_images": (
        lambda spark, kinds: im.tile_images(_images(spark, kinds)),
        "image_id", ("ty", "tx"), _image_err),
    "sample_video_frames": (
        lambda spark, kinds: mm.sample_video_frames(
            _videos(spark, kinds), every_n=2),
        "video_id", ("frame_idx",), _video_err),
}


@pytest.mark.parametrize("name", sorted(EXPANDING))
def test_one_to_many_bad_records_give_one_err_row(spark, name):
    build, key, idx, err = EXPANDING[name]

    def run(kinds):
        out = {}
        for r in build(spark, kinds).collect():
            out.setdefault(r[key].rstrip("0123456789"), []).append(r.asDict())
        return out

    alone = run(("good",))
    mixed = run(KINDS)
    assert sorted(mixed) == sorted(KINDS)
    assert len(alone["good"]) > 1 and mixed["good"] == alone["good"]
    assert all(r["err"] is None for r in mixed["good"])
    for kind in ("trunc", "null", "junk"):
        [row] = mixed[kind]  # exactly one row per bad record
        assert row["err"] == (NULL_ERR if kind == "null" else err(kind))
        assert [row[c] for c in idx] == [-1] * len(idx), kind
        assert all(v is None for c, v in row.items()
                   if c not in (key, "err", *idx)), kind


def test_phash_dedup_verified_drops_bad_records(spark):
    out = im.phash_dedup_verified(_images(spark)).collect()
    px = decode_image(_good_png(0), "png").astype(np.uint8)
    assert [(r.image_id, r.dhash, r.rep_id) for r in out] == [
        ("good0", im.dhash64(px), "good0")]


def test_streaming_image_dedup_drops_bad_records(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    t0 = datetime(2024, 1, 1)
    _images(spark).select(
        "image_id", "bytes", "fmt",
        F.lit(t0).alias("ts"),
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "image_id string, bytes binary, fmt string, ts timestamp"
    ).parquet(src)
    q = (
        im.streaming_image_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    px = decode_image(_good_png(0), "png").astype(np.uint8)
    assert [(r.image_id, r.key, r.first_ts) for r in rows] == [
        ("good0", im.dhash64(px), t0)]


def test_fn_error_without_err_field_raises(spark):
    """No ``err`` field: the exception fails the job instead of coming
    out as an all-NULL row."""
    from pyspark.sql import types as T

    def fn(data, fmt):
        return {"w": _prims.gray(data, fmt).shape[1]}

    schema = T.StructType([T.StructField("image_id", T.StringType()),
                           T.StructField("w", T.IntegerType())])
    out = _prims.arrow_stage(_images(spark, ("good", "null")), ["image_id"],
                             ["bytes", "fmt"], schema, fn)
    with pytest.raises(Exception, match="quarantined row"):
        out.collect()
    good = _prims.arrow_stage(_images(spark, ("good",)), ["image_id"],
                              ["bytes", "fmt"], schema, fn)
    assert [tuple(r) for r in good.collect()] == [("good0", 32)]


def test_gray_rejects_null_payload():
    with pytest.raises(ValueError, match="bytes is NULL"):
        _prims.gray(None, "png")
