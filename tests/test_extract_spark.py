"""End-to-end extraction over the synthetic image table."""

import numpy as np
import pytest

from rp_extract_spark.codecs import decode_image
from rp_extract_spark.functions.kernel import extract_segment_features
from rp_extract_spark.operators.extract import (
    aggregate_entity_features,
    extract_features,
    quarantine,
)
from rp_extract_spark.sources.images import captions_df, images_df

N = 60


@pytest.fixture(scope="module")
def images(spark):
    return images_df(spark, N, seed=42).cache()


def test_image_table_schema_and_determinism(spark, images):
    rows = images.orderBy("image_id").collect()
    assert len(rows) == N
    again = images_df(spark, N, seed=42).orderBy("image_id").collect()
    for a, b in zip(rows, again):
        assert a.image_id == b.image_id
        assert bytes(a.bytes) == bytes(b.bytes)
        assert a.phash == b.phash and a.ts == b.ts
    fmts = {r.fmt for r in rows}
    assert fmts == {"png", "jpeg"}
    # entity timelines are non-decreasing with duplicates present
    by_ent = {}
    for r in sorted(rows, key=lambda r: (r.entity_id, int(r.image_id[3:]))):
        by_ent.setdefault(r.entity_id, []).append(r.ts)
    assert all(ts == sorted(ts) for ts in by_ent.values())


def test_extract_matches_local_kernel(spark, images):
    feats = {r.image_id: r for r in extract_features(images).collect()}
    src = images.collect()
    assert len(feats) == len(src)
    for r in src:
        got = feats[r.image_id]
        assert got.err is None, got.err
        want = extract_segment_features(decode_image(bytes(r.bytes), r.fmt))
        for k in ("rp", "ssd", "rh", "mvd"):
            assert np.allclose(np.array(getattr(got, k)), want[k]), (r.image_id, k)
        assert got.caption == r.caption  # exact caption equality gate
        assert got.entity_id == r.entity_id and got.ts == r.ts


def test_error_isolation(spark, images):
    from pyspark.sql import functions as F

    # corrupt one row's bytes; stage must survive and quarantine it
    broken = images.withColumn(
        "bytes",
        F.when(F.col("image_id") == "img00000003", F.lit(b"garbage")).otherwise(
            F.col("bytes")
        ),
    )
    feats = extract_features(broken)
    good, bad = quarantine(feats)
    bad_rows = bad.collect()
    assert len(bad_rows) == 1 and bad_rows[0].image_id == "img00000003"
    assert "ValueError" in bad_rows[0].err
    assert good.count() == N - 1


def test_aggregate_entity_features(spark, images):
    feats = extract_features(images).cache()
    agg = {r.entity_id: r for r in aggregate_entity_features(feats).collect()}
    pdf = feats.orderBy("ts", "image_id").collect()
    by_ent = {}
    for r in pdf:
        by_ent.setdefault(r.entity_id, []).append(r)
    assert set(agg) == set(by_ent)
    for ent, rows in by_ent.items():
        rp = np.stack([np.array(r.rp) for r in rows])
        ssd = np.stack([np.array(r.ssd) for r in rows])
        a = agg[ent]
        assert a.n_segments == len(rows)
        assert np.allclose(np.array(a.rp), np.median(rp, axis=0))
        assert np.allclose(np.array(a.ssd), np.mean(ssd, axis=0))
        assert len(a.tssd) == 168 * 7 and len(a.trh) == 60 * 7


def test_captions_fixture(spark):
    caps = captions_df(spark, N, seed=42)
    rows = caps.collect()
    assert len(rows) > 0
    keys = [(r.entity_id, r.caption_ts) for r in rows]
    assert len(keys) == len(set(keys))  # unique per (entity, ts)


# ------------------------------------------------ descriptor families

NARROW = ("rp", "ssd", "rh")


def test_narrow_families_equal_default(spark, images):
    full = {r.image_id: r for r in extract_features(images).collect()}
    narrow = extract_features(images, families=NARROW)
    assert narrow.columns == ["entity_id", "ts", "image_id", *NARROW,
                              "caption", "err"]
    rows = narrow.collect()
    assert len(rows) == len(full)
    for r in rows:
        want = full[r.image_id]
        assert r.err is None and r.caption == want.caption
        for k in NARROW:
            assert getattr(r, k) == getattr(want, k), (r.image_id, k)


def test_kernel_family_subsets_equal_full_call():
    import itertools
    import os

    from rp_extract_spark.functions.kernel import (
        FAMILIES,
        extract_segment_features_batch,
    )

    with np.load(os.path.join(os.path.dirname(__file__), "golden",
                              "kernel.npz")) as z:
        pixels = [z[f"px{i}"] for i in range(12)]
    # an RGB image stacks with the gray image of its (h, w) after mixdown
    pixels.append(np.stack([pixels[0], pixels[0][::-1], 255 - pixels[0]], -1))
    single = [extract_segment_features(px) for px in pixels]
    batch = extract_segment_features_batch(pixels)
    for s, b in zip(single, batch):
        for k in FAMILIES:
            np.testing.assert_allclose(b[k], s[k], rtol=1e-12, atol=0)
    for r in range(1, len(FAMILIES) + 1):
        for sub in itertools.combinations(FAMILIES, r):
            got_s = [extract_segment_features(px, families=sub) for px in pixels]
            got_b = extract_segment_features_batch(pixels, families=sub)
            for full, got in ((single, got_s), (batch, got_b)):
                for f, g in zip(full, got):
                    assert tuple(g) == sub
                    for k in sub:
                        assert np.array_equal(f[k], g[k]), (sub, k)


def test_unknown_family_rejected(spark, images):
    with pytest.raises(ValueError, match="families"):
        extract_features(images, families=("rp", "tssd"))
    with pytest.raises(ValueError, match="families"):
        extract_features(images, families=())


def test_aggregate_rejects_narrowed_input(spark, images):
    with pytest.raises(ValueError, match=r"\['rh2', 'mvd'\]"):
        aggregate_entity_features(extract_features(images, families=NARROW))


# ------------------------------------ per-record isolation in one batch

KINDS = ("good", "small", "trunc", "null", "junk")


def _payloads():
    from rp_extract_spark.codecs import encode_png

    rng = np.random.default_rng(7)
    good = encode_png(rng.integers(0, 256, (48, 96), dtype=np.uint8))
    # decodes, but too narrow for the 60-bin 2nd FFT: the batched
    # kernel raises and is re-run per image
    small = encode_png(rng.integers(0, 256, (16, 16), dtype=np.uint8))
    return {"good": good, "small": small, "trunc": good[: len(good) // 2],
            "null": None, "junk": b"nope"}


def _mixed(spark, kinds):
    from datetime import datetime

    p = _payloads()
    return spark.createDataFrame(
        [("e0", datetime(2024, 1, 1, 0, i), k,
          None if p[k] is None else bytearray(p[k]), "png", f"cap {k}")
         for i, k in enumerate(kinds)],
        "entity_id string, ts timestamp, image_id string, bytes binary, "
        "fmt string, caption string",
    ).coalesce(1)


def _err(kind):
    data = _payloads()[kind]
    if data is None:
        return "ValueError: quarantined row (bytes is NULL)"
    try:
        extract_segment_features(decode_image(data, "png"))
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {e}"
    raise AssertionError(f"{kind} payload extracted")


def test_bad_payloads_isolated_in_one_batch(spark):
    def run(kinds):
        return {r.image_id: r.asDict()
                for r in extract_features(_mixed(spark, kinds)).collect()}

    alone = run(("good",))
    mixed = run(KINDS)
    assert sorted(mixed) == sorted(KINDS)
    assert mixed["good"] == alone["good"] and mixed["good"]["err"] is None
    for kind in KINDS[1:]:
        row = mixed[kind]
        assert row["err"] == _err(kind), kind
        assert row["caption"] == f"cap {kind}" and row["entity_id"] == "e0"
        assert all(row[k] is None for k in ("rp", "ssd", "rh", "rh2", "mvd"))


def test_extract_plan_is_one_arrow_stage(spark):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        extract_features(_mixed(spark, KINDS), families=NARROW).explain(
            "formatted")
    plan = buf.getvalue()
    assert "MapInArrow" in plan and "MapInPandas" not in plan
