"""WebDataset tar shard sink/scan (sources/webdataset.py): byte-exact
roundtrip, manifest accounting, JSON metadata members, deterministic
re-write, corrupt-shard isolation, and the epoch_shuffle permutation
contract (operators/curation.py)."""

import json
import os
import tarfile

import pytest
from pyspark.sql import functions as F

from rp_extract_spark.operators.curation import epoch_shuffle
from rp_extract_spark.sources.images import formula_images_df, images_df
from rp_extract_spark.sources.webdataset import (
    read_webdataset,
    write_webdataset,
)


def test_roundtrip_bytes_exact(spark, tmp_path):
    imgs = formula_images_df(spark, 12)
    manifest = write_webdataset(imgs, str(tmp_path), shard_rows=5).collect()
    assert sum(r["n_samples"] for r in manifest) == 12
    assert all(r["shard"].endswith(".tar") for r in manifest)

    back = read_webdataset(spark, str(tmp_path) + "/*.tar")
    rows = {r["key"]: r for r in back.collect()}
    assert back.filter(F.col("err").isNotNull()).count() == 0
    orig = {r["image_id"]: r for r in imgs.collect()}
    assert set(rows) == set(orig)
    for k, r in rows.items():
        assert bytes(r["data"]) == bytes(orig[k]["bytes"])
        assert r["ext"] == orig[k]["fmt"]


def test_read_directory_equals_tar_glob(spark, tmp_path):
    """A shard directory reads like its ``*.tar`` glob."""
    write_webdataset(formula_images_df(spark, 7), str(tmp_path), shard_rows=3).collect()
    by_dir = sorted(map(tuple, read_webdataset(spark, str(tmp_path)).collect()))
    by_glob = sorted(map(tuple, read_webdataset(spark, str(tmp_path) + "/*.tar").collect()))
    assert by_dir == by_glob
    assert len(by_dir) == 7 and all(r[-1] is None for r in by_dir)


def test_meta_json_members(spark, tmp_path):
    imgs = images_df(spark, 8, seed=3).select(
        "image_id", "bytes", "fmt", "caption", "entity_id"
    )
    write_webdataset(
        imgs, str(tmp_path), meta_cols=("caption", "entity_id"),
        shard_rows=100,
    ).collect()
    back = read_webdataset(spark, str(tmp_path) + "/*.tar")
    metas = {
        r["key"]: json.loads(bytes(r["data"]))
        for r in back.filter(F.col("ext") == "json").collect()
    }
    orig = {r["image_id"]: r for r in imgs.collect()}
    assert set(metas) == set(orig)
    for k, m in metas.items():
        assert m["caption"] == orig[k]["caption"]
        assert m["entity_id"] == orig[k]["entity_id"]


def test_rewrite_is_deterministic(spark, tmp_path):
    imgs = formula_images_df(spark, 10).repartition(2, "image_id")
    write_webdataset(imgs, str(tmp_path), shard_rows=4).collect()
    first = {
        f: open(tmp_path / f, "rb").read()
        for f in os.listdir(tmp_path) if f.endswith(".tar")
    }
    write_webdataset(imgs, str(tmp_path), shard_rows=4).collect()
    second = {
        f: open(tmp_path / f, "rb").read()
        for f in os.listdir(tmp_path) if f.endswith(".tar")
    }
    assert first == second  # mtime=0 + os.replace: byte-stable re-runs


def test_corrupt_shard_isolated(spark, tmp_path):
    write_webdataset(
        formula_images_df(spark, 6), str(tmp_path), shard_rows=3
    ).collect()
    (tmp_path / "shard-junk-0000.tar").write_bytes(b"not a tar file")
    back = read_webdataset(spark, str(tmp_path) + "/*.tar")
    errs = back.filter(F.col("err").isNotNull()).collect()
    assert len(errs) == 1 and errs[0]["shard"] == "shard-junk-0000.tar"
    assert back.filter(F.col("err").isNull()).count() == 6


# ------------------------------------------------------------ epoch shuffle


def test_epoch_shuffle_is_md5_rank(spark):
    import hashlib

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(57)], "doc_id long, text string"
    ).repartition(7)
    out = epoch_shuffle(df, id_col="doc_id", seed=3, epoch=1, n_shards=4)
    rows = out.collect()
    exp_order = sorted(
        range(57),
        key=lambda i: (hashlib.md5(f"{i}:3:1".encode()).hexdigest(), i),
    )
    exp_pos = {i: p for p, i in enumerate(exp_order)}
    assert len(rows) == 57
    for r in rows:
        assert r["pos"] == exp_pos[r["doc_id"]]
        assert r["shard"] == r["pos"] % 4
        assert r["text"] == f"t{r['doc_id']}"  # payload columns survive


def test_epoch_shuffle_new_permutation_per_epoch(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    p1 = {r["doc_id"]: r["pos"]
          for r in epoch_shuffle(df, epoch=1).collect()}
    p2 = {r["doc_id"]: r["pos"]
          for r in epoch_shuffle(df, epoch=2).collect()}
    assert p1 != p2
    assert sorted(p1.values()) == list(range(40))
    assert sorted(p2.values()) == list(range(40))


def test_verify_webdataset_clean_and_corrupt(spark, tmp_path):
    """The shard audit: clean shards verify against the manifest; a
    torn write and a manifest mismatch are flagged per shard."""
    import os

    from pyspark.sql import functions as F

    from rp_extract_spark.sources.images import images_df
    from rp_extract_spark.sources.webdataset import (
        verify_webdataset,
        write_webdataset,
    )

    out = str(tmp_path / "wds")
    imgs = images_df(spark, 12, seed=5).repartition(2)
    manifest = write_webdataset(imgs, out, shard_rows=4)
    mrows = manifest.collect()  # runs the write
    ok = verify_webdataset(spark, out + "/*.tar",
                           spark.createDataFrame(mrows))
    rows = ok.collect()
    assert rows and all(r.ok == 1 for r in rows)
    assert sum(r.n_samples for r in rows) == 12

    # torn write: truncate one shard mid-file
    victim = sorted(os.listdir(out))[0]
    p = os.path.join(out, victim)
    data = open(p, "rb").read()
    open(p, "wb").write(data[: len(data) // 2])
    bad = {r.shard: r for r in verify_webdataset(
        spark, out + "/*.tar", spark.createDataFrame(mrows)).collect()}
    assert bad[victim].ok == 0 and bad[victim].err is not None
    assert all(v.ok == 1 for k, v in bad.items() if k != victim)

    # manifest mismatch: claim a shard that does not exist
    fake = spark.createDataFrame(mrows).unionByName(
        spark.createDataFrame(
            [("shard-ghost.tar", 4, 1)],
            "shard string, n_samples int, n_bytes long"))
    ghost = {r.shard: r for r in verify_webdataset(
        spark, out + "/*.tar", fake).collect()}
    assert ghost["shard-ghost.tar"].ok == 0
    assert "missing" in ghost["shard-ghost.tar"].err
