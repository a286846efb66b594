"""WebDataset-style tar shard sink/scan for training corpora.

The PUBLIC WebDataset convention (github.com/webdataset/webdataset —
the de-facto loader format for large image/text training sets): a
dataset is a set of ``.tar`` shards; a sample is the group of adjacent
tar members sharing a basename key, with the member extension naming
the field (``000123.png`` + ``000123.json``). Training loaders stream
shards sequentially — no random access, which is exactly what an
object store wants at 100 TB.

Scale shape: the SINK is embarrassingly parallel — each input
partition rolls its own shard files (named ``prefix-<pid>-<k>.tar``,
deterministic, so task retries overwrite idempotently via
``os.replace``) and emits a manifest row per shard; nothing shuffles.
The SCAN is a ``binaryFile`` source over the shards plus an Arrow
untar stage with per-FILE error isolation — one corrupt shard
quarantines as an ``err`` row instead of killing the read. Shards are
the parallelism unit on read, matching the loader semantics.
"""

from __future__ import annotations

import io
import json
import os
import tarfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._prims import arrow_stage, expand

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType(), False),
        T.StructField("key", T.StringType(), True),
        T.StructField("ext", T.StringType(), True),
        T.StructField("data", T.BinaryType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    id_col: str = "image_id",
    data_col: str = "bytes",
    ext_col: str = "fmt",
    meta_cols: tuple[str, ...] = (),
    shard_rows: int = 1000,
    prefix: str = "shard",
) -> DataFrame:
    """Write rows as WebDataset tar shards; returns the (lazy) shard
    manifest — COUNT or collect it to run the job. Each sample is a
    ``<key>.<ext>`` member holding ``data_col`` plus, when
    ``meta_cols`` are given, a ``<key>.json`` member with those
    columns (sorted keys, so byte-stable). Not transactional: like
    the CSV sink, concurrent writers to one ``out_dir`` race; task
    retries are safe (deterministic names + atomic ``os.replace``)."""
    os.makedirs(out_dir, exist_ok=True)
    cols = [id_col, data_col, ext_col, *meta_cols]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows_out, k, n, nbytes = [], 0, 0, 0
        buf = io.BytesIO()
        tf = tarfile.open(fileobj=buf, mode="w")

        def roll():
            nonlocal buf, tf, k, n, nbytes
            tf.close()
            name = f"{prefix}-{pid:05d}-{k:04d}.tar"
            tmp = os.path.join(out_dir, f".{name}.tmp-{os.getpid()}")
            with open(tmp, "wb") as f:
                f.write(buf.getvalue())
            os.replace(tmp, os.path.join(out_dir, name))
            rows_out.append({"shard": name, "n_samples": n,
                             "n_bytes": len(buf.getvalue())})
            buf, tf, k, n, nbytes = io.BytesIO(), None, k + 1, 0, 0
            tf = tarfile.open(fileobj=buf, mode="w")

        def add(name: str, payload: bytes):
            nonlocal nbytes
            info = tarfile.TarInfo(name=name)
            info.size = len(payload)
            info.mtime = 0  # deterministic archives
            tf.addfile(info, io.BytesIO(payload))
            nbytes += len(payload)

        for b in batches:
            for row in b.itertuples(index=False):
                d = dict(zip(b.columns, row))
                key, ext = str(d[id_col]), str(d[ext_col])
                add(f"{key}.{ext}", bytes(d[data_col]))
                if meta_cols:
                    meta = {c: d[c] for c in meta_cols}
                    add(
                        f"{key}.json",
                        json.dumps(meta, sort_keys=True, default=str).encode(),
                    )
                n += 1
                if n >= shard_rows:
                    roll()
        if n:
            roll()
        yield pd.DataFrame(
            rows_out, columns=[f.name for f in MANIFEST_SCHEMA.fields]
        )

    return df.select(*cols).mapInPandas(run, MANIFEST_SCHEMA)


def read_webdataset(spark: SparkSession, path_glob: str) -> DataFrame:
    """Scan WebDataset shards back to one row per tar member
    (shard, key, ext, data, err). Shards parallelize the scan
    (binaryFile source, predicate/glob pushdown); a corrupt shard
    yields a single err row (per-file isolation). Reassemble samples
    by grouping on ``key`` or pivoting ``ext``."""
    def fn(content):
        with tarfile.open(fileobj=io.BytesIO(content), mode="r") as tf:
            members = []
            for m in tf.getmembers():
                if m.isfile():
                    stem, dot, ext = m.name.rpartition(".")
                    members.append((stem if dot else m.name,
                                    ext if dot else "",
                                    tf.extractfile(m).read()))
        return {"members": members}

    return _untar(spark, path_glob, MEMBER_SCHEMA, fn)


VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType(), False),
        T.StructField("ok", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("n_members", T.IntegerType(), True),
        T.StructField("payload_bytes", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def verify_webdataset(
    spark: SparkSession,
    path_glob: str,
    manifest: DataFrame | None = None,
) -> DataFrame:
    """Shard integrity audit — the check a resumable tar-sink pipeline
    runs before pointing a trainer at the output: every shard must
    parse as a complete tar INCLUDING the end-of-archive marker (a
    torn write fails loudly per shard, never the whole job — the
    marker check matters because a truncation at a 512-byte block
    boundary otherwise parses as a valid shorter tar), (key, field)
    member names must be unique (multi-field samples — key.png +
    key.txt — are one sample per the module convention), and — when
    the write-time ``manifest`` is given — per-shard sample counts
    must reconcile (missing / extra / miscounted shards flagged).
    Distributed: one binaryFile scan, one row per shard; the optional
    manifest join broadcasts (one row per shard — tiny)."""
    def fn(raw):
        with tarfile.open(fileobj=io.BytesIO(raw), mode="r") as tf:
            members = [m for m in tf.getmembers() if m.isfile()]
        names, keys, payload, end = set(), set(), 0, 0
        for m in members:
            payload += int(m.size)
            end = max(end, int(m.offset_data)
                      + ((int(m.size) + 511) // 512) * 512)
            key, dot, _ext = m.name.rpartition(".")
            if not dot:
                raise ValueError(f"member without extension: {m.name!r}")
            if m.name in names:
                raise ValueError(f"duplicate member {m.name!r}")
            names.add(m.name)
            keys.add(key)
        # end-of-archive marker: >= two zero blocks after the last
        # member — a block-boundary truncation parses as a valid
        # SHORTER tar without this
        if len(raw) < end + 1024 or any(raw[end:end + 1024]):
            raise ValueError("missing end-of-archive marker (torn write)")
        return {"ok": 1, "n_samples": len(keys), "n_members": len(members),
                "payload_bytes": payload}

    # an err row is ok = 0 before the manifest join, which reads a NULL
    # ok as "missing on disk"
    out = arrow_stage(
        _shards(spark, path_glob), ["shard"], ["content"], VERIFY_SCHEMA, fn
    ).withColumn("ok", F.coalesce("ok", F.lit(0)))
    if manifest is None:
        return out
    m = manifest.select(
        F.col("shard"), F.col("n_samples").alias("__expect"))
    joined = out.join(F.broadcast(m), "shard", "full")
    return joined.select(
        "shard",
        F.when(F.col("ok").isNull(), 0)  # in manifest, missing on disk
        .when(F.col("__expect").isNull(), 0)  # on disk, not in manifest
        .when(F.col("n_samples") != F.col("__expect"), 0)
        .otherwise(F.col("ok")).alias("ok"),
        "n_samples", "n_members", "payload_bytes",
        F.when(F.col("ok").isNull(), F.lit("missing shard on disk"))
        .when(F.col("__expect").isNull(), F.lit("shard not in manifest"))
        .when(F.col("n_samples") != F.col("__expect"),
              F.concat(F.lit("sample count mismatch: expected "),
                       F.col("__expect").cast("string")))
        .otherwise(F.col("err")).alias("err"),
    )


INDEX_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType(), False),
        T.StructField("member", T.StringType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("data_offset", T.LongType(), True),
        T.StructField("size", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def index_webdataset(spark: SparkSession, path_glob: str) -> DataFrame:
    """Byte-offset index of WebDataset shards — the random-access
    sidecar a loader needs to fetch one sample without streaming the
    whole tar (wids/tarindex analog): one row per member with the
    header offset, payload offset, and payload size. For the plain
    ustar members ``write_webdataset`` emits (short ASCII names,
    mtime 0) the layout is pure 512-block arithmetic — header at the
    running sum of ``512 + ceil(size/512)*512`` over preceding
    members, payload at header + 512 — which is exactly how the
    oracle replays it from the member sizes alone. Corrupt shards
    yield one err row (per-file isolation)."""
    def fn(content):
        with tarfile.open(fileobj=io.BytesIO(content), mode="r") as tf:
            return {"members": [
                (m.name, int(m.offset), int(m.offset_data), int(m.size))
                for m in tf.getmembers() if m.isfile()
            ]}

    return _untar(spark, path_glob, INDEX_SCHEMA, fn)


def _shards(spark: SparkSession, path_glob: str) -> DataFrame:
    """(shard, content): one row per shard file, ``shard`` its base
    name."""
    return spark.read.format("binaryFile").load(path_glob).select(
        F.regexp_extract("path", "[^/]*$", 0).alias("shard"), "content")


def _untar(spark: SparkSession, path_glob: str, schema: T.StructType,
           fn) -> DataFrame:
    """One row per tar member of every shard, ``schema``'s (shard,
    *member fields, err): ``fn(content)`` returns the shard's
    ``{"members": [tuple of member fields]}``. A shard ``fn`` fails on
    gives one row, its member fields NULL (per-file isolation)."""
    member = T.StructType(schema.fields[1:-1])
    stage = T.StructType([schema["shard"],
                          T.StructField("members", T.ArrayType(member)),
                          schema["err"]])
    return arrow_stage(_shards(spark, path_glob), ["shard"], ["content"],
                       stage, fn).select("shard", expand("members", member),
                                         "err")
