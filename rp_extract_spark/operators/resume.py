"""Checkpoint-resume + per-partition lineage metrics.

The reference's ``append_diff`` incremental mode prunes already-
extracted files with a set difference (rp_extract_batch.py:241-264);
here that is a ``left_anti`` join against the ids already present in
the output — the engine's checkpoint-resume primitive (SURVEY.md J3).

The reference's audiotypes/error CSV logs (rp_extract_batch.py:310-320)
become a metrics sidecar: per-output-partition JSON records (row
counts, error counts, ts ranges) written next to the data — the
"per-partition lineage + metrics alongside snapshots" of north_rule.
Plain Parquet + manifest JSON (no Iceberg runtime jar in this sandbox;
the layout mirrors Iceberg's snapshot+manifest discipline).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._prims import md5_hex, md5_int


def pending_only(todo: DataFrame, done: DataFrame, key: str = "image_id") -> DataFrame:
    """Anti-join resume: rows of ``todo`` whose key is absent in ``done``."""
    return todo.join(done.select(key).distinct(), on=key, how="left_anti")


def _partition_metrics(df: DataFrame, ts_col: str | None) -> list[dict]:
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("err").isNotNull(), 1).otherwise(0)).alias("errors")
        if "err" in df.columns
        else F.lit(0).alias("errors"),
    ]
    if ts_col and ts_col in df.columns:
        aggs += [
            F.min(ts_col).cast("string").alias("min_ts"),
            F.max(ts_col).cast("string").alias("max_ts"),
        ]
    rows = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(*aggs)
        .collect()
    )
    return [r.asDict() for r in rows]


def write_snapshot(
    df: DataFrame,
    out_dir: str,
    mode: str = "append",
    ts_col: str | None = "ts",
    partition_by: tuple[str, ...] = (),
) -> dict:
    """Write a data snapshot plus a lineage manifest.

    Layout: ``{out_dir}/data/`` parquet, ``{out_dir}/_metrics/<snapshot>.json``
    with per-partition row/error counts and ts ranges. Returns the
    manifest dict. Append is idempotent when combined with
    ``pending_only`` (re-running adds zero rows)."""
    t0 = time.time()
    snapshot_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(out_dir, "data")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)
    metrics = _partition_metrics(df.sparkSession.read.parquet(data_dir), ts_col)
    # Iceberg-style snapshot file list: the manifest pins the exact
    # parquet files present after this append, enabling read-as-of
    # (time travel) without an Iceberg runtime. Local-FS walk here;
    # swap for the Hadoop FileSystem API on a real cluster.
    files = sorted(
        os.path.join(dirpath, fn)
        for dirpath, _dirs, fns in os.walk(data_dir)
        for fn in fns
        if fn.endswith(".parquet")
    )
    manifest = {
        "snapshot_id": snapshot_id,
        "created_at": time.time(),
        "mode": mode,
        "wall_s": round(time.time() - t0, 3),
        "total_rows": int(sum(m["rows"] for m in metrics)),
        "total_errors": int(sum(m["errors"] or 0 for m in metrics)),
        "files": files,
        "partitions": metrics,
    }
    mdir = os.path.join(out_dir, "_metrics")
    os.makedirs(mdir, exist_ok=True)
    with open(os.path.join(mdir, f"{snapshot_id}.json"), "w") as f:
        json.dump(manifest, f, indent=1, default=str)
    return manifest


def incremental_extract(
    spark: SparkSession,
    images: DataFrame,
    out_dir: str,
    extract_fn,
    key: str = "image_id",
) -> dict:
    """Resumable extraction: anti-join against existing output, extract
    only new images, append + manifest. Safe to re-run; a second run on
    the same input appends nothing."""
    data_dir = os.path.join(out_dir, "data")
    try:
        done = spark.read.parquet(data_dir)
        todo = pending_only(images, done, key=key)
    except Exception:  # first run: no output yet
        todo = images
    feats = extract_fn(todo)
    return write_snapshot(feats, out_dir, mode="append")


def eta_report(out_dir: str, total_expected: int) -> dict:
    """Progress/ETA from the lineage manifests (A11 analog of the
    reference's per-file ETA printout, rp_extract_batch.py:331-334 —
    re-expressed over snapshot metrics instead of a driver loop):
    aggregates rows and wall time across all snapshots in
    ``{out_dir}/_metrics`` and extrapolates the remaining time."""
    snaps = list_snapshots(out_dir)
    # each manifest counts the FULL table after its append — progress
    # is the max, not the sum
    done = max((int(m.get("total_rows", 0)) for m in snaps), default=0)
    wall = sum(float(m.get("wall_s", 0.0)) for m in snaps)
    n_snapshots = len(snaps)
    rows_per_sec = done / wall if wall > 0 else None
    remaining = max(total_expected - done, 0)
    return {
        "done": done,
        "total_expected": total_expected,
        "pct": round(100.0 * done / total_expected, 2) if total_expected else None,
        "n_snapshots": n_snapshots,
        "rows_per_sec": round(rows_per_sec, 2) if rows_per_sec else None,
        "eta_s": round(remaining / rows_per_sec, 1) if rows_per_sec else None,
    }


def list_snapshots(out_dir: str, include_invalidated: bool = False) -> list[dict]:
    """Snapshot manifests ordered by creation time (Iceberg
    snapshot-log analog over the plain-parquet layout).

    An ``overwrite`` snapshot deletes the parquet files that earlier
    manifests pinned, so those manifests are tombstoned: by default
    only the last overwrite and everything after it are returned
    (their file lists are the only ones still readable).
    ``include_invalidated=True`` returns the full history."""
    import glob

    out = []
    for p in glob.glob(os.path.join(out_dir, "_metrics", "*.json")):
        with open(p) as f:
            out.append(json.load(f))
    out.sort(key=lambda m: m.get("created_at", 0))
    if include_invalidated:
        return out
    cut = 0
    for i, m in enumerate(out):
        if m.get("mode") == "overwrite":
            cut = i
    return out[cut:]


def read_snapshot(
    spark: SparkSession, out_dir: str, snapshot_id: str | None = None
) -> DataFrame:
    """Time-travel read: the table exactly as of ``snapshot_id``
    (default: latest). Reads only the parquet files the chosen
    manifest pinned — later appends are invisible."""
    snaps = list_snapshots(out_dir)
    if not snaps:
        raise ValueError(f"no snapshots under {out_dir}")
    if snapshot_id is None:
        chosen = snaps[-1]
    else:
        matches = [m for m in snaps if m["snapshot_id"] == snapshot_id]
        if not matches:
            all_snaps = list_snapshots(out_dir, include_invalidated=True)
            if any(m["snapshot_id"] == snapshot_id for m in all_snaps):
                raise ValueError(
                    f"snapshot {snapshot_id!r} was invalidated by a later "
                    "mode='overwrite' write (its pinned files were deleted)"
                )
            raise ValueError(f"unknown snapshot {snapshot_id!r}")
        chosen = matches[0]
    files = chosen.get("files")
    if not files:
        raise ValueError(f"snapshot {chosen['snapshot_id']} has no file list "
                         "(written by an older engine version)")
    # basePath keeps partition-directory columns (partition_by tables)
    # when reading pinned leaf files
    return spark.read.option(
        "basePath", os.path.join(out_dir, "data")
    ).parquet(*files)


def snapshot_diff(
    spark: SparkSession,
    out_dir: str,
    from_id: str,
    to_id: str | None = None,
) -> DataFrame:
    """Incremental (CDC-style) read: ONLY the rows appended strictly
    after snapshot ``from_id``, up to ``to_id`` (default: latest) — the
    Iceberg incremental-scan analog over the plain-parquet layout.
    The downstream consumer (index refresh, rollup update, export)
    processes the delta instead of re-reading the table: at 100 TB the
    difference between a full rescan and a files-added-since scan is
    the whole job.

    Manifests pin cumulative file lists, so the delta is a set
    difference of pinned files — no data is read to compute it, and
    the scan touches ONLY the new files (partition pruning by
    manifest, not by predicate). Raises if an ``overwrite`` snapshot
    intervened between the two ids: a rewrite breaks append lineage,
    so the delta is no longer expressible as added files."""
    snaps = list_snapshots(out_dir, include_invalidated=True)
    by_id = {m["snapshot_id"]: i for i, m in enumerate(snaps)}
    if from_id not in by_id:
        raise ValueError(f"unknown snapshot {from_id!r}")
    if to_id is None:
        if not snaps:
            raise ValueError(f"no snapshots under {out_dir}")
        to_id = snaps[-1]["snapshot_id"]
    if to_id not in by_id:
        raise ValueError(f"unknown snapshot {to_id!r}")
    i_from, i_to = by_id[from_id], by_id[to_id]
    if i_from > i_to:
        raise ValueError(
            f"snapshot {from_id!r} is newer than {to_id!r}")
    for m in snaps[i_from + 1: i_to + 1]:
        if m.get("mode") == "overwrite":
            raise ValueError(
                f"snapshot {m['snapshot_id']!r} rewrote the table between "
                f"{from_id!r} and {to_id!r}; the delta is not an append set "
                "— read_snapshot the endpoints instead")
    for m in snaps[i_to + 1:]:
        if m.get("mode") == "overwrite":
            # the endpoints' pinned files were deleted by the later
            # rewrite — fail with the read_snapshot invalidation error,
            # not a downstream FileNotFound
            raise ValueError(
                f"snapshots {from_id!r}..{to_id!r} were invalidated by the "
                f"later mode='overwrite' snapshot {m['snapshot_id']!r} "
                "(their pinned files were deleted)")
    old = set(snaps[i_from].get("files") or [])
    new_files = [f for f in (snaps[i_to].get("files") or [])
                 if f not in old]
    base = spark.read.option("basePath", os.path.join(out_dir, "data"))
    if not new_files:
        # empty delta with the to-snapshot's schema
        return base.parquet(*snaps[i_to]["files"]).limit(0)
    return base.parquet(*new_files)


def row_diff(
    old: DataFrame,
    new: DataFrame,
    cols: "list[str]",
    id_col: str,
) -> DataFrame:
    """Content-level table diff by id — the row-granularity complement
    of ``snapshot_diff`` (which diffs pinned FILE lists): counts of
    added (id only in new), removed (id only in old), changed (same id,
    different content on ``cols``), and unchanged rows. Content
    compares as a 128-bit md5 digest of the compared columns, so only
    (id, 16-byte digest) ever crosses the exchange — the exact_dedup
    scale rule; the wide columns stay at their scan. All four category
    rows are always present (n=0 when empty), so downstream checks can
    key on them unconditionally."""
    dig = md5_hex(F.to_json(F.struct(*[F.col(c) for c in cols])))
    a = old.select(F.col(id_col).alias("__id"), dig.alias("__da"))
    b = new.select(F.col(id_col).alias("__id"), dig.alias("__db"))
    j = a.join(b, "__id", "full")
    cat = (
        F.when(F.col("__da").isNull(), F.lit("added"))
        .when(F.col("__db").isNull(), F.lit("removed"))
        .when(F.col("__da") != F.col("__db"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    counts = j.select(cat.alias("category")).groupBy("category").agg(
        F.count(F.lit(1)).alias("__n")
    )
    spark = old.sparkSession
    frame = spark.createDataFrame(
        [("added",), ("removed",), ("changed",), ("unchanged",)],
        schema="category string",
    )
    return frame.join(counts, "category", "left").select(
        "category", F.coalesce("__n", F.lit(0)).cast("long").alias("n")
    )


def dataset_fingerprint(
    df: DataFrame,
    cols: Sequence[str],
    grain_bits: int = 60,
) -> DataFrame:
    """Order-independent dataset content fingerprint — the cheap
    equality audit between two pipeline outputs (did the rewrite
    produce byte-identical content, regardless of partitioning or
    row order?): per-row digest = md5 over the columns joined with
    explicit separators (unit separator \\x1f between fields, a
    \\x00NULL\\x00 marker for NULLs — concat_ws would silently SKIP
    nulls and collide ('a', NULL) with ('a',); the sentinel collision
    risk is documented and negligible for non-binary text), first 15
    hex chars as int64 (the conv/CAST parity width), summed mod
    2**grain_bits. The sum runs in DECIMAL(38,0) (int64 overflows at
    ~10^4 rows x 2^60) and the modulo happens driver-side on Python
    big ints (HUGEINT in the oracle — the kmv rule). Also counts rows
    and per-column NULLs. Returns ONE row:
    (n, fp_u, null_<col>...)."""
    sep = F.lit("\x1f")
    nul = F.lit("\x00NULL\x00")
    parts = []
    for i, c in enumerate(cols):
        if i:
            parts.append(sep)
        parts.append(F.coalesce(F.col(c).cast("string"), nul))
    dig = md5_int(md5_hex(*parts))
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(dig.cast("decimal(38,0)")).alias("__s"),
    ] + [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
        .cast("long").alias(f"null_{c}")
        for c in cols
    ]
    row = df.agg(*aggs).collect()[0]
    n = int(row["n"] or 0)
    fp = int(row["__s"] or 0) % (1 << int(grain_bits))
    spark = df.sparkSession
    nulls = [int(row[f"null_{c}"] or 0) for c in cols]
    schema = "n bigint, fp_u bigint, " + ", ".join(
        f"null_{c} bigint" for c in cols
    )
    return spark.createDataFrame([(n, fp, *nulls)], schema=schema)


def profile_columns(df: DataFrame) -> list:
    """Distributed per-column profile in ONE aggregation pass: total
    rows, non-null count, exact distinct count per column. Only the
    single stats row reaches the driver; returns a list of
    (column, n, n_null, n_distinct) tuples sorted by column name."""
    cols = list(df.columns)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.count(F.col(c)).alias(f"__nn_{i}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{i}"))
    row = df.agg(*aggs).first()
    n = int(row["__n"])
    out = []
    for i, c in enumerate(cols):
        out.append(
            (c, n, n - int(row[f"__nn_{i}"]), int(row[f"__nd_{i}"]))
        )
    return sorted(out)


def schema_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema + profile drift between two table versions — the
    data-validation gate a pipeline runs before retraining on a fresh
    snapshot (a silently dropped column or a null-rate spike is a
    training outage, not a schema error). Per column: status
    (added / dropped / type_changed / ok), declared types, and the
    distributed profile (rows, nulls, exact distincts) on each side.

    Scale path: one aggregation pass per side (profile_columns);
    the comparison itself is a K-row driver table (the model-table
    precedent). Statuses use DECLARED schema types (simpleString)."""
    old_types = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    new_types = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    old_prof = {c: (nn, nl, nd) for c, nn, nl, nd in profile_columns(old)}
    new_prof = {c: (nn, nl, nd) for c, nn, nl, nd in profile_columns(new)}
    rows = []
    for c in sorted(set(old_types) | set(new_types)):
        ot, nt = old_types.get(c), new_types.get(c)
        if ot is None:
            status = "added"
        elif nt is None:
            status = "dropped"
        elif ot != nt:
            status = "type_changed"
        else:
            status = "ok"
        op = old_prof.get(c, (None, None, None))
        np_ = new_prof.get(c, (None, None, None))
        rows.append(
            (c, status, ot, nt, op[0], op[1], op[2], np_[0], np_[1], np_[2])
        )
    schema = (
        "column string, status string, old_type string, new_type string,"
        " old_n bigint, old_nulls bigint, old_distinct bigint,"
        " new_n bigint, new_nulls bigint, new_distinct bigint"
    )
    return old.sparkSession.createDataFrame(rows, schema)
