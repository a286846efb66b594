"""Structured Streaming front-end for the extraction pipeline.

The reference is strictly batch (sequential driver loop,
rp_extract_batch.py:329-425) with an incremental ``append_diff`` mode
(anti-join resume, SURVEY J3). Its streaming analog: a file-source
stream over the image table directory — every new parquet file of
images is decoded + featurized exactly once, checkpointed, and appended
to the feature store. ``Trigger.AvailableNow`` gives batch-incremental
runs (process everything new, then stop) — the direct equivalent of
re-running the reference with ``append_diff``.

The same ``_prims.arrow_stage`` pass (``mapInArrow``) runs unchanged on
the streaming DataFrame — the operator is engine-agnostic by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.extract import extract_features
from ..sources.images import IMAGE_SCHEMA


def stream_extract(
    spark: SparkSession,
    images_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Incrementally featurize new image files as they land.

    Exactly-once per input file via the file-source + checkpoint
    contract; restart-safe (the checkpoint is the lineage)."""
    reader = (
        spark.readStream.schema(IMAGE_SCHEMA).format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    images = reader.load(images_dir)
    feats = extract_features(images)
    writer = (
        feats.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_session_stats(
    spark: SparkSession,
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
):
    """Streaming gap-sessionization via the native session_window —
    the streaming analog of operators.windows.sessionize (late rows
    beyond the watermark are dropped, per Structured Streaming
    semantics)."""
    from pyspark.sql import functions as F

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("entity_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def stream_rollup(
    events: DataFrame,
    bucket: str = "1 hour",
    watermark: str = "2 hours",
    dims: tuple[str, ...] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Streaming counterpart of operators/rollup.rollup_aggregate:
    tumbling-window aggregates with a watermark, so late rows beyond
    the watermark are dropped and completed buckets become immutable —
    the same continuous-aggregate contract the batch refresh_rollup
    enforces with its high-water mark."""
    from pyspark.sql import functions as F

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, bucket), *[F.col(d) for d in dims])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value_col), 6).alias("sum_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
            F.round(F.avg(value_col), 6).alias("avg_v"),
        )
        .select(
            F.col("window.start").alias("bucket"), *dims,
            "n", "sum_v", "min_v", "max_v", "avg_v",
        )
    )


def stream_drift_counts(
    events: DataFrame,
    edges: "list[float]",
    value_col: str = "value",
    ts_col: str = "ts",
    bucket: str = "1 hour",
    watermark: str = "2 hours",
):
    """Streaming distribution-drift monitor: per tumbling window, the
    count of rows in each quantile bin of a FIXED reference binning
    (edges from curation.exact_order_stats over the offline reference
    corpus — the psi_drift rule: bin b = first edge with v <= edge,
    else the last). The counts stream feeds the same PSI arithmetic
    psi_drift runs in batch, so online and offline monitoring share
    one definition; completed windows are immutable past the
    watermark. Native windowed aggregate — no custom state."""
    from pyspark.sql import functions as F

    v = F.col(value_col)
    expr = None
    for i, e in enumerate(edges):
        cond = v <= F.lit(e)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    bin_col = (F.lit(len(edges)) if expr is None
               else expr.otherwise(len(edges)))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, bucket), bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("bucket"), "bin", "n")
    )
