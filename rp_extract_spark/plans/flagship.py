"""Flagship pipeline: the end-to-end query the engine exists for.

"For each entity×timestamp: the descriptor feature vector of the image
plus the latest caption as of that timestamp, with lag/session context"
— decode → kernel UDF → as-of join → window stack, all in one DAG
(SURVEY.md §7.2 minimum slice B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.extract import extract_features, quarantine
from ..operators.windows import lag_lead_stack, sessionize
from ..sources.images import captions_df, images_df


def flagship(
    spark: SparkSession,
    n_images: int = 200,
    seed: int = 42,
) -> DataFrame:
    """Extract first, then as-of + windows — ONE hash exchange on
    entity_id carries the wide feature vectors (see PLANS.md)."""
    images = images_df(spark, n_images, seed=seed)
    captions = captions_df(spark, n_images, seed=seed)

    # rh2 and mvd are never read: the kernel neither computes nor ships them
    feats, _bad = quarantine(
        extract_features(images, families=("rp", "ssd", "rh"))
    )
    joined = asof_join(
        feats,
        captions,
        on="entity_id",
        left_ts="ts",
        right_ts="caption_ts",
        values=["caption"],
        suffix="_asof",
    )
    with_ctx = sessionize(
        lag_lead_stack(
            joined.withColumn("rp0", F.element_at("rp", 1)),
            "rp0",
            lags=(1,),
            tiebreak=("image_id",),
        ),
        gap_seconds=1800,
        tiebreak=("image_id",),
    )
    return with_ctx.select(
        "entity_id",
        "ts",
        "image_id",
        "rp",
        "ssd",
        "rh",
        "caption",
        F.col("caption_asof"),
        F.col("matched_ts_asof").alias("caption_asof_ts"),
        "rp0_lag1",
        "session_id",
    )
