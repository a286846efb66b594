"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline: deterministic synthetic
image+caption table (BASELINE.json input_hint shape — no image table
exists in the driver testdata, so it is synthesized seeded at small
scale) → decode+descriptor kernel (mapInPandas) → as-of caption join →
session/lag context. It also reads ``/root/testdata/sf0.001`` documents
to source the caption texts, exercising the testdata path.

``queries()``/``oracle_sql()`` expose one entry per implemented
operator family from SURVEY.md §2 (see
``rp_extract_spark/plans/driver_queries.py``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: entity x ts descriptor vectors + leak-free as-of
    captions (sourced from sf0.001 documents) + session ids."""
    from pyspark.sql import functions as F

    from rp_extract_spark.operators.asof import asof_join
    from rp_extract_spark.operators.extract import extract_features, quarantine
    from rp_extract_spark.operators.windows import sessionize
    from rp_extract_spark.sources.images import captions_df, images_df

    n = 150
    images = images_df(spark, n, seed=42)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", F.substring("text", 1, 60).alias("doc_text")
    )
    n_docs = 500
    captions = (
        captions_df(spark, n, seed=42)
        .withColumn(
            "doc_id", F.pmod(F.xxhash64("entity_id", "caption_ts"), F.lit(n_docs))
        )
        .join(F.broadcast(docs), "doc_id", "left")
        .select(
            "entity_id",
            "caption_ts",
            F.coalesce("doc_text", "caption").alias("caption"),
        )
    )

    feats, _bad = quarantine(
        extract_features(images, families=("rp", "ssd", "rh"))
    )
    joined = asof_join(
        feats, captions, on="entity_id", left_ts="ts", right_ts="caption_ts",
        values=["caption"], suffix="_asof",
    )
    out = sessionize(joined, gap_seconds=1800, tiebreak=("image_id",))
    return out.select(
        "entity_id", "ts", "image_id", "rp", "ssd", "rh",
        "caption", "caption_asof",
        F.col("matched_ts_asof").alias("caption_asof_ts"),
        "session_id",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from rp_extract_spark.plans.driver_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from rp_extract_spark.plans.driver_queries import ORACLES

    return dict(ORACLES)
