"""Feature-extraction operator: decode + descriptor kernel, fused.

One ``_prims.arrow_stage`` (``mapInArrow``) computes the shared prefix
(decode → scaled band matrix) once and emits the requested feature
families — the Spark-side form of the reference's operator gating where
one sonogram feeds RP+SSD+RH and only the families its ``extract_*``
flags ask for are computed (rp_extract.py:383-408, SURVEY.md O3).
Per-record error isolation follows the reference's batch loop
(rp_extract_batch.py:421-425): a bad image never fails the stage; it
yields null features and a populated ``err`` column for quarantine.

Aggregated (per-entity) mode mirrors rp_extract.py:765-795: exact
median for RP/RH, mean for SSD/MVD, 7-stat-over-time for TSSD/TRH —
computed per entity via ``applyInPandas`` (exact median over arrays is
not expressible with builtin aggs without exploding 1440-wide arrays).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._prims import arrow_stage, decode
from ..functions.kernel import (
    FAMILIES,
    aggregate_segments,
    extract_segment_features_batch,
    families_of,
)

_ARR = T.ArrayType(T.DoubleType())

ENTITY_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("n_segments", T.IntegerType(), False),
        T.StructField("rp", _ARR, True),
        T.StructField("ssd", _ARR, True),
        T.StructField("rh", _ARR, True),
        T.StructField("rh2", _ARR, True),
        T.StructField("mvd", _ARR, True),
        T.StructField("tssd", _ARR, True),
        T.StructField("trh", _ARR, True),
    ]
)


def extract_features(
    images: DataFrame, families: Sequence[str] = FAMILIES
) -> DataFrame:
    """Per-segment (per-image) feature extraction.

    Input: the input_hint table (+ entity_id, ts). Output: one row per
    image with one vector column per family in ``families`` (default
    all five: rp/ssd/rh/rh2/mvd), caption passed through, err null on
    success. The kernel computes only the families asked for, so a
    query that reads rp/ssd/rh neither computes nor ships rh2/mvd.
    Catalyst prunes unused input columns from the parquet scan because
    the stage declares its input projection explicitly.

    Each image decodes on its own (a bad payload is one err row, a
    NULL one reads ``quarantined row (bytes is NULL)``); the images one
    Arrow batch decoded run through the batched kernel together.

    The PSNR>=40dB lossy-decode gate is a *fixture-level* invariant
    (the original pixels exist only test-side); see
    tests/test_codecs.py::test_lossy_psnr_gate.
    """
    families = families_of(families)
    schema = T.StructType(
        [
            T.StructField("entity_id", T.StringType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("image_id", T.StringType(), False),
            *[T.StructField(f, _ARR, True) for f in families],
            T.StructField("caption", T.StringType(), True),
            T.StructField("err", T.StringType(), True),
        ]
    )

    def kernel(pixels: list) -> list[dict]:
        return extract_segment_features_batch(pixels, families=families)

    return arrow_stage(
        images, ["entity_id", "ts", "image_id", "caption"], ["bytes", "fmt"],
        schema, decode, batch=kernel,
    )


def quarantine(features: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split good rows from errored rows (reference's error log,
    rp_extract_batch.py:421-425, as a DataFrame pair)."""
    return features.filter(F.col("err").isNull()), features.filter(
        F.col("err").isNotNull()
    )


def aggregate_entity_features(segment_features: DataFrame) -> DataFrame:
    """Per-entity aggregation: median(rp, rh), mean(ssd, mvd), temporal
    7-stat (tssd, trh). Shuffles once on entity_id; each group is the
    entity's segment list ordered by ts (order matters only for
    determinism of the temporal stats' time axis). The input must carry
    all five families (``extract_features``' default); a narrower one
    raises before any task runs."""
    missing = [f for f in FAMILIES if f not in segment_features.columns]
    if missing:
        raise ValueError(
            f"aggregate_entity_features needs every descriptor family; "
            f"the input lacks {missing} (extract_features(families=...) "
            f"left them out)"
        )

    def agg(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["err"].isnull()]
        if len(pdf) == 0:
            return pd.DataFrame(
                columns=[f.name for f in ENTITY_FEATURE_SCHEMA.fields]
            )
        pdf = pdf.sort_values(["ts", "image_id"])
        rp = np.stack(pdf["rp"].values)
        ssd = np.stack(pdf["ssd"].values)
        rh = np.stack(pdf["rh"].values)
        rh2 = np.stack(pdf["rh2"].values)
        mvd = np.stack(pdf["mvd"].values)
        a = aggregate_segments(rp, ssd, rh, mvd)
        # rh2: the reference computes it per segment but never aggregates
        # (rp_extract.py:745-747 collects rh2_list and drops it); median
        # mirrors the RH rule
        a["rh2"] = np.median(rh2, axis=0)
        return pd.DataFrame(
            [
                {
                    "entity_id": key[0],
                    "n_segments": len(pdf),
                    "rp": a["rp"],
                    "ssd": a["ssd"],
                    "rh": a["rh"],
                    "rh2": a["rh2"],
                    "mvd": a["mvd"],
                    "tssd": a["tssd"],
                    "trh": a["trh"],
                }
            ]
        )

    return segment_features.groupBy("entity_id").applyInPandas(
        agg, ENTITY_FEATURE_SCHEMA
    )
