"""Label-relation operators (classifier-support layer).

Spark-first re-expression of the reference's classes/feature alignment
machinery: inner/semi/anti id joins with key normalization
(classes_io.py:294-386), class histograms and min-instances pruning
(classes_io.py:445-491), label encoding (classes_io.py:214-237), and
z-score standardization (rp_classify.py:28-37, sklearn ddof=0 =
stddev_pop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def normalize_key(col: Column, strip_path: bool = True, strip_ext: bool = True,
                  lowercase: bool = True) -> Column:
    """Filename-key normalization (classes_io.py:546-558 semantics):
    drop directory prefix, drop extension, lowercase."""
    out = col
    if strip_path:
        out = F.element_at(F.split(out, "/"), -1)
    if strip_ext:
        out = F.regexp_replace(out, r"\.[^.]*$", "")
    if lowercase:
        out = F.lower(out)
    return out


def match_report(
    features: DataFrame, classes: DataFrame, key: str = "id"
) -> dict[str, DataFrame]:
    """Matched / unmatched-on-each-side report (classes_io.py:323-335):
    semi + anti joins."""
    return {
        "matched": features.join(classes, key, "left_semi"),
        "features_only": features.join(classes, key, "left_anti"),
        "classes_only": classes.join(features, key, "left_anti"),
    }


def class_histogram(classes: DataFrame, label: str = "label") -> DataFrame:
    """Instances per class (classes_io.py:475-491)."""
    return classes.groupBy(label).agg(F.count(F.lit(1)).alias("n"))


def baseline_accuracy(classes: DataFrame, label: str = "label") -> DataFrame:
    """Majority-class share (classes_io.py:507-517)."""
    h = class_histogram(classes, label)
    return h.agg(
        (F.max("n") / F.sum("n")).alias("baseline"),
        F.sum("n").alias("total"),
    )


def prune_min_instances(
    classes: DataFrame, min_n: int, label: str = "label"
) -> DataFrame:
    """Keep rows of classes with >= min_n instances
    (classes_io.py:445-472): HAVING + semi-join back."""
    keep = class_histogram(classes, label).filter(F.col("n") >= min_n)
    return classes.join(F.broadcast(keep.select(label)), label, "left_semi")


def label_encode(classes: DataFrame, label: str = "label") -> DataFrame:
    """Deterministic 0-based label codes in lexicographic order
    (sklearn LabelEncoder semantics, classes_io.py:214-237). Built by
    joining against the distinct-sorted label dimension — broadcastable
    and shuffle-free on the fact side."""
    dim = (
        classes.select(label)
        .distinct()
        .withColumn(
            "label_code",
            F.dense_rank().over(Window.orderBy(label)) - 1,
        )
    )
    return classes.join(F.broadcast(dim), label, "inner")


def zscore(
    df: DataFrame, cols: list[str], by: list[str] | None = None
) -> DataFrame:
    """Z-score standardization with population stddev (ddof=0, matching
    sklearn StandardScaler / rp_classify.py:28-37). Global (fit params
    = one agg row, broadcast join) or per-group (window)."""
    if by:
        for c in cols:
            w = Window.partitionBy(*by)
            mu = F.avg(c).over(w)
            sd = F.stddev_pop(c).over(w)
            df = df.withColumn(
                f"{c}_z", (F.col(c) - mu) / F.when(sd == 0, 1.0).otherwise(sd)
            )
        return df
    stats = df.agg(
        *[F.avg(c).alias(f"__mu_{c}") for c in cols],
        *[F.stddev_pop(c).alias(f"__sd_{c}") for c in cols],
    )
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        sd = F.col(f"__sd_{c}")
        out = out.withColumn(
            f"{c}_z",
            (F.col(c) - F.col(f"__mu_{c}")) / F.when(sd == 0, 1.0).otherwise(sd),
        )
    return out.drop(*[f"__mu_{c}" for c in cols], *[f"__sd_{c}" for c in cols])


def classes_from_filename(col: Column, split_char: str = "/") -> Column:
    """Class label = first path segment of the id
    (classes_io.py:178-197 classes_from_filename: GTZAN-style
    'pop/file1.wav' → 'pop', or 'pop.00001.wav' with split_char='.').
    ``split_char`` is a literal character (regex-escaped here — Spark
    split takes a pattern)."""
    import re

    return F.element_at(F.split(col, re.escape(split_char)), 1)
