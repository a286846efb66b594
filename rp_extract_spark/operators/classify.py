"""Downstream classifier support (reference entry point 3,
rp_classify.py:162-352) re-expressed as DataFrame ops.

The reference pickles an sklearn SVM; the engine-side equivalents are
the relational pieces: z-score standardization (classes.zscore), label
encoding (classes.label_encode), fold assignment, and a
nearest-centroid model — train = one ``_prims.partial_sums`` job
summing the vectors per class (a tiny broadcastable dimension), predict
= the collected K-row model + a per-batch numpy arg-min distance
(``nearest_centroid``, shared with ``lloyd_fit``). Everything scales:
the model is K rows; scoring is one scan.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .._prims import (collect_bounded, local_frame, md5_hex, md5_int,
                      partial_sums)


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_folds(df: DataFrame, id_col: str, k: int = 5,
                 out: str = "fold", fold_fn: str = "xxhash") -> DataFrame:
    """Deterministic k-fold assignment (CV support,
    rp_classify.py:267-283): stable hash of the id. ``fold_fn='md5'``
    swaps xxhash64 for an md5-prefix hash that any SQL engine can
    recompute (the driver-oracle discipline: DuckDB has md5 but not
    xxhash64); both are uniform and reproducible."""
    if fold_fn == "md5":
        h = md5_int(md5_hex(F.col(id_col)))
        return df.withColumn(out, F.pmod(h, F.lit(k)))
    return df.withColumn(out, F.pmod(F.xxhash64(F.col(id_col)), F.lit(k)))


def _sums_by(keys: list, x: np.ndarray) -> dict:
    """{key: (sum of the rows of ``x`` with that key, their count)},
    added in row order as SQL ``sum`` adds a partition (NULL: a key)."""
    index: dict = {}
    codes = np.array([index.setdefault(k, len(index)) for k in keys],
                     dtype=np.int64)
    acc = np.zeros((len(index), x.shape[1]))
    np.add.at(acc, codes, x)
    cnt = np.bincount(codes, minlength=len(index))
    return {k: (acc[i], cnt[i]) for k, i in index.items()}


def train_centroids(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Element-wise mean vector per class from one
    ``_prims.partial_sums`` job (NULL vectors skipped, ragged ones and
    no vector at all raise): the K-row (centroid_label, centroid) model,
    ``centroid_label`` in the label column's type."""
    op = "train_centroids"
    dim, sums = partial_sums(df, [vec_col, label_col],
                             lambda x, y: _sums_by(y, x), op)
    if dim is None:
        raise ValueError(f"{op}: no non-NULL vectors")
    label = df.schema[label_col].dataType.simpleString()
    schema = f"centroid_label {label}, centroid array<double>"
    return local_frame(df.sparkSession, [
        (k, (s / n).tolist()) for k, (s, n) in sums.items()], schema)


def codebook(centroids) -> tuple[np.ndarray, np.ndarray]:
    """(label, vector) pairs as ``nearest_centroid`` takes them: the
    labels in ascending order and their vectors as matrix rows."""
    pairs = sorted(centroids, key=lambda p: p[0])
    return (np.array([p[0] for p in pairs], dtype=object),
            np.array([p[1] for p in pairs], dtype=np.float64))


def nearest_centroid(x: np.ndarray, cmat: np.ndarray):
    """Per row of ``x``: the index of the nearest row of ``cmat`` by
    ``((x - c)**2).sum(axis=1)``, and that squared distance. argmin
    takes the first minimum, so with ``cmat`` in ascending label order
    (``codebook``) bit-equal distances go to the smaller label — the
    (distance ASC, label ASC) order the DuckDB oracles replay."""
    d2 = np.empty((x.shape[0], cmat.shape[0]))
    for i in range(cmat.shape[0]):
        diff = x - cmat[i]
        d2[:, i] = (diff * diff).sum(axis=1)
    best = np.argmin(d2, axis=1)
    return best, d2[np.arange(len(best)), best]


def lloyd_fit(
    df: DataFrame, vec: Column, model: list, iters: int, op: str
) -> list:
    """``iters`` Lloyd iterations over the persisted ``vec`` column,
    each one ``_prims.partial_sums`` job. ``model`` is one ``codebook``
    per equal-width slice of the vector (k-means: one; PQ: m). Each
    slice goes to its nearest centroid; the next model is each label's
    mean, a label with no points dropped. It stays on the driver, so
    no iteration carries the last one's lineage."""
    d, m = model[0][1].shape[1], len(model)

    def fold(x, model):
        if x.shape[1] != d * m:
            return {}  # partial_sums or the check below raises
        out = {}
        for s, (labels, cmat) in enumerate(model):
            xs = x[:, s * d:(s + 1) * d]
            keys = labels[nearest_centroid(xs, cmat)[0]].tolist()
            out.update(((s, k), t) for k, t in _sums_by(keys, xs).items())
        return out

    pts = df.select(vec.alias("__v")).persist()
    try:
        for _ in range(iters):
            dim, sums = partial_sums(
                pts, ["__v"], lambda x, model=model: fold(x, model), op)
            if dim != d * m:
                raise ValueError(f"{op}: no non-NULL vectors" if dim is None
                                 else f"{op}: the vectors have length {dim}, "
                                 f"the model {d * m}")
            model = [codebook((k, t / n) for (s, k), (t, n) in sums.items()
                              if s == sub) for sub in range(m)]
    finally:
        pts.unpersist()
    return model


def predict_centroids(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid prediction: (id, predicted_label, distance),
    ``predicted_label`` in the type of ``centroid_label``. The K-row
    model is collected (``_prims.collect_bounded``) and the squared
    distances computed per Arrow batch with numpy — one scan, zero
    shuffle. The argmin replicates a (distance ASC, centroid_label ASC)
    window exactly: centroids are laid out in ascending label order
    and np.argmin returns the first minimum, so bit-equal distances
    break to the smallest label; near-tie robustness across summation
    orders is the fixture-margin contract the DuckDB oracles rely on.
    Rows whose vector is NULL or not the centroid dimension get no
    row — the corpus-row policy of ``_prims.broadcast_topk``."""
    rows = collect_bounded(centroids, "predict_centroids")
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("predicted_label",
                          centroids.schema["centroid_label"].dataType),
            T.StructField("distance", T.DoubleType()),
        ]
    )
    spark = df.sparkSession
    if not rows:
        return spark.createDataFrame([], out_schema)
    labels, cmat = codebook((r["centroid_label"], r["centroid"]) for r in rows)
    dim = cmat.shape[1]

    def assign(batches):
        for b in batches:
            vals = b["__v"].values
            ok = np.array(
                [v is not None and len(v) == dim for v in vals], dtype=bool
            )
            if not ok.any():
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in vals[ok]])
            best, d2 = nearest_centroid(x, cmat)
            yield pd.DataFrame(
                {
                    id_col: b[id_col].values[ok],
                    "predicted_label": labels[best],
                    "distance": np.sqrt(d2),
                }
            )

    return df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).mapInPandas(assign, out_schema)


def fit_vector_scaler(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension standardization parameters (sklearn StandardScaler
    semantics, ddof=0 — the reference fits one before the SVM,
    rp_classify.py:28-37). Returns ONE row (mu array, sd array)."""
    exploded = df.select(F.posexplode(F.col(vec_col).cast("array<double>")))
    return (
        exploded.groupBy("pos")
        .agg(F.avg("col").alias("mu"), F.stddev_pop("col").alias("sd"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mu", "sd"))).alias("__p"))
        .select(
            F.transform("__p", lambda s: s["mu"]).alias("mu"),
            F.transform("__p", lambda s: s["sd"]).alias("sd"),
        )
    )


def apply_vector_scaler(
    df: DataFrame, scaler: DataFrame, vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Standardize the vector column with a fitted scaler (broadcast
    one-row join; zero-variance dimensions pass through centered)."""
    out = out_col or vec_col
    joined = df.crossJoin(F.broadcast(scaler))
    centered = F.zip_with(F.col(vec_col).cast("array<double>"), "mu",
                          lambda x, m: x - m)
    scaled = F.zip_with(
        centered, "sd", lambda x, s: x / F.when(s == 0, 1.0).otherwise(s)
    )
    return joined.withColumn(out, scaled).drop("mu", "sd")


def save_model(
    centroids: DataFrame, path: str, scaler: DataFrame | None = None
) -> None:
    """Persist a trained model (reference save_model,
    rp_classify.py:110-128: pickles model+scaler side by side). The
    model parts are DataFrames, so the sink is parquet snapshots —
    readable by any engine, no pickle."""
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    if scaler is not None:
        scaler.write.mode("overwrite").parquet(f"{path}/scaler")


def load_model(spark, path: str):
    """Load (centroids, scaler-or-None) written by ``save_model``
    (reference load_model, rp_classify.py:131-158)."""
    centroids = spark.read.parquet(f"{path}/centroids")
    try:
        scaler = spark.read.parquet(f"{path}/scaler")
    except Exception:
        scaler = None
    return centroids, scaler


def cross_validate(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    k: int = 5,
    fold_fn: str = "xxhash",
) -> DataFrame:
    """k-fold CV accuracy of the nearest-centroid model
    (rp_classify.py cross_validate analog). Returns (fold, n, correct,
    accuracy)."""
    folded = assign_folds(df, id_col, k, fold_fn=fold_fn).cache()
    results = None
    for fold in range(k):
        train = folded.filter(F.col("fold") != fold)
        test = folded.filter(F.col("fold") == fold)
        preds = predict_centroids(test, train_centroids(train, vec_col, label_col),
                                  vec_col, id_col)
        scored = (
            preds.join(test.select(id_col, label_col), id_col)
            .agg(
                F.lit(fold).alias("fold"),
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.when(F.col("predicted_label") == F.col(label_col), 1).otherwise(0)
                ).alias("correct"),
            )
        )
        results = scored if results is None else results.unionByName(scored)
    return (
        results.filter(F.col("n") > 0)  # an empty fold has no accuracy row
        .withColumn("accuracy", F.round(F.col("correct") / F.col("n"), 6))
        .orderBy("fold")
    )


def train_multilabel_centroids(
    df: DataFrame, vec_col: str = "embedding",
    label_cols: "list[str] | tuple[str, ...]" = (),
) -> DataFrame:
    """One-vs-rest nearest-centroid training over a 0/1 multi-label
    matrix (the reference wraps its SVM in OneVsRestClassifier,
    rp_classify.py:51-52): ``train_centroids`` keyed by (category, y),
    all categories in one job. Model = 2·n_categories rows."""
    op = "train_multilabel_centroids"

    def fold(x, *ys):
        return {(c, k): t for c, y in zip(label_cols, ys)
                for k, t in _sums_by(y, x).items()}

    dim, sums = partial_sums(
        df, [vec_col, *[F.col(c).cast("int") for c in label_cols]], fold, op)
    if dim is None:
        raise ValueError(f"{op}: no non-NULL vectors")
    return local_frame(
        df.sparkSession, [(c, y, (s / n).tolist()) for (c, y), (s, n) in sums.items()],
        "category string, y int, centroid array<double>")


def predict_multilabel(
    df: DataFrame, model: DataFrame,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Per-category binary prediction: broadcast the 2N-row model,
    arg-min squared distance within each (row, category); deterministic
    y tiebreak. Returns (id, category, pred)."""
    joined = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).crossJoin(F.broadcast(model))
    w = Window.partitionBy(id_col, "category").orderBy(
        F.col("__d").asc(), F.col("y").asc()
    )
    return (
        joined.withColumn("__d", _sq_dist(F.col("__v"), F.col("centroid")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "category", F.col("y").alias("pred"))
    )


def multilabel_accuracy(
    preds: DataFrame, truth: DataFrame, id_col: str = "vec_id",
    label_cols: "list[str] | tuple[str, ...]" = (),
) -> DataFrame:
    """Column-wise accuracy per category + the reference's mean-over-
    categories measure (cross_validate_multiclass,
    rp_classify.py:82-107 semantics)."""
    cats = F.array(*[
        F.struct(F.lit(c).alias("category"), F.col(c).cast("int").alias("y"))
        for c in label_cols
    ])
    t = truth.select(F.col(id_col), F.explode(cats).alias("c")).select(
        id_col, F.col("c.category").alias("category"), F.col("c.y").alias("y_true")
    )
    return (
        preds.join(t, [id_col, "category"])
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.avg(F.when(F.col("pred") == F.col("y_true"), 1.0).otherwise(0.0)),
                6,
            ).alias("accuracy"),
        )
        .orderBy("category")
    )


def train_logreg_ovr(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    iters: int = 8,
    lr: float = 2.0,
) -> DataFrame:
    """One-vs-rest binary logistic regression by full-batch gradient
    descent — the DataFrame-native analog of the reference's linear
    model family (rp_classify.py:59-66 trains sklearn.svm.SVC; a
    margin-based linear classifier is the closest Spark-idiomatic,
    oracle-checkable substitute, trained jointly for every class).

    One ``_prims.partial_sums`` job counts the rows per class, then
    each iteration is ONE more: the (n_classes x dim+1) weight matrix
    rides the task closure, each batch computes residuals
    sigmoid(X.W^T) - Y and its gradient sum R^T.X as two BLAS calls,
    and the driver adds the task sums and divides by n (plan depth
    stays constant — no lineage bomb). The oracle retrains in DuckDB
    with its own summation order, so ranks/rounded outputs are
    margin-protected. Features are augmented with a constant-1 bias
    dimension. NULL vectors are skipped, ragged ones raise, no vector
    gives an empty model. Returns (class_label, weights) with
    len(weights) == dim+1."""
    op = "train_logreg_ovr"
    pts = df.select(F.col(vec_col).alias("__v"),
                    F.col(label_col).cast("string").alias("__y")).persist()
    try:
        dim, counts = partial_sums(
            pts, ["__v", "__y"],
            lambda x, y: {k: (c,) for k, c in Counter(y).items()}, op)
        classes = sorted(counts)  # none: no vector, an empty model
        cindex = {c: i for i, c in enumerate(classes)}
        n_total = sum(c for (c,) in counts.values())
        weights = np.zeros((len(classes), (dim or 0) + 1))
        eye = np.eye(len(classes))
        for _ in range(iters if classes else 0):

            def grad(x, y, W=weights.copy()):
                x = np.hstack([x, np.ones((len(x), 1))])
                r = 1.0 / (1.0 + np.exp(-(x @ W.T))) - eye[[cindex[s] for s in y]]
                return {0: (r.T @ x,)}

            _, g = partial_sums(pts, ["__v", "__y"], grad, op)
            weights -= lr * (g[0][0] / n_total)
    finally:
        pts.unpersist()
    return local_frame(
        df.sparkSession, [(c, weights[i].tolist()) for i, c in enumerate(classes)],
        "class_label string, weights array<double>",
    )


def predict_logreg(
    model: DataFrame,
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Arg-max OvR score (w.x with the bias dimension appended), with
    a deterministic class-label tiebreak. The K-row model is collected
    (``_prims.collect_bounded``) and scoring is one Arrow-batched BLAS
    pass per task — one scan, zero shuffle. The argmax replicates a
    (score DESC, class_label ASC) window exactly: classes are laid out
    in ascending label order and np.argmax returns the first maximum,
    so bit-equal score ties break to the smallest label. Rows whose
    vector is NULL or not the model dimension get no row — the
    corpus-row policy of ``_prims.broadcast_topk``."""
    rows = sorted(collect_bounded(model, "predict_logreg"),
                  key=lambda r: r["class_label"])
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("predicted_label", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    spark = df.sparkSession
    if not rows:
        return spark.createDataFrame([], out_schema)
    labels = np.array([r["class_label"] for r in rows])
    wmat = np.array([r["weights"] for r in rows], dtype=np.float64)
    dim = wmat.shape[1]

    def score(batches):
        for b in batches:
            vals = b["__v"].values
            ok = np.array(
                [r is not None and len(r) == dim for r in vals], dtype=bool
            )
            if not ok.any():
                continue
            x = np.stack([np.asarray(r, dtype=np.float64) for r in vals[ok]])
            s = x @ wmat.T
            best = np.argmax(s, axis=1)
            yield pd.DataFrame(
                {
                    id_col: b[id_col].values[ok],
                    "predicted_label": labels[best],
                    "score": s[np.arange(len(best)), best],
                }
            )

    v = F.concat(F.col(vec_col).cast("array<double>"), F.array(F.lit(1.0)))
    return df.select(F.col(id_col), v.alias("__v")).mapInPandas(
        score, out_schema
    )


def classification_report(
    df: DataFrame,
    label_col: str = "label",
    pred_col: str = "pred",
    grain: int = 1_000_000,
) -> DataFrame:
    """Per-class confusion-matrix evaluation (precision / recall / F1
    + raw tp/fp/fn/support counts) — the eval-report analog of the
    reference's accuracy summary (rp_classify's caller-side scoring),
    kept EXACTLY integer so any SQL engine reproduces every value:
    scores are scaled-integer floor divisions at ``grain`` (1e-6
    default), never floats — ``precision_u = tp*G div (tp+fp)``,
    ``recall_u = tp*G div (tp+fn)``, ``f1_u = 2*tp*G div
    (2*tp + fp + fn)`` (the harmonic mean with the division deferred
    to one exact integer step), 0 when the denominator is 0.

    Classes appearing only as predictions (hallucinated labels) or
    only as ground truth still get a row — the class axis is the FULL
    OUTER union of both sides, which is what catches a model emitting
    out-of-vocabulary classes.

    Scale shape: ONE shuffle — the (label, pred) pair count with
    map-side combine; everything downstream operates on the C^2-row
    pair table (classes are small by construction), so 100 TB of
    predictions reduce before anything joins."""
    g = int(grain)
    pairs = df.groupBy(
        F.col(label_col).alias("__l"), F.col(pred_col).alias("__p")
    ).agg(F.count(F.lit(1)).alias("__n"))
    tp = pairs.filter(F.col("__l") == F.col("__p")).select(
        F.col("__l").alias("cls"), F.col("__n").alias("__tp")
    )
    sup = pairs.groupBy(F.col("__l").alias("cls")).agg(
        F.sum("__n").alias("__support")
    )
    prd = pairs.groupBy(F.col("__p").alias("cls")).agg(
        F.sum("__n").alias("__predicted")
    )
    rep = (
        sup.join(prd, "cls", "full")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("__tp", F.lit(0)).cast("long").alias("tp"),
            (
                F.coalesce("__predicted", F.lit(0))
                - F.coalesce("__tp", F.lit(0))
            ).cast("long").alias("fp"),
            (
                F.coalesce("__support", F.lit(0))
                - F.coalesce("__tp", F.lit(0))
            ).cast("long").alias("fn"),
            F.coalesce("__support", F.lit(0)).cast("long").alias("support"),
        )
    )
    return rep.select(
        "cls", "tp", "fp", "fn", "support",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr(f"(tp * CAST({g} AS BIGINT)) div (tp + fp)"),
        ).otherwise(F.lit(0)).cast("long").alias("precision_u"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr(f"(tp * CAST({g} AS BIGINT)) div (tp + fn)"),
        ).otherwise(F.lit(0)).cast("long").alias("recall_u"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.expr(
                f"(2 * tp * CAST({g} AS BIGINT)) div (2 * tp + fp + fn)"
            ),
        ).otherwise(F.lit(0)).cast("long").alias("f1_u"),
    )


def auc_roc(
    df: DataFrame,
    score_col: str = "score_u",
    label_col: str = "label",
    grain: int = 1_000_000,
) -> DataFrame:
    """Exact AUC-ROC via the Mann-Whitney rank sum with average-rank
    tie handling — the threshold-free ranking audit of a filter model's
    scores (is the quality score actually ordering good above bad?),
    kept exact end to end: AUC = (R⁺ - P(P+1)/2) / (P·N⁻) where R⁺ is
    the sum of the positives' average ranks. Everything is integer
    until ONE final floor division at ``grain``.

    Scale shape: one map-side-combined groupBy onto DISTINCT score
    values (the domain is bounded by the score grain, never by corpus
    size), then the two-level prefix sum over the per-score table
    (range-partition by score, per-partition cumulative counts, P-row
    driver base offsets — the exact_order_stats shape, no global
    window). Rank products are summed in DECIMAL(38,0) — at 10^12 rows
    a single term reaches n², past int64 — and the final division runs
    driver-side on Python big ints (the kmv_distinct overflow rule).
    The 1-row result collects while the range placement is cached (the
    exact_order_stats materialize-before-unpersist rule).

    Labels must be 0/1; NULL scores are excluded (the NULLS FIRST vs
    NULLS LAST cross-engine rank shift). Returns one row:
    (n, n_pos, n_neg, auc_u); auc_u is NULL when a class is empty."""
    g = int(grain)
    spark = df.sparkSession
    s = (
        df.filter(F.col(score_col).isNotNull())
        .groupBy(F.col(score_col).alias("__s"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col(label_col).cast("long")).alias("__np"),
        )
    )
    n_parts = spark.sparkContext.defaultParallelism
    t = (
        s.repartitionByRange(n_parts, F.col("__s").asc())
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    try:
        crows = sorted(
            (r["__pid"], int(r["__c"] or 0))
            for r in t.groupBy("__pid")
            .agg(F.sum("__n").alias("__c"))
            .collect()
        )
        base = 0
        pid_base = []
        for pid, c in crows:
            pid_base.append((pid, base))
            base += c
        if base == 0:
            return local_frame(
                spark, [(0, 0, 0, None)],
                schema="n bigint, n_pos bigint, n_neg bigint, auc_u bigint",
            )
        base_df = local_frame(
            spark, pid_base, schema="__pid int, __base bigint"
        )
        w = Window.partitionBy("__pid").orderBy(F.col("__s").asc())
        cum = (
            t.withColumn("__cum", F.sum("__n").over(w))
            .join(F.broadcast(base_df), "__pid")
            .withColumn(
                "__cb", F.col("__base") + F.col("__cum") - F.col("__n")
            )
        )
        # 2·(sum of average ranks of positives): each score group of n
        # rows with np positives spans ranks cb+1..cb+n, average rank
        # (2·cb + n + 1) / 2 — kept doubled so it stays integer
        term = F.col("__np").cast("decimal(38,0)") * (
            F.lit(2) * F.col("__cb") + F.col("__n") + F.lit(1)
        ).cast("decimal(38,0)")
        row = cum.agg(
            F.sum(term).alias("__r2"),
            F.sum("__np").alias("__p"),
            F.sum("__n").alias("__nt"),
        ).collect()[0]
        r2 = int(row["__r2"] or 0)
        p = int(row["__p"] or 0)
        nt = int(row["__nt"] or 0)
        nn = nt - p
        auc_u = ((r2 - p * (p + 1)) * g) // (2 * p * nn) if p and nn else None
        return local_frame(
            spark, [(nt, p, nn, auc_u)],
            schema="n bigint, n_pos bigint, n_neg bigint, auc_u bigint",
        )
    finally:
        t.unpersist(blocking=False)


def roc_points(
    df: DataFrame,
    score_col: str = "score_u",
    label_col: str = "label",
    grain: int = 1_000_000,
    n_buckets: int = 4096,
) -> DataFrame:
    """Exact ROC curve points — one row per DISTINCT score value t,
    descending, with the confusion counts of the classifier "positive
    iff score >= t": (score, n_ge, tp, fp, tpr_u, fpr_u), rates as one
    integer floor division each at ``grain``. The curve AUC integrates
    is exactly what ``auc_roc`` computes; this surfaces the operating
    points a threshold picker needs.

    Scale shape: one map-side-combined groupBy onto distinct score
    values (domain bounded by the score grain), then descending prefix
    sums WITHOUT a range exchange: scores bucket by a VALUE-computed
    id ((max-score) div width over ``n_buckets`` buckets — a pure
    function of the score, so lineage recomputation is deterministic
    and nothing needs persisting, unlike repartitionByRange whose
    sampled placement must be pinned), per-bucket totals lift local
    window cumsums via broadcast driver offsets. Scores must be
    integers (the score_u convention); labels 0/1; NULL scores
    excluded. Output size = distinct-score count (bounded by the
    domain, not the corpus) — downsample downstream if plotting."""
    g = int(grain)
    spark = df.sparkSession
    s = (
        df.filter(F.col(score_col).isNotNull())
        .groupBy(F.col(score_col).cast("long").alias("score"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            # coalesce: sum over all-NULL labels is NULL, which would
            # poison the running tp cumsum
            F.coalesce(
                F.sum(F.col(label_col).cast("long")), F.lit(0)
            ).alias("__np"),
        )
        .persist()  # three consumers (min/max, bucket totals, the
        # returned cumsum) of the corpus-wide aggregation; the
        # per-score table is domain-bounded — leak-until-evict, the
        # policy documented in _prims.global_rank (determinism never depends
        # on the cache: the bucket id is value-computed)
    )
    mm = s.agg(
        F.min("score").alias("__lo"), F.max("score").alias("__hi")
    ).collect()[0]
    if mm["__lo"] is None:
        return local_frame(
            spark, [],
            schema="score bigint, n_ge bigint, tp bigint, fp bigint,"
            " tpr_u bigint, fpr_u bigint",
        )
    lo, hi = int(mm["__lo"]), int(mm["__hi"])
    width = max(1, (hi - lo) // int(n_buckets) + 1)
    # bucket 0 holds the HIGHEST scores so bucket order == rank order
    bkt = F.expr(f"CAST(({hi} - score) div {width} AS INT)")
    b = s.withColumn("__bk", bkt)
    btots = {
        int(r["__bk"]): (int(r["__bn"] or 0), int(r["__bp"] or 0))
        for r in b.groupBy("__bk")
        .agg(F.sum("__n").alias("__bn"), F.sum("__np").alias("__bp"))
        .collect()
    }  # __bp is NULL when every label in a bucket is NULL (sum over
    # all-NULL) — the auc_roc `or 0` guard
    base_n = base_p = 0
    bases = []
    for bk in sorted(btots):
        bn, bp = btots[bk]
        bases.append((bk, base_n, base_p))
        base_n += bn
        base_p += bp
    n_tot, p_tot = base_n, base_p
    n_neg = n_tot - p_tot
    base_df = local_frame(
        spark, bases, schema="__bk int, __bn bigint, __bp bigint"
    )
    w = Window.partitionBy("__bk").orderBy(F.col("score").desc())
    cum = (
        b.withColumn("__cn", F.sum("__n").over(w))
        .withColumn("__cp", F.sum("__np").over(w))
        .join(F.broadcast(base_df), "__bk")
        .select(
            "score",
            (F.col("__bn") + F.col("__cn")).alias("n_ge"),
            (F.col("__bp") + F.col("__cp")).alias("tp"),
            (
                F.col("__bn") + F.col("__cn") - F.col("__bp") - F.col("__cp")
            ).alias("fp"),
        )
    )
    tpr = (
        F.expr(f"(tp * CAST({g} AS BIGINT)) div {p_tot}")
        if p_tot
        else F.lit(None).cast("long")
    )
    fpr = (
        F.expr(f"(fp * CAST({g} AS BIGINT)) div {n_neg}")
        if n_neg
        else F.lit(None).cast("long")
    )
    return cum.select(
        "score", "n_ge", "tp", "fp",
        tpr.alias("tpr_u"), fpr.alias("fpr_u"),
    )


def average_precision(
    df: DataFrame,
    score_col: str = "score_u",
    label_col: str = "label",
    id_col: str = "doc_id",
    grain: int = 1_000_000,
) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    the step-function definition) over a deterministic total order:
    rank rows by (score DESC, id ASC) — the id tiebreak makes AP
    well-defined under score ties, replayable by any engine — and sum
    precision@rank over the positive rows. Each term is ONE integer
    floor division ``(cum_pos·grain) div rank`` (the deferred-division
    rule: term-level flooring keeps every value exact integer at the
    cost of <grain⁻¹ per-term bias, documented, identical on both
    engines), then ``ap_u = sum(term) div P``.

    Scale shape — the _prims.global_rank two-level rank: range-
    partition by (score DESC, id ASC) so the sort is per-partition,
    P-row driver base offsets for both rank and cumulative-positive
    counts, no global window. cum_pos·grain <= n·grain needs n <= 9·10^12
    at the default grain before int64 overflow — raise to DECIMAL at
    larger corpora. Returns one row: (n, n_pos, ap_u); NULL ap_u when
    there are no positives."""
    g = int(grain)
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    t = (
        df.filter(F.col(score_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.col(score_col).alias("__s"),
            F.col(label_col).cast("long").alias("__y"),
        )
        .repartitionByRange(
            n_parts, F.col("__s").desc(), F.col("__id").asc()
        )
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    try:
        crows = sorted(
            (r["__pid"], int(r["__c"] or 0), int(r["__cp"] or 0))
            for r in t.groupBy("__pid")
            .agg(
                F.count(F.lit(1)).alias("__c"),
                F.sum("__y").alias("__cp"),
            )
            .collect()
        )
        n = sum(c for _, c, _ in crows)
        if n == 0:
            return local_frame(
                spark, [(0, 0, None)], "n bigint, n_pos bigint, ap_u bigint"
            )
        base_r, base_p = 0, 0
        bases = []
        for pid, c, cp in crows:
            bases.append((pid, base_r, base_p))
            base_r += c
            base_p += cp
        base_df = local_frame(
            spark, bases, schema="__pid int, __br bigint, __bp bigint"
        )
        w = Window.partitionBy("__pid").orderBy(
            F.col("__s").desc(), F.col("__id").asc()
        )
        ranked = (
            t.withColumn("__rn", F.row_number().over(w))
            .withColumn("__cpl", F.sum("__y").over(w))
            .join(F.broadcast(base_df), "__pid")
            .withColumn("__rank", F.col("__br") + F.col("__rn"))
            .withColumn("__cp", F.col("__bp") + F.col("__cpl"))
        )
        row = (
            ranked.filter(F.col("__y") == 1)
            .agg(
                F.sum(
                    F.expr(f"(__cp * CAST({g} AS BIGINT)) div __rank")
                ).alias("__sum"),
                F.count(F.lit(1)).alias("__p"),
            )
            .collect()[0]
        )
        p = int(row["__p"] or 0)
        ap_u = int(row["__sum"]) // p if p else None
        return local_frame(
            spark, [(n, p, ap_u)], "n bigint, n_pos bigint, ap_u bigint"
        )
    finally:
        t.unpersist(blocking=False)


def calibration_bins(
    df: DataFrame,
    conf_col: str = "conf_u",
    correct_col: str = "correct",
    n_bins: int = 10,
    grain: int = 1_000_000,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error over
    scaled-integer confidences — the confidence-audit a training
    pipeline runs on model scores before trusting them for filtering.
    ``conf_col`` holds confidence at ``grain`` (an integer in
    [0, grain]); everything downstream stays exact integer:

    - bin = min(conf_u div (grain/n_bins), n_bins-1) — equal-width
      bins, the top edge folded into the last bin;
    - per bin: n, n_correct, sum_conf_u, accuracy ``acc_u =
      n_correct*G div n``, mean confidence ``avg_conf_u = sum_conf_u
      div n``, and the ECE numerator ``gap_w = |n_correct*G -
      sum_conf_u|`` (== n * |acc - conf| at grain, exact because the
      division is deferred);
    - ``ece_u = sum(gap_w) div N`` attached to every row from the
      1-row broadcast total.

    Scale shape: one map-side-combined groupBy onto <= n_bins keys +
    one broadcast of the 1-row total. grain must divide by n_bins."""
    g = int(grain)
    if g % int(n_bins):
        raise ValueError("grain must be divisible by n_bins")
    width = g // int(n_bins)
    per = (
        df.select(
            F.least(
                F.expr(f"{conf_col} div {width}"), F.lit(int(n_bins) - 1)
            ).cast("int").alias("bin"),
            F.col(conf_col).cast("long").alias("__c"),
            F.col(correct_col).cast("long").alias("__k"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__k").alias("n_correct"),
            F.sum("__c").alias("sum_conf_u"),
        )
        .select(
            "bin", "n", "n_correct", "sum_conf_u",
            F.expr(f"(n_correct * CAST({g} AS BIGINT)) div n").alias(
                "acc_u"
            ),
            F.expr("sum_conf_u div n").alias("avg_conf_u"),
            F.abs(
                F.col("n_correct") * F.lit(g).cast("long")
                - F.col("sum_conf_u")
            ).alias("gap_w"),
        )
    )
    tot = per.agg(
        F.sum("gap_w").alias("__gsum"), F.sum("n").alias("__N")
    ).select(F.expr("__gsum div __N").alias("ece_u"))
    return per.crossJoin(F.broadcast(tot))


def majority_vote(
    df: DataFrame,
    item_col: str = "item_id",
    label_col: str = "label",
) -> DataFrame:
    """Crowd-label aggregation: per item, the label with the most
    votes (ties -> the smallest label). One count aggregation then a
    zero-shuffle argmax (sort_array over the per-item <=L-entry count
    list — never a window over an unpartitioned frame). Returns
    (item, maj_label, maj_votes, second_votes, total_votes); margin =
    maj_votes - second_votes is the standard ambiguity signal for
    label-quality triage."""
    counts = df.groupBy(item_col, label_col).agg(F.count("*").alias("c"))
    packed = counts.groupBy(item_col).agg(
        F.reverse(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("c"), (-F.col(label_col)).alias("nl")
                    )
                )
            )
        ).alias("a"),
        F.sum("c").alias("total_votes"),
    )
    top = F.get(F.col("a"), 0)
    second = F.get(F.col("a"), 1)
    return packed.select(
        item_col,
        (-top["nl"]).alias("maj_label"),
        top["c"].alias("maj_votes"),
        F.coalesce(second["c"], F.lit(0)).alias("second_votes"),
        "total_votes",
    )


def ndcg_at_k(
    df: DataFrame,
    group_col: str,
    order_col: str,
    rel_col: str,
    id_col: str,
    k: int = 10,
    grain: int = 1_000_000,
) -> DataFrame:
    """Exact nDCG@k per group: the ranking under (order_col DESC, id
    ASC) against graded relevance. The log2 discounts are computed
    ONCE driver-side and inlined as integer literals
    w_i = floor(grain / log2(i+1) + 1/2) in BOTH engines — no
    cross-engine transcendental ever evaluates — so DCG/IDCG are exact
    integer dot products and ndcg_u defers the single division:

        dcg_u  = sum_{i<=k} rel_i * w_i       (ranking order)
        idcg_u = sum_{i<=k} rel_(i) * w_i     (relevance-desc order)
        ndcg_u = dcg_u * grain div idcg_u     (0 when idcg_u = 0)

    Two rank windows on the same group partitioning. Returns
    (group, dcg_u, idcg_u, ndcg_u)."""
    import math

    weights = [
        int(math.floor(grain / math.log2(i + 1) + 0.5))
        for i in range(1, k + 1)
    ]
    warr = F.array(*[F.lit(w) for w in weights])
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(order_col).alias("__o"),
        F.col(rel_col).cast("long").alias("__rel"),
        F.col(id_col).alias("__id"),
    )
    w_rank = Window.partitionBy("__g").orderBy(
        F.col("__o").desc(), F.col("__id").asc()
    )
    w_ideal = Window.partitionBy("__g").orderBy(
        F.col("__rel").desc(), F.col("__id").asc()
    )
    t = base.select(
        "__g",
        "__rel",
        F.row_number().over(w_rank).alias("__r"),
        F.row_number().over(w_ideal).alias("__ri"),
    )
    dcg = F.sum(
        F.when(
            F.col("__r") <= k,
            F.col("__rel") * F.element_at(warr, F.col("__r")),
        ).otherwise(F.lit(0))
    )
    idcg = F.sum(
        F.when(
            F.col("__ri") <= k,
            F.col("__rel") * F.element_at(warr, F.col("__ri")),
        ).otherwise(F.lit(0))
    )
    agg = t.groupBy("__g").agg(dcg.alias("dcg_u"), idcg.alias("idcg_u"))
    ndcg = F.when(F.col("idcg_u") == 0, F.lit(0)).otherwise(
        F.expr(f"dcg_u * {int(grain)} div idcg_u")
    )
    return agg.select(
        F.col("__g").alias(group_col),
        "dcg_u",
        "idcg_u",
        ndcg.cast("long").alias("ndcg_u"),
    )


def class_weights(
    df: DataFrame,
    label_col: str = "label",
    grain: int = 1_000_000,
) -> DataFrame:
    """Balanced class weights (the sklearn class_weight='balanced'
    rule) as exact integers: w_c = n_total * grain div (n_classes *
    n_c) — the loss-reweighting table an imbalanced training run
    broadcasts. One count aggregation; NULL labels excluded.
    Returns (label, n_c, weight_u)."""
    counts = (
        df.filter(F.col(label_col).isNotNull())
        .groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("n_c"))
    )
    tot = counts.agg(
        F.sum("n_c").alias("__t"), F.count(F.lit(1)).alias("__k")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            label_col,
            "n_c",
            F.expr(f"__t * {int(grain)} div (__k * n_c)").alias("weight_u"),
        )
    )


def conformal_thresholds(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> DataFrame:
    """Split-conformal calibration thresholds per group: the value at
    1-based rank ceil((n+1)*(1-alpha)) of the nonconformity scores in
    (score, id) order — the finite-sample-valid quantile (Vovk et al.;
    the +1 is what makes coverage >= 1-alpha exact, not asymptotic).
    Rank arithmetic is pure integers:

        r = ((n + 1) * (den - num) + den - 1) div den,  clamped to n

    One rank window per group + broadcast counts (the winsorize
    shape). Returns (group, n, r, threshold_u) on the micro-cent
    grid."""
    num, den = int(alpha_num), int(alpha_den)
    if not 0 < num < den:
        raise ValueError("alpha must be in (0, 1) as num/den")
    vu = F.floor(F.col(score_col) * 100 + F.lit(0.5)).cast("long")
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__id"),
        vu.alias("__v"),
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    counts = base.groupBy("__g").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("__g").orderBy(
        F.col("__v").asc(), F.col("__id").asc()
    )
    ranked = base.withColumn("__r", F.row_number().over(w)).join(
        F.broadcast(counts), "__g"
    )
    target = F.least(
        F.col("n"),
        F.expr(f"((n + 1) * {den - num} + {den - 1}) div {den}"),
    )
    return ranked.filter(F.col("__r") == target).select(
        F.col("__g").alias(group_col),
        "n",
        F.col("__r").cast("long").alias("r"),
        F.col("__v").alias("threshold_u"),
    )


def clustering_agreement(
    df: DataFrame,
    label_a: str,
    label_b: str,
    grain: int = 1_000_000,
) -> DataFrame:
    """Rand-index agreement between two clusterings of the same rows —
    how much a cheap dedup heuristic agrees with the expensive one
    before you swap it in. Exact pair counting, never pair
    enumeration: with contingency counts n_ij and marginals n_a, n_b,

        S_ab = sum C(n_ij,2),  S_a = sum C(n_a,2),  S_b = sum C(n_b,2)
        rand_u = (T + 2*S_ab - S_a - S_b) * grain div T,  T = C(n,2)

    — three aggregations over (a,b) cells and marginals (cells shuffle,
    rows do once), all integer arithmetic with the one division
    deferred. Returns one row: (n, t_pairs, s_ab, s_a, s_b, rand_u)."""
    base = df.select(
        F.col(label_a).alias("__a"), F.col(label_b).alias("__b")
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    # the contingency table feeds four consumers (S_ab, both marginals,
    # n) — persist it so the corpus scans once, not four times
    cells = base.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).alias("c")
    ).persist()
    c2 = F.expr("c * (c - 1) div 2")
    try:
        s_ab = cells.agg(F.sum(c2).alias("v")).first()["v"] or 0
        ma = cells.groupBy("__a").agg(F.sum("c").alias("c"))
        row_a = ma.agg(
            F.sum(c2).alias("v"), F.sum("c").alias("n")
        ).first()
        s_a = row_a["v"] or 0
        n = int(row_a["n"] or 0)  # total rows, free from the marginal
        mb = cells.groupBy("__b").agg(F.sum("c").alias("c"))
        s_b = mb.agg(F.sum(c2).alias("v")).first()["v"] or 0
    finally:
        cells.unpersist()
    t = n * (n - 1) // 2
    rand_u = ((t + 2 * s_ab - s_a - s_b) * grain) // t if t else 0
    return local_frame(
        df.sparkSession,
        [(n, t, int(s_ab), int(s_a), int(s_b), int(rand_u))],
        "n bigint, t_pairs bigint, s_ab bigint, s_a bigint,"
        " s_b bigint, rand_u bigint",
    )


def pair_prf(
    df: DataFrame,
    pred_col: str,
    truth_col: str,
    grain: int = 1_000_000,
) -> DataFrame:
    """Pair-level precision/recall/F1 of a predicted clustering against
    ground-truth groups — THE dedup-quality metric (precision: how many
    merged pairs are true dups; recall: how many true dup pairs were
    found). Same exact pair COUNTING as clustering_agreement:

        TP = sum C(n_ij, 2)     (contingency cells)
        predicted positives  = sum C(n_pred, 2)
        actual positives     = sum C(n_truth, 2)

    precision_u = TP*grain div P, recall_u = TP*grain div A,
    f1_u = 2*TP*grain div (P + A) — all integer, divisions deferred.
    Returns one row: (n, tp, pred_pairs, true_pairs, precision_u,
    recall_u, f1_u); empty positives give 0 (not NULL)."""
    base = df.select(
        F.col(pred_col).alias("__p"), F.col(truth_col).alias("__t")
    ).filter(F.col("__p").isNotNull() & F.col("__t").isNotNull())
    cells = base.groupBy("__p", "__t").agg(
        F.count(F.lit(1)).alias("c")
    ).persist()
    c2 = F.expr("c * (c - 1) div 2")
    try:
        tp = cells.agg(F.sum(c2).alias("v")).first()["v"] or 0
        mp = cells.groupBy("__p").agg(F.sum("c").alias("c"))
        row_p = mp.agg(F.sum(c2).alias("v"), F.sum("c").alias("n")).first()
        pp = row_p["v"] or 0
        n = int(row_p["n"] or 0)
        mt = cells.groupBy("__t").agg(F.sum("c").alias("c"))
        ap = mt.agg(F.sum(c2).alias("v")).first()["v"] or 0
    finally:
        cells.unpersist()
    tp, pp, ap = int(tp), int(pp), int(ap)
    prec = (tp * grain) // pp if pp else 0
    rec = (tp * grain) // ap if ap else 0
    f1 = (2 * tp * grain) // (pp + ap) if (pp + ap) else 0
    return local_frame(
        df.sparkSession, [(n, tp, pp, ap, prec, rec, f1)],
        "n bigint, tp bigint, pred_pairs bigint, true_pairs bigint,"
        " precision_u bigint, recall_u bigint, f1_u bigint",
    )
