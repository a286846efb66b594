"""Nearest-centroid classifier: synthetic clustered vectors with known
labels must classify near-perfectly; CV folds deterministic."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rp_extract_spark.operators.classify import (
    assign_folds,
    cross_validate,
    predict_centroids,
    train_centroids,
)

rng = np.random.default_rng(17)


@pytest.fixture(scope="module")
def clustered(spark):
    centers = {"a": rng.normal(0, 1, 8), "b": rng.normal(6, 1, 8), "c": rng.normal(-6, 1, 8)}
    rows = []
    i = 0
    for lab, c in centers.items():
        for _ in range(30):
            rows.append((i, [float(x) for x in c + rng.normal(0, 0.4, 8)], lab))
            i += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    ).cache()


def test_train_predict(spark, clustered):
    cent = train_centroids(clustered)
    assert cent.count() == 3
    # centroid of class 'a' approximates its generating center
    ca = np.array(cent.filter(F.col("centroid_label") == "a").first().centroid)
    mean_a = np.mean(
        [r.embedding for r in clustered.filter(F.col("label") == "a").collect()],
        axis=0,
    )
    assert np.allclose(ca, mean_a)
    # reference: Spark SQL's per-position avg, bit-equal on one partition
    one = clustered.coalesce(1)
    ref = (one.select("label", F.posexplode("embedding"))
           .groupBy("label", "pos").agg(F.avg("col").alias("m"))
           .groupBy("label")
           .agg(F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("pm")))
    assert {r.centroid_label: r.centroid
            for r in train_centroids(one).collect()} == {
        r.label: [p.m for p in r.pm] for r in ref.collect()}
    preds = predict_centroids(clustered, cent)
    joined = preds.join(clustered.select("vec_id", "label"), "vec_id")
    acc = joined.filter(F.col("predicted_label") == F.col("label")).count() / 90
    assert acc == 1.0  # well-separated clusters


def test_cross_validate(spark, clustered):
    cv = cross_validate(clustered, k=3)
    rows = cv.collect()
    assert [r.fold for r in rows] == [0, 1, 2]
    assert sum(r.n for r in rows) == 90
    assert all(r.accuracy >= 0.95 for r in rows)


def test_fold_assignment_deterministic(spark, clustered):
    a = {r.vec_id: r.fold for r in assign_folds(clustered, "vec_id", 5).collect()}
    b = {r.vec_id: r.fold for r in assign_folds(clustered, "vec_id", 5).collect()}
    assert a == b
    assert set(a.values()) == {0, 1, 2, 3, 4}


def test_vector_scaler_roundtrip(spark, clustered):
    from rp_extract_spark.operators.classify import (
        apply_vector_scaler,
        fit_vector_scaler,
    )

    scaler = fit_vector_scaler(clustered)
    row = scaler.first()
    X = np.array([r.embedding for r in clustered.collect()])
    assert np.allclose(row.mu, X.mean(axis=0))
    assert np.allclose(row.sd, X.std(axis=0))  # ddof=0
    scaled = apply_vector_scaler(clustered, scaler)
    Xs = np.array(
        [r.embedding for r in scaled.orderBy("vec_id").collect()]
    )
    want = (X[np.argsort([r.vec_id for r in clustered.collect()])] - X.mean(axis=0)) / X.std(axis=0)
    assert np.allclose(Xs, want)


def test_model_save_load_roundtrip(spark, clustered, tmp_path):
    from rp_extract_spark.operators.classify import (
        load_model,
        save_model,
    )
    from rp_extract_spark.operators.classify import fit_vector_scaler

    cent = train_centroids(clustered)
    scaler = fit_vector_scaler(clustered)
    path = str(tmp_path / "model")
    save_model(cent, path, scaler=scaler)
    cent2, scaler2 = load_model(spark, path)
    assert scaler2 is not None and scaler2.count() == 1
    before = {r.vec_id: r.predicted_label
              for r in predict_centroids(clustered, cent).collect()}
    after = {r.vec_id: r.predicted_label
             for r in predict_centroids(clustered, cent2).collect()}
    assert before == after


def test_model_save_load_without_scaler(spark, clustered, tmp_path):
    from rp_extract_spark.operators.classify import load_model, save_model

    cent = train_centroids(clustered)
    path = str(tmp_path / "model2")
    save_model(cent, path)
    cent2, scaler2 = load_model(spark, path)
    assert scaler2 is None
    assert cent2.count() == 3


def test_multilabel_centroid_ovr(spark, clustered):
    from rp_extract_spark.operators.classify import (
        multilabel_accuracy,
        predict_multilabel,
        train_multilabel_centroids,
    )

    # derive a 0/1 multi-label matrix from the cluster labels; the
    # rest-class must be unimodal for a centroid OvR to separate it
    # (clusters: a@0, b@6, c@-6 per the fixture)
    ml = clustered.select(
        "vec_id", "embedding",
        F.when(F.col("label") == "c", 1).otherwise(0).alias("is_c"),
        F.when(F.col("label").isin("a", "b"), 1).otherwise(0).alias("is_ab"),
    )
    model = train_multilabel_centroids(ml, label_cols=["is_c", "is_ab"])
    assert model.count() == 4  # 2 categories x 2 classes
    preds = predict_multilabel(ml, model)
    acc = {r.category: r.accuracy
           for r in multilabel_accuracy(preds, ml,
                                        label_cols=["is_c", "is_ab"]).collect()}
    # well-separated clusters: near-perfect one-vs-rest accuracy
    assert acc["is_c"] >= 0.95 and acc["is_ab"] >= 0.95
