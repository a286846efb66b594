"""The four kNN operators on _prims.broadcast_topk: generic ids, the
bounded query collect, partition-independent results on tied and
degenerate vectors; plus the classify model-table contracts
(bounded collects, the NULL / ragged vector rule of the fits on
_prims.partial_sums, centroid label type)."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rp_extract_spark import _prims
from rp_extract_spark.operators.classify import (
    predict_centroids,
    predict_logreg,
    train_centroids,
    train_logreg_ovr,
    train_multilabel_centroids,
)
from rp_extract_spark.operators.similarity import (
    covariance_matrix,
    dim_truncation_recall,
    hard_negatives,
    kmeans_fit,
    knn_join,
    knn_label_spread,
    pq_fit,
)

SCHEMA = "vec_id {}, label int, embedding array<double>"


def _sid(i):
    """A string id that sorts like the int id it stands for."""
    return f"v{i:04d}"


def _random_rows(n=36, dim=6, seed=3):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim))
    return [(i, i % 3, [float(x) for x in vecs[i]]) for i in range(n)]


def _frame(spark, rows, id_type="long"):
    if id_type == "string":
        rows = [(_sid(i), lab, v) for i, lab, v in rows]
    return spark.createDataFrame(rows, SCHEMA.format(id_type))


# ------------------------------------------------------- generic ids


@pytest.mark.parametrize("op", ["label_spread", "dim_trunc"])
def test_string_ids_match_int_ids(spark, op):
    rows = _random_rows()

    def run(id_type):
        e = _frame(spark, rows, id_type)
        if op == "label_spread":
            unl = e.filter(F.col("label") == 0).select("vec_id", "embedding")
            lab = e.filter(F.col("label") != 0)
            out = knn_label_spread(unl, lab, k=5)
        else:
            q = e.filter(F.col("label") == 1)
            out = dim_truncation_recall(q, e, trunc_dims=2, k=4)
        assert out.schema["vec_id" if op == "label_spread" else "q_id"] \
            .dataType == e.schema["vec_id"].dataType
        return sorted(tuple(r) for r in out.collect())

    want = [(_sid(r[0]), *r[1:]) for r in run("long")]
    assert run("string") == want
    assert len(want) == 12


# --------------------------------------------------- bounded collects


def _poisoned(e):
    # any scan of this corpus fails inside a Python worker
    boom = F.udf(lambda v: [1 / 0], "array<double>")
    return e.withColumn("embedding", boom("embedding"))


@pytest.mark.parametrize(
    "op", ["knn_join", "hard_negatives", "knn_label_spread",
           "dim_truncation_recall"])
def test_over_cap_query_side_raises_before_any_scan(spark, monkeypatch, op):
    monkeypatch.setattr(_prims, "COLLECT_CAP", 3)
    e = _frame(spark, _random_rows())
    q4 = e.filter(F.col("vec_id") < 4)
    q3 = e.filter(F.col("vec_id") < 3)
    calls = {
        "knn_join": lambda q, c: knn_join(
            q.withColumnRenamed("vec_id", "q_id"), c, k=2),
        "hard_negatives": lambda q, c: hard_negatives(
            q.withColumnRenamed("vec_id", "q_id"), c, k=2),
        "knn_label_spread": lambda q, c: knn_label_spread(q, c, k=2),
        "dim_truncation_recall": lambda q, c: dim_truncation_recall(
            q, c, trunc_dims=2, k=2),
    }
    with pytest.raises(ValueError, match=rf"^{op}: more than 3 rows"):
        calls[op](q4, _poisoned(e))
    assert calls[op](q3, e).count() > 0  # at the cap: runs


def test_model_table_collects_are_bounded(spark, monkeypatch):
    monkeypatch.setattr(_prims, "COLLECT_CAP", 3)
    e = _frame(spark, _random_rows())
    model = spark.createDataFrame(
        [(str(i), [float(i)] * 7) for i in range(4)],
        "class_label string, weights array<double>")
    with pytest.raises(ValueError, match=r"^predict_logreg: more than 3"):
        predict_logreg(model, e)
    cent = model.selectExpr("class_label AS centroid_label",
                            "slice(weights, 1, 6) AS centroid")
    with pytest.raises(ValueError, match=r"^predict_centroids: more than 3"):
        predict_centroids(e, cent)
    assert predict_centroids(e, cent.limit(3)).count() == 36
    # a fit's partial sums are bounded the same way, per key
    with pytest.raises(ValueError, match=r"^train_centroids: more than 3 keys"):
        train_centroids(e.withColumn("label", F.col("vec_id") % 4))
    assert train_centroids(e).count() == 3


# ------------------------------------------------ classify contracts


FITS = {
    "train_logreg_ovr": lambda df: train_logreg_ovr(df, iters=1),
    "train_centroids": train_centroids,
    "train_multilabel_centroids": lambda df: train_multilabel_centroids(
        df.withColumn("is_a", (F.col("label") == "a").cast("int")),
        label_cols=["is_a"]),
    "kmeans_fit": lambda df: kmeans_fit(df, k=2, iters=2),
    "pq_fit": lambda df: pq_fit(df, m=2, k=2, iters=2),
    "covariance_matrix": covariance_matrix,
}


def _fitted(out):
    if isinstance(out, tuple):  # covariance_matrix: (mu, cov, n)
        return [np.asarray(x).tolist() for x in out]
    return sorted(map(repr, out.collect()))


@pytest.mark.parametrize("fit", sorted(FITS))
def test_fit_rejects_ragged_vectors(spark, fit):
    """The input rule of every fit on _prims.partial_sums: a NULL
    vector is skipped (the fit equals the fit without it, bit for bit)
    and a vector of another length than the first non-NULL one raises
    on the driver with the count of such rows."""
    rng = np.random.default_rng(7)
    good = [(i, "ab"[i % 2], [float(x) for x in rng.normal(size=4)])
            for i in range(20)]
    schema = "vec_id long, label string, embedding array<double>"
    with_null = spark.createDataFrame(good + [(20, "a", None)], schema)
    ragged = spark.createDataFrame(
        good + [(20, "a", None), (21, "b", [0.5, 1.5])], schema)
    run = FITS[fit]
    assert _fitted(run(with_null.coalesce(1))) == _fitted(
        run(spark.createDataFrame(good, schema).coalesce(1)))
    with pytest.raises(ValueError,
                       match=rf"^{fit}: 1 rows have a vector length other than 4"):
        run(ragged.coalesce(1))
    # no non-NULL vector: an empty logreg model, an error elsewhere
    nulls = spark.createDataFrame([(0, "a", None)], schema)
    if fit == "train_logreg_ovr":
        assert run(nulls).count() == 0
    else:
        empty = ("covariance of an empty DataFrame"
                 if fit == "covariance_matrix" else f"{fit}: no non-NULL vectors")
        with pytest.raises(ValueError, match=f"^{empty}$"):
            run(nulls)


def test_predict_centroids_keeps_label_type(spark):
    e = _frame(spark, _random_rows())
    vecs = [[1.0] * 6, [-1.0] * 6, [0.0, 1.0] * 3]
    as_str = spark.createDataFrame(
        [(str(i), v) for i, v in enumerate(vecs)],
        "centroid_label string, centroid array<double>")
    as_int = spark.createDataFrame(
        list(enumerate(vecs)), "centroid_label int, centroid array<double>")
    got = predict_centroids(e, as_int)
    assert got.schema["predicted_label"].dataType == T.IntegerType()
    want = predict_centroids(e, as_str)
    assert want.schema["predicted_label"].dataType == T.StringType()
    assert sorted((i, str(lab), d) for i, lab, d in got.collect()) == \
        sorted(tuple(r) for r in want.collect())


# ------------------------------------------------------- determinism


def _degenerate_rows():
    """8 distinct vectors, each held by 3 ids (exact score ties that
    straddle a k=4 cut), plus zero-norm, NULL and wrong-dimension
    vectors; a few NULL labels."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(8, 4))
    ids = rng.permutation(40)
    rows = []
    for n, i in enumerate(ids[:24]):
        rows.append((int(i), n % 3, [float(x) for x in base[n % 8]]))
    extras = [[0.0] * 4, [0.0] * 4, None, None, [1.0, 2.0, 3.0],
              [0.5] * 5]
    for i, v in zip(ids[24:30], extras):
        rows.append((int(i), 1, v))
    return [(i, None if i % 11 == 0 else lab, v) for i, lab, v in rows]


def _run_all(q, c):
    qk = q.withColumnRenamed("vec_id", "q_id")
    return {
        "knn_cosine": knn_join(qk, c, k=4),
        "knn_euclidean": knn_join(qk, c, k=4, metric="euclidean"),
        "hard_negatives": hard_negatives(qk, c, k=4),
        "label_spread": knn_label_spread(q.select("vec_id", "embedding"),
                                         c, k=4),
        "dim_trunc": dim_truncation_recall(q, c, trunc_dims=2, k=4),
    }


def test_partitioning_never_changes_results(spark):
    rows = _degenerate_rows()
    e = _frame(spark, rows)
    # queries: 4 tied vectors, a zero-norm, a NULL and a short vector
    qids = [r[0] for r in rows[:4]] + [r[0] for r in rows[24:27]] \
        + [rows[28][0]]
    q = e.filter(F.col("vec_id").isin(qids)).coalesce(1)
    one = _run_all(q, e.coalesce(1))
    seven = _run_all(q, e.repartition(7))
    for name in one:
        a = sorted(tuple(r) for r in one[name].collect())
        b = sorted(tuple(r) for r in seven[name].collect())
        assert a == b, name
        assert a, name

    # knn_join against brute force under the corpus-row policy
    valid = {i: np.array(v) for i, _, v in rows
             if v is not None and len(v) == 4 and np.any(v)}
    got = {}
    for r in one["knn_cosine"].collect():
        got.setdefault(r.q_id, []).append((r.rank, r.vec_id))
    assert set(got) == set(qids[:4])  # degenerate queries rank nothing
    for qi, hits in got.items():
        qv = valid[qi]
        ranked = sorted(
            valid, key=lambda i: (-round(float(valid[i] @ qv) / (
                np.linalg.norm(valid[i]) * np.linalg.norm(qv)), 12), i))
        assert [i for _, i in sorted(hits)] == ranked[:4]


def test_hard_negatives_plan_has_no_pair_join(spark):
    e = _frame(spark, _random_rows())
    q = e.filter(F.col("vec_id") < 3).withColumnRenamed("vec_id", "q_id")
    plan = hard_negatives(q, e, k=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInArrow" in plan
