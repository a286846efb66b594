"""Product quantization (operators/similarity.py: pq_fit / pq_encode /
pq_topk): codes verified against straight-line numpy argmin, ADC
distances against a numpy lookup-table recomputation, trained
codebooks against per-subspace cluster means on separable blobs, and
the encode plan asserted shuffle-free."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rp_extract_spark.operators.similarity import pq_encode, pq_fit, pq_topk


def _vec_df(spark, arr):
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(arr)],
        "vec_id long, embedding array<double>",
    )


def _model_df(spark, cb):
    # cb: {sub: {label(int): centroid list}}
    rows = [
        (s, str(lab), [float(x) for x in c])
        for s, d in cb.items()
        for lab, c in d.items()
    ]
    return spark.createDataFrame(
        rows, "sub int, centroid_label string, centroid array<double>"
    )


def _rng_vectors(n, dim, seed=7):
    return np.random.RandomState(seed).randn(n, dim).round(3)


def test_pq_encode_matches_numpy_argmin(spark):
    dim, m, k = 8, 2, 3
    vecs = _rng_vectors(20, dim)
    cbs = {
        s: {lab: np.round(np.random.RandomState(100 + 10 * s + lab).randn(dim // m), 3)
            for lab in range(k)}
        for s in range(m)
    }
    out = pq_encode(_vec_df(spark, vecs), _model_df(spark, cbs)).collect()
    assert len(out) == 20
    d = dim // m
    for r in out:
        v = vecs[r["vec_id"]]
        for s in range(m):
            sv = v[s * d:(s + 1) * d]
            exp = min(
                (float(np.sum((sv - c) ** 2)), lab)
                for lab, c in cbs[s].items()
            )[1]
            assert r["codes"][s] == exp


def test_pq_topk_matches_numpy_adc(spark):
    dim, m, k = 8, 2, 3
    vecs = _rng_vectors(30, dim, seed=11)
    cbs = {
        s: {lab: np.round(np.random.RandomState(7 * s + lab).randn(dim // m), 3)
            for lab in range(k)}
        for s in range(m)
    }
    model = _model_df(spark, cbs)
    q = [float(x) for x in _rng_vectors(1, dim, seed=99)[0]]
    codes = pq_encode(_vec_df(spark, vecs), model)
    got = pq_topk(codes, model, q, k=5).collect()

    d = dim // m
    qa = np.asarray(q)
    exp = []
    for i, v in enumerate(vecs):
        dist = 0.0
        for s in range(m):
            sv = v[s * d:(s + 1) * d]
            lab = min(
                (float(np.sum((sv - c) ** 2)), lab)
                for lab, c in cbs[s].items()
            )[1]
            diff = qa[s * d:(s + 1) * d] - cbs[s][lab]
            dist += float(diff @ diff)
        exp.append((dist, i))
    exp.sort()
    assert [r["vec_id"] for r in got] == [i for _, i in exp[:5]]
    for r, (dist, _) in zip(got, exp):
        assert r["adc_dist"] == pytest.approx(dist, rel=1e-12)


def test_pq_fit_recovers_separable_blobs(spark):
    # two tight blobs per subspace; k=2 Lloyd must land on the blob means
    rng = np.random.RandomState(3)
    n, d = 40, 3
    blobs = {0: ([0.0, 0.0, 0.0], [5.0, 5.0, 5.0]),
             1: ([-4.0, 0.0, 4.0], [4.0, -4.0, 0.0])}
    vecs = []
    for i in range(n):
        row = []
        for s in range(2):
            center = np.asarray(blobs[s][i % 2])
            row.extend(center + rng.randn(d) * 0.05)
        vecs.append(row)
    model = pq_fit(_vec_df(spark, np.asarray(vecs)),
                   m=2, k=2, iters=5, seed=1)
    rows = model.collect()
    assert len(rows) == 4
    for s in range(2):
        cents = sorted(
            [r["centroid"] for r in rows if r["sub"] == s],
            key=lambda c: c[0],
        )
        exp = sorted([blobs[s][0], blobs[s][1]], key=lambda c: c[0])
        for got, want in zip(cents, exp):
            assert np.allclose(got, want, atol=0.2)

    # per subspace, a bit-equal distance tie goes to the smaller string
    # label ("10" before "2") and a label with no points leaves the model
    cbs = {s: {10: [1.0], 2: [-1.0], 3: [6.0]} for s in range(2)}
    model = pq_fit(_vec_df(spark, np.array([[0.0, 0.0], [0.0, 0.0], [5.0, 5.0]])),
                   m=2, iters=1, init=_model_df(spark, cbs))
    assert sorted(map(tuple, model.collect())) == [
        (s, lab, c) for s in range(2) for lab, c in (("10", [0.0]), ("3", [5.0]))]


def test_pq_fit_dim_guard(spark):
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(_vec_df(spark, _rng_vectors(4, 6)), m=4, k=2, iters=1)


def test_pq_encode_plan_is_shuffle_free(spark):
    cbs = {0: {0: [0.0, 0.0], 1: [1.0, 1.0]},
           1: {0: [0.0, 0.0], 1: [1.0, 1.0]}}
    df = _vec_df(spark, _rng_vectors(4, 4))
    plan = (
        pq_encode(df, _model_df(spark, cbs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_ivfpq_full_probe_equals_pq(spark):
    """nprobe = nlist disables pruning: IVF-PQ must return exactly the
    plain ADC top-k."""
    from rp_extract_spark.operators.similarity import ivfpq_topk

    dim, m, k = 8, 2, 3
    vecs = _rng_vectors(40, dim, seed=21)
    cbs = {
        s: {lab: np.round(np.random.RandomState(5 * s + lab).randn(dim // m), 3)
            for lab in range(k)}
        for s in range(m)
    }
    model = _model_df(spark, cbs)
    cents = spark.createDataFrame(
        [(str(i), [float(x) for x in vecs[i]]) for i in range(4)],
        "centroid_label string, centroid array<double>",
    )
    q = [float(x) for x in _rng_vectors(1, dim, seed=77)[0]]
    corpus = _vec_df(spark, vecs)
    full = ivfpq_topk(corpus, cents, model, q, k=6, nprobe=4)
    plain = pq_topk(pq_encode(corpus, model), model, q, k=6)
    assert [r["vec_id"] for r in full.collect()] == [
        r["vec_id"] for r in plain.collect()
    ]


def test_ivfpq_results_come_from_probed_lists(spark):
    from rp_extract_spark.operators.classify import predict_centroids
    from rp_extract_spark.operators.similarity import ivfpq_topk

    dim, m, k = 8, 2, 3
    vecs = _rng_vectors(40, dim, seed=31)
    cbs = {
        s: {lab: np.round(np.random.RandomState(3 * s + lab).randn(dim // m), 3)
            for lab in range(k)}
        for s in range(m)
    }
    model = _model_df(spark, cbs)
    cents = spark.createDataFrame(
        [(str(i), [float(x) for x in vecs[i]]) for i in range(4)],
        "centroid_label string, centroid array<double>",
    )
    q = [float(x) for x in _rng_vectors(1, dim, seed=78)[0]]
    corpus = _vec_df(spark, vecs)
    got = ivfpq_topk(corpus, cents, model, q, k=10, nprobe=2).collect()
    assert 0 < len(got) <= 10

    qa = np.asarray(q)
    cent_rows = cents.collect()
    probe = [lab for _, lab in sorted(
        (float(np.sum((np.asarray(r["centroid"]) - qa) ** 2)),
         r["centroid_label"]) for r in cent_rows
    )[:2]]
    assigned = {
        r["vec_id"]: r["predicted_label"]
        for r in predict_centroids(corpus, cents).collect()
    }
    for r in got:
        assert assigned[r["vec_id"]] in probe
