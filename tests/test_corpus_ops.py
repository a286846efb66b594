"""Dedup / similarity / text / class operators on the driver tables."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from rp_extract_spark.operators.classes import (
    baseline_accuracy,
    class_histogram,
    label_encode,
    match_report,
    normalize_key,
    prune_min_instances,
    zscore,
)
from rp_extract_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    minhash_signature,
    ngram_jaccard,
    simhash_dedup,
)
from rp_extract_spark.operators.similarity import knn_join, lsh_topk, topk_similar
from rp_extract_spark.operators.text import analyze_documents

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ---------- dedup ----------

def test_exact_dedup(spark, docs):
    # duplicate the corpus with shifted ids; dedup must halve it
    shifted = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.unionByName(shifted)
    kept = exact_dedup(both, ["text"], "doc_id")
    n_unique_text = docs.select("text").distinct().count()
    assert kept.count() == n_unique_text
    # representatives are the original (smaller) ids
    assert kept.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_minhash_similarity_property():
    a = "the quick brown fox jumps over the lazy dog in the morning light"
    b = "the quick brown fox jumps over the lazy dog in the evening light"
    c = "completely different content about spark partitioning strategies"
    sa = minhash_signature(a, 128, 5, seed=7)
    sb = minhash_signature(b, 128, 5, seed=7)
    sc = minhash_signature(c, 128, 5, seed=7)
    sim_ab = (sa == sb).mean()
    sim_ac = (sa == sc).mean()
    assert sim_ab > 0.5 > sim_ac


def test_minhash_lsh_dedup(spark, docs):
    # plant near-duplicates: copy 5 docs with one word appended
    dups = (
        docs.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    )
    both = docs.unionByName(dups).cache()
    rep = minhash_lsh_dedup(both, n_hashes=128, bands=32)  # r=4, thresh~0.42
    m = {r.doc_id: r.rep_id for r in rep.collect()}
    assert len(m) == both.count()
    planted = [r.doc_id for r in dups.select("doc_id").collect()]
    # each planted near-dup should collapse onto its source (id - 2M)
    hit = sum(1 for d in planted if m[d] == d - 2_000_000)
    assert hit >= 4  # LSH is probabilistic
    # non-self merges must be genuine near-dups: signature similarity
    # with the elected representative stays above the banding threshold
    # (the sf0.001 corpus itself contains ~24 generator-planted near-dups)
    from rp_extract_spark.operators.dedup import minhash_signature

    texts = {r.doc_id: r.text for r in both.collect()}
    merged = [(d, r) for d, r in m.items() if r != d and d < 2_000_000]
    assert 0 < len(merged) < 60
    for d, r in merged:
        sa = minhash_signature(texts[d], 128, 3, 7)
        sb = minhash_signature(texts[r], 128, 3, 7)
        assert (sa == sb).mean() > 0.3, (d, r)


def test_simhash_dedup(spark, docs):
    both = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 3_000_000))
    out = simhash_dedup(both)
    m = {r.doc_id: r for r in out.collect()}
    for r in docs.select("doc_id").collect():
        # an exact copy always lands in its original's simhash group
        assert m[r.doc_id + 3_000_000].simhash == m[r.doc_id].simhash
        assert m[r.doc_id + 3_000_000].rep_id == m[r.doc_id].rep_id
        # the representative is the smallest id of the group
        assert m[r.doc_id].rep_id <= r.doc_id


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w q r")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    got = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard(df, pairs).collect()}
    # trigrams of 1: {abc,bcd,cde,def}; of 2: {abc,bcd,cde,deg} -> 3/5
    assert abs(got[(1, 2)] - 3 / 5) < 1e-9
    assert got[(1, 3)] == 0.0


# ---------- similarity ----------

def test_topk_cosine_vs_duckdb(spark, emb):
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    q = list(qrow.embedding)
    got = [
        (r.vec_id, round(r.score, 6))
        for r in topk_similar(emb, q, k=10, exclude_id=0).collect()
    ]
    con = duckdb.connect()
    want = con.sql(
        f"""
        WITH q AS (SELECT embedding AS qv FROM '{SF}/embeddings.parquet' WHERE vec_id=0)
        SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 6) AS s
        FROM '{SF}/embeddings.parquet', q WHERE vec_id <> 0
        ORDER BY s DESC, vec_id LIMIT 10
        """
    ).fetchall()
    assert [w[0] for w in want] == [g[0] for g in got]
    for (gi, gs), (wi, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-5


def test_knn_join(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    got = knn_join(queries, emb, k=3).collect()
    assert len(got) == 9
    for r in got:
        if r.rank == 1:
            assert r.vec_id == r.q_id  # self is nearest (cos=1)


def test_lsh_topk_subset_of_bruteforce(spark, emb):
    qrow = emb.filter(F.col("vec_id") == 5).collect()[0]
    q = list(qrow.embedding)
    approx = {r.vec_id for r in lsh_topk(emb, q, k=5, n_planes=6).collect()}
    assert 5 in approx  # query's own row lands in its bucket
    assert len(approx) >= 1


# ---------- text ----------

def test_analyze_documents_vs_duckdb(spark, docs):
    got = {
        r.doc_id: r
        for r in analyze_documents(docs).select(
            "doc_id", "n_tokens", "fingerprint", "quality", "lang_guess"
        ).collect()
    }
    con = duckdb.connect()
    want = con.sql(
        f"""
        SELECT doc_id,
               CASE WHEN length(trim(text))=0 THEN 0
                    ELSE length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                         - length(replace(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ', '')) + 1
               END AS n_tokens,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM '{SF}/documents.parquet'
        """
    ).fetchall()
    for doc_id, n_tok, fp in want:
        assert got[doc_id].n_tokens == n_tok, doc_id
        assert got[doc_id].fingerprint == fp, doc_id
    assert all(0.0 <= r.quality <= 1.0 for r in got.values())
    # lang column exists in the table; our heuristic should usually agree on 'en'
    en_docs = {r.doc_id for r in docs.filter(F.col("lang") == "en").collect()}
    agree = sum(1 for d in en_docs if got[d].lang_guess == "en")
    assert agree >= len(en_docs) * 0.5


# ---------- classes ----------

@pytest.fixture(scope="module")
def labels(spark, docs):
    return docs.select(
        F.col("doc_id").alias("id"), F.col("source").alias("label")
    ).cache()


def test_match_report(spark, labels):
    feats = labels.select("id").filter(F.col("id") % 2 == 0)
    rep = match_report(feats, labels.filter(F.col("id") % 3 == 0))
    n_feat = feats.count()
    assert rep["matched"].count() + rep["features_only"].count() == n_feat
    assert rep["classes_only"].filter(F.col("id") % 2 == 0).count() == 0


def test_histogram_prune_encode(spark, labels):
    hist = {r.label: r.n for r in class_histogram(labels).collect()}
    assert sum(hist.values()) == labels.count()
    kept = prune_min_instances(labels, min_n=100)
    assert set(r.label for r in kept.select("label").distinct().collect()) == {
        k for k, v in hist.items() if v >= 100
    }
    enc = label_encode(labels)
    codes = {r.label: r.label_code for r in enc.select("label", "label_code").distinct().collect()}
    assert codes == {l: i for i, l in enumerate(sorted(hist))}
    base = baseline_accuracy(labels).collect()[0]
    assert abs(base.baseline - max(hist.values()) / sum(hist.values())) < 1e-12


def test_normalize_key(spark):
    df = spark.createDataFrame(
        [("music/Artist - Track.MP3",), ("a/b/C.wav",)], "id string"
    )
    got = [r[0] for r in df.select(normalize_key(F.col("id"))).collect()]
    assert got == ["artist - track", "c"]


def test_zscore(spark, docs):
    out = zscore(docs, ["n_chars"])
    row = out.agg(
        F.avg("n_chars_z").alias("mu"), F.stddev_pop("n_chars_z").alias("sd")
    ).collect()[0]
    assert abs(row.mu) < 1e-9 and abs(row.sd - 1.0) < 1e-9


def test_ivf_topk(spark, emb):
    from rp_extract_spark.operators.similarity import ivf_topk, kmeans_fit

    cent = kmeans_fit(emb, k=8, iters=3).cache()
    assert cent.count() == 8
    qrow = emb.filter(F.col("vec_id") == 7).first()
    q = list(qrow.embedding)
    approx = [r.vec_id for r in ivf_topk(emb, cent, q, k=5, nprobe=2).collect()]
    # the query's own vector lives in its probed list -> rank 1, cos=1
    assert approx and approx[0] == 7
    # recall sanity vs brute force at generous nprobe
    exact = [r.vec_id for r in topk_similar(emb, q, k=5).collect()]
    wide = {r.vec_id for r in ivf_topk(emb, cent, q, k=5, nprobe=8).collect()}
    assert set(exact) == wide  # nprobe=k_lists == exhaustive


def test_kmeans_lineage_truncated(spark, emb):
    """Iteration i+1's plan must not re-execute iteration i: the fitted
    centroids come back as a driver-materialized local relation (the
    model is K rows), not a join tree over the corpus. Lloyd rules: a
    bit-equal distance tie goes to the smaller string label ("10"
    before "2"), and a label that gets no points leaves the model."""
    from rp_extract_spark.operators.similarity import kmeans_fit

    cent = kmeans_fit(emb, k=4, iters=3)
    plan = cent._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    assert cent.count() == 4

    pts = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0])],
        "vec_id long, embedding array<double>")
    init = spark.createDataFrame(
        [("10", [1.0, 1.0]), ("2", [-1.0, -1.0]), ("3", [6.0, 6.0])],
        "centroid_label string, centroid array<double>")
    got = kmeans_fit(pts, iters=1, init=init).collect()
    assert sorted(map(tuple, got)) == [("10", [0.0, 0.0]), ("3", [5.0, 5.0])]


def test_ivf_build_probe(spark, emb):
    """Build-once/probe-many: probing materialized lists returns the
    same rows as the one-shot wrapper."""
    from rp_extract_spark.operators.similarity import (
        ivf_build,
        ivf_probe,
        ivf_topk,
        kmeans_fit,
    )

    cent = kmeans_fit(emb, k=4, iters=2)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding]
    lists = ivf_build(emb, cent).cache()
    got = {r.vec_id for r in ivf_probe(lists, cent, qv, k=5, nprobe=2).collect()}
    want = {r.vec_id for r in ivf_topk(emb, cent, qv, k=5, nprobe=2).collect()}
    assert got == want and len(got) == 5


def test_classes_from_filename(spark):
    from rp_extract_spark.operators.classes import classes_from_filename

    df = spark.createDataFrame(
        [("pop/file1.wav",), ("rock/sub/file2.wav",), ("jazz.00001.wav",)],
        "id string",
    )
    by_slash = [r.c for r in df.select(
        classes_from_filename(F.col("id")).alias("c")).collect()]
    assert by_slash == ["pop", "rock", "jazz.00001.wav"]
    by_dot = [r.c for r in df.select(
        classes_from_filename(F.col("id"), ".").alias("c")).collect()]
    assert by_dot[2] == "jazz"


def test_bm25_rank_hand_computed(spark):
    """BM25 on a 3-doc corpus, checked against the formula by hand:
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)), Okapi tf norm."""
    import math

    from rp_extract_spark.operators.text import bm25_rank

    rows = [
        ("a", "cat dog cat"),    # dl 3, tf(cat)=2
        ("b", "dog dog dog"),    # dl 3, tf(cat)=0
        ("c", "cat fish"),       # dl 2, tf(cat)=1
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r.doc_id: r for r in bm25_rank(df, ["cat"], top_k=10).collect()}
    assert set(out) == {"a", "c"}  # b has no query terms
    n, avgdl, dfreq, k1, b = 3, 8 / 3, 2, 1.2, 0.75
    idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))

    def expect(tf, dl):
        return round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)), 6)

    assert out["a"].score == pytest.approx(expect(2, 3), abs=1e-6)
    assert out["c"].score == pytest.approx(expect(1, 2), abs=1e-6)
    assert out["a"].score > out["c"].score  # higher tf wins here


def test_bm25_multi_term_additive(spark):
    from rp_extract_spark.operators.text import bm25_rank

    rows = [("a", "x y"), ("b", "x x"), ("c", "z z z")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    single_x = {r.doc_id: r.score
                for r in bm25_rank(df, ["x"], top_k=10).collect()}
    single_y = {r.doc_id: r.score
                for r in bm25_rank(df, ["y"], top_k=10).collect()}
    both = {r.doc_id: r.score
            for r in bm25_rank(df, ["x", "y"], top_k=10).collect()}
    assert both["a"] == pytest.approx(single_x["a"] + single_y["a"], abs=2e-6)
    assert "c" not in both


# ---------- repetition signals + PII redaction (round 3) ----------

def test_repetition_stats_hand_computed(spark):
    from rp_extract_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [("a", "a b a b a b c"),   # 7 tokens/3 distinct; 2-grams: ab,ba,ab,ba,ab,bc
         ("b", "x\n  x \ny\n\n"),  # lines x,x,y
         ("c", ""),
         ("d", "w1 w2 w3 w4")],
        ["doc_id", "text"])
    m = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert m["a"].dup_token_frac == pytest.approx(1 - 3 / 7, abs=1e-6)
    assert m["a"].top_2gram_share == pytest.approx(3 / 6)
    assert m["a"].dup_line_frac == 0.0
    assert m["b"].dup_line_frac == pytest.approx(1 - 2 / 3, abs=1e-6)
    assert m["c"].dup_token_frac == 0.0 and m["c"].dup_line_frac == 0.0
    assert m["c"].top_2gram_share == 0.0
    assert m["d"].dup_token_frac == 0.0
    assert m["d"].top_2gram_share == pytest.approx(1 / 3, abs=1e-6)


def test_redact_pii_kinds_and_order(spark):
    from rp_extract_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [("a", "mail u1@ex.com or u2@ex.org see https://ex.org/a?q=1 "
               "ip 10.0.3.7 tel +1 555-010-1234"),
         ("b", "no pii here")],
        ["doc_id", "text"])
    m = {r.doc_id: r for r in redact_pii(df).collect()}
    a = m["a"]
    assert (a.n_url, a.n_email, a.n_ip, a.n_phone) == (1, 2, 1, 1)
    assert a.text_redacted == ("mail <EMAIL> or <EMAIL> see <URL> "
                               "ip <IP> tel <PHONE>")
    # URL digits must never leak into the phone count (ordering)
    assert "<PHONE>" not in m["b"].text_redacted
    assert m["b"].text_redacted == "no pii here"


def test_unigram_lm_hand_computed(spark):
    import math

    from rp_extract_spark.operators.text import (
        OOV_TOKEN, score_unigram_lm, train_unigram_lm)

    df = spark.createDataFrame(
        [("a", "the cat sat"), ("b", "the the dog"), ("c", ""), ("d", "zebra")],
        ["doc_id", "text"])
    m = train_unigram_lm(df, vocab_size=3, alpha=0.5)
    rows = {r.token: r.logp for r in m.collect()}
    # T=7: the:3 cat:1 dog:1 sat:1 zebra:1 -> top3 by (cnt desc, tok asc)
    assert set(rows) == {"the", "cat", "dog", OOV_TOKEN}
    assert rows["the"] == pytest.approx(round(math.log(3 / 7.5), 6), abs=1e-9)
    assert rows[OOV_TOKEN] == pytest.approx(round(math.log(0.5 / 7.5), 6), abs=1e-9)
    s = {r.doc_id: (r.lm_score, r.n_tokens)
         for r in score_unigram_lm(df, m).collect()}
    exp_a = round(round(1e6 * rows["the"]) + round(1e6 * rows["cat"])
                  + round(1e6 * rows[OOV_TOKEN]), 6) / (3 * 1e6)
    assert s["a"][0] == pytest.approx(round(exp_a, 6), abs=1e-9)
    assert s["c"] == (0.0, 0)
    assert s["d"][1] == 1 and s["d"][0] == rows[OOV_TOKEN]


def test_hash_embed_normalized_and_deterministic(spark):
    from rp_extract_spark.operators.text import hash_embed

    df = spark.createDataFrame(
        [("a", "w1 w2 w3 w1"), ("b", ""), ("c", "w1 w2 w3 w1")],
        ["doc_id", "text"])
    e = {r.doc_id: r.embedding for r in hash_embed(df, dim=8).collect()}
    assert e["a"] == e["c"]                       # content-deterministic
    assert sum(x * x for x in e["a"]) == pytest.approx(1.0, abs=1e-4)
    assert e["b"] == [0.0] * 8
    # feeds the similarity stack directly
    from rp_extract_spark.operators.similarity import topk_similar
    emb = hash_embed(df.filter(F.col("doc_id") != "b"), dim=8)
    top = topk_similar(emb, e["a"], vec_col="embedding", id_col="doc_id", k=1)
    assert top.first().doc_id == "a"


def test_redact_pii_preserves_dates_and_versions(spark):
    from rp_extract_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [("a", "released 2024-08-17 12:34 v1.2.3 build 123456789"),
         ("b", "call (555) 010-1234 or +442071838750 today")],
        ["doc_id", "text"])
    m = {r.doc_id: r for r in redact_pii(df).collect()}
    # dates, timestamps, versions and plain digit runs are NOT phones
    # (4-component dotted quads DO redact as IPs - documented IP rule)
    assert m["a"].text_redacted == df.collect()[0].text
    assert m["a"].n_phone == 0
    assert m["b"].n_phone == 2
    assert m["b"].text_redacted == "call <PHONE> or <PHONE> today"


def test_covariance_matches_numpy(spark, emb):
    import numpy as np

    from rp_extract_spark.operators.similarity import covariance_matrix

    mu, cov, n = covariance_matrix(emb)
    X = np.stack([np.asarray(r.embedding, float) for r in emb.collect()])
    assert n == len(X)
    assert np.allclose(mu, X.mean(axis=0))
    assert np.allclose(cov, np.cov(X.T, ddof=0), atol=1e-10)


def test_pca_fit_transform_invariants(spark, emb):
    import numpy as np

    from rp_extract_spark.operators.similarity import pca_fit, pca_transform

    model = pca_fit(emb, k=4)
    rows = model.orderBy("component").collect()
    L = np.stack([np.asarray(r.loadings) for r in rows])
    # orthonormal components, descending eigenvalues, sane ratios
    assert np.allclose(L @ L.T, np.eye(4), atol=1e-8)
    evs = [r.eigenvalue for r in rows]
    assert evs == sorted(evs, reverse=True) and evs[-1] > 0
    assert all(0 <= r.explained_var_ratio <= 1 for r in rows)
    # deterministic sign: pivot loading positive
    for r in rows:
        v = np.asarray(r.loadings)
        assert v[int(np.argmax(np.abs(v)))] > 0
    # projection equals independent numpy PCA for a sample row
    out = {r.vec_id: r.pca for r in pca_transform(emb, model).collect()}
    X = np.stack([np.asarray(r.embedding, float) for r in emb.collect()])
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    x0 = X[ids.index(3)]
    exp = [(x0 - X.mean(0)) @ np.asarray(r.loadings) for r in rows]
    assert np.allclose(out[3], exp, atol=1e-8)
    # variance of projected scores equals the eigenvalue (population)
    P = np.stack([out[i] for i in ids])
    assert np.allclose(P.var(axis=0, ddof=0), evs, rtol=1e-6)


def test_pca_fit_power_matches_driver_side_numpy(spark, emb):
    import numpy as np

    from rp_extract_spark.operators.similarity import pca_fit_power

    K, T = 3, 24
    rows = pca_fit_power(emb, k=K, n_iters=T).orderBy("component").collect()
    X = np.stack([np.asarray(r.embedding, float) for r in emb.collect()])
    n, d = X.shape
    mu = X.sum(axis=0) / n
    C = (X.T @ X) / n - np.outer(mu, mu)
    total = float(np.trace(C))
    for c in range(K):
        v = np.ones(d) / np.sqrt(float(d))
        for _ in range(T):
            w = C @ v
            v = w / np.linalg.norm(w)
        lam = float(v @ (C @ v))
        C = C - lam * np.outer(v, v)
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        r = rows[c]
        assert r.component == c
        assert abs(r.eigenvalue - lam) < 1e-10
        assert abs(r.explained_var_ratio - lam / total) < 1e-10
        assert np.allclose(r.loadings, v, atol=1e-10)
        assert np.allclose(r.mu, mu, atol=1e-10)
        # unit norm + deterministic sign pivot
        lv = np.asarray(r.loadings)
        assert abs(np.linalg.norm(lv) - 1.0) < 1e-10
        assert lv[int(np.argmax(np.abs(lv)))] > 0
