"""Similarity search over embedding columns.

Generalizes the reference's query-by-example kNN (StandardScaler +
NearestNeighbors, RP_extract_Tutorial.v4.ipynb cells 89-127) to
DataFrame-native operators:

* ``topk_similar`` — brute-force cosine/euclidean top-k for one query
  vector: JVM-side ``zip_with``/``aggregate`` arithmetic (no Python in
  the scan), ``orderBy(limit)`` (Spark's TakeOrdered = distributed
  top-k, no full sort at scale).
* ``knn_join``, ``hard_negatives``, ``knn_label_spread``,
  ``dim_truncation_recall`` — batch of queries × corpus with per-query
  top-k: one ``_prims.broadcast_topk`` pass (the collected query side
  rides the task closure, numpy scores, each task's local top-k), then
  an exact ``row_number`` window over the candidate union.
* ``lsh_topk`` — random-hyperplane LSH bucketing as the 100-TB path:
  probe only the query's bucket (plus optional neighbor buckets).
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .._prims import broadcast_topk, collect_bounded, local_frame, partial_sums

logger = logging.getLogger(__name__)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def crossmodal_gate(
    pairs: DataFrame,
    left_col: str = "img_emb",
    right_col: str = "txt_emb",
    threshold_u: int = 250_000,
    grain: int = 1_000_000,
) -> DataFrame:
    """CLIP-score-style cross-modal alignment gate (the LAION-400M
    filtering rule: keep an image/caption pair only when the cosine
    similarity of their embeddings clears a threshold — reference
    analog: the classification gate `rp_classify.py` applies after
    feature extraction, lifted to the paired-embedding setting).

    Adds ``score_u`` (cosine similarity in integer ``1/grain`` units,
    half-up) and ``passed`` (``score_u >= threshold_u``). The gate
    decision compares *integers*, never floats, so the kept set is
    bit-identical across engines: any SQL engine that recomputes the
    cosine to within ``0.5/grain`` reproduces it exactly (float-vector
    dot products are exact in double; cross-engine sum-order drift is
    ~1e-15, six orders below the default grain).

    100-TB shape: pure JVM higher-order functions over the two array
    columns — one whole-stage-codegen projection, no shuffle, no
    Python. Pairing (the join producing ``pairs``) is the caller's;
    this operator never moves data.
    """
    a = F.col(left_col).cast("array<double>")
    b = F.col(right_col).cast("array<double>")
    score_u = (
        F.floor(cosine_col(a, b) * F.lit(float(grain)) + F.lit(0.5))
        .cast("long")
    )
    return pairs.withColumn("score_u", score_u).withColumn(
        "passed", (F.col("score_u") >= F.lit(int(threshold_u))).cast("int")
    )


def topk_similar(
    corpus: DataFrame,
    query_vec: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    metric: str = "cosine",
    exclude_id=None,
) -> DataFrame:
    """Top-k rows most similar to one query vector. Returns
    (id, score) ordered best-first with deterministic id tiebreak."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    v = F.col(vec_col).cast("array<double>")
    if metric == "cosine":
        score = _dot(v, q) / (_norm(v) * _norm(q))
        order = [F.col("score").desc(), F.col(id_col).asc()]
    elif metric == "euclidean":
        score = F.sqrt(
            F.aggregate(
                F.zip_with(v, q, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            )
        )
        order = [F.col("score").asc(), F.col(id_col).asc()]
    else:
        raise ValueError(metric)
    df = corpus.select(F.col(id_col), score.alias("score"))
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    return df.orderBy(*order).limit(k)


def _cosine(c: np.ndarray, q: np.ndarray) -> tuple[np.ndarray]:
    """``broadcast_topk`` score: the (rows x queries) cosine matrix;
    NaN against a zero-norm vector, so such pairs never rank. einsum,
    not ``c @ q.T`` (GEMM bits depend on the task: see
    ``broadcast_topk``)."""
    cn = np.sqrt((c * c).sum(axis=1))
    qn = np.sqrt((q * q).sum(axis=1))
    with np.errstate(invalid="ignore"):
        return (np.einsum("ij,kj->ik", c, q) / (cn[:, None] * qn[None, :]),)


def _neg_euclidean(c: np.ndarray, q: np.ndarray) -> tuple[np.ndarray]:
    """``broadcast_topk`` score: minus the euclidean distance, so the
    nearest row ranks first; negation is exact, callers negate back."""
    d = np.empty((c.shape[0], q.shape[0]))
    for j in range(q.shape[0]):
        diff = c - q[j]
        d[:, j] = -np.sqrt((diff * diff).sum(axis=1))
    return (d,)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
    k: int = 5,
    metric: str = "cosine",
) -> DataFrame:
    """For each query row, its k nearest corpus rows: (query_id,
    corpus_id, score, rank), rank by (score best-first, corpus_id ASC).

    The query side is assumed small (eval/anchor batches): one
    ``_prims.broadcast_topk`` pass scores the corpus with numpy per
    task and keeps each task's local top-k, and a ``row_number``
    window over that candidate union gives the exact global ranks.
    Float scores differ from SQL's interpreted sum order at the ulp
    level — the fixture-margin contract the DuckDB oracles rely on.
    Corpus rows with a NULL or wrong-dimension vector, and cosine
    pairs with a zero-norm vector, never rank (``broadcast_topk``'s
    corpus-row policy)."""
    v = F.col(vec_col).cast("array<double>").alias("__v")
    cand = broadcast_topk(
        queries.select(F.col(query_id), v),
        corpus.select(F.col(corpus_id), v),
        k,
        _cosine if metric == "cosine" else _neg_euclidean,
        ("__s",),
        "knn_join",
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("__s").desc(), F.col(corpus_id).asc()
    )
    score = F.col("__s") if metric == "cosine" else -F.col("__s")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, score.alias("score"), "rank")
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
    query_label: str = "label",
    corpus_label: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive / metric training: for each
    query, the k most cosine-similar corpus rows whose label DIFFERS
    from the query's — the highest-loss negatives a triplet or InfoNCE
    sampler wants. Same-id rows (ids compared as strings) are excluded
    independently of the label test (a query must never mine itself);
    a NULL label on either side excludes the pair, as SQL ``<>`` does.

    Scale shape: the knn_join pattern — the query side is collected
    (assumed small: an anchor batch, not the corpus) and
    ``_prims.broadcast_topk`` applies both exclusions as its key mask
    before each task's local cut; a ``row_number`` window per query
    finishes. Zero-norm rows on either side never rank. For
    corpus-scale query sides, route through the IVF/PQ serve path
    (ivf_probe/pq_topk) and apply the label filter to its candidates.

    Rank order is (cosine DESC, corpus_id ASC) — the id tiebreak makes
    ranks deterministic and SQL-replayable; scores stay float and are
    NOT emitted (the 1e-6-grain boundary risk of arbitrary cosines —
    ranks are margin-protected, grid values are not)."""
    v = F.col(vec_col).cast("array<double>").alias("__v")
    cand = broadcast_topk(
        queries.select(
            F.col(query_id), v, F.col(query_label).alias("__l"),
            F.col(query_id).cast("string").alias("__k"),
        ),
        corpus.select(
            F.col(corpus_id), v, F.col(corpus_label).alias("__l"),
            F.col(corpus_id).cast("string").alias("__k"),
        ),
        k,
        _cosine,
        ("__s",),
        "hard_negatives",
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("__s").desc(), F.col(corpus_id).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, F.col("__l").alias("neg_label"), "rank")
    )


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    grain: int = 1_000_000,
) -> DataFrame:
    """Symmetric per-dimension int8 quantization of an embedding
    column — the 4× storage/bandwidth compression an ANN serving tier
    applies before PQ-level loss is acceptable — kept EXACT end to
    end so any engine replays every code: embeddings land on the
    integer grain first (x_u = floor(x·grain + 0.5), the established
    half-up rule), per-dim scale is the exact integer max-abs, and
    the code is ``sign(x_u) · (|x_u|·127 div amax_u)`` — sign split
    out so no negative value ever meets a floor division (the
    color_jitter negative-div rule). Dequantized error
    ``err_u = |x_u - sign·(|q|·amax_u div 127)|`` rides along as the
    loss audit.

    Scale shape: one posexplode to narrow (id, dim, x_u) ints, a
    map-side-combined per-dim max (dim rows), one broadcast join back
    — the wide vectors never cross an exchange twice. Returns the
    relational form (id, dim, x_u, amax_u, q, err_u); pack to arrays
    with array_sort((dim, q)) structs when a columnar layout is
    needed (the collate_manifest rule — no window)."""
    g = int(grain)
    t = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.col(vec_col).cast("array<double>"),
                lambda x: F.floor(x * g + F.lit(0.5)).cast("long"),
            )
        ).alias("dim", "x_u"),
    )
    amax = t.groupBy("dim").agg(F.max(F.abs(F.col("x_u"))).alias("amax_u"))
    q = F.when(
        F.col("amax_u") > 0,
        F.signum("x_u").cast("long")
        * F.expr("(abs(x_u) * 127) div amax_u"),
    ).otherwise(F.lit(0)).cast("int")
    out = t.join(F.broadcast(amax), "dim").withColumn("q", q)
    err = F.abs(
        F.col("x_u")
        - F.signum("q").cast("long")
        * F.expr("(abs(q) * amax_u) div 127")
    )
    return out.select(
        id_col, "dim", "x_u", "amax_u",
        "q", err.cast("long").alias("err_u"),
    )


def embedding_drift(
    a: DataFrame,
    b: DataFrame,
    vec_col: str = "embedding",
    grain: int = 1_000_000,
) -> DataFrame:
    """Per-dimension distribution drift between two embedding
    snapshots — the embedding-space complement of psi_drift (which
    monitors scalar features): exact integer grain sums/counts per
    dim, means as SIGN-SPLIT floor divisions (a negative sum must
    never meet ``div`` — truncation toward zero, identical in SQL),
    and ``drift_u = |mean_a_u - mean_b_u|``. A retrained encoder or a
    shifted corpus shows up as per-dim mean displacement long before
    retrieval metrics degrade.

    Scale shape: one posexplode per side to narrow ints, map-side-
    combined per-dim aggregates (dim rows), one dim-row join. Returns
    (dim, n_a, n_b, sum_a, sum_b, mean_a_u, mean_b_u, drift_u)."""
    g = int(grain)

    def _per_dim(df: DataFrame, n_al: str, s_al: str) -> DataFrame:
        return (
            df.select(
                F.posexplode(
                    F.transform(
                        F.col(vec_col).cast("array<double>"),
                        lambda x: F.floor(x * g + F.lit(0.5)).cast("long"),
                    )
                ).alias("dim", "__x")
            )
            .groupBy("dim")
            .agg(
                F.count(F.lit(1)).alias(n_al),
                F.sum("__x").alias(s_al),
            )
        )

    def _mean(s: str, n: str) -> Column:
        # the sums are ALREADY at the grain (x_u = floor(x·g)), so the
        # mean at the grain is one plain division — multiplying by g
        # again would yield grain² units
        return F.signum(F.col(s)).cast("long") * F.expr(
            f"abs({s}) div {n}"
        )

    da = _per_dim(a, "n_a", "sum_a")
    db = _per_dim(b, "n_b", "sum_b")
    j = da.join(db, "dim")
    return j.select(
        "dim", "n_a", "n_b", "sum_a", "sum_b",
        _mean("sum_a", "n_a").alias("mean_a_u"),
        _mean("sum_b", "n_b").alias("mean_b_u"),
        F.abs(
            _mean("sum_a", "n_a") - _mean("sum_b", "n_b")
        ).alias("drift_u"),
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    in_dim: int = 64,
    out_dim: int = 8,
    seed: int = 0,
    grain: int = 1_000_000,
) -> DataFrame:
    """Signed random projection (the ±1 Achlioptas/JL sketch — the
    cheap dimensionality reduction before LSH or clustering), kept
    EXACT: inputs land on the integer grain, the sign matrix is
    md5(i:j:seed) parity (engine-recomputable — no RNG state), and
    each output coordinate is a plain integer dot product
    ``y_j = Σ_i s_ij · x_u_i``. The 1/√k normalization is left to the
    caller — a constant factor that would leave the integer domain.

    Scale shape: the sign matrix inlines as out_dim literal arrays
    (config-sized, the pq-codebook rule) and each y_j is one
    zip_with/aggregate over the row's own array — whole-stage
    codegen, zero shuffle, vectors never explode. Returns the
    relational form (id, j, y_u)."""
    import hashlib as _hl

    g = int(grain)
    if in_dim < 1 or out_dim < 1:
        raise ValueError("dims must be >= 1")
    signs = [
        [
            1
            if int(
                _hl.md5(f"{i}:{j}:{int(seed)}".encode()).hexdigest()[0],
                16,
            ) % 2 == 0
            else -1
            for i in range(int(in_dim))
        ]
        for j in range(int(out_dim))
    ]
    xu = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * g + F.lit(0.5)).cast("long"),
    )
    cols = []
    for j, srow in enumerate(signs):
        sarr = F.array(*[F.lit(s).cast("long") for s in srow])
        yj = F.aggregate(
            F.zip_with(xu, sarr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        cols.append(F.struct(F.lit(j).alias("j"), yj.alias("y_u")))
    return df.select(
        F.col(id_col), F.explode(F.array(*cols)).alias("__p")
    ).select(
        id_col, F.col("__p.j").alias("j"), F.col("__p.y_u").alias("y_u")
    )


def coreset_kcenter(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    grain: int = 1_000_000,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez farthest-point —
    the data-pruning / active-learning selection rule: pick the point
    farthest from everything already picked, k times), kept EXACT so
    any engine replays every pick: embeddings land on the integer
    grain, distances are exact int64 squared-L2 over the grain ints,
    the seed is the minimum id, and each round's argmax breaks ties
    by id ASC. Returns (rank, id, d2) where d2 is the selected
    point's min squared distance to the prior picks (the coverage
    radius sequence; 0 for the seed).

    Scale shape: k bounded rounds, each ONE distributed scan — the
    ≤k selected vectors ride the plan as literals (the pq-codebook
    inlining rule), min-over-selected is a LEAST chain, the argmax is
    orderBy+limit (TakeOrdered — never a global window), and each
    round's plan depth is constant (literals only, no growing
    lineage). O(k·N) total work; k is config-sized."""
    if k < 1:
        raise ValueError("k must be >= 1")
    g = int(grain)
    spark = df.sparkSession
    e = df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * g + F.lit(0.5)).cast("long"),
        ).alias("__v"),
    )
    seed_row = e.orderBy(F.col(id_col).asc()).limit(1).collect()
    if not seed_row:
        it = df.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], schema=f"rank int, {id_col} {it}, d2 bigint"
        )
    selected = [(seed_row[0][id_col], list(seed_row[0]["__v"]))]
    picks = [(0, selected[0][0], 0)]

    def _sq(vec_lit):
        arr = F.array(*[F.lit(int(x)).cast("long") for x in vec_lit])
        return F.aggregate(
            F.zip_with(F.col("__v"), arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        )

    for rank in range(1, int(k)):
        dmin = _sq(selected[0][1])
        for _, v in selected[1:]:
            dmin = F.least(dmin, _sq(v))
        nxt = (
            e.select(F.col(id_col), F.col("__v"), dmin.alias("__d"))
            .orderBy(F.col("__d").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not nxt or int(nxt[0]["__d"]) == 0:
            break  # fewer than k distinct points
        selected.append((nxt[0][id_col], list(nxt[0]["__v"])))
        picks.append((rank, nxt[0][id_col], int(nxt[0]["__d"])))
    it = df.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        picks, schema=f"rank int, {id_col} {it}, d2 bigint"
    )


def mmr_select(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rel_col: str = "rel_u",
    k: int = 5,
    grain: int = 1_000_000,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998) at λ = 1/2, kept EXACT: pick k rows maximizing
    ``2·rel_u - max_sim_u`` where rel_u is the caller's integer-grain
    relevance and sim_u is the exact int64 dot product of grain-landed
    embeddings against the already-selected set — the diverse-top-k
    that retrieval serving and dataset subset selection both need
    (relevance alone returns k near-duplicates). λ = 1/2 is realized
    by DOUBLING the relevance term so the objective never leaves the
    integer domain; the first pick is pure argmax relevance (empty
    selected set), ties break by id ASC everywhere.

    Scale shape — the coreset_kcenter loop: k bounded rounds of ONE
    scan each, selected vectors inlined as literals, max-sim as a
    GREATEST chain, argmax via TakeOrdered, selected ids excluded by
    literal list. Returns (rank, id, objective_u)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    g = int(grain)
    spark = df.sparkSession
    e = df.select(
        F.col(id_col),
        F.col(rel_col).cast("long").alias("__rel"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * g + F.lit(0.5)).cast("long"),
        ).alias("__v"),
    )
    first = (
        e.orderBy(F.col("__rel").desc(), F.col(id_col).asc())
        .limit(1)
        .collect()
    )
    if not first:
        it = df.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], schema=f"rank int, {id_col} {it}, objective_u bigint"
        )
    selected = [(first[0][id_col], list(first[0]["__v"]))]
    picks = [(0, selected[0][0], 2 * int(first[0]["__rel"]))]

    def _dot_lit(vec_lit):
        arr = F.array(*[F.lit(int(x)).cast("long") for x in vec_lit])
        return F.aggregate(
            F.zip_with(F.col("__v"), arr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    for rank in range(1, int(k)):
        maxsim = _dot_lit(selected[0][1])
        for _, v in selected[1:]:
            maxsim = F.greatest(maxsim, _dot_lit(v))
        obj = F.lit(2).cast("long") * F.col("__rel") - maxsim
        nxt = (
            e.filter(
                ~F.col(id_col).isin([i for i, _ in selected])
            )
            .select(F.col(id_col), F.col("__v"), obj.alias("__o"))
            .orderBy(F.col("__o").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not nxt:
            break
        selected.append((nxt[0][id_col], list(nxt[0]["__v"])))
        picks.append((rank, nxt[0][id_col], int(nxt[0]["__o"])))
    it = df.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        picks, schema=f"rank int, {id_col} {it}, objective_u bigint"
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 13) -> np.ndarray:
    return np.random.default_rng(seed).normal(size=(n_planes, dim))


def bucket_col(vec: Column, planes: np.ndarray) -> Column:
    """Random-hyperplane LSH bucket id: sign-bit signature packed into
    a long. Pure JVM arithmetic — scales to any corpus size."""
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0, 1).otherwise(0)
        for p in planes
    ]
    acc = F.lit(0)
    for b in bits:
        acc = acc * 2 + b
    return acc


def lsh_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_planes: int = 12,
    seed: int = 13,
) -> DataFrame:
    """Approximate top-k: score only the query's LSH bucket. At 100 TB
    the bucket column is precomputed+partitioned, making this a
    partition-pruned scan instead of a full sweep."""
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    qsig = int(
        "".join(
            "1" if float(np.dot(p, np.asarray(query_vec, dtype=float))) >= 0 else "0"
            for p in planes
        ),
        2,
    )
    v = F.col(vec_col).cast("array<double>")
    bucketed = corpus.withColumn("__bucket", bucket_col(v, planes))
    return topk_similar(
        bucketed.filter(F.col("__bucket") == qsig), query_vec, vec_col, id_col, k
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    iters: int = 5,
    seed: int = 29,
    init: DataFrame | None = None,
) -> DataFrame:
    """Lloyd's k-means: seed centroids from a deterministic hash-sample
    of rows (or take ``init`` — a (centroid_label, centroid) DataFrame
    — verbatim, e.g. table rows for an SQL-reproducible quantizer),
    then run ``iters`` Lloyd iterations, each ONE job
    (``classify.lloyd_fit``; ties to the smaller string label). NULL
    vectors are skipped; ragged ones and no vector at all raise."""
    if init is not None:
        init = init.select(F.lit(0).alias("sub"), "centroid_label", "centroid")
    rows = _fit_codebooks(df, vec_col, id_col, 1, k, iters, seed, init,
                          "kmeans_fit")
    return local_frame(df.sparkSession, [r[1:] for r in rows],
                       "centroid_label string, centroid array<double>")


def _fit_codebooks(df, vec_col, id_col, m, k, iters, seed, init, op):
    """kmeans_fit / pq_fit: (sub, label, centroid) rows of ``m``
    codebooks trained together by ``classify.lloyd_fit``."""
    from .classify import codebook, lloyd_fit

    v = F.col(vec_col).cast("array<double>")
    if init is not None:
        rows = init.select(
            F.col("sub").cast("int"),
            F.col("centroid_label").cast("string"),
            F.col("centroid").cast("array<double>"),
        ).collect()
        model = [codebook((r[1], r[2]) for r in rows if r[0] == s)
                 for s in range(m)]
    else:
        # Deterministic seeding: the k rows with the smallest seeded
        # hash, via orderBy+limit (TakeOrderedAndProject: each partition
        # keeps its local top-k, the driver merges k*nPart candidates).
        # NEVER a row_number() over an unpartitioned window — that sorts
        # the whole corpus on one partition: a job-killer at scale.
        seeds = [
            list(r["__v"])
            for r in df.select(F.col(id_col), v.alias("__v"))
            .filter(F.col("__v").isNotNull())
            .withColumn("__h", F.xxhash64(F.col(id_col), F.lit(seed)))
            .orderBy("__h", id_col)
            .limit(k)
            .collect()
        ]
        if not seeds:
            raise ValueError(f"{op}: no non-NULL vectors")
        dim = len(seeds[0])  # other lengths: the first pass raises
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        d = dim // m
        model = [codebook((str(c + 1), r[s * d:(s + 1) * d])
                          for c, r in enumerate(seeds) if len(r) == dim)
                 for s in range(m)]
    model = lloyd_fit(df, v, model, iters, op)
    return [(s, lab, c.tolist()) for s, (labels, cmat) in enumerate(model)
            for lab, c in zip(labels, cmat)]


def ivf_build(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Materialize the IVF inverted lists ONCE: corpus + ``list_id``
    (nearest coarse centroid). Build-once / probe-many — persist this
    (or write it partitioned by ``list_id`` so probes become partition
    pruning) and serve any number of ``ivf_probe`` queries without
    re-assigning the corpus."""
    from .classify import predict_centroids

    assigned = predict_centroids(corpus, centroids, vec_col=vec_col, id_col=id_col)
    return corpus.join(
        assigned.select(id_col, F.col("predicted_label").alias("list_id")), id_col
    )


def ivf_probe(
    lists: DataFrame,
    centroids: DataFrame,
    query_vec: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Probe the ``nprobe`` inverted lists nearest to the query and
    brute-force cosine inside them. ``lists`` is the ``ivf_build``
    output; centroid ranking is driver-side over K rows."""
    import numpy as np

    cent_rows = centroids.collect()
    q = np.asarray(query_vec, dtype=float)
    dists = sorted(
        (float(np.sum((np.asarray(r.centroid) - q) ** 2)), r.centroid_label)
        for r in cent_rows
    )
    probe_labels = [lab for _, lab in dists[:nprobe]]
    return topk_similar(
        lists.filter(F.col("list_id").isin(probe_labels)), query_vec, vec_col,
        id_col, k,
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    query_vec: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """One-shot IVF search (build + probe). For a query service use
    ``ivf_build`` once and ``ivf_probe`` per query — this wrapper
    re-assigns the corpus each call."""
    lists = ivf_build(corpus, centroids, vec_col, id_col)
    return ivf_probe(lists, centroids, query_vec, vec_col, id_col, k, nprobe)


def covariance_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
):
    """One-pass distributed covariance of a vector column — the scale
    shape for PCA over 10^12 embeddings: one ``_prims.partial_sums``
    job, each batch a LOCAL Gramian + sum + count with numpy (dim x dim
    floats, batch size independent), finished on the driver as cov =
    E[xxᵀ] - μμᵀ (population, ddof=0). NEVER the posexplode-pairs
    form: exploding dim² rows per vector is a x4096 blowup at dim 64.
    NULL vectors are skipped, ragged ones raise. Returns (mu, cov, n)."""
    dim, sums = partial_sums(
        df, [vec_col], lambda x: {0: (len(x), x.sum(axis=0), x.T @ x)},
        "covariance_matrix")
    if dim is None:
        raise ValueError("covariance of an empty DataFrame")
    n, s, g = sums[0]
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    return mu, cov, n


_PCA_MODEL_SCHEMA = (
    "component int, eigenvalue double, explained_var_ratio double, "
    "mu array<double>, loadings array<double>"
)


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """PCA via the one-pass covariance + a driver-side eigensolve on
    the dim x dim matrix (dim is small; the DATA is what's big). Sign
    convention: each component's largest-|loading| entry is positive,
    so the model is deterministic across runs/BLAS builds. Returns the
    K-row model (component, eigenvalue, explained_var_ratio, loadings)
    — broadcastable, like every model table here."""
    import numpy as np

    mu, cov, _n = covariance_matrix(df, vec_col)
    vals, vecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(vals)[::-1][:k]
    total = float(vals.sum())
    rows = []
    for rank, j in enumerate(order):
        v = vecs[:, j]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        rows.append(
            (
                rank,
                float(vals[j]),
                float(vals[j] / total) if total else 0.0,
                mu.tolist(),
                v.tolist(),
            )
        )
    return local_frame(df.sparkSession, rows, _PCA_MODEL_SCHEMA)


def pca_fit_power(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 4,
    n_iters: int = 24,
) -> DataFrame:
    """PCA fit by FIXED-BUDGET deflated power iteration — same model
    schema as ``pca_fit`` but every arithmetic step is deterministic
    and SQL-recomputable, which makes the full fit+project pipeline
    exactly oracle-able (the unrolled-iteration technique proven on
    ivf_topk/logreg): seed v0 = ones/sqrt(dim), ``n_iters`` rounds of
    v <- Cv / ||Cv||, eigenvalue lambda = v·(Cv) on the final vector,
    deflation C <- C - lambda vv^T, sign pivot = largest-|loading|
    entry positive. The distributed work (one-pass covariance,
    projection) is identical to ``pca_fit``; only the dim x dim
    driver-side eigensolve is replaced. With a flat spectrum the fixed
    budget is a deterministic feature map rather than the converged
    eigenbasis — use ``pca_fit`` (eigh) when convergence matters and
    this when cross-engine exactness does."""
    import numpy as np

    mu, cov, _n = covariance_matrix(df, vec_col)
    C = cov.copy()
    d = C.shape[0]
    total = float(np.trace(cov))
    rows = []
    for c in range(k):
        v = np.ones(d) / np.sqrt(float(d))
        for _ in range(n_iters):
            w = C @ v
            v = w / np.linalg.norm(w)
        w2 = C @ v
        lam = float(v @ w2)
        C = C - lam * np.outer(v, v)
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        rows.append(
            (c, lam, lam / total if total else 0.0, mu.tolist(), v.tolist())
        )
    return local_frame(df.sparkSession, rows, _PCA_MODEL_SCHEMA)


def pca_transform(
    df: DataFrame,
    model: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto the fitted components: broadcast the K-row
    model, one JVM dot product per component — (v - mu) · loadings.
    Adds ``out_col`` (array<double>, component order)."""
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), F.col("mu"), lambda x, m: x - m
    )
    proj = F.aggregate(
        F.zip_with(centered, F.col("loadings"), lambda x, w: x * w),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        df.crossJoin(F.broadcast(model))
        .withColumn("__p", proj)
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("component", "__p"))),
                lambda s: s["__p"],
            ).alias(out_col)
        )
    )
    return df.join(scored, id_col)


# --------------------------------------------------------------------- PQ


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    iters: int = 5,
    seed: int = 29,
    init: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization codebooks: split the vector into ``m``
    contiguous subspaces and k-means each — the memory-compression
    layer an embedding store needs at 10^11+ vectors (codes are
    ``m`` bytes instead of ``dim * 4``; Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — public).

    Returns an (sub int, centroid_label string, centroid
    array<double>) model of m*k rows. All m subspaces train in the
    SAME job per Lloyd iteration, whatever m (``classify.lloyd_fit``,
    kmeans_fit's rules). ``init`` takes (sub, centroid_label, centroid)
    rows verbatim for an SQL-reproducible quantizer (the pq_topk
    oracle's path); otherwise seeds are the sub-slices of the k rows
    with the smallest seeded hash, as in kmeans_fit."""
    rows = _fit_codebooks(df, vec_col, id_col, m, k, iters, seed, init,
                          "pq_fit")
    return local_frame(df.sparkSession, rows,
                       "sub int, centroid_label string, centroid array<double>")


def pq_encode(
    df: DataFrame,
    model: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>): nearest codebook entry per subspace.
    The codebook is collected (m*k rows — a model, not data) and
    shipped to every task, so encoding is ONE shuffle-free scan: the
    pattern that turns a 100 TB float store into an m-byte-per-vector
    code table in a single pass. An Arrow-batched stage computes all
    m*k squared distances per BATCH with one matmul per subspace
    (||x||^2 - 2 X C^T + ||c||^2) and takes the row-wise argmin — no
    per-row allocation, measured ~15x the throughput of an inlined-
    literal expression plan at 64-dim/4x16 codebooks. Tie rule:
    smallest label wins (argmin first-hit over label-sorted
    codebooks). Rows whose vector is NULL or not m*d long (m subspaces
    of the codebook's dimension d) get no row — the rule of
    ``classify.predict_centroids``."""
    rows = collect_bounded(model, "pq_encode")
    m = 1 + max(int(r["sub"]) for r in rows)
    d = len(rows[0]["centroid"])
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(int(r["sub"]), []).append(r)
    cents = []   # (m, k, d), label-sorted per sub
    labels = []  # (m, k)
    for s in range(m):
        srows = sorted(by_sub[s], key=lambda r: int(r["centroid_label"]))
        cents.append([list(map(float, r["centroid"])) for r in srows])
        labels.append([int(r["centroid_label"]) for r in srows])
    c_arr = np.asarray(cents, dtype=np.float64)          # (m, k, d)
    l_arr = np.asarray(labels, dtype=np.int64)           # (m, k)
    c_sq = (c_arr * c_arr).sum(axis=2)                   # (m, k)
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("codes", T.ArrayType(T.IntegerType()), False),
        ]
    )

    def run(batches):
        import pandas as pd

        for b in batches:
            vals = b["__v"].values
            ok = np.array(
                [v is not None and len(v) == m * d for v in vals], dtype=bool
            )
            if not ok.any():
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in vals[ok]])
            n = x.shape[0]
            codes = np.empty((n, m), dtype=np.int64)
            for s in range(m):
                xs = x[:, s * d:(s + 1) * d]             # (n, d)
                # squared distance: ||x||^2 - 2 x.c + ||c||^2; the
                # ||x||^2 term is argmin-invariant, so skip it
                dist = c_sq[s][None, :] - 2.0 * (xs @ c_arr[s].T)
                codes[:, s] = l_arr[s][np.argmin(dist, axis=1)]
            yield pd.DataFrame(
                {id_col: b[id_col].values[ok],
                 "codes": [r.tolist() for r in codes]}
            )

    return df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).mapInPandas(run, out_schema)


def pq_topk(
    codes_df: DataFrame,
    model: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PRE-ENCODED code table:
    the query builds an m*k lookup table of exact per-subspace squared
    distances on the driver (numpy over the collected model), each row
    sums m LUT entries indexed by its codes — no vector arithmetic per
    row at all — and TakeOrdered returns the k smallest. This is the
    serve path after a one-off pq_encode: the scan reads m ints per
    vector instead of dim floats. Returns (id, adc_dist), ties to the
    smaller id."""
    rows = model.collect()
    m = 1 + max(int(r["sub"]) for r in rows)
    d = len(rows[0]["centroid"])
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    if q.size != m * d:
        raise ValueError(f"query dim {q.size} != model dim {m * d}")
    lut: dict[int, dict[int, float]] = {s: {} for s in range(m)}
    for r in rows:
        s = int(r["sub"])
        c = np.asarray(r["centroid"], dtype=np.float64)
        diff = q[s * d:(s + 1) * d] - c
        lut[s][int(r["centroid_label"])] = float(diff @ diff)
    dist = None
    for s in range(m):
        term = F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in sorted(lut[s])]),
                F.array(*[F.lit(lut[s][c]) for c in sorted(lut[s])]),
            ),
            F.col("codes")[s],
        )
        dist = term if dist is None else dist + term
    return (
        codes_df.select(F.col(id_col), dist.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    model: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ top-k — the FAISS serve architecture composed from the
    repo's own parts: the coarse quantizer (ivf_build assignment)
    prunes the corpus to the query's ``nprobe`` nearest inverted
    lists, then the ADC path (pq_encode + pq_topk) scans ONLY those
    lists' m-byte codes. At 10^11+ vectors this is the standard
    memory/recall trade: the coarse probe cuts candidates ~(nlist /
    nprobe)x, PQ cuts bytes-per-candidate ~(dim*4/m)x, and neither
    step touches a float vector at serve time once lists and codes
    are materialized (build-once / probe-many: persist or write
    ivf_build's output partitioned by list_id so probes become
    partition pruning).

    Probe selection runs on the driver over the collected K-row
    centroid model (nearest by squared euclidean, ties to the smaller
    label) — a model-sized collect, the kmeans_fit discipline."""
    rows = centroids.collect()
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    scored = sorted(
        (float(np.sum((np.asarray(r["centroid"], dtype=np.float64) - q) ** 2)),
         str(r["centroid_label"]))
        for r in rows
    )
    probe = [lab for _, lab in scored[:nprobe]]
    lists = ivf_build(corpus, centroids, vec_col=vec_col, id_col=id_col)
    pruned = lists.filter(F.col("list_id").isin(probe))
    codes = pq_encode(pruned, model, vec_col=vec_col, id_col=id_col)
    return pq_topk(codes, model, q, k=k, id_col=id_col)


def semdedup(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold_u: int = 950_000,
    grain: int = 1_000_000,
    max_cluster_size: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication over an embedding column: cluster with a K-row coarse
    quantizer, then inside each cluster drop a member when another
    member is cosine-similar above the threshold AND is the preferred
    keeper. The paper's keep rule: among semantic duplicates, KEEP the
    example with the LOWEST similarity to its cluster centroid (the
    most "atypical" one carries the most marginal information); ties
    break to the smaller id. Reference analog: the query-by-example
    similarity notebook (RP_extract_Tutorial.v4.ipynb cells 89-127)
    lifted from retrieval to corpus curation.

    Scale shape — the embedding_cosine_dedup discipline with the
    quantizer as the bucketer: the K-row centroid model is broadcast
    (one arg-min per row, no shuffle of vectors for assignment beyond
    the cluster-key exchange), the pairwise step is per-cluster only
    (never corpus x corpus), and all-pairs membership per cluster is
    capped at ``max_cluster_size`` lowest ids: overflow rows are KEPT
    unverified (conservative for a drop decision) and counted in a
    warning, never silently processed as a quadratic task.

    Every gate decision is taken on INTEGERS: cosines are floored to
    ``1/grain`` units half-up (the crossmodal_gate discipline), so the
    kept set is bit-identical across engines — cross-engine sum-order
    drift (~1e-15 for dim-64 dots) sits ten orders below the grain.

    Returns one row per input row with a vector of the centroid
    dimension: (id, cluster, cent_u, kept), cluster as a string. Rows
    whose vector is NULL or of another length get no row — the
    corpus-row policy of ``_prims.broadcast_topk``, inherited through
    ``predict_centroids``.
    """
    from .classify import predict_centroids

    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col), v.alias("__v"))
    assigned = predict_centroids(base, centroids, vec_col="__v",
                                 id_col=id_col)
    cent = centroids.select(
        F.col("centroid_label").cast("string").alias("cluster"),
        F.col("centroid").cast("array<double>").alias("__c"),
    )
    m = (
        base.join(assigned.select(
            id_col, F.col("predicted_label").cast("string").alias("cluster")),
            id_col)
        .join(F.broadcast(cent), "cluster")
        .withColumn(
            "cent_u",
            F.floor(cosine_col(F.col("__v"), F.col("__c")) * grain
                    + F.lit(0.5)).cast("long"),
        )
        .drop("__c")
    )
    ranked = m.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("cluster").orderBy(F.col(id_col).asc())
        ),
    ).persist()  # feeds the overflow count and both sides of the pair
    # join; a cache guarantees one assignment pass under every
    # exchange-reuse config
    try:
        n_over = ranked.filter(F.col("__rn") > max_cluster_size).count()
        if n_over:
            logger.warning(
                "semdedup: %d rows beyond max_cluster_size=%d kept "
                "UNVERIFIED (hot cluster(s); raise k to split them)",
                n_over, max_cluster_size,
            )
        capped = ranked.filter(F.col("__rn") <= max_cluster_size)
        left = capped.select(
            F.col(id_col).alias("__ida"), F.col("__v").alias("__va"),
            F.col("cent_u").alias("__cua"), "cluster",
        )
        right = capped.select(
            F.col(id_col).alias("__idb"), F.col("__v").alias("__vb"),
            F.col("cent_u").alias("__cub"), "cluster",
        )
        pair_u = F.floor(
            cosine_col(F.col("__va"), F.col("__vb")) * grain + F.lit(0.5)
        ).cast("long")
        drops = (
            left.join(right, "cluster")
            .filter(F.col("__idb") != F.col("__ida"))
            .filter(
                (F.col("__cub") < F.col("__cua"))
                | ((F.col("__cub") == F.col("__cua"))
                   & (F.col("__idb") < F.col("__ida")))
            )
            .filter(pair_u >= F.lit(int(threshold_u)))
            .select(F.col("__ida").alias(id_col))
            .distinct()
            .withColumn("__dropped", F.lit(True))
        )
        # materialize the drop set while the ranked cache is hot —
        # ids only (narrow), the minhash-rep-table discipline — so the
        # returned plan no longer references the cache when we release
        # it (the consumer would otherwise recompute the pair join)
        drops = drops.persist()
        drops.count()
        return (
            m.join(drops, id_col, "left")
            .withColumn("kept", F.col("__dropped").isNull())
            .select(id_col, "cluster", "cent_u", "kept")
        )
    finally:
        ranked.unpersist(blocking=False)


def ivf_write(
    lists: DataFrame,
    out_dir: str,
) -> None:
    """Materialize ivf_build's inverted lists as a parquet table
    PARTITIONED BY list_id — the build-once/probe-many serve layout:
    a probe filtered to its nprobe lists becomes PARTITION PRUNING at
    the scan (the physical plan shows the list_id partition filter and
    touches only those directories), so serve cost scales with
    nprobe/nlist of the corpus, not the corpus."""
    lists.write.mode("overwrite").partitionBy("list_id").parquet(out_dir)


def ivf_probe_stored(
    spark,
    out_dir: str,
    centroids: DataFrame,
    query_vec: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Serve a query from the ivf_write layout: rank the K-row
    centroid model driver-side (the kmeans_fit collect discipline),
    scan ONLY the chosen list_id partitions (partition pruning — the
    filter never reads the other lists' files), brute-force the
    survivors."""
    cent_rows = centroids.collect()
    q = np.asarray([float(v) for v in query_vec], dtype=np.float64)
    scored = sorted(
        (float(np.sum((np.asarray(r["centroid"], dtype=np.float64) - q) ** 2)),
         str(r["centroid_label"]))
        for r in cent_rows
    )
    probe = [lab for _, lab in scored[:nprobe]]
    lists = spark.read.parquet(out_dir).filter(
        F.col("list_id").isin(probe))
    return topk_similar(lists, query_vec, vec_col, id_col, k)


def retrieval_recall(
    queries: DataFrame,
    gallery: DataFrame,
    positives: DataFrame,
    ks: Sequence[int] = (1, 5, 10),
    query_id: str = "q_id",
    gallery_id: str = "vec_id",
    vec_col: str = "embedding",
    grain: int = 1_000_000,
) -> DataFrame:
    """Retrieval evaluation — recall@k of a query set against a
    gallery with known positives (the CLIP image->text retrieval eval;
    reference analog: the kNN query-by-example evaluation in the
    tutorial notebook, lifted to a scored metric). Brute-force
    per-query ranking via knn_join (queries broadcast — eval sets are
    bounded by construction; serve-scale galleries go through the
    ivf/pq paths, whose recall is measured by ivf_recall against THIS
    ground truth shape). ``positives`` maps each query to its one true
    gallery row. recall_u = n_hits * grain // n_queries — exact
    integer arithmetic, no float ratio. Returns one row per k."""
    ks = sorted(set(int(k) for k in ks))
    if not ks or ks[0] < 1:
        raise ValueError("ks must be positive")
    maxk = ks[-1]
    ranked = knn_join(queries, gallery, vec_col=vec_col,
                      query_id=query_id, corpus_id=gallery_id, k=maxk)
    # min rank per query, never a row sum: duplicate gallery/positive
    # ids would otherwise count one query several times (recall > 1)
    hit_ranks = (
        ranked.join(positives, [query_id, gallery_id])
        .groupBy(query_id).agg(F.min("rank").alias("rank"))
    )
    aggs = [
        F.sum(F.when(F.col("rank") <= k, 1).otherwise(0))
        .cast("long").alias(f"__h{k}")
        for k in ks
    ]
    row = hit_ranks.agg(*aggs).first()
    n_q = positives.count()
    out = []
    for k in ks:
        h = int(row[f"__h{k}"] or 0)
        out.append((k, n_q, h, (h * grain) // n_q if n_q else 0))
    return queries.sparkSession.createDataFrame(
        out, schema="k int, n_queries long, n_hits long, recall_u long")


def knn_label_spread(
    unlabeled: DataFrame,
    labeled: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 7,
) -> DataFrame:
    """One-hop kNN label propagation (the semi-supervised bootstrap /
    pseudo-labeling step): each unlabeled point takes the MAJORITY
    label of its k cosine-nearest labeled neighbors; ties break by
    (count DESC, label ASC) and neighbor ranks break by (cosine DESC,
    id ASC) — both deterministic and SQL-replayable. Scores are never
    emitted (the hard_negatives grain-boundary rule; ranks and counts
    are margin-protected).

    Scale shape: the unlabeled side rides the task closure per serving
    batch (the knn_join contract — corpus-sized relabeling routes
    through the IVF/PQ candidates instead); one
    ``_prims.broadcast_topk`` pass over the labeled side keeps each
    task's local top-k, and the rank window over that candidate union
    is exact. Float-cosine ranks rely on the fixture-margin contract
    (the oracle's DuckDB cosine is a third summation order). Per-query
    windows then span k rows, the vote groupBy spans <= distinct-label
    rows per query. Zero-norm, NULL and wrong-dimension rows never
    rank on either side (``broadcast_topk``'s corpus-row policy), so a
    query without a ranked neighbor gets no row. Returns (id,
    pred_label, votes, n_neighbors)."""
    v = F.col(vec_col).cast("array<double>").alias("__v")
    cand = broadcast_topk(
        unlabeled.select(F.col(id_col).alias("__qid"), v),
        labeled.select(
            F.col(id_col).alias("__cid"), v, F.col(label_col).alias("__cl")
        ),
        k,
        _cosine,
        ("__s",),
        "knn_label_spread",
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("__s").desc(), F.col("__cid").asc()
    )
    nn = cand.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= int(k)
    )
    votes = nn.groupBy("__qid", "__cl").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("__qid").orderBy(
        F.col("votes").desc(), F.col("__cl").asc()
    )
    tot = nn.groupBy("__qid").agg(F.count(F.lit(1)).alias("n_neighbors"))
    return (
        votes.withColumn("__vr", F.row_number().over(wv))
        .filter(F.col("__vr") == 1)
        .join(tot, "__qid")
        .select(
            F.col("__qid").alias(id_col),
            F.col("__cl").alias("pred_label"),
            "votes",
            "n_neighbors",
        )
    )


def ivf_append(
    delta: DataFrame,
    centroids: DataFrame,
    out_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental IVF index maintenance: assign ONLY the new vectors
    to the existing coarse centroids and APPEND them into the
    partitioned serve layout (ivf_write's directory scheme) — the
    daily-ingest path that never re-reads or re-writes the base index.
    Because assignment depends only on (vector, centroids), append
    followed by probe is EXACTLY equal to a full rebuild over
    base ∪ delta — the property the driver query proves against an
    oracle that only ever sees the full set. Centroids must be the
    ones the base index was built with (a re-trained quantizer
    invalidates the layout — rebuild instead)."""
    lists = ivf_build(delta, centroids, vec_col=vec_col, id_col=id_col)
    lists.write.mode("append").partitionBy("list_id").parquet(out_dir)


def dim_truncation_recall(
    queries: DataFrame,
    gallery: DataFrame,
    trunc_dims: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    grain: int = 1_000_000,
) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: per query,
    how many of the full-vector top-k survive when similarity uses
    only the FIRST ``trunc_dims`` coordinates — the measurement that
    decides whether a cheaper truncated index is safe to serve.

    Exactness contract: both rankings quantize vectors to the integer
    micro-grid (floor(x*grain + 1/2)) and rank by EXACT integer dot
    products with id tiebreaks, so the top-k cut is deterministic and
    SQL-replayable — raw float cosines at a rank cut carry boundary
    risk (the hard_negatives precedent). Self-matches excluded.

    Scale path: the query side rides the task closure (eval sets are
    bounded) and one ``_prims.broadcast_topk`` pass over the gallery
    computes both rankings' dot products as float64 GEMMs — exact,
    because every product is <= grain^2 = 1e12 and every partial sum
    <= dim*1e12 < 2^53, so float64 arithmetic never rounds — keeping
    each task's local top-k per query per ranking; the rank windows
    over that candidate union are exact. Queries with a vector shorter
    than ``trunc_dims`` rank nothing (n_overlap 0); gallery rows with
    a NULL or wrong-dimension vector never rank (``broadcast_topk``'s
    corpus-row policy). Every query row gets one output row.
    Returns (q_id, n_overlap, k)."""
    t = int(trunc_dims)

    def grid_dots(c, q):
        cg, qg = np.floor(c * grain + 0.5), np.floor(q * grain + 0.5)
        return cg @ qg.T, cg[:, :t] @ qg[:, :t].T  # exact: see docstring

    v = F.col(vec_col).cast("array<double>").alias("__v")
    key = F.col(id_col).cast("string").alias("__k")
    cand = broadcast_topk(
        queries.filter(F.size(vec_col) >= t).select(
            F.col(id_col).alias("q_id"), v, key
        ),
        gallery.select(F.col(id_col).alias("g_id"), v, key),
        k,
        grid_dots,
        ("__df", "__dt"),
        "dim_truncation_recall",
    )
    wf = Window.partitionBy("q_id").orderBy(
        F.col("__df").desc(), F.col("g_id").asc()
    )
    wt = Window.partitionBy("q_id").orderBy(
        F.col("__dt").desc(), F.col("g_id").asc()
    )
    ranked = cand.select(
        "q_id",
        "g_id",
        F.row_number().over(wf).alias("__rf"),
        F.row_number().over(wt).alias("__rt"),
    )
    both = ranked.filter(
        (F.col("__rf") <= int(k)) & (F.col("__rt") <= int(k))
    )
    counts = both.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_overlap"))
    return (
        queries.select(F.col(id_col).alias("q_id"))
        .join(counts, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_overlap", F.lit(0)).cast("int").alias("n_overlap"),
            F.lit(int(k)).alias("k"),
        )
    )
