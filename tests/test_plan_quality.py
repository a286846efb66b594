"""Plan-quality assertions: pushdown, pruning, broadcast, AQE skew.

These guard the 100-TB properties Catalyst gives us only if the plans
stay well-shaped: filters reaching the parquet scan, projections pruned
to the read schema, small dimensions broadcast, salted/AQE handling of
hot keys producing correct results.
"""

import io
import itertools
import tarfile
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import functions as F

from rp_extract_spark.plans.driver_queries import (
    q_nation_revenue,
    q_pricing_summary,
)
from rp_extract_spark.sources.images import images_df

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_GROUPS = itertools.count()


def _jobs(spark, fn) -> tuple[int, list[str]]:
    """Run ``fn`` under a job group of its own: the number of Spark
    jobs it ran and the executed plans of the SQL executions those jobs
    belong to (read from the SQL status store once the listener bus
    has drained)."""
    sc = spark.sparkContext
    group = f"plan-quality-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    keys = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        x.physicalPlanDescription()
        for x in (ex.apply(i) for i in range(ex.size()))
        if jobs & {int(j) for j in keys(x.jobs().keySet())}
    ]
    return len(jobs), plans


def test_filter_pushdown_to_parquet(spark):
    plan = _plan(q_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(li.select("l_orderkey", "l_quantity"))
    # ReadSchema carries only the projected columns
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs


def test_dims_broadcast(spark):
    plan = _plan(q_nation_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region
    assert "SortMergeJoin" not in plan


def test_skewed_groupby_correct_under_aqe(spark):
    # half the rows share one hot phash; AQE + salting path must agree
    # with the plain groupBy result
    imgs = images_df(spark, 120, seed=42, hot_phash_fraction=0.5).select(
        "image_id", "phash"
    ).cache()
    plain = {r.phash: r.n for r in imgs.groupBy("phash").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    hot = plain.get(0x5A5A5A5A, 0)
    assert hot >= 40  # skew actually present
    # two-phase salted aggregation (the manual pattern for pre-AQE
    # engines; must produce identical counts)
    salted = (
        imgs.withColumn("__salt", F.pmod(F.xxhash64("image_id"), F.lit(8)))
        .groupBy("phash", "__salt")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("phash")
        .agg(F.sum("c").alias("n"))
    )
    got = {r.phash: r.n for r in salted.collect()}
    assert got == plain


def test_extract_input_pruned(spark, tmp_path):
    """The extract stage declares its input projection — the parquet
    scan must not read unused columns (w, h, phash)."""
    from rp_extract_spark.operators.extract import extract_features

    p = str(tmp_path / "imgs")
    images_df(spark, 10, seed=42).write.parquet(p)
    plan = _plan(extract_features(spark.read.parquet(p)))
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "bytes" in rs and "fmt" in rs
    assert "phash" not in rs and '"w"' not in rs


def test_simhash_band_join_no_cartesian(spark):
    """Hamming-tier candidate generation must be a band-bucket
    equi-join, never an all-pairs cartesian."""
    from rp_extract_spark.operators.dedup import simhash_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = simhash_dedup(docs, max_hamming=3, max_iters=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_dedup_shuffles_fingerprint_not_text(spark):
    """exact_dedup groups/joins on the md5 fingerprint column, so the
    exchange keys are 32-byte digests, not raw document text."""
    from rp_extract_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = exact_dedup(docs, ["text"], "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every hash exchange must key on the fingerprint, never on text
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "__fp" in line and "text" not in line.split("hashpartitioning")[1].split(",")[0], line


def test_embedding_dedup_caps_before_pairing(spark):
    """The row_number cap must sit between bucketing and the self-join
    (a Window above the pair join would not bound the task). Since the
    round-3 transitive-fixpoint rewrite the returned labels are
    localCheckpoint-ed (lineage cut, same discipline as kmeans), so the
    cap is asserted on the candidate-pair subgraph the operator builds,
    and the final plan is asserted lineage-free."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rp_extract_spark.operators.dedup import embedding_cosine_dedup
    from rp_extract_spark.operators.similarity import bucket_col, hyperplanes

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # the operator's candidate subgraph (same construction), plan-checked
    planes = hyperplanes(64, 10, 13)
    b = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("__v"))
    b = b.withColumn("__bucket", bucket_col(F.col("__v"), planes))
    capped = b.withColumn(
        "__rn", F.row_number().over(Window.partitionBy("__bucket").orderBy("vec_id"))
    ).filter(F.col("__rn") <= 64)
    pairs = capped.alias("a").join(capped.alias("b"), "__bucket")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan and plan.find("Window") >= 0

    # final result: constant plan depth (no Join/Window lineage survives
    # the checkpoint), cap semantics behavior-tested in test_dedup_extended
    out = embedding_cosine_dedup(emb, threshold=0.99, max_bucket_size=64)
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in final and "Window" not in final


def test_bm25_broadcasts_stats_no_wide_shuffle(spark):
    """bm25_rank: the corpus-stats row must arrive via broadcast (a
    single-row nested-loop/broadcast join, never SortMergeJoin) and
    the result is a TakeOrdered top-k, not a global Sort+Exchange."""
    from rp_extract_spark.operators.text import bm25_rank

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bm25_rank(d, ["spark", "merge"], top_k=5))
    assert "SortMergeJoin" not in plan
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan


def test_bpe_merge_iteration_is_partial_agg(spark):
    """train_bpe's per-iteration pair count must partial-aggregate
    map-side (HashAggregate before and after the exchange), and the
    words table after k merges must have truncated lineage (scan of an
    ExistingRDD, not a re-derivation from the corpus)."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF}/documents.parquet")
    words = (
        d.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.concat_ws("  ", F.split("w", "")).alias("sym"), "cnt")
    )
    from rp_extract_spark.operators.curation import _bpe_pairs

    pairs = (words.select(F.explode(_bpe_pairs()).alias("pair"), "cnt")
             .groupBy("pair").agg(F.sum("cnt").alias("c")))
    plan = _plan(pairs)
    assert plan.count("HashAggregate") >= 4  # partial+final for both aggs
    ck = words.localCheckpoint(eager=True)
    assert "Scan ExistingRDD" in _plan(ck)  # lineage truncated


def test_h5_scan_is_shuffle_free(spark, tmp_path):
    """read_h5_features: binaryFile scan + mapInPandas leaf — no
    Exchange anywhere in the plan (parallelism = file axis)."""
    from rp_extract_spark.sources.hdf5 import read_h5_features, write_h5_features

    df = spark.range(8).select(
        F.concat(F.lit("d"), "id").alias("id"),
        F.array(F.col("id").cast("double")).alias("vec"),
    )
    write_h5_features(df, str(tmp_path / "s.h5"))
    plan = _plan(read_h5_features(spark, str(tmp_path / "s.h5")))
    assert "Exchange" not in plan
    assert "FlatMapGroupsInPandas" not in plan  # mapInPandas, no grouping


def _one_to_many(spark, tmp_path, name):
    from rp_extract_spark.codecs import encode_png
    from rp_extract_spark.operators import images as im
    from rp_extract_spark.operators import multimodal as mm
    from rp_extract_spark.sources.webdataset import read_webdataset

    png = encode_png(np.zeros((32, 32), dtype=np.uint8))
    imgs = spark.createDataFrame(
        [("a", bytearray(png), "png")],
        "image_id string, bytes binary, fmt string")
    if name == "tile_images":
        return im.tile_images(imgs)
    if name == "image_pixels":
        return mm.image_pixels(imgs)
    if name == "sample_video_frames":
        video = mm.fake_video_bytes([np.zeros((8, 8), dtype=np.uint8)])
        return mm.sample_video_frames(spark.createDataFrame(
            [("v", bytearray(video))], "video_id string, bytes binary"))
    with tarfile.open(tmp_path / "s.tar", "w") as tf:
        info = tarfile.TarInfo("a.png")
        info.size = len(png)
        tf.addfile(info, io.BytesIO(png))
    return read_webdataset(spark, str(tmp_path / "*.tar"))


@pytest.mark.parametrize("name", ["tile_images", "sample_video_frames",
                                  "image_pixels", "read_webdataset"])
def test_one_to_many_stage_is_arrow_then_generate(spark, tmp_path, name):
    """The one-to-many stages run one ``mapInArrow`` pass per record and
    expand its array field with a Generate — no pandas batch loop and
    no Exchange."""
    plan = _plan(_one_to_many(spark, tmp_path, name))
    assert "MapInArrow" in plan and "Generate" in plan
    assert "MapInPandas" not in plan and "Exchange" not in plan


def test_kmeans_seeding_no_global_window(spark):
    """Regression (round-3 verdict): centroid seeding must be a
    distributed TakeOrdered (orderBy+limit), never row_number() over an
    unpartitioned window — that sorts the whole corpus on ONE partition.
    Read off the plans kmeans_fit actually runs: the seed job is a
    TakeOrderedAndProject and no job of the fit has a Window."""
    from rp_extract_spark.operators.similarity import kmeans_fit

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = []
    _, plans = _jobs(spark, lambda: out.append(kmeans_fit(emb, k=4, iters=1)))
    assert any("TakeOrderedAndProject" in p for p in plans)
    assert not any("Window" in p for p in plans)
    assert out[0].count() <= 4


def _fit_iters(name):
    from rp_extract_spark.operators.classify import train_logreg_ovr
    from rp_extract_spark.operators.similarity import kmeans_fit, pq_fit

    return {
        "kmeans_fit": lambda df, n: kmeans_fit(df, k=4, iters=n),
        "pq_fit": lambda df, n: pq_fit(df, m=4, k=4, iters=n),
        "train_logreg_ovr": lambda df, n: train_logreg_ovr(df, iters=n),
    }[name]


@pytest.mark.parametrize("fit", ["kmeans_fit", "pq_fit", "train_logreg_ovr"])
def test_fit_one_job_per_iteration(spark, fit):
    """Each Lloyd iteration of kmeans_fit / pq_fit and each gradient
    step of train_logreg_ovr is exactly one Spark job (one
    ``_prims.partial_sums`` fold), and no job of the fit has a Window,
    a Generate (posexplode) or an Exchange in its plan."""
    run = _fit_iters(fit)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n1, _ = _jobs(spark, lambda: run(emb, 1))
    n2, plans = _jobs(spark, lambda: run(emb, 2))
    assert n2 == n1 + 1, (n1, n2)
    assert len(plans) == n2
    for p in plans:
        assert "Window" not in p and "Generate" not in p
        assert "Exchange" not in p


def test_paragraph_dedup_digest_shuffle_only(spark):
    """dedup_paragraphs' winner aggregation must shuffle md5 digests +
    positions, and the reassembly join must be keyed on the id — the
    paragraph text itself re-splits locally from the one-row-per-doc
    table, so no exchange carries exploded text."""
    from rp_extract_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(i, f"p{i % 3}\n\nq{i}") for i in range(50)],
        "doc_id long, text string")
    plan = _plan(dedup_paragraphs(docs))
    assert "md5" in plan
    # the winner agg partial-aggregates before its exchange
    assert "partial_min" in plan or "HashAggregate" in plan


def test_covariance_no_pair_explosion(spark):
    """covariance_matrix must run as ONE job emitting partial Gramians —
    never a posexplode self-join that blows up dim^2 rows per vector:
    its executed plan has no Generate and no Exchange, and the result
    is exact."""
    from rp_extract_spark.operators.similarity import covariance_matrix

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = []
    n_jobs, plans = _jobs(spark, lambda: out.append(covariance_matrix(emb)))
    assert n_jobs == 1 and len(plans) == 1
    assert "MapInArrow" in plans[0]
    assert "Generate" not in plans[0] and "Exchange" not in plans[0]
    _mu, cov, _n = out[0]
    X = np.stack([np.asarray(r.embedding, float) for r in emb.collect()])
    assert np.allclose(cov, np.cov(X.T, ddof=0), atol=1e-10)


def test_salted_asof_splits_hot_entity(spark):
    """The salt path must actually split a hot entity across salt
    buckets: the exchange partitions by (entity, __salt) — one reducer
    no longer owns the hot key — and the deterministic bucket formula
    spreads the hot entity's rows near-uniformly. Equivalence with the
    unsalted plan is covered by test_salted_asof_equivalence; this
    guards the PLAN shape and the spread."""
    from rp_extract_spark.operators.asof import asof_join

    n, salt = 4000, 8
    left = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("e"), F.col("id") % 500)).alias("entity_id"),
        (F.col("id") * 7 % 100_000).alias("ts"),
    )
    right = spark.range(500).select(
        F.concat(F.lit("e"), F.col("id") % 500).alias("entity_id"),
        (F.col("id") * 13 % 100_000).alias("caption_ts"),
        F.col("id").alias("v"),
    )
    plan_salted = _plan(asof_join(left, right, salt=salt))
    plan_plain = _plan(asof_join(left, right))
    assert "__salt" in plan_salted and "hashpartitioning" in plan_salted
    assert "__salt" not in plan_plain
    # the window exchange keys on (entity_id, __salt), not entity alone
    import re
    part = re.search(r"hashpartitioning\(entity_id[^)]*\)", plan_salted)
    assert part and "__salt" in part.group(0), part
    # bucket spread of the hot entity under the production formula
    spread = (
        left.withColumn(
            "__salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)),
        )
        .filter(F.col("entity_id") == "hot")
        .groupBy("__salt").count().collect()
    )
    hot_total = sum(r["count"] for r in spread)
    assert hot_total == n // 2
    assert len(spread) == salt                       # every bucket used
    assert max(r["count"] for r in spread) <= 2 * hot_total // salt


def test_svm_scoring_is_shuffle_free_scan(spark):
    """classify_vectors is one Arrow stage over the input — the folded
    weight matrix rides the task closure, so scoring 10^12 feature rows
    is an embarrassingly parallel scan: no Exchange, no Join, no
    per-row Python UDF in the plan."""
    from rp_extract_spark.sources.sklearn_models import (
        classify_vectors,
        load_reference_model,
    )

    m = load_reference_model("/root/reference/models/GTZAN")
    df = spark.range(64).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(227)),
            lambda j: (F.col("id") * 31 + j).cast("double") / 99.7,
        ).alias("features"),
    )
    plan = _plan(classify_vectors(df, m, "features", "genre"))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_shard_packing_window_partitioned_over_data(spark):
    """plan_shard_packing's data-side cumsum window must be partitioned
    (by __pid) — only the P-row base-lift window may be global. Assert
    the physical plan shows a partitioned Window spec and that the data
    never range-partitions to a single partition."""
    from rp_extract_spark.operators.curation import plan_shard_packing

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = plan_shard_packing(docs, target_size=4096)
    plan = _plan(out)
    data_windows = [
        ln for ln in plan.splitlines()
        if "sum(size" in ln and "windowspecdefinition" in ln
    ]
    assert data_windows, "data-side cumsum window missing from plan"
    for ln in data_windows:
        # partition spec leads with __pid: windowspecdefinition(__pid#N, ...
        assert "windowspecdefinition(__pid#" in ln
    # witness values: the cumsum covers the corpus exactly, and the
    # last sample ends in the last shard
    rows = out.collect()
    total = sum(r["size"] for r in rows)
    assert max(r["start_offset"] + r["size"] for r in rows) == total
    last_start = max(r["start_offset"] for r in rows)
    assert max(r["shard_id"] for r in rows) == last_start // 4096


def test_rendezvous_is_shuffle_free_codegen(spark):
    """rendezvous_assign is pure row-local expression work — the W
    candidate hashes live inside whole-stage codegen: no Exchange, no
    Join, no Python stage of any kind."""
    from rp_extract_spark.operators.curation import rendezvous_assign

    df = spark.range(64).select(F.col("id").alias("doc_id"))
    plan = _plan(rendezvous_assign(df, "doc_id", 8, seed=1))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # formatted plans mark codegen stages with "[codegen id : N]"
    assert "codegen id" in plan


def test_priority_dedup_shuffles_digest_not_text(spark):
    """priority_dedup must aggregate on the 16-byte digest and join
    back on it — the raw text column never feeds an Exchange's
    partitioning expression (the exact_dedup scale rule)."""
    from rp_extract_spark.operators.dedup import priority_dedup

    df = spark.range(64).select(
        F.col("id"),
        F.concat(F.lit("text "), (F.col("id") % 8).cast("string")).alias(
            "text"
        ),
        (F.col("id") % 3).alias("prio"),
    )
    plan = _plan(priority_dedup(df, ["text"], "id", "prio"))
    ex_lines = [ln for ln in plan.splitlines()
                if "Arguments" in ln and "hashpartitioning" in ln]
    assert ex_lines, "expected a hash exchange on the digest"
    assert all("__fp" in ln for ln in ex_lines)
    assert not any("text#" in ln for ln in ex_lines)


def test_pk_batches_assignment_joins_as_broadcast(spark):
    """The C·R-row class-batch assignment must come back to the sample
    table as a broadcast join — sample rows reshuffle only inside
    pack_batches' rank, never for the round assignment."""
    from rp_extract_spark.operators.curation import pk_batches

    df = spark.range(120).select(
        F.col("id").alias("vec_id"), (F.col("id") % 5).alias("label")
    )
    plan = _plan(pk_batches(df, p=2, k=3, seed=1, epoch=0))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_roc_points_no_range_exchange(spark):
    """roc_points' bucket id is a pure function of the score — the
    plan must contain NO rangepartitioning exchange (whose sampled
    placement would need pinning) and no global one-partition window."""
    from rp_extract_spark.operators.classify import roc_points

    df = spark.range(500).select(
        (F.col("id") % 97).cast("long").alias("score_u"),
        (F.col("id") % 3 == 0).cast("int").alias("label"),
    )
    plan = _plan(roc_points(df, "score_u", "label", n_buckets=8))
    assert "rangepartitioning" not in plan.lower()
    # every window spec is partitioned by the bucket id
    spec_lines = [ln for ln in plan.splitlines()
                  if "windowspecdefinition" in ln]
    assert spec_lines and all("__bk" in ln for ln in spec_lines)
