"""Benchmark harness — prints ONE JSON line for the driver.

Runs the headline pipeline (decode → descriptor kernel → as-of caption
join → sessionize, on a deterministically synthesized image table) plus
the relational operator suite on ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) at ``local[$SPARK_GRAFT_CPUS]``.

Output: {"metric": "feature_asof_rows_per_sec", "value": N,
         "unit": "rows/sec", "queries": {name: sec, ...}, "sf": ...}

Scaling-efficiency evidence (N vs 4N cores) lives in
``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# large enough that the measured pipeline is compute-dominated rather
# than fixed-overhead-dominated (see BENCH/BASELINE.md)
N_IMAGES = int(os.environ.get("BENCH_IMAGES", "30000"))

RELATIONAL = [
    "pricing_summary",
    "stats7",
    "top_revenue",
    "nation_revenue",
    "lag_lead",
    "ffill",
    "sessionize",
    "funnel",
    "hourly_rollup",
    "daily_active",
    "asof",
    "anti_join",
    "set_ops",
    "dedup_exact",
    "text_stats",
    "text_quality",
    "corpus_curation",
    "zscore",
    "topk_per_group",
    "similarity_topk",
    "knn_euclidean",
    "minhash_dedup",
    "simhash",
    # round 3
    "minhash_dedup_verified",
    "embedding_dedup",
    "ivf_recall",
    "logreg_classify",
    "mp3_decode",
    "pack_sequences",
    "stratified_split",
    "decontaminate",
    "hdf5_roundtrip",
    "bm25_rank",
    "bpe_merges",
    "bpe_encode",
    "corpus_sample",
    "chunk_documents",
    "cms_counts",
    "mix_corpus",
    "repetition_stats",
    "redact_pii",
    "unigram_lm",
    "hash_embed",
    "decontaminate_ngram",
    # round 4
    "ivf_topk",
    "flac_decode",
    "cv_accuracy",
    "paragraph_dedup",
    "winnow_overlap",
    "contamination_report",
    "bpe_ids",
    "embedding_covariance",
    "pca_project",
    # round 5
    "svm_classify",
    "image_hashes",
    "image_dedup",
    "image_stats",
    "image_augment",
    "image_tiles",
    "image_gradients",
    "image_equalize",
    "image_decontaminate",
    # round 5, second batch
    "image_dedup_verified",
    "image_quality_gate",
    "image_aspect_buckets",
    "image_curation",
    "pq_topk",
    "epoch_shuffle",
    "webdataset_roundtrip",
    "audio_quality_gate",
    "ivfpq_topk",
    "pq_trained_topk",
    # round 5, third wave
    "crossmodal_gate",
    "image_entropy",
    "image_letterbox",
    "pmi_collocations",
    # round 5, fourth wave (data-loader layer)
    "corpus_pixel_stats",
    "batch_pack",
    "epoch_augment",
    "mixup_pairs",
    # round 5, fifth wave (manifest collation + RandomResizedCrop)
    "batch_manifest",
    "rrc_crop",
    # round 5, sixth wave (pair augmentations + loader shards)
    "cutmix_pairs",
    "jitter_moments",
    "loader_shards",
    "shard_packing",
    "repeat_factor",
    # round 5, seventh wave (semantic dedup, leakage-safe split,
    # exact percentiles, dataset-card cube)
    "semdedup",
    "leakage_split",
    "order_stats",
    "corpus_report",
    "kmv_distinct",
    "interval_join",
    "psi_drift",
    "temperature_resample",
    "skew_report",
    "mosaic_quads",
    "mae_mask",
    "incremental_dedup",
    "span_corruption",
    "bloom_probe",
    "zorder_layout",
    "length_bucket_pack",
    "mix_schedule",
    "retrieval_recall",
    "photometric",
    "border_crop",
    "confusion_eval",
    "calibration",
    "hll_distinct",
    # round 5, thirteenth batch (ranking eval + cutout + distortion
    # audit + hard-negative mining)
    "auc_roc",
    "avg_precision",
    "random_erase",
    "augment_distortion",
    "hard_negatives",
    # round 5, fourteenth batch (ROC points, MLM plan, P×K batches)
    "roc_points",
    "mlm_plan",
    "pk_batches",
    # round 5, fifteenth batch (autocontrast, tar byte index,
    # priority dedup, rendezvous routing)
    "autocontrast",
    "webdataset_index",
    "priority_dedup",
    "rendezvous",
    # round 5, sixteenth batch (int8 quantization, dedup audit,
    # group-aware folds)
    "int8_quantize",
    "dedup_report",
    "group_folds",
    # round 5, seventeenth batch (coreset selection, temporal split)
    "coreset",
    "temporal_split",
    # round 5, eighteenth batch (truncation audit, vocab coverage,
    # row-level CDC diff)
    "truncation_report",
    "vocab_coverage",
    "row_diff",
    # round 5, nineteenth batch (JSON extraction, embedding drift,
    # near-dup lookup serve path)
    "json_props",
    "embedding_drift",
    "image_lookup",
    # round 5, twentieth batch (JL projection, cohort retention)
    "random_projection",
    "cohort_retention",
    "wordpiece",
    # round 5, twenty-second batch (content fingerprint, label spread)
    "dataset_fingerprint",
    "label_spread",
    # round 5, twenty-third batch (fuzzy join, tf-idf keywords)
    "fuzzy_match",
    "tfidf_keywords",
    # round 5, twenty-fourth batch (MMR, rate limiting, shuffle audit)
    "mmr_select",
    "rate_limit",
    "shuffle_audit",
    # round 5, twenty-fifth batch (ExactSubstr dedup, D4-orbit hash
    # dedup, crowd majority vote, video frame thinning)
    "substring_dedup",
    "orbit_dedup",
    "annotator_vote",
    "frame_dedup",
    # round 5, twenty-sixth batch (canonical-URL dedup, bigram LM
    # perplexity filter, blocklist audit)
    "url_dedup",
    "bigram_lm",
    "blocklist",
    # round 5, twenty-seventh batch (time-series gap-fill, winsorize,
    # best-of-burst)
    "gap_fill",
    "winsorize",
    "best_of_burst",
    # round 5, twenty-eighth batch (audio fingerprint dedup,
    # conversion attribution)
    "audio_dedup",
    "attribution",
    # round 5, twenty-ninth batch (session stats, quantile transform,
    # schema drift)
    "session_stats",
    "quantile_transform",
    "schema_drift",
    # round 5, thirtieth batch (robust outliers, rolling-origin folds,
    # composed web-curation pipeline)
    "robust_outliers",
    "rolling_folds",
    "text_curation_v2",
    # round 5, thirty-first batch (nDCG, class weights, learning-curve
    # sampling plan)
    "ndcg",
    "class_weights",
    "learning_curve",
    # round 5, thirty-second batch (ORC/JSONL roundtrips, mergeable
    # aggregate maintenance)
    "orc_roundtrip",
    "jsonl_roundtrip",
    "agg_merge",
    # round 5, thirty-third batch (text normalization, vocab pruning,
    # conformal calibration)
    "normalize_text",
    "prune_vocab",
    "conformal",
    # round 5, thirty-fourth batch (bloom merge, incremental IVF)
    "bloom_merge",
    "ivf_append",
    # round 5, thirty-fifth batch (graph ops: PageRank, triangles)
    "pagerank",
    "triangles",
    # round 5, thirty-sixth batch (k-anonymity, data contract,
    # streaming bloom gate is pytest-only)
    "k_anonymity",
    "expectations",
    # round 5, thirty-seventh batch (CUSUM changepoints, Rand index)
    "cusum",
    "cluster_agreement",
    # round 5, thirty-eighth batch (Matryoshka truncation eval,
    # multi-signal dedup)
    "dim_trunc",
    "multi_signal_dedup",
    # round 5, thirty-ninth batch (metadata audit, dedup P/R vs truth)
    "image_meta_audit",
    "dedup_prf",
    # round 5, fortieth batch (series correlation, gap detection)
    "series_corr",
    "missing_buckets",
    # round 5, forty-first batch (golden-record survivorship)
    "golden_record",
]


def main() -> None:
    from pyspark.sql import functions as F

    from rp_extract_spark.plans.driver_queries import QUERIES
    from rp_extract_spark.plans.flagship import flagship
    from rp_extract_spark.session import get_spark

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)

    timings: dict[str, float] = {}

    # warm the python worker pool (imports dominate cold tasks):
    # one task per worker slot, full import path exercised
    from rp_extract_spark.operators.extract import extract_features
    from rp_extract_spark.sources.images import images_df

    extract_features(images_df(spark, 4 * CPUS, seed=1, partitions=2 * CPUS)).count()

    # headline: feature extraction + as-of join rows/sec.
    # This host shows wild virtualization noise (identical jobs 7s vs
    # 80s — BENCH/BASELINE.md); the documented protocol is repetitions
    # + min, applied to every timed entry below.
    REPS = int(os.environ.get("BENCH_REPS", "2"))
    dt = float("inf")
    for _ in range(REPS):
        t0 = time.time()
        out = flagship(spark, n_images=N_IMAGES, seed=42)
        n = out.count()
        dt = min(dt, time.time() - t0)
    timings["feature_asof_pipeline"] = round(dt, 3)
    rows_per_sec = round(n / dt, 2)

    # throwaway relational warm-up (untimed): exercise the parquet
    # scan, shuffle machinery, and codegen compilation so the first
    # timed query is not charged JVM/scan warm-up (BENCH_r01 showed a
    # 28s first-touch artifact on dedup_exact)
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").groupBy(
        "l_returnflag"
    ).count().write.format("noop").mode("overwrite").save()
    spark.read.parquet(f"{SF_DIR}/documents.parquet").groupBy(
        F.md5("text").alias("h")
    ).count().write.format("noop").mode("overwrite").save()

    sf_label = SF_DIR.rstrip("/").split("sf")[-1]
    only = os.environ.get("BENCH_ONLY")
    selected = ([q for q in only.split(",") if q in QUERIES]
                if only else RELATIONAL)
    for name in selected:
        fn = QUERIES[name]
        best = float("inf")
        for _ in range(REPS):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "feature_asof_rows_per_sec",
                "value": rows_per_sec,
                "unit": "rows/sec",
                "queries": timings,
                "sf": sf_label,
                "suite_wall_sec": total,
                "n_images": N_IMAGES,
                "cores": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
