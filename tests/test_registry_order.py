"""Registry-ordering contract: the driver's correctness gate windows the
first 50 registered queries, so the highest-risk (newest) operators must
sit inside that window, every priority name must resolve, and every
oracled name must also be a registered query."""

from rp_extract_spark.plans.driver_queries import ORACLES, QUERIES, _PRIORITY

HIGH_RISK = [
    # third-session wave (final-round refresh — new families first)
    "url_dedup",
    "bigram_lm",
    "gap_fill",
    "audio_dedup",
    "attribution",
    "pagerank",
    "triangles",
    "cusum",
    "dim_trunc",
    "multi_signal_dedup",
    "text_curation_v2",
    "ndcg",
    "image_dedup",
    "image_dedup_verified",
    "image_curation",
    "auc_roc",
    "webdataset_roundtrip",
    "audio_quality_gate",
    "image_gradients",
    "image_equalize",
    "image_decontaminate",
    "crossmodal_gate",
    "image_entropy",
    "pmi_collocations",
    "ivf_topk",
    "ivfpq_topk",
    "pq_trained_topk",
    "cv_accuracy",
    "winnow_overlap",
    "paragraph_dedup",
    "bpe_ids",
    "embedding_covariance",
    "flac_decode",
    "logreg_classify",
    "minhash_dedup_verified",
    "contamination_report",
    "pca_project",
    "svm_classify",
    "corpus_pixel_stats",
    "batch_pack",
    "epoch_augment",
    "mixup_pairs",
    "rrc_crop",
    "loader_shards",
    "shard_packing",
    "repeat_factor",
    "semdedup",
    "leakage_split",
    "order_stats",
]  # noqa: E501 — every never-driver-graded operator must sit inside the window

# lag_lead/pricing_summary/stats7/band_agg demoted past the window for
# the fourth wave — each holds repeated green driver grades from the
# round-1..4 windows; asof + sessionize stay as the core reps.
# Fifth wave demotes pq_topk (ivfpq_topk composes the same encode/serve
# path; pq_trained_topk grades pq_fit) and decontaminate_ngram
# (contamination_report + image_decontaminate keep the family repped).
# Seventh wave demotes simhash, sessionize and asof — each holds green
# oracled driver grades in every round-1..4 window it sat in (the
# entity_features rest-on-a-hard-grade precedent) — to admit
# semdedup + leakage_split + order_stats. The window now holds ONLY
# never-driver-graded queries; family coverage inside it is asserted by
# HIGH_RISK membership, and the long-green core rests on its grades +
# pytest.
# Ninth wave demotes image_hashes / image_quality_gate /
# image_aspect_buckets — all three stages are composed AND graded
# inside the window by image_curation (gate → hash dedup → aspect
# buckets end to end) — to admit the second session's anchors:
# auc_roc, int8_quantize, wordpiece.
CORE: list[str] = []


def test_priority_names_resolve():
    assert all(n in QUERIES for n in _PRIORITY)
    assert len(_PRIORITY) == len(set(_PRIORITY))


def test_priority_block_leads_registry():
    assert list(QUERIES)[: len(_PRIORITY)] == _PRIORITY


def test_high_risk_inside_50_window():
    first50 = list(QUERIES)[:50]
    for name in HIGH_RISK + CORE:
        assert name in first50, f"{name} outside the driver's 50-query window"


def test_oracles_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_query_scratch_dirs_removed_at_exit(tmp_path):
    """The directories queries write into share one per-process root,
    which is gone once the process exits. The inputs are the prefixes
    the registry passes to ``_scratch_dir``; no query builds its own
    path under the temp directory."""
    import inspect
    import os
    import re
    import subprocess
    import sys

    from rp_extract_spark.plans import driver_queries

    src = inspect.getsource(driver_queries)
    prefixes = sorted(set(re.findall(r'_scratch_dir\("(\w+)"\)', src)))
    assert {"mlc_table_", "resume_q_", "h5_"} <= set(prefixes), prefixes
    assert src.count("tempfile.gettempdir()") == 0
    code = ("from rp_extract_spark.plans.driver_queries import _scratch_dir\n"
            f"dirs = [_scratch_dir(p) for p in {prefixes!r}]\n"
            "assert len(set(dirs)) == len(dirs)\n"
            "assert len({os.path.dirname(d) for d in dirs}) == 1\n"
            "for d in dirs:\n"
            "    open(os.path.join(d, 'f'), 'w').write('1')\n"
            "print(os.path.dirname(dirs[0]))\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", "import os\n" + code], cwd=root,
                         capture_output=True, text=True, check=True,
                         env={**os.environ, "TMPDIR": str(tmp_path)})
    scratch = out.stdout.strip()
    assert scratch.startswith(str(tmp_path))
    assert not os.path.exists(scratch)
