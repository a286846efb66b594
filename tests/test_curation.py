"""Curation operators: sequence packing (distributed prefix sum),
stratified splits, benchmark decontamination."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rp_extract_spark.operators.curation import (
    decontaminate,
    pack_sequences,
    stratified_split,
)


def _docs(spark, n=100, seed=11):
    rng = np.random.default_rng(seed)
    rows = [
        (i, " ".join(f"w{rng.integers(0, 50)}" for _ in range(int(rng.integers(1, 30)))))
        for i in range(n)
    ]
    rows[7] = (7, "")  # empty doc: 0 tokens
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_sequences_matches_serial_cumsum(spark):
    d = _docs(spark)
    out = {r.doc_id: r for r in pack_sequences(d, budget=64).collect()}
    toks = {r.doc_id: r.n_tokens for r in d.select(
        "doc_id", F.when(F.length(F.trim("text")) == 0, 0)
        .otherwise(F.size(F.split(F.lower(F.trim("text")), r"\s+")))
        .alias("n_tokens")).collect()}
    offset = 0
    for i in sorted(toks):
        assert out[i].n_tokens == toks[i]
        assert out[i].start_offset == offset, i
        assert out[i].seq_id == offset // 64
        offset += toks[i]


def test_pack_sequences_no_global_window(spark):
    """The prefix sum must not funnel the corpus through one task: the
    only single-partition window runs over the P-row partition sums."""
    d = _docs(spark, n=200)
    out = pack_sequences(d, budget=128)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the data window is partitioned by the partition id
    assert "__pid" in plan
    # and the broadcast join distributes the P base offsets
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_pack_sequences_partition_count_invariant(spark):
    d = _docs(spark, n=150, seed=3)
    a = {(r.doc_id, r.start_offset, r.seq_id)
         for r in pack_sequences(d.coalesce(1), budget=100).collect()}
    b = {(r.doc_id, r.start_offset, r.seq_id)
         for r in pack_sequences(d.repartition(13), budget=100).collect()}
    assert a == b


def test_stratified_split_fractions(spark):
    rows = [(i, i % 3) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, label int")
    out = stratified_split(df, label_col="label", id_col="vec_id")
    counts = {(r.label, r.split): r["count"] for r in
              out.groupBy("label", "split").count().collect()}
    for lab in range(3):
        assert counts[(lab, "train")] == 80
        assert counts[(lab, "val")] == 10
        assert counts[(lab, "test")] == 10
    # deterministic: same assignment on re-run
    out2 = stratified_split(df, label_col="label", id_col="vec_id")
    assert {(r.vec_id, r.split) for r in out.collect()} == \
           {(r.vec_id, r.split) for r in out2.collect()}


def test_stratified_split_single_bucket(spark):
    df = spark.createDataFrame([(1, 0), (2, 0)], "vec_id long, label int")
    out = stratified_split(df, fractions=(("all", 1.0),))
    assert {r.split for r in out.collect()} == {"all"}


def test_decontaminate_normalized_matches(spark):
    corpus = spark.createDataFrame(
        [(1, "The Quick  Brown fox"), (2, "something else"),
         (3, "unrelated text"), (4, "benchmark question two")],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame(
        [("the quick brown fox",), ("Benchmark   Question two",)],
        "text string",
    )
    kept = sorted(r.doc_id for r in decontaminate(corpus, benchmark).collect())
    assert kept == [2, 3]  # 1 and 4 match after normalization


def test_decontaminate_broadcast_anti_plan(spark):
    corpus = _docs(spark, n=50)
    benchmark = corpus.filter("doc_id < 5").select("text")
    out = decontaminate(corpus, benchmark)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # no raw text column in the join keys: digests only
    assert out.columns == ["doc_id", "text"]


def test_sequences_table_members_in_stream_order(spark):
    from rp_extract_spark.operators.curation import sequences_table

    d = _docs(spark, n=60, seed=5)
    rows = {r.seq_id: r for r in sequences_table(d, budget=100).collect()}
    packed = {r.doc_id: r for r in pack_sequences(d, budget=100).collect()}
    # members listed in stream (offset) order; totals add up
    for seq_id, r in rows.items():
        offs = [packed[i].start_offset for i in r.doc_ids]
        assert offs == sorted(offs)
        assert r.n_docs == len(r.doc_ids)
        assert r.total_tokens == sum(packed[i].n_tokens for i in r.doc_ids)
    assert sum(r.n_docs for r in rows.values()) == 60


def test_train_bpe_hand_computed(spark):
    """Classic BPE example: corpus low/lower/newest/widest — first
    merges are driven by weighted pair counts with a deterministic
    (count desc, pair asc) tiebreak."""
    from rp_extract_spark.operators.curation import train_bpe

    rows = [("low low low low low lower lower newest newest newest "
             "newest newest newest widest widest widest",)]
    df = spark.createDataFrame(rows, "text string")
    m = train_bpe(df, n_merges=3, min_count=1).collect()
    # est: 6 (newest) + 3 (widest) = 9 — the top pair is ('e','s') or
    # ('s','t') both 9; tiebreak 'e  s' < 's  t' picks (e,s); then
    # ('es','t') 9; then ('l','o') 7
    assert [(r.lhs, r.rhs, r.merged, r.pair_count) for r in m] == [
        ("e", "s", "es", 9),
        ("es", "t", "est", 9),
        ("l", "o", "lo", 7),
    ]
    assert [r.rank for r in m] == [0, 1, 2]


def test_apply_bpe_uses_merges_in_order(spark):
    from rp_extract_spark.operators.curation import apply_bpe, train_bpe

    corpus = spark.createDataFrame(
        [("low low lower newest newest newest widest",)], "text string")
    merges = train_bpe(corpus, n_merges=4, min_count=1)
    out = apply_bpe(
        spark.createDataFrame([("newest low",)], "text string"), merges
    ).collect()[0]
    toks = out.bpe_tokens
    assert out.n_bpe_tokens == len(toks)
    # independent expectation: replay the learned merges with a
    # reference python BPE (leftmost non-overlapping, rank order)
    ranked = [(m.lhs, m.rhs, m.merged)
              for m in merges.orderBy("rank").collect()]

    def ref_bpe(word):
        syms = list(word)
        for lhs, rhs, merged in ranked:
            i, mo = 0, []
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == lhs
                        and syms[i + 1] == rhs):
                    mo.append(merged)
                    i += 2
                else:
                    mo.append(syms[i])
                    i += 1
            syms = mo
        return syms

    assert toks == ref_bpe("newest") + ref_bpe("low")
    # reconstruction invariant: concatenating symbols restores the text
    assert "".join(toks) == "newestlow"


def test_train_bpe_min_count_stops_early(spark):
    from rp_extract_spark.operators.curation import train_bpe

    df = spark.createDataFrame([("ab ab cd",)], "text string")
    m = train_bpe(df, n_merges=10, min_count=2).collect()
    assert [(r.lhs, r.rhs) for r in m] == [("a", "b")]  # cd only once


def test_hash_sample_deterministic_and_rate(spark):
    from rp_extract_spark.operators.curation import hash_sample

    df = spark.range(5000).select(F.concat(F.lit("d"), "id").alias("doc_id"))
    a = sorted(r.doc_id for r in hash_sample(df, 0.1).collect())
    b = sorted(r.doc_id for r in hash_sample(df, 0.1).collect())
    assert a == b  # reproducible
    assert 350 < len(a) < 650  # ~10% of 5000
    # nested property: a 5% sample is a subset of the 10% sample
    c = set(r.doc_id for r in hash_sample(df, 0.05).collect())
    assert c <= set(a)
    # independent salt draws a different set
    d2 = set(r.doc_id for r in hash_sample(df, 0.1, salt="v2").collect())
    assert d2 != set(a)
    with pytest.raises(ValueError):
        hash_sample(df, 1.5)


def test_cap_per_group_keeps_lowest_ids(spark):
    from rp_extract_spark.operators.curation import cap_per_group

    rows = [("s1", f"d{i:02d}") for i in range(10)] + [("s2", "d99")]
    df = spark.createDataFrame(rows, "source string, doc_id string")
    out = cap_per_group(df, "source", 3).collect()
    got = sorted((r.source, r.doc_id) for r in out)
    assert got == [("s1", "d00"), ("s1", "d01"), ("s1", "d02"), ("s2", "d99")]


def test_chunk_documents_windows(spark):
    from rp_extract_spark.operators.curation import chunk_documents

    df = spark.createDataFrame(
        [("d1", "a b c d e f g"), ("d2", "x"), ("d3", "   ")],
        "doc_id string, text string")
    out = chunk_documents(df, chunk_size=3, overlap=1).collect()
    got = sorted((r.doc_id, r.chunk_idx, r.start_tok, r.chunk_text)
                 for r in out)
    assert got == [
        ("d1", 0, 0, "a b c"), ("d1", 1, 2, "c d e"),
        ("d1", 2, 4, "e f g"), ("d1", 3, 6, "g"),
        ("d2", 0, 0, "x"),
    ]  # d3 (whitespace only) contributes nothing
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=3, overlap=3)


def test_bpe_merge_respects_symbol_boundaries(spark):
    """Regression (review finding): pair (a,t) must not match the
    PREFIX of a longer symbol — 'ath' after merging (t,h) is
    ['a','th'], and a later (a,t) merge must leave it alone."""
    from rp_extract_spark.operators.curation import apply_bpe, train_bpe

    corpus = spark.createDataFrame(
        [("at at th th th ath",)], "text string")
    merges = train_bpe(corpus, n_merges=2, min_count=1)
    got = [(m.lhs, m.rhs) for m in merges.orderBy("rank").collect()]
    assert got == [("t", "h"), ("a", "t")]
    out = apply_bpe(
        spark.createDataFrame([("ath",)], "text string"), merges
    ).collect()[0]
    assert out.bpe_tokens == ["a", "th"]  # NOT ['ath']


def test_hash_sample_rate_one_keeps_everything(spark):
    from rp_extract_spark.operators.curation import hash_sample

    df = spark.range(200).select(F.concat(F.lit("d"), "id").alias("doc_id"))
    assert hash_sample(df, 1.0).count() == 200
    assert hash_sample(df, 0.0).count() == 0


def test_mix_corpus_rates_and_determinism(spark):
    from rp_extract_spark.operators.curation import mix_corpus

    rows = []
    for s, n in [("a", 40), ("b", 40), ("c", 40)]:
        rows += [(f"{s}{i:03d}", s, "w " * 10) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    # each source has 400 tokens; budget 400 with weights .5/.25 ->
    # rates a=0.5, b=0.25, c=0 (absent)
    out = mix_corpus(df, {"a": 0.5, "b": 0.25}, 400)
    got = out.groupBy("source").count().collect()
    counts = {r.source: r["count"] for r in got}
    assert "c" not in counts  # unweighted source fully dropped
    assert 10 <= counts.get("a", 0) <= 30  # ~20 of 40
    assert 3 <= counts.get("b", 0) <= 18   # ~10 of 40
    rates = {r.source: r.rate for r in
             out.select("source", "rate").distinct().collect()}
    assert rates == {"a": 0.5, "b": 0.25}
    # reproducible
    again = mix_corpus(df, {"a": 0.5, "b": 0.25}, 400)
    assert sorted(r.doc_id for r in out.collect()) == \
           sorted(r.doc_id for r in again.collect())


def test_mix_corpus_rate_capped_keeps_all(spark):
    from rp_extract_spark.operators.curation import mix_corpus

    rows = [(f"d{i}", "only", "tok tok tok") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    out = mix_corpus(df, {"only": 1.0}, 10**6)  # budget >> tokens
    assert out.count() == 20  # rate capped at 1.0 -> keep everything


def test_decontaminate_ngram_hand_computed(spark):
    from rp_extract_spark.operators.curation import decontaminate_ngram

    bench = spark.createDataFrame(
        [("b1", "the quick brown fox jumps")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [("c1", "intro text the quick brown fox jumps outro"),  # embeds 5-gram
         ("c2", "the quick brown wolf jumps high"),             # no shared 5-gram
         ("c3", "short doc")],                                  # < n tokens
        ["doc_id", "text"])
    kept = sorted(r.doc_id for r in
                  decontaminate_ngram(corpus, bench, n=5).collect())
    assert kept == ["c2", "c3"], kept
    # n larger than every doc: nothing contaminated
    kept_all = sorted(r.doc_id for r in
                      decontaminate_ngram(corpus, bench, n=50).collect())
    assert kept_all == ["c1", "c2", "c3"]


def test_apply_bpe_whitespace_and_sentinel_edge_cases(spark):
    """Mixed Java whitespace, sentinel-bearing tokens, blank, empty and
    NULL texts. The expected rows are what the JVM replace plan (split
    on ``\\s+``, one literal replace per merge) produced for them."""
    from rp_extract_spark.operators.curation import apply_bpe, train_bpe

    corpus = spark.createDataFrame(
        [("low low lower newest newest newest widest at th ath",)],
        "text string")
    merges = train_bpe(corpus, n_merges=5, min_count=1)
    probe = spark.createDataFrame(
        [("d1", "newest low\t lower\nwidest"),
         ("d2", "  ath  at\x1fth  "),
         ("d3", "   "),
         ("d4", ""),
         ("d5", None)],
        "doc_id string, text string")
    got = apply_bpe(probe, merges).orderBy("doc_id").collect()
    assert [(r.doc_id, r.bpe_tokens, r.n_bpe_tokens) for r in got] == [
        ("d1", ["n", "ewest", "lo", "w", "lo", "w", "e", "r", "w", "i", "d",
                "est"], 12),
        ("d2", ["a", "t", "h", "a", "t", "t", "h"], 7),
        ("d3", [], 0),
        ("d4", [], 0),
        ("d5", None, None),
    ]


def test_apply_bpe_large_merge_list_bounded_plan(spark):
    """A production-sized merge list (1,000 merges) must run with a
    constant-depth plan (one MapInArrow stage), not 1,000 chained
    replace expressions."""
    import io
    from contextlib import redirect_stdout

    from rp_extract_spark.operators.curation import apply_bpe

    real = [(0, "e", "s", "es", 9), (1, "es", "t", "est", 9),
            (2, "l", "o", "lo", 7)]
    filler = [(i + 3, f"q{i}", f"z{i}", f"q{i}z{i}", 1)
              for i in range(997)]
    merges = spark.createDataFrame(
        real + filler,
        "rank int, lhs string, rhs string, merged string, pair_count long")
    probe = spark.createDataFrame(
        [("newest low",), ("lowest es t",)], "text string")
    out = apply_bpe(probe, merges)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    assert len(plan) < 20_000  # 1,000 chained replaces would dwarf this
    rows = {r.text: r.bpe_tokens for r in out.collect()}
    assert rows["newest low"] == ["n", "e", "w", "est", "lo", "w"]
    assert rows["lowest es t"] == ["lo", "w", "est", "es", "t"]


def test_stratified_split_skewed_label_parallel_rank(spark):
    """Two-level rank regression: a 90%-dominant label must still get
    exact floor-cut proportions, and the plan must contain no window
    partitioned by the bare label (the one-reducer shape)."""
    import io
    from contextlib import redirect_stdout

    rows = [(i, "big" if i % 10 != 0 else "small") for i in range(2000)]
    df = spark.createDataFrame(rows, "vec_id long, label string")
    out = stratified_split(df, label_col="label", id_col="vec_id")
    counts = {
        (r.label, r.split): r.n
        for r in out.groupBy("label", "split").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert counts[("big", "train")] == 1440   # floor(1800*0.8)
    assert counts[("big", "val")] == 180
    assert counts[("big", "test")] == 180
    assert counts[("small", "train")] == 160  # floor(200*0.8)
    # rank-by-id semantics: lowest ids of a label are train
    first = out.filter((F.col("label") == "big") & (F.col("split") == "train"))
    assert first.agg(F.max("vec_id")).first()[0] < 1700
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # data-scale windows must be keyed by (label, partition id); only
    # the labels-x-partitions base table may window on the bare label
    assert "__pid" in plan


def test_bpe_vocab_and_ids(spark):
    """GPT-2-style id assignment: sorted base chars 0..C-1, merges at
    C+rank; encoding maps tokens to those ids in document order and
    reconstruction through the vocab inverts exactly."""
    from rp_extract_spark.operators.curation import (
        apply_bpe_ids,
        bpe_vocab,
        train_bpe,
    )

    corpus = spark.createDataFrame(
        [("low low low newest newest widest",)], "text string")
    merges = train_bpe(corpus, n_merges=2, min_count=1)
    vocab = bpe_vocab(corpus, merges)
    v = {r.token: r.token_id for r in vocab.collect()}
    chars = sorted({c for c in "lownewstid"})
    assert [v[c] for c in chars] == list(range(len(chars)))
    ranked = [m.merged for m in merges.orderBy("rank").collect()]
    assert [v[m] for m in ranked] == [len(chars), len(chars) + 1]
    probe = spark.createDataFrame(
        [(1, "newest low"), (2, "  "), (3, "zzz")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in apply_bpe_ids(probe, merges, vocab).collect()}
    inv = {i: t for t, i in v.items()}
    # doc 1 decodes back to its text through the vocab
    assert "".join(inv[i] for i in out[1].token_ids) == "newestlow"
    assert out[1].n_token_ids == len(out[1].token_ids)
    assert out[2].token_ids == [] and out[2].n_token_ids == 0
    assert out[3].token_ids == [-1, -1, -1]  # OOV chars -> -1, not dropped
    # NULL text propagates as NULL ids/count, matching apply_bpe's
    # NULL bpe_tokens (empty-but-present stays []/0 above)
    nul = spark.createDataFrame([(9, None)], "doc_id long, text string")
    r9 = apply_bpe_ids(nul, merges, vocab).collect()[0]
    assert r9.token_ids is None and r9.n_token_ids is None


def test_contamination_report_counts(spark):
    from rp_extract_spark.operators.curation import contamination_report

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (200, "never seen words here")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "x alpha beta gamma y"),        # shares 'alpha beta gamma'
         (2, "alpha beta gamma delta tail"), # shares 2 grams with 100
         (3, "nothing in common at all")],
        "doc_id long, text string")
    out = {r.bench_id: r for r in
           contamination_report(corpus, bench, n=3).collect()}
    assert out[100].n_contaminated_docs == 2
    assert out[100].n_hits == 3   # doc1x1 gram + doc2x2 grams
    assert out[200].n_contaminated_docs == 0 and out[200].n_hits == 0


def test_model_table_collects_are_bounded(spark, monkeypatch):
    from rp_extract_spark import _prims
    from rp_extract_spark.operators.curation import (
        apply_bpe,
        apply_bpe_ids,
        mix_schedule,
        train_bpe,
    )

    monkeypatch.setattr(_prims, "COLLECT_CAP", 3)
    corpus = spark.createDataFrame(
        [("low low lower newest newest newest widest",)], "text string")
    merges = train_bpe(corpus, n_merges=4, min_count=1)
    assert merges.count() == 4
    with pytest.raises(ValueError, match=r"^apply_bpe: more than 3 rows"):
        apply_bpe(corpus, merges)
    vocab = spark.createDataFrame(
        [(t, i) for i, t in enumerate("lowe")], "token string, token_id int")
    with pytest.raises(ValueError, match=r"^apply_bpe_ids: more than 3"):
        apply_bpe_ids(corpus, merges.limit(3), vocab)
    weights = spark.createDataFrame(
        [(s, 1) for s in "abcd"], "source string, weight long")
    with pytest.raises(ValueError, match=r"^mix_schedule: more than 3"):
        mix_schedule(weights)
    # at the cap: runs
    assert apply_bpe(corpus, merges.orderBy("rank").limit(3)).count() == 1
    assert mix_schedule(weights.limit(3)).count() == 3
