"""Training-data curation operators: sequence packing, stratified
splits, benchmark decontamination.

These are the corpus-side steps an LLM-scale pipeline runs after
dedup/quality gating (operators/dedup.py, operators/text.py) and
before tokenization, plus a real BPE vocabulary trainer/tokenizer.
No reference analog (the reference stops at per-file descriptors);
all are pure DataFrame ops with exact DuckDB oracles in the driver
contract (BPE training is oracled by unrolling one SQL CTE stage per
merge).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .._prims import arrow_stage, collect_bounded, global_rank, md5_hex, md5_int, spread
from .text import fingerprint, nonempty_tokens_col, py_nonempty_tokens, token_count


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 1024,
) -> DataFrame:
    """Concatenate-and-chunk sequence assignment (the standard LLM
    pretraining packing): documents are laid out in ``id_col`` order
    into one token stream; ``seq_id = start_offset // budget`` is the
    fixed-budget training sequence each document STARTS in.

    A distributed prefix sum (``_prims.global_rank``), never a global
    window. Returns (id, n_tokens, start_offset, seq_id)."""
    t = global_rank(
        df.select(F.col(id_col), token_count(F.col(text_col)).alias("n_tokens")),
        [id_col],
        sums=["n_tokens"],
    )
    start = F.col("__cum_n_tokens") - F.col("n_tokens")
    return t.select(
        F.col(id_col),
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / F.lit(budget)).cast("long").alias("seq_id"),
    )


def corpus_report(
    df: DataFrame,
    dims: "tuple[str, ...]" = ("lang", "source"),
    size_col: str = "n_chars",
    all_sentinel: str = "<all>",
) -> DataFrame:
    """Dataset-card summary: counts and size stats at EVERY grouping
    level of ``dims`` at once (per-dim marginals, the full cross, and
    the grand total) — the corpus composition table a data card / mix
    audit needs. One ``cube``: Spark expands the 2^d grouping sets
    map-side and aggregates them in a single shuffle with partial
    (map-side combine) aggregation — d passes over a 100-TB corpus
    collapse to one. Rollup-level keys are labeled with
    ``all_sentinel`` via GROUPING() (never by coalescing, which would
    alias a real NULL dim value). All metrics are exact integers."""
    # GROUPING() is an aggregate-scope expression: evaluate the flags
    # inside the agg, label in the projection after
    aggs = [
        *[F.grouping(d).alias(f"__g_{d}") for d in dims],
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(size_col)).cast("long").alias("total_size"),
        F.min(F.col(size_col)).cast("long").alias("min_size"),
        F.max(F.col(size_col)).cast("long").alias("max_size"),
    ]
    out = df.cube(*[F.col(d) for d in dims]).agg(*aggs)
    labeled = [
        F.when(F.col(f"__g_{d}") == 1, F.lit(all_sentinel))
        .otherwise(F.col(d).cast("string")).alias(d)
        for d in dims
    ]
    return out.select(*labeled, "n_rows", "total_size", "min_size",
                      "max_size")


def exact_order_stats(
    df: DataFrame,
    value_col: str,
    ps: "tuple[float, ...]" = (0.25, 0.5, 0.9, 0.99),
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT percentiles of a column without a global sort — the gate
    threshold calibration step ("keep the top decile by quality score",
    "cap length at p99") done exactly, where approx_percentile's error
    bound would move the cut. Lower/disc definition: the value at
    1-indexed rank ``k = floor(p*(n-1)) + 1`` in (value, id) order —
    deterministic under ties, replayable as one SQL row_number.

    Scale shape — the _prims.global_rank two-level rank: range-partition
    by (value, id) so the sort is per-partition (the terasort shape,
    never one reducer), collect the P-row partition-count table to
    compute exclusive base offsets driver-side, and — since each target
    rank lands in exactly ONE partition — prune the rank window to just
    the partitions that contain a target before sorting anything.
    Returns one row per requested p: (p, k, value)."""
    if not ps:
        raise ValueError("ps must be non-empty")
    if any(not 0.0 <= p <= 1.0 for p in ps):
        raise ValueError("percentiles must be in [0, 1]")
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    # NULL values are excluded: Spark sorts NULLS FIRST ascending while
    # SQL engines default NULLS LAST, so including them would shift
    # every rank cross-engine (the kmv_distinct NULL rule)
    t = df.filter(F.col(value_col).isNotNull()).select(
        F.col(id_col), F.col(value_col).alias("__val")
    ).repartitionByRange(
        n_parts, F.col("__val"), F.col(id_col)
    ).withColumn("__pid", F.spark_partition_id()).persist()
    try:
        crows = sorted(
            (r["__pid"], r["__c"])
            for r in t.groupBy("__pid").agg(
                F.count(F.lit(1)).alias("__c")).collect()
        )
        n = sum(c for _, c in crows)
        if n == 0:
            return spark.createDataFrame(
                [], schema=f"p double, k bigint, value {df.schema[value_col].dataType.simpleString()}")
        targets = sorted({float(p): int(p * (n - 1)) + 1 for p in ps}.items())
        base = 0
        pid_base: dict[int, int] = {}
        for pid, c in crows:
            pid_base[pid] = base
            base += c
        # each rank k lives in the partition whose [base, base+count)
        # spans it — prune to those partitions BEFORE the sort
        needed_pids = set()
        for _, k in targets:
            for pid, c in crows:
                if pid_base[pid] < k <= pid_base[pid] + c:
                    needed_pids.add(pid)
                    break
        pruned = t.filter(F.col("__pid").isin(sorted(needed_pids)))
        wl = Window.partitionBy("__pid").orderBy(
            F.col("__val").asc(), F.col(id_col).asc())
        base_df = spark.createDataFrame(
            [(pid, pid_base[pid]) for pid in sorted(needed_pids)],
            schema="__pid int, __base bigint",
        )
        tgt_df = spark.createDataFrame(
            [(p, k) for p, k in targets], schema="p double, k bigint")
        ranked = (
            pruned.withColumn("__lrn", F.row_number().over(wl))
            .join(F.broadcast(base_df), "__pid")
            .withColumn("__rn", F.col("__base") + F.col("__lrn"))
        )
        picked = ranked.join(
            F.broadcast(tgt_df), F.col("__rn") == F.col("k")
        ).select("p", "k", F.col("__val").alias("value"))
        # materialize the <=len(ps)-row result while the cache is hot:
        # the base offsets were computed against THIS partition
        # placement, and re-executing the range exchange after an
        # unpersist is not guaranteed to reproduce it (the
        # stratified_split placement-consistency rule)
        rows = picked.collect()
        vt = df.schema[value_col].dataType.simpleString()
        return spark.createDataFrame(
            rows, schema=f"p double, k bigint, value {vt}")
    finally:
        t.unpersist(blocking=False)


def skew_report(
    df: DataFrame,
    key_col: str,
    top_n: int = 5,
) -> DataFrame:
    """Join/aggregation skew diagnostics for a key column — the
    measurement that decides whether the asof salting path (or an AQE
    skew-join hint) is worth its cost BEFORE a 100-TB shuffle
    stragglers: per-key row counts reduced to exact p50/p99/max order
    statistics plus the top-N hot keys. One key-count aggregate (the
    exchange carries distinct keys + a long), then exact_order_stats
    over the count table (range-partitioned, partition-pruned) and a
    TakeOrdered top-N; the per-key table never collects.

    Returns top_n rows: (rank, key, n, n_keys, total_rows, p50_n,
    p99_n, max_n) — the global stats repeated per row so the result is
    one flat frame. All values exact integers."""
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n"))
    counts = counts.persist()  # three consumers: order stats, totals,
    # hot keys — one aggregation pass under every config
    try:
        stats = {float(r["p"]): int(r["value"]) for r in exact_order_stats(
            counts, "n", ps=(0.5, 0.99, 1.0), id_col="key").collect()}
        tot = counts.agg(
            F.count(F.lit(1)).alias("k"), F.sum("n").alias("r")).first()
        hot = (counts.orderBy(F.col("n").desc(), F.col("key").asc())
               .limit(top_n).collect())
        spark = df.sparkSession
        return spark.createDataFrame(
            [(i + 1, r["key"], int(r["n"]), int(tot["k"]), int(tot["r"]),
              stats[0.5], stats[0.99], stats[1.0])
             for i, r in enumerate(hot)],
            schema=("rank int, key string, n long, n_keys long, "
                    "total_rows long, p50_n long, p99_n long, max_n long"),
        )
    finally:
        counts.unpersist(blocking=False)


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_bins: int = 8,
    id_col: str = "doc_id",
    smoothing: int = 1,
    grain: int = 1_000_000,
) -> DataFrame:
    """Population-stability-index drift monitor between a reference
    corpus and a current one — the production data-quality check that
    catches a shifted caption-length / quality-score / feature
    distribution before it poisons a training run (rule of thumb:
    PSI < 0.1 stable, > 0.25 drifted). Bin edges are EXACT reference
    quantiles (exact_order_stats — approx edges would move bins
    between engines and runs); bucket b = first edge with v <= edge,
    else the last bin, deterministic under duplicate edges.

    Scale shape: one exact-order-stats pass on ref + one bucket-count
    aggregate per side (the exchange carries B-row count grids); the
    final PSI arithmetic runs on the driver over 2B integers (the
    model-sized-collect discipline). Laplace ``smoothing`` keeps empty
    current-side bins finite. psi_u = floor(term * grain + 0.5): the
    only cross-engine wobble is ln() (<= 1 ulp), ten orders below the
    grain. Returns one row per bin: (bin, upper, ref_n, cur_n, psi_u);
    total PSI = sum(psi_u)/grain."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    ps = tuple(i / n_bins for i in range(1, n_bins))
    edge_rows = exact_order_stats(
        ref, value_col, ps=ps, id_col=id_col).orderBy("p").collect()
    edges = [r["value"] for r in edge_rows]
    v = F.col(value_col)
    bucket = None
    for i, e in enumerate(edges):
        cond = v <= F.lit(e)
        bucket = F.when(cond, i) if bucket is None else bucket.when(cond, i)
    bucket = (F.lit(n_bins - 1) if bucket is None
              else bucket.otherwise(n_bins - 1))
    def _counts(df: DataFrame) -> dict[int, int]:
        return {
            r["__bin"]: r["__c"]
            for r in df.select(bucket.alias("__bin")).groupBy("__bin")
            .agg(F.count(F.lit(1)).alias("__c")).collect()
        }
    a, b = _counts(ref), _counts(cur)
    na = sum(a.values()) + smoothing * n_bins
    nb = sum(b.values()) + smoothing * n_bins
    import math

    out = []
    for i in range(n_bins):
        ai, bi = a.get(i, 0), b.get(i, 0)
        pa = (ai + smoothing) / na
        pb = (bi + smoothing) / nb
        term = (pa - pb) * math.log(pa / pb)
        out.append((
            i,
            float(edges[i]) if i < len(edges) else None,
            ai, bi,
            int(math.floor(term * grain + 0.5)),
        ))
    return ref.sparkSession.createDataFrame(
        out, schema="bin int, upper double, ref_n long, cur_n long, psi_u long"
    )


def group_split(
    df: DataFrame,
    group_col: str,
    fractions: "tuple[tuple[str, float], ...]" = (
        ("train", 0.8), ("test", 0.2),
    ),
    seed: int = 7,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/test assignment by GROUP: every row whose
    ``group_col`` value matches lands in the SAME split, so composing
    with a near-duplicate component label (``phash_dedup``/``semdedup``
    rep ids) guarantees no duplicate pair ever straddles train and test
    — the CIFAR/ImageNet test-set-contamination failure mode a row-wise
    split cannot prevent. Reference analog: the train/test split the
    classification tutorial performs before the SVM
    (RP_extract_Tutorial.v4.ipynb), made duplicate-aware.

    Assignment is the hash_sample discipline: md5(group || ':' || seed)
    first 8 hex chars against cumulative fraction thresholds —
    fixed-width lexicographic compare == numeric compare, reproducible
    across runs, engines, partition layouts and cluster sizes, and a
    stateless zero-shuffle projection (no RNG, no coordinator).
    Changing ``seed`` draws an independent split."""
    fracs = [float(f) for _, f in fractions]
    if any(f < 0 for f in fracs) or abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError("fractions must be non-negative and sum to 1")
    h = F.substring(md5_hex(F.col(group_col), f":{seed}"), 1, 8)
    expr = None
    cum = 0.0
    for name, frac in fractions[:-1]:
        cum += frac
        thr_int = int(cum * 16 ** 8)
        if thr_int >= 16 ** 8:
            # cum reached 1.0 (e.g. a zero-weight tail split): the
            # 9-char hex "100000000" would break the fixed-width
            # lexicographic invariant (h < it only for ~1/16 of
            # hashes) — this split absorbs everything remaining
            cond = F.lit(True)
        else:
            cond = h < F.lit(format(thr_int, "08x"))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = (F.lit(fractions[-1][0]) if expr is None
             else expr.otherwise(fractions[-1][0]))
    return df.withColumn(split_col, split)


def stratified_split(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    fractions: "tuple[tuple[str, float], ...]" = (
        ("train", 0.8), ("val", 0.1), ("test", 0.1),
    ),
) -> DataFrame:
    """Deterministic stratified train/val/test assignment: within each
    label, rank by id and cut at floor(n * cumulative_fraction) — every
    label contributes proportionally, the split is reproducible and
    engine-independent (no RNG). A NULL label is one stratum.

    The per-label rank is ``_prims.global_rank``, so one dominant label
    never lands on one reducer. Returns the label column first, then
    the other input columns, then ``split``."""
    ranked = global_rank(df, [id_col], groups=[label_col])
    expr = None
    cum = 0.0
    for name, frac in fractions[:-1]:
        cum += frac
        cond = F.col("__rn") <= F.floor(F.col("__n") * F.lit(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = (F.lit(fractions[-1][0]) if expr is None
             else expr.otherwise(fractions[-1][0]))
    return ranked.select(
        label_col, *[c for c in df.columns if c != label_col],
        split.alias("split"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: drop corpus documents whose
    whitespace-normalized content fingerprint appears in the benchmark
    set. Broadcast left-anti join on 128-bit digests — benchmark sets
    are tiny next to the corpus, and no text crosses the exchange. For
    near-duplicate contamination compose with minhash_lsh_dedup over
    corpus+benchmark union (operators/dedup.py)."""
    b = benchmark.select(
        fingerprint(F.col(text_col)).alias("__bfp")
    ).distinct()
    return corpus.withColumn("__fp", fingerprint(F.col(text_col))).join(
        F.broadcast(b), F.col("__fp") == F.col("__bfp"), "left_anti"
    ).drop("__fp")


def ngram_col(text, n: int):
    """Word n-grams of the lowercased text as space-joined strings
    (JVM sliding window; < n tokens -> empty array). Shared by
    decontaminate_ngram and its oracle discipline."""
    toks = nonempty_tokens_col(text)
    size = F.size(toks)
    return F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(0), size - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _ngram_rows_py(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, gram-string) rows — per-document DISTINCT word n-grams,
    built in one ``arrow_stage`` pass and exploded. The gram strings
    are exactly ``ngram_col``'s (``py_nonempty_tokens``, the twin of
    its tokenizer, grams joined by a single space), so joins against
    them are interchangeable with the HOF construction; Python string
    joins replace the interpreted
    slice+concat_ws lambda per position, which dominated
    decontaminate_ngram's wall (round 6). Per-doc dedup is free here
    and only shrinks the explode (membership joins are unaffected).
    NULL text and docs shorter than ``n`` emit nothing, as before."""
    schema = T.StructType(
        [df.schema[id_col], T.StructField("__gs", T.ArrayType(T.StringType()))]
    )

    def run(t):
        toks = py_nonempty_tokens(t) or ()
        grams = (" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))
        return {"__gs": list(dict.fromkeys(grams))}

    return arrow_stage(
        spread(df.select(id_col, text_col)), [id_col], [text_col], schema, run
    ).select(id_col, F.explode("__gs").alias("__g"))


def decontaminate_ngram(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """N-gram-overlap benchmark decontamination (the GPT-3/PaLM-style
    rule): drop every corpus document that shares ANY word ``n``-gram
    with any benchmark document — catches paraphrased/embedded test
    items that exact-fingerprint ``decontaminate`` misses.

    Scale path: the benchmark's distinct n-grams are a small table
    (benchmarks are tiny next to the corpus) and are BROADCAST twice:
    a left-semi join marks contaminated ids (the shuffle carries only
    ids), a left-anti join drops them. The corpus side streams through
    one Arrow-batched gram pass (``_ngram_rows_py`` — same gram
    strings as the HOF construction, built with Python string joins
    instead of a per-position interpreted lambda) without ever
    shuffling text."""
    bgrams = (
        _ngram_rows_py(benchmark, text_col, id_col, n)
        .select("__g")
        .distinct()
    )
    contaminated = (
        _ngram_rows_py(corpus, text_col, id_col, n)
        .join(F.broadcast(bgrams), "__g", "left_semi")
        .select(id_col)
        .distinct()
    )
    # No broadcast hint here: `contaminated` is corpus-derived (one id
    # per contaminated doc) and under heavy contamination could exceed
    # the broadcast limit — let AQE pick broadcast vs shuffle from the
    # measured size. The genuinely-small benchmark grams above ARE
    # hinted; the ids join shuffles only ids, never text.
    return corpus.join(contaminated, id_col, "left_anti")


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Audit view of n-gram decontamination (the report a release
    review actually reads): per benchmark document, how many corpus
    documents share at least one word ``n``-gram with it
    (``n_contaminated_docs``) and how many distinct (corpus doc,
    shared gram) hits occurred (``n_hits``); benchmark items with no
    contamination report zeros. Same scale shape as
    ``decontaminate_ngram`` — the benchmark's gram table is small and
    broadcast — with two scale refinements: the shuffles carry 16-byte
    gram DIGESTS + ids, never gram text (both sides hash identically,
    so the digest join equals the string join up to md5 collisions
    that are astronomically unlikely AND would reproduce identically
    in any SQL engine), and the corpus gram stage is spread across
    cores first (one small parquet file = one split otherwise)."""
    # gram strings from the Arrow pass (exact ngram_col parity, round
    # 6); md5 digests in Spark over the same strings, so digest joins
    # are unchanged. Per-doc gram dedup upstream of .distinct() is
    # count-neutral.
    bgrams = (
        _ngram_rows_py(benchmark, text_col, bench_id_col, n)
        .select(
            F.col(bench_id_col).alias("bench_id"),
            md5_hex(F.col("__g")).alias("__g"),
        )
        .distinct()
    )
    cgrams = (
        _ngram_rows_py(corpus, text_col, id_col, n)
        .select(id_col, md5_hex(F.col("__g")).alias("__g"))
        .distinct()
    )
    hits = (
        cgrams.join(F.broadcast(bgrams), "__g")
        .groupBy("bench_id")
        .agg(
            F.countDistinct(id_col).alias("n_contaminated_docs"),
            F.count(F.lit(1)).alias("n_hits"),
        )
    )
    return (
        benchmark.select(F.col(bench_id_col).alias("bench_id"))
        .distinct()
        .join(hits, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce("n_contaminated_docs", F.lit(0)).alias(
                "n_contaminated_docs"
            ),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
    )


def sequences_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 1024,
) -> DataFrame:
    """Materialized view of ``pack_sequences``: one row per training
    sequence with its member documents in stream order and the token
    total — (seq_id, doc_ids, n_docs, total_tokens). One exchange on
    seq_id after the distributed prefix sum."""
    packed = pack_sequences(df, text_col, id_col, budget)
    return (
        packed.groupBy("seq_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("start_offset", F.col(id_col)))
                ),
                lambda s: s[id_col],
            ).alias("doc_ids"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# Symbol sentinel: every symbol in the working representation is
# wrapped as "\x1fsym\x1f" so a literal pair replace can only match
# WHOLE adjacent symbols — without it, pattern "a  t" would also match
# inside "a  th" (prefix of a longer symbol) and merge across symbol
# boundaries. \x1f is stripped from input tokens first, so it can
# never occur inside a symbol.
_S = "\x1f"


def _bpe_pairs():
    # adjacent (wrapped) symbol pairs of the double-space-joined sym
    # column (built lazily: F.expr needs an active session)
    return F.expr(
        "zip_with(slice(split(sym,'  '),1,size(split(sym,'  '))-1),"
        "         slice(split(sym,'  '),2,size(split(sym,'  '))-1),"
        "         (l,r) -> concat(l,'  ',r))"
    )


def _wrap_chars(word: Column) -> Column:
    """word -> '\\x1fc\\x1f  \\x1fc\\x1f ...' initial symbol string."""
    return F.concat_ws(
        "  ",
        F.transform(
            F.split(F.translate(word, _S, ""), ""),
            lambda c: F.concat(F.lit(_S), c, F.lit(_S)),
        ),
    )


def _simulate_merge_batch(
    window: list[tuple[str, int]],
    triples: dict[tuple[str, str, str], int],
    floor: int,
    min_count: int,
    limit: int,
    prior_merged: frozenset[str] = frozenset(),
) -> list[tuple[str, int]]:
    """Driver-side EXACT simulation of the classical one-at-a-time BPE
    cascade over windowed statistics: the top-K pair counts plus every
    triple (3-gram) count whose two component pairs both sit in the
    window.  Merging (x, y) -> s changes pair counts in exactly three
    localised ways, all computable from those triples:

    - pair (w, x) loses T(w, x, y) occurrences,
    - pair (y, z) loses T(x, y, z) occurrences,
    - pairs (w, s) / (s, z) are created with those same triple counts.

    The simulation keeps merging the provably-true maximum (count desc,
    pair asc — the classical tiebreak) and stops the moment exactness
    can no longer be certified, via conservative bookkeeping:

    - ``floor`` bounds every pair outside the window (K+1-th count),
      and creations routed through out-of-window sources stay <= floor
      because an old-symbol pair can never be boosted.
    - a triple becomes STALE once a previous merge may have rewritten
      its sites (triples ending in x or starting with y) — stale
      creations/decrements turn their target pairs into bound-only
      entries instead of exact counts.
    - chain-ambiguous updates ("x y x y": the creation target depends
      on quad context) are routed into a global mystery bound, and the
      reversed pair (y, x) — whose adjacent triples overlap — is
      dirtied outright.

    Every merge the simulation emits therefore carries the same
    (pair, count) the sequential trainer would have collected, in the
    same order — property-tested against ``batch_top_k=1``."""
    C: dict[tuple[str, str], int] = {}
    for pair, c in window:
        lhs_w, rhs_w = pair.split("  ")
        C[(lhs_w, rhs_w)] = c
    exact = set(C)
    bounds: dict[tuple[str, str], int] = {}
    mystery = 0
    right_index: dict[tuple[str, str], list] = {}
    left_index: dict[tuple[str, str], list] = {}
    start_index: dict[str, list] = {}
    end_index: dict[str, list] = {}
    sym_index: dict[str, list] = {}
    stale: set[tuple[str, str, str]] = set()
    consumed: set[tuple[str, str, str]] = set()
    for t in triples:
        w, x, y = t
        right_index.setdefault((x, y), []).append(t)
        left_index.setdefault((w, x), []).append(t)
        start_index.setdefault(w, []).append(t)
        end_index.setdefault(y, []).append(t)
        for sym in t:
            sym_index.setdefault(sym, []).append(t)

    def created(target: tuple[str, str], n: int, s_new: bool) -> None:
        nonlocal mystery
        if n <= 0:
            return
        if target in bounds:
            bounds[target] += n
        elif target in C and target in exact:
            C[target] += n
        elif target in C:  # tracked but already dirty via C? (defensive)
            bounds[target] = C.pop(target) + n
            exact.discard(target)
        elif s_new or floor == 0:
            # the created string never existed before this pass (the
            # trainer knows every symbol ever merged), so the target
            # pair provably had count 0 — creation is EXACT
            C[target] = n
            exact.add(target)
        else:  # string collision: unknown old count <= floor
            bounds[target] = n + floor

    def dirty(target: tuple[str, str], extra: int = 0) -> None:
        if target in C:
            bounds[target] = max(bounds.get(target, 0), C.pop(target) + extra)
            exact.discard(target)
        elif extra > 0:
            bounds[target] = bounds.get(target, 0) + extra

    created_syms: set[str] = set()
    out: list[tuple[str, int]] = []
    while len(out) < limit:
        best = None
        for p in exact:
            c = C[p]
            if best is None or (-c, p) < (-best[1], best[0]):
                best = (p, c)
        if best is None:
            break
        (x, y), c_star = best
        threshold = max(floor + mystery, max(bounds.values(), default=0))
        # the first pick of a pass is always the true global max: the
        # window sort (count desc, pair asc) already resolved any tie
        # with uncollected pairs at the floor in its favour
        if c_star < min_count or (out and c_star <= threshold):
            break
        out.append((f"{x}  {y}", c_star))
        s = _S + x.strip(_S) + y.strip(_S) + _S
        del C[(x, y)]
        exact.discard((x, y))
        if x == y:  # self-pair: overlap arithmetic needs quad context
            break
        s_new = s not in prior_merged and s not in created_syms
        if s in sym_index and s not in created_syms:
            # the created string collides with a symbol the collected
            # triples reference: new occurrences make those triple
            # counts undercount from now on — stale them all
            for t in sym_index[s]:
                stale.add(t)
        # "x y x y" chains make the reversed pair's decrement ambiguous
        # (its adjacent triples overlap merge sites both ways); the
        # chain triples prove whether any such site exists — absent
        # chain triples with (y,x) untracked-or-covered means plain
        # exact decrements apply
        rev_ambiguous = (x, y, x) in triples or (y, x, y) in triples
        if rev_ambiguous:
            dirty((y, x))
        if x in created_syms or y in created_syms or not s_new:
            # a symbol created THIS pass has no pre-pass triple stats
            # (and a collision with a pre-existing symbol string taints
            # the bookkeeping the same way): neighbour updates are not
            # computable — dirty every tracked adjacent pair and bound
            # the creations by the smaller of source and merge count.
            # Untracked neighbours are covered by floor/mystery, except
            # on a collision where old-count and creation can stack.
            created_syms.add(s)
            for key in list(C.keys()) + list(bounds.keys()):
                if key == (x, y):
                    continue
                a, b = key
                if b == x:  # predecessor pair (w, x) -> creates (w, s)
                    val = C[key] if key in C else bounds[key]
                    dirty(key)
                    dirty((a, s), min(val, c_star))
                elif a == y:  # successor pair (y, z) -> creates (s, z)
                    val = C[key] if key in C else bounds[key]
                    dirty(key)
                    dirty((s, b), min(val, c_star))
            if not s_new and floor > 0:
                mystery += floor
            for t in end_index.get(x, ()):
                stale.add(t)
            for t in start_index.get(y, ()):
                stale.add(t)
            continue
        created_syms.add(s)
        for t in right_index.get((x, y), ()):  # t = (w, x, y)
            if t in consumed:
                continue
            consumed.add(t)
            w = t[0]
            n = triples[t]
            skip = rev_ambiguous and (w, x) == (y, x)
            if t in stale:
                if not skip:
                    dirty((w, x))
                mystery += n  # creation target aliasable -> global bound
                continue
            if not skip and (w, x) in C and (w, x) in exact:
                C[(w, x)] -= n
            elif not skip:
                dirty((w, x))
            if w == y:  # chain "x y x y": target (w,s) vs (s,s) ambiguous
                mystery += n
            else:
                created((w, s), n, s_new)
        for t in left_index.get((x, y), ()):  # t = (x, y, z)
            if t in consumed:
                continue
            consumed.add(t)
            z = t[2]
            n = triples[t]
            skip = rev_ambiguous and (y, z) == (y, x)
            if t in stale:
                if not skip:
                    dirty((y, z))
                mystery += n
                continue
            if not skip and (y, z) in C and (y, z) in exact:
                C[(y, z)] -= n
            elif not skip:
                dirty((y, z))
            if z == x:
                mystery += n
            else:
                created((s, z), n, s_new)
        for t in end_index.get(x, ()):  # (.,.,x): may precede a merge site
            stale.add(t)
        for t in start_index.get(y, ()):  # (y,.,.): may follow a merge site
            stale.add(t)
    return out


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_count: int = 2,
    checkpoint_every: int = 64,
    batch_top_k: int = 1024,
    _stats: dict | None = None,
) -> DataFrame:
    """Learn a byte-pair-encoding merge list from the corpus (the real
    trainer behind the BPE-ish token counter in operators/text.py).

    Scale path — the standard word-frequency reduction: ONE
    corpus-scale pass builds the (word, count) table (vocabulary-sized,
    bounded, orders of magnitude smaller than the corpus); every
    training PASS then runs on that table only — adjacent-pair counts
    weighted by word count (one small shuffle), a ``batch_top_k+1``-row
    collect (like kmeans_fit collecting K centroids), and batched
    literal replaces.  Per pass, the longest provably-order-safe prefix
    of the sorted pair window is applied together
    (``_simulate_merge_batch`` — the batched-BPE trick, exactness proof
    in its docstring), so a production 30k-merge vocabulary costs
    ~30k/K driver round-trips instead of 30k.  ``batch_top_k=1``
    recovers the classical one-merge-per-job loop.  Lineage is
    truncated by localCheckpoint every ``checkpoint_every`` merges, the
    propagate_min_ids recipe.

    Words are represented as double-space-joined SENTINEL-WRAPPED
    symbol strings ('\\x1fa\\x1f  \\x1fb\\x1f'), so applying a merge is
    one literal replace of the whole-symbol pair pattern — literal
    left-to-right non-overlapping replacement of complete symbols IS
    the BPE merge rule, and is expressible identically in the DuckDB
    oracle. The sentinel prevents the pattern matching a PREFIX of a
    longer symbol (e.g. pair (a,t) inside 'a  th').

    Returns (rank, lhs, rhs, merged, pair_count), ranks in merge
    order. Stops early when the best pair count falls below
    ``min_count``.  ``_stats`` (optional dict) is filled with
    ``{"passes": ..., "merges": ...}`` for job-count assertions."""
    spark = df.sparkSession
    words = (
        df.select(F.explode(nonempty_tokens_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(_wrap_chars(F.col("w")).alias("sym"), "cnt")
        # vocabulary-sized; every training pass reads it twice (pair
        # window + linking 3-grams) — unpersisted, each pass re-ran
        # the corpus-scale explode (round 6)
        .persist()
    )
    base_words = words
    merges: list = []
    passes = 0
    since_ckpt = 0
    k = max(1, int(batch_top_k))
    while len(merges) < n_merges:
        window = [
            (r["pair"], int(r["c"]))
            for r in (
                words.select(F.explode(_bpe_pairs()).alias("pair"), "cnt")
                .groupBy("pair")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.col("c").desc(), F.col("pair").asc())
                .limit(k + 1)
                .collect()
            )
        ]
        passes += 1
        floor = window[k][1] if len(window) > k else 0
        triples: dict[tuple[str, str, str], int] = {}
        if k > 1 and len(window) > 1:
            # all 3-gram counts whose two component pairs both sit in
            # the window — exactly the statistics the cascade
            # simulation needs (anything else is bounded by `floor`)
            wpairs = [p for p, _ in window]
            syms = F.split("sym", "  ")
            tri = (
                words.select(
                    F.explode(
                        F.when(
                            F.size(syms) >= 3,
                            F.arrays_zip(
                                F.slice(syms, 1, F.size(syms) - 2).alias("a"),
                                F.slice(syms, 2, F.size(syms) - 2).alias("b"),
                                F.expr(
                                    "slice(split(sym,'  '), 3,"
                                    " size(split(sym,'  ')) - 2)"
                                ).alias("c"),
                            ),
                        ).otherwise(F.array())
                    ).alias("t"),
                    "cnt",
                )
                .select("t.a", "t.b", "t.c", "cnt")
                .filter(
                    F.concat_ws("  ", "a", "b").isin(wpairs)
                    & F.concat_ws("  ", "b", "c").isin(wpairs)
                )
                .groupBy("a", "b", "c")
                .agg(F.sum("cnt").alias("n"))
                .collect()
            )
            triples = {(r["a"], r["b"], r["c"]): int(r["n"]) for r in tri}
        batch = _simulate_merge_batch(
            window[:k], triples, floor, min_count, n_merges - len(merges),
            prior_merged=frozenset(_S + m[3] + _S for m in merges),
        )
        if not batch:
            break
        for pair, c in batch:
            lhs_w, rhs_w = pair.split("  ")
            lhs, rhs = lhs_w.strip(_S), rhs_w.strip(_S)
            merges.append((len(merges), lhs, rhs, lhs + rhs, c))
            words = words.withColumn(
                "sym", F.replace("sym", F.lit(pair), F.lit(_S + lhs + rhs + _S))
            )
        since_ckpt += len(batch)
        if since_ckpt >= checkpoint_every and len(merges) < n_merges:
            words = words.localCheckpoint(eager=True)
            since_ckpt = 0
    base_words.unpersist()  # every collect above has materialized
    if _stats is not None:
        _stats["passes"] = passes
        _stats["merges"] = len(merges)
    return spark.createDataFrame(
        merges,
        "rank int, lhs string, rhs string, merged string, pair_count long",
    )


def apply_bpe(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize the corpus with a learned merge list. Adds ``out_col``
    (array<string>) and ``n_{out_col}``.

    One ``arrow_stage`` pass: per non-empty whitespace token (the
    ``py_nonempty_tokens`` twin of the JVM tokenizer) with the ``_S``
    sentinel removed, split to characters and apply the merges in rank
    order, each one literal replace on the symbol string. Constant plan
    depth regardless of the merge count (the merge list is a model
    table — tiny — collected and shipped once per task in the closure),
    and each unique word is encoded once per task (corpus word
    frequency follows Zipf — the memo hit rate is high; a JVM plan of
    per-occurrence char-split + replace expressions measured 12.1 s
    against ~2 s at sf1.0 with 3 merges). NULL text gives NULL for
    both columns."""
    reps = [
        (f"{_S}{lhs}{_S}  {_S}{rhs}{_S}", f"{_S}{lhs}{rhs}{_S}")
        for lhs, rhs in collect_bounded(
            merges.orderBy("rank").select("lhs", "rhs"), "apply_bpe"
        )
    ]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField(out_col, T.ArrayType(T.StringType())),
            T.StructField(f"n_{out_col}", T.IntegerType()),
        ]
    )
    # per-task word memo, capped: Zipf makes the hit rate high, but a
    # huge unique-word tail (URLs, ids) must not grow it without bound
    memo_cap = 1 << 20
    memo: dict = {}

    def enc_word(w):
        got = memo.get(w)
        if got is None:
            sym = "  ".join(_S + c + _S for c in w)
            for pat, rep in reps:
                sym = sym.replace(pat, rep)
            got = [p.replace(_S, "") for p in sym.split("  ")]
            if len(memo) >= memo_cap:
                memo.clear()
            memo[w] = got
        return got

    def run(t):
        if t is None:
            return {}
        out = []
        for w in py_nonempty_tokens(t):
            w = w.replace(_S, "")
            if w:
                out.extend(enc_word(w))
        return {out_col: out, f"n_{out_col}": len(out)}

    return arrow_stage(spread(df), df.columns, [text_col], out_schema, run)


def bpe_vocab(df: DataFrame, merges: DataFrame,
              text_col: str = "text") -> DataFrame:
    """Token-id vocabulary for a trained merge list, GPT-2-style id
    assignment: the corpus' base characters sorted ascending take ids
    0..C-1, then each merged symbol takes C + rank. Model-table sized
    (alphabet + merges); the base-character scan is one distinct over
    exploded characters, collected driver-side like every K-row model."""
    # distinct WORDS first (map-side-combined, vocabulary-sized), then
    # explode characters of the tiny word set — the chars of distinct
    # words are exactly the chars of all words, and the per-character
    # corpus explode was ~5x the row volume for nothing (round 6)
    chars = (
        df.select(F.explode(nonempty_tokens_col(F.col(text_col))).alias("w"))
        .distinct()
        .select(F.explode(F.split(F.translate("w", _S, ""), "")).alias("sym"))
        .filter(F.col("sym") != "")
        .distinct()
    )
    base_syms = sorted(r.sym for r in chars.collect())
    spark = df.sparkSession
    base = spark.createDataFrame(
        [(s, i) for i, s in enumerate(base_syms)], "token string, token_id int"
    )
    merged = merges.orderBy("rank").select(
        F.col("merged").alias("token"),
        (F.col("rank") + F.lit(len(base_syms))).cast("int").alias("token_id"),
    )
    # two merges can share a surface form (e.g. ('ab','cd') and
    # ('abc','d') both yield 'abcd'); the vocab must be one id per
    # surface form or the encode join duplicates occurrences — keep
    # the lowest id (first assignment), the GPT-2 dedup rule
    return (
        base.unionByName(merged)
        .groupBy("token")
        .agg(F.min("token_id").alias("token_id"))
    )


def apply_bpe_ids(
    df: DataFrame,
    merges: DataFrame,
    vocab: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "token_ids",
) -> DataFrame:
    """Tokenize to integer ids — what a training pipeline actually
    feeds the model: ``apply_bpe`` then a per-token lookup against the
    vocab inlined as a MAP LITERAL (the vocab is model-table sized —
    the same collect-and-inline discipline as the merge list), applied
    with one array transform. Round 6: this replaces a
    posexplode + broadcast join + collect_list/array_sort reassembly
    that shuffled every token occurrence just to map token -> id.
    Unknown symbols (a vocab from a different corpus) map to -1 rather
    than dropping silently. Adds ``out_col`` (array<int>) and
    ``n_{out_col}``. NULL text propagates as NULL ids/count (matching
    ``apply_bpe``'s NULL ``bpe_tokens``); an EMPTY-but-present
    document gets ``[]``/0."""
    if vocab is None:
        vocab = bpe_vocab(df, merges, text_col)
    vrows = collect_bounded(vocab, "apply_bpe_ids")
    enc = apply_bpe(df, merges, text_col)
    if vrows:
        vmap = F.create_map(
            *[
                F.lit(x)
                for r in vrows
                for x in (r["token"], int(r["token_id"]))
            ]
        )
        ids_col = F.transform(
            F.col("bpe_tokens"),
            lambda t: F.coalesce(
                F.try_element_at(vmap, t), F.lit(-1)
            ).cast("int"),
        )
    else:
        ids_col = F.transform(
            F.col("bpe_tokens"), lambda t: F.lit(-1).cast("int")
        )
    return (
        enc.withColumn(out_col, ids_col)
        .withColumn(f"n_{out_col}", F.size(out_col))
        .drop("bpe_tokens", "n_bpe_tokens")
    )


def hash_sample(
    df: DataFrame,
    rate: float,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic corpus sampling by stable content hash: keep rows
    whose md5(key || salt) falls below the rate threshold. Unlike
    ``df.sample`` this is reproducible across runs, engines, partition
    layouts and cluster sizes — the property a 100-TB pipeline needs so
    a re-run (or a different engine validating the sample) selects the
    SAME rows. Changing ``salt`` draws an independent sample.

    Pure JVM filter on the scan, no shuffle; the threshold compare is
    on the first 8 hex chars (string compare == numeric compare for
    fixed-width hex), expressible identically in SQL."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    if rate >= 1.0:
        # int(1.0 * 16**8) formats to NINE hex chars, breaking the
        # fixed-width lexicographic == numeric invariant — rate 1.0
        # means keep everything, so skip the filter entirely
        return df
    thr = format(int(rate * 16**8), "08x")
    h = F.substring(md5_hex(F.col(key_col), salt), 1, 8)
    return df.filter(h < F.lit(thr))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    order_cols: "str | list[str] | tuple[str, ...]" = "doc_id",
) -> DataFrame:
    """Group-balanced downsampling: keep at most ``k`` rows per group,
    lowest ``order_cols`` first — the anti-skew companion of
    ``hash_sample`` (a dominant source cannot drown the mixture). One
    shuffle on the group key. Deterministic ONLY when ``order_cols``
    is unique within each group (pass extra tiebreak columns for a
    non-unique primary sort, e.g. ["score", "doc_id"]) — row_number
    breaks remaining ties by task arrival order."""
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    w = Window.partitionBy(group_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking (retrieval/context-window
    prep): chunks start every ``chunk_size - overlap`` tokens and span
    up to ``chunk_size`` tokens. Row-local JVM array ops only
    (sequence + posexplode + slice) — embarrassingly parallel, no
    shuffle; the same windows are expressible with SQL
    generate_series + list slicing for the oracle.

    Returns (id, chunk_idx, start_tok, n_chunk_tokens, chunk_text);
    empty/whitespace docs contribute no chunks."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    step = chunk_size - overlap
    toks = nonempty_tokens_col(F.col(text_col))
    d = df.select(F.col(id_col), toks.alias("__toks")).filter(
        F.size("__toks") > 0
    )
    starts = F.sequence(
        F.lit(0), F.size("__toks") - 1, F.lit(step)
    )
    return (
        d.select(
            id_col,
            "__toks",
            F.posexplode(starts).alias("chunk_idx", "start_tok"),
        )
        .select(
            id_col,
            "chunk_idx",
            "start_tok",
            F.slice("__toks", F.col("start_tok") + 1, chunk_size).alias("__c"),
        )
        .select(
            id_col,
            "chunk_idx",
            "start_tok",
            F.size("__c").alias("n_chunk_tokens"),
            F.array_join("__c", " ").alias("chunk_text"),
        )
    )


def mix_corpus(
    df: DataFrame,
    weights: "dict[str, float]",
    token_budget: int,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Corpus mixture weighting: downsample each source to its target
    share of a token budget. Per source s with weight w_s and total
    tokens T_s, the acceptance rate is min(1, token_budget*w_s / T_s);
    documents are kept by the same stable-hash rule as ``hash_sample``
    (reproducible, engine-portable), so re-runs and validators select
    identical rows. Sources absent from ``weights`` get rate 0.

    Scale path: one aggregate computes the per-source token totals
    (source-cardinality rows, collected like a K-row model), rates are
    driver-side arithmetic, and the filter is a broadcast join on the
    source plus the shuffle-free hash compare. Adds a ``rate`` column
    (rounded to 6)."""
    stats = (
        df.groupBy(source_col)
        .agg(F.sum(token_count(F.col(text_col))).alias("__T"))
        .collect()
    )
    rows = []
    for r in stats:
        t = int(r["__T"] or 0)
        w = float(weights.get(r[source_col], 0.0))
        rate = min(1.0, (token_budget * w) / t) if t else 0.0
        # rate >= 1 would format to nine hex chars and break the
        # fixed-width compare; 'g' sorts above every hex digit
        thr = "g" if rate >= 1.0 else format(int(rate * 16**8), "08x")
        rows.append((r[source_col], thr, round(rate, 6)))
    thr_df = df.sparkSession.createDataFrame(
        rows, f"{source_col} string, __thr string, rate double"
    )
    h = F.substring(md5_hex(F.col(id_col), salt), 1, 8)
    return (
        df.join(F.broadcast(thr_df), source_col)
        .filter(h < F.col("__thr"))
        .drop("__thr")
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    epoch: int = 0,
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic global shuffle for training epochs: every row gets
    a reshuffle-stable position ``pos`` (its rank in
    ``md5(id:seed:epoch)`` order — a new permutation per epoch, the
    same permutation on every run/cluster/engine) and a round-robin
    ``shard = pos % n_shards`` so a data loader can read its slice by
    shard. md5, not xxhash64, for cross-engine reproducibility (the
    hash_sample precedent).

    The position is ``_prims.global_rank`` over the shuffle key, never
    a global sort on one reducer."""
    key = md5_hex(F.col(id_col), int(seed), int(epoch), sep=":")
    pos = F.col("__rn") - 1
    return global_rank(df.withColumn("__k", key), ["__k", id_col]).select(
        *[F.col(c) for c in df.columns],
        pos.alias("pos"),
        (pos % n_shards).cast("int").alias("shard"),
    )


def pack_batches(
    df: DataFrame,
    bucket_cols: "tuple[str, ...]" = ("bucket_w", "bucket_h"),
    id_col: str = "image_id",
    batch_size: int = 8,
    seed: int = 0,
    epoch: int = 0,
    drop_partial: bool = True,
) -> DataFrame:
    """Deterministic bucketed batch packing — the data-loader step
    between aspect bucketing / sharding and the training loop: within
    each bucket, rows are shuffled by ``md5(id:seed:epoch)`` (a new
    permutation per epoch, identical on every engine — the
    epoch_shuffle key) and packed into fixed-size batches of
    ``batch_size``; the trailing partial batch per bucket is dropped
    when ``drop_partial`` (standard trainer behavior — a short batch
    changes the effective learning rate). Adds ``batch_idx`` (per
    bucket, 0-based) and ``slot`` (position in the batch). A NULL
    bucket value packs as one bucket.

    The per-bucket rank is ``_prims.global_rank``, so one dominant
    bucket never lands on one reducer."""
    key = md5_hex(F.col(id_col), int(seed), int(epoch), sep=":")
    ranked = global_rank(
        df.withColumn("__k", key), ["__k", id_col], groups=bucket_cols
    )
    rn = F.col("__rn") - 1
    if drop_partial:
        ranked = ranked.filter(
            rn < F.floor(F.col("__n") / F.lit(batch_size)) * F.lit(batch_size)
        )
    return ranked.select(
        *[F.col(c) for c in df.columns],
        F.floor(rn / F.lit(batch_size)).cast("long").alias("batch_idx"),
        (rn % F.lit(batch_size)).cast("int").alias("slot"),
    )


def pk_batches(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    p: int = 4,
    k: int = 4,
    seed: int = 0,
    epoch: int = 0,
) -> DataFrame:
    """P×K class-balanced batch plan — the metric-learning sampler
    (batch-hard triplet / InfoNCE training needs every batch to hold
    exactly ``p`` DISTINCT classes × ``k`` samples each, so in-batch
    positives AND hard negatives both exist; pairs with the
    hard_negatives miner). Deterministic and engine-replayable:

    - stage 1 is ``pack_batches`` on ``(label,)`` buckets at
      ``batch_size=k`` — per-class k-sample class-batches via the
      md5(id:seed:epoch) epoch permutation, partial batches dropped;
    - classes with fewer than ``k`` samples form no class-batch and
      drop out of the plan entirely (the long-tail rule: one tiny
      class must not zero the whole epoch); rounds then cap at R =
      min over the SURVIVING classes of their class-batch count, so
      every round has all C surviving classes available;
    - within a round, classes shuffle by
      md5(label:round:seed:epoch:pk) (row_number over the C-row
      per-round window — classes are a bounded domain, never corpus-
      sized) and the first (C div p)·p class-batches group into
      batches of p; the remainder classes sit the round out.

    Scale shape: the sample table only ever moves through
    pack_batches' two-level rank; the round assignment joins back as
    a broadcast of the C·R-row class-batch table — sample rows never
    reshuffle. Returns (batch_id, class_pos, label, slot, id)."""
    if p < 1 or k < 1:
        raise ValueError("p and k must be >= 1")
    # NULL labels are excluded up front: they would count toward the
    # class axis and the rounds cap but never match the final
    # null-rejecting equi-join — silently under-filling every batch
    packed = pack_batches(
        df.filter(F.col(label_col).isNotNull()).select(
            F.col(label_col), F.col(id_col)
        ),
        bucket_cols=(label_col,),
        id_col=id_col,
        batch_size=k,
        seed=seed,
        epoch=epoch,
        drop_partial=True,
    ).persist()  # two consumers: the class-batch stats collect and the
    # returned join (leak-until-evict, the _prims.global_rank policy —
    # the caller's action reads from cache)
    cb = packed.groupBy(label_col, "batch_idx").agg(
        F.count(F.lit(1)).alias("__ck")
    )
    stats = cb.groupBy(label_col).agg(
        (F.max("batch_idx") + 1).alias("__nb")
    ).collect()
    if not stats:
        spark = df.sparkSession
        lt = df.schema[label_col].dataType.simpleString()
        it = df.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [],
            schema=f"batch_id bigint, class_pos int, {label_col} {lt},"
            f" slot int, {id_col} {it}",
        )
    c_classes = len(stats)
    if c_classes < p:
        raise ValueError(
            f"p={p} exceeds the {c_classes} classes with >= k samples"
        )
    rounds = min(int(r["__nb"]) for r in stats)
    grp = (c_classes // int(p)) * int(p)
    rkey = md5_hex(
        F.col(label_col), F.col("batch_idx"), int(seed), int(epoch), "pk",
        sep=":",
    )
    wr = Window.partitionBy("batch_idx").orderBy(rkey, F.col(label_col))
    sel = (
        cb.filter(F.col("batch_idx") < rounds)
        .withColumn("__rn", F.row_number().over(wr) - 1)
        .filter(F.col("__rn") < grp)
        .select(
            F.col(label_col),
            "batch_idx",
            (
                F.col("batch_idx") * F.lit(grp // int(p))
                + F.expr(f"__rn div {int(p)}")
            ).cast("long").alias("batch_id"),
            (F.col("__rn") % int(p)).cast("int").alias("class_pos"),
        )
    )
    return packed.join(
        F.broadcast(sel), [label_col, "batch_idx"]
    ).select("batch_id", "class_pos", label_col, "slot", id_col)


def temporal_split(
    df: DataFrame,
    ts_col: str,
    cutoff: str,
    embargo_seconds: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Time-based train/test split with an embargo gap — the temporal
    leakage rule (finance CV / forecast eval): train strictly BEFORE
    ``cutoff - embargo``, test at/after ``cutoff``, and the embargo
    band between them EXCLUDED from both (rows whose influence spans
    the boundary — label lookahead, session spillover — poison either
    side). The as-of joins keep features leak-free; this keeps the
    split itself leak-free. Stateless zero-shuffle projection; rows
    get 'train' / 'test' / 'embargo' labels, filter downstream."""
    if embargo_seconds < 0:
        raise ValueError("embargo_seconds must be >= 0")
    cut = F.lit(cutoff).cast("timestamp")
    tr_edge = F.expr(
        f"CAST('{cutoff}' AS TIMESTAMP)"
        f" - INTERVAL {int(embargo_seconds)} SECOND"
    )
    return df.withColumn(
        split_col,
        F.when(F.col(ts_col) < tr_edge, F.lit("train"))
        .when(F.col(ts_col) >= cut, F.lit("test"))
        .otherwise(F.lit("embargo")),
    )


def group_folds(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    seed: int = 7,
    fold_col: str = "fold",
) -> DataFrame:
    """Leakage-safe k-fold assignment by GROUP — the cross-validation
    complement of ``group_split`` (and the duplicate-aware form of
    ``classify.assign_folds``, which hashes row ids): every row whose
    ``group_col`` matches lands in the SAME fold, so composing with a
    near-duplicate component label (phash_dedup / semdedup rep ids)
    guarantees no duplicate pair ever straddles a train/validation
    boundary during CV. fold = ``_prims.md5_int(md5(group:seed))`` mod
    k (its docstring holds the SQL parity argument); zero-shuffle
    stateless projection."""
    if k < 1:
        raise ValueError("k must be >= 1")
    h = md5_int(md5_hex(F.col(group_col), f":{int(seed)}"))
    return df.withColumn(fold_col, F.pmod(h, F.lit(int(k))).cast("int"))


def rendezvous_assign(
    df: DataFrame,
    id_col: str,
    workers: int,
    seed: int = 0,
) -> DataFrame:
    """Rendezvous (highest-random-weight) worker assignment — the
    elastic alternative to ``plan_loader_shards``' mod-world routing:
    worker = argmax over w of md5(id:w:seed). When the worker count
    changes W → W', only ~|W-W'|/max(W,W') of keys move (mod-world
    reshuffles almost everything) — the property that keeps
    per-worker caches warm across elastic resizes.

    Row-local and shuffle-free: the W candidate hashes evaluate per
    row as one array_max over (hash, worker) structs (lexicographic
    struct max = highest hash, tie → highest worker — the order the
    oracle replays with ORDER BY h DESC, w DESC). W is a config-sized
    constant; the expression stays in whole-stage codegen."""
    if workers < 1:
        raise ValueError("workers must be >= 1")
    cand = F.array(
        *[
            F.struct(
                md5_hex(F.col(id_col), w, int(seed), sep=":").alias("h"),
                F.lit(w).alias("w"),
            )
            for w in range(int(workers))
        ]
    )
    return df.withColumn("worker", F.array_max(cand)["w"])


def collate_manifest(
    packed: DataFrame,
    bucket_cols: "tuple[str, ...]" = ("bucket_w", "bucket_h"),
    id_col: str = "image_id",
    size_col: str | None = None,
) -> DataFrame:
    """Batch manifest — the loader's index artifact: one row per
    (bucket, batch_idx) from a ``pack_batches`` output, with the
    member ids in slot order, the batch size, and (optionally) the
    summed ``size_col`` so a reader can budget I/O per batch. One
    hash aggregation on the narrow (buckets, batch_idx) key;
    ``array_sort`` over (slot, id) structs keeps the order exact
    without a window."""
    aggs = [
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("slot", F.col(id_col).alias("m")))
            ),
            lambda s: s["m"],
        ).alias("member_ids"),
        F.count(F.lit(1)).cast("int").alias("n_members"),
    ]
    if size_col is not None:
        aggs.append(F.sum(size_col).alias(f"total_{size_col}"))
    return packed.groupBy(*bucket_cols, "batch_idx").agg(*aggs)


def plan_loader_shards(
    manifest: DataFrame,
    world_size: int,
    bucket_cols: "tuple[str, ...]" = ("bucket_w", "bucket_h"),
    batch_col: str = "batch_idx",
    seed: int = 0,
) -> DataFrame:
    """Distributed-loader shard assignment — which data-parallel rank
    reads which batch: ``rank = md5(bucket:batch:seed) mod world_size``,
    a stateless pure projection (no window, no shuffle — the manifest
    can be petabyte-wide and this is still metadata-speed), balanced in
    expectation across ranks, reshuffle-stable and engine-independent
    (the hash_sample / epoch_shuffle key discipline; ``_prims.md5_int``
    holds the SQL parity argument). Every rank derives its own batch
    list independently — no coordinator."""
    if world_size < 1:
        raise ValueError(f"world_size must be >= 1, got {world_size}")
    key = md5_hex(
        *[F.col(c) for c in bucket_cols], F.col(batch_col), int(seed),
        sep=":",
    )
    rank = (md5_int(key) % F.lit(int(world_size))).cast("int")
    return manifest.withColumn("rank", rank)


def plan_shard_packing(
    df: DataFrame,
    size_col: str = "n_chars",
    id_col: str = "doc_id",
    target_size: int = 1 << 30,
    shuffle: bool = True,
    seed: int = 0,
) -> DataFrame:
    """Size-budgeted shard planning — which contiguous run of samples
    lands in which ~target-sized output shard (the webdataset / FFCV
    "aim for ~1 GB per tar" step): rows are laid out in a deterministic
    order (``md5(id:seed)`` when ``shuffle`` — decorrelates shard
    boundaries from ingest order so every shard is an unbiased corpus
    sample — else plain id order) and ``shard_id = start_offset //
    target_size`` over the exclusive prefix sum of ``size_col``.
    Greedy contiguous packing: a shard overshoots the target by at
    most one sample, and every engine replaying the same cumsum gets
    identical boundaries.

    The prefix sum is ``_prims.global_rank``, never a global window.
    Returns (id, size, start_offset, shard_id)."""
    if target_size < 1:
        raise ValueError(f"target_size must be >= 1, got {target_size}")
    order_key = (
        md5_hex(F.col(id_col), int(seed), sep=":")
        if shuffle
        else F.col(id_col).cast("string")
    )
    t = global_rank(
        df.select(
            F.col(id_col),
            F.col(size_col).cast("long").alias("size"),
            order_key.alias("__k"),
        ),
        ["__k", id_col],
        sums=["size"],
    )
    start = F.col("__cum_size") - F.col("size")
    return t.select(
        F.col(id_col),
        "size",
        start.alias("start_offset"),
        F.floor(start / F.lit(int(target_size))).cast("long").alias("shard_id"),
    )


def temperature_resample(
    df: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Temperature-based corpus rebalancing at alpha = 1/2 (the
    multilingual sampling rule of mBERT/XLM-R/mT5: effective class
    size ~ n_c^alpha, normalized so the head class is unchanged):
    target t_c = floor-isqrt(n_max * n_c) — the geometric mean of the
    class size and the head size, n_c <= t_c <= n_max. Each class is
    upsampled to EXACTLY t_c rows: every row repeats t_c // n_c times
    and the first t_c %% n_c rows of the class's deterministic md5
    permutation get one extra copy — no RNG, no expectation-only
    targets, reproducible across engines and cluster sizes.

    Exactness: the isqrt is seeded by float sqrt (IEEE-correctly
    rounded, so within +/-1) and pinned by two integer square compares
    — the repeat_factor_sampling discipline; no float decides a
    boundary. Scale: a K-row class table (window over K rows,
    broadcast back) + ``_prims.global_rank`` on (label, md5) so one
    dominant class never lands on one reducer.
    Returns (id, label, target, repeats, copy_idx)."""
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("__n"))
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    x = F.col("__nmax") * F.col("__n")
    s = F.floor(F.sqrt(x.cast("double"))).cast("long")
    tgt = (
        F.when((s + 1) * (s + 1) <= x, s + 1)
        .when(s * s > x, s - 1)
        .otherwise(s)
    )
    targets = (
        counts.withColumn("__nmax", F.max("__n").over(wt))
        .select(
            label_col, "__n",
            tgt.alias("__t"),
        )
        .select(
            label_col, F.col("__t").alias("target"),
            # integer division (div), never double-divide-then-cast:
            # a 2^53-scale target would round before the cast floors
            F.expr("__t div __n").alias("__full"),
            (F.col("__t") % F.col("__n")).alias("__rem"),
        )
    )
    h = md5_hex(F.col(id_col), f":{seed}")
    ranked = global_rank(
        df.select(F.col(id_col), F.col(label_col)).withColumn("__h", h),
        ["__h", id_col],
        groups=[label_col],
    )
    # an inner join: a NULL label has no target row and is dropped
    return (
        ranked.join(F.broadcast(targets), label_col)
        .withColumn(
            "repeats",
            (F.col("__full")
             + F.when(F.col("__rn") <= F.col("__rem"), 1).otherwise(0))
            .cast("int"),
        )
        .select(
            id_col, label_col, "target", "repeats",
            F.explode(
                F.sequence(F.lit(1), F.col("repeats"))
            ).alias("copy_idx"),
        )
        .withColumn("copy_idx", F.col("copy_idx").cast("int"))
    )


def repeat_factor_sampling(
    df: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    threshold_num: int = 3,
    threshold_den: int = 10,
) -> DataFrame:
    """Repeat-factor sampling (the LVIS class-balanced oversampling
    rule, Gupta et al. 2019): a sample whose class frequency
    f_c = n_c / N falls below the threshold t = num/den repeats
    ceil(sqrt(t / f_c)) times per epoch, head classes stay at 1.

    Exactness: repeats = max(1, ceil-sqrt((num*N) / (den*n_c))) where
    the ceil-sqrt is computed EXACTLY — float sqrt seeds a candidate s
    (within 1 ulp, so within +/-1 of truth) and two exact integer
    square comparisons pin it: s-1 if (s-1)^2*den' >= num', s+1 if
    s^2*den' < num', else s. No float ever decides a boundary, so any
    SQL engine replaying the same rule lands on identical repeats.
    (Fractional stochastic rounding is deliberately dropped — ceil is
    the common deterministic simplification; document, don't dither.)

    Scale: one K-row class-count aggregate (window-summed total over K
    rows, broadcast back), then explode(sequence(1, repeats)) — rows
    amplify at most ceil-sqrt(t*N/min_class) per sample, no shuffle
    beyond the count agg. Returns (id, label, repeats, copy_idx)."""
    if threshold_num < 0 or threshold_den < 1:
        raise ValueError(
            f"bad threshold {threshold_num}/{threshold_den}"
        )
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("__n"))
    # corpus total via an unpartitioned window over the K-row class
    # table (benign: K classes, never data; see _prims.global_rank).
    # NB the total column must NOT be a case-variant of "__n" — Spark
    # resolves column names case-insensitively, so withColumn("__N")
    # silently REPLACES "__n".
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scored = counts.withColumn("__tot", F.sum("__n").over(wt)).select(
        label_col,
        (F.lit(int(threshold_num)) * F.col("__tot")).alias("__num"),
        (F.lit(int(threshold_den)) * F.col("__n")).alias("__den"),
    )
    s = F.ceil(F.sqrt(F.col("__num").cast("double") / F.col("__den")))
    k = (
        F.when((s - 1) * (s - 1) * F.col("__den") >= F.col("__num"), s - 1)
        .when(s * s * F.col("__den") < F.col("__num"), s + 1)
        .otherwise(s)
    )
    repeats = scored.select(
        label_col,
        F.greatest(F.lit(1), k).cast("int").alias("repeats"),
    )
    return (
        df.select(id_col, label_col)
        .join(F.broadcast(repeats), label_col)
        .select(
            id_col,
            label_col,
            "repeats",
            F.explode(F.sequence(F.lit(1), F.col("repeats"))).alias(
                "copy_idx"
            ),
        )
    )


def mix_schedule(
    weights: DataFrame,
    source_col: str = "source",
    weight_col: str = "weight",
) -> DataFrame:
    """Deterministic stride-scheduling interleave of corpus sources —
    the step-level complement of mix_corpus (which decides HOW MUCH of
    each source; this decides WHEN): one cycle of length N = sum of
    integer weights in which source i appears exactly weight_i times,
    paced smoothly (stride scheduling, Waldspurger & Weihl 1995: copy
    j of source i sorts at rational position (2j+1)/(2*w_i), so every
    prefix of the schedule holds each source's share within one step
    of its target — an md5 shuffle only matches ratios in
    expectation). The rational sort key is exact: cross-multiplied to
    the integer (2j+1) * (LCM / w_i) with LCM the least common
    multiple of the weights (driver-checked to fit int64; ANY common
    positive multiple yields the same exact order, which is why the
    SQL oracle may scale by the product instead — exact in a double
    up to 2^53, far above the fixture scales), ties to the smaller
    source.

    ``weights`` is a K-row (source, integer weight) table — model-
    sized by definition; the cycle (N rows) is config-sized, not
    corpus-sized, so the global sort is a K-row collect + one explode.
    Returns (step 1..N, source, copy_idx)."""
    rows = sorted(
        (str(r[source_col]), int(r[weight_col]))
        for r in collect_bounded(weights, "mix_schedule")
    )
    if not rows:
        raise ValueError("weights is empty")
    if any(w < 1 for _, w in rows):
        raise ValueError("weights must be positive integers")
    import math

    scale = math.lcm(*[w for _, w in rows])
    # the max key is (2*(w_i-1)+1) * (scale // w_i) < 2*scale; lcm
    # keeps keys orders of magnitude below the equivalent product-of-
    # weights scaling (same EXACT ordering — both are positive
    # integer multiples of the rational (2j+1)/w_i)
    if 2 * scale >= (1 << 62):
        raise ValueError("weight lcm too large for the exact int64 "
                         "sort key; reduce weights to lowest terms")
    spark = weights.sparkSession
    base = spark.createDataFrame(
        [(s, w, scale // w) for s, w in rows],
        schema="source string, weight int, stride long",
    )
    exploded = base.select(
        "source",
        F.explode(F.sequence(F.lit(0), F.col("weight") - 1))
        .alias("copy_idx"),
        "stride",
    ).withColumn(
        "__key", (2 * F.col("copy_idx") + 1) * F.col("stride")
    ).drop("stride")
    w = Window.orderBy(F.col("__key").asc(), F.col("source").asc())
    # the unpartitioned window runs over N = sum(weights) rows — a
    # CONFIG-sized table (the pack_sequences P-row policy), never data
    return exploded.withColumn(
        "step", F.row_number().over(w).cast("long")
    ).select("step", "source", "copy_idx").orderBy("step")


def wordpiece_apply(
    df: DataFrame,
    vocab: "list[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
    unk: str = "[UNK]",
) -> DataFrame:
    """Greedy longest-match-first WordPiece tokenization (the BERT
    apply rule, Devlin et al. 2018): per whitespace word, repeatedly
    take the LONGEST vocab piece matching a prefix of the remainder —
    ``##``-prefixed pieces continue a word — and any failure turns the
    WHOLE word into ``unk`` (never a partial emission). Completes the
    tokenizer family next to the BPE train/apply/id surfaces.

    Scale shape (round 6): ONE ``arrow_stage`` pass — documents cross
    the Python boundary whole (one row per doc instead of one per
    token), the words are ``py_nonempty_tokens`` (split parity with
    every oracle), the max-munch loop runs once per UNIQUE word via a
    per-task memo (Zipf corpora re-encode almost nothing), and each
    document's pieces come back as one array that ``inline`` expands.
    No shuffle. Returns relational rows (id, wpos, pos, piece)."""
    if not vocab:
        raise ValueError("vocab must be non-empty")
    if any(p.startswith("##") and len(p) == 2 for p in vocab):
        raise ValueError("empty continuation piece")
    vset = frozenset(vocab)
    max_len = max(
        len(p) - 2 if p.startswith("##") else len(p) for p in vocab
    )
    piece_t = T.StructType(
        [
            T.StructField("wpos", T.IntegerType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("piece", T.StringType()),
        ]
    )
    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("__wp", T.ArrayType(piece_t))]
    )

    def encode(word: str) -> "list[str]":
        pieces = []
        rest = word
        first = True
        while rest:
            hit = None
            for ln in range(min(len(rest), max_len), 0, -1):
                cand = rest[:ln]
                key = cand if first else "##" + cand
                if key in vset:
                    hit = (key, ln)
                    break
            if hit is None:
                return [unk]
            pieces.append(hit[0])
            rest = rest[hit[1]:]
            first = False
        return pieces

    memo: dict = {}

    def run(t):
        rows = []
        for wpos, w in enumerate(py_nonempty_tokens(t) or ()):
            got = memo.get(w)
            if got is None:
                got = memo[w] = encode(w)
            rows.extend((wpos, pos, piece) for pos, piece in enumerate(got))
        return {"__wp": rows}

    return arrow_stage(
        spread(df.select(id_col, text_col)), [id_col], [text_col], out_schema, run
    ).select(id_col, F.inline("__wp"))


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    lo: tuple = (5, 100),
    hi: tuple = (95, 100),
    grain: int = 100,
) -> DataFrame:
    """Per-group winsorization at exact discrete quantiles — the robust
    outlier-clip a feature pipeline applies before normalization (tail
    sensor glitches / pathological document lengths must not stretch
    the scale). Quantile rule is integer-exact: with n group rows and
    q = num/den, the clip bound is the value at 1-based rank
    ``(n-1)*num div den + 1`` under (value, id) order — the disc
    quantile, no interpolation, so both engines agree bit-for-bit.
    Values land on the micro-integer grid floor(v*grain + 1/2).

    Scale path: one row_number window per group partition (the
    per-group sort; a single dominant group calls for
    _prims.global_rank — documented trade), a K-row-per-group
    bound table joined back broadcast, and the clip itself row-local.
    Returns (group, id, value_u, lo_u, hi_u, clipped_u).
    """
    lo_n, lo_d = int(lo[0]), int(lo[1])
    hi_n, hi_d = int(hi[0]), int(hi[1])
    vu = F.floor(F.col(value_col) * grain + F.lit(0.5)).cast("long")
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__id"),
        vu.alias("__v"),
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    counts = base.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    w = Window.partitionBy("__g").orderBy(
        F.col("__v").asc(), F.col("__id").asc()
    )
    ranked = base.withColumn("__r", F.row_number().over(w)).join(
        F.broadcast(counts), "__g"
    )
    r_lo = F.expr(f"(__n - 1) * {lo_n} div {lo_d}") + F.lit(1)
    r_hi = F.expr(f"(__n - 1) * {hi_n} div {hi_d}") + F.lit(1)
    lo_tab = ranked.filter(F.col("__r") == r_lo).select(
        "__g", F.col("__v").alias("lo_u")
    )
    hi_tab = ranked.filter(F.col("__r") == r_hi).select(
        "__g", F.col("__v").alias("hi_u")
    )
    out = (
        base.join(F.broadcast(lo_tab), "__g")
        .join(F.broadcast(hi_tab), "__g")
        .select(
            F.col("__g").alias(group_col),
            F.col("__id").alias(id_col),
            F.col("__v").alias("value_u"),
            "lo_u",
            "hi_u",
            F.least(F.greatest(F.col("__v"), F.col("lo_u")), F.col("hi_u"))
            .alias("clipped_u"),
        )
    )
    return out


def quantile_transform(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    grain: int = 1_000_000,
) -> DataFrame:
    """Per-group rank normalization (the quantile transform a feature
    pipeline applies to heavy-tailed signals before a scale-sensitive
    model): value -> exact empirical percentile on the integer grain,

        pct_u = (rank - 1) * grain div (n - 1)

    with rank = row_number under (value, id) order; a single-row group
    centers at grain div 2. Integer-exact end to end — no float rank
    arithmetic to drift between engines. One row_number window per
    group + a broadcast count join (the winsorize scale shape).
    Returns (group, id, value_u, rank, n, pct_u)."""
    vu = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__id"),
        vu.alias("__v"),
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    counts = base.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    w = Window.partitionBy("__g").orderBy(
        F.col("__v").asc(), F.col("__id").asc()
    )
    ranked = base.withColumn("__r", F.row_number().over(w)).join(
        F.broadcast(counts), "__g"
    )
    # keep the division integral: expr div on the pre-multiplied rank.
    # row_number is INT — widen BEFORE the multiply (ANSI mode throws
    # on int32 overflow; rank 2148+ would overflow at grain 1e6)
    pct_u = F.when(
        F.col("__n") == 1, F.lit(int(grain) // 2)
    ).otherwise(
        F.expr(
            f"(CAST(__r AS BIGINT) - 1) * {int(grain)} div (__n - 1)"
        )
    )
    return ranked.select(
        F.col("__g").alias(group_col),
        F.col("__id").alias(id_col),
        F.col("__v").alias("value_u"),
        F.col("__r").cast("int").alias("rank"),
        F.col("__n").alias("n"),
        pct_u.cast("long").alias("pct_u"),
    )


def robust_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    k: int = 3,
) -> DataFrame:
    """Per-group robust outlier flags via the median/MAD rule — the
    scale-insensitive anomaly gate (mean/std breaks under the very
    outliers it hunts). Entirely integer-exact: on the micro-cent grid,
    med2 = sum of the two central ranks (2x the exact median, so even
    counts never divide), dev = |2*v - med2| (2x the absolute
    deviation), mad2 = the same two-central-rank sum over dev (4x the
    MAD), and the flag cross-multiplies the classic
    |x - med| > k * 1.4826 * MAD as

        dev * 20000 > k * 14826 * mad2

    — no division anywhere, and a constant group (MAD = 0) flags
    exactly the rows that deviate at all. Two rank windows per group
    (value pass + deviation pass) on the same partitioning, bound
    tables broadcast back. Returns (group, id, value_u, med2, mad2,
    dev, is_outlier)."""
    vu = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__id"),
        vu.alias("__v"),
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    counts = base.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))

    def _central_sum(t: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("__g").orderBy(
            F.col(col).asc(), F.col("__id").asc()
        )
        ranked = t.withColumn("__r", F.row_number().over(w)).join(
            F.broadcast(counts), "__g"
        )
        r1 = F.expr("(__n + 1) div 2")
        r2 = F.expr("(__n + 2) div 2")
        picked = ranked.filter(
            (F.col("__r") == r1) | (F.col("__r") == r2)
        )
        # odd n: r1 == r2 picks ONE row — double it to keep the 2x scale
        return picked.groupBy("__g").agg(
            F.when(
                F.count(F.lit(1)) == 1, F.sum(col) * 2
            ).otherwise(F.sum(col)).alias(out)
        )
    med = _central_sum(base, "__v", "med2")
    devt = base.join(F.broadcast(med), "__g").withColumn(
        "dev", F.abs(F.col("__v") * 2 - F.col("med2"))
    )
    mad = _central_sum(devt.select("__g", "__id", "dev"), "dev", "mad2")
    out = devt.join(F.broadcast(mad), "__g")
    flag = (
        F.col("dev") * 20000 > F.lit(int(k) * 14826) * F.col("mad2")
    ).cast("int")
    return out.select(
        F.col("__g").alias(group_col),
        F.col("__id").alias(id_col),
        F.col("__v").alias("value_u"),
        "med2",
        "mad2",
        "dev",
        flag.alias("is_outlier"),
    )


def rolling_origin_folds(
    df: DataFrame,
    ts_col: str = "ts",
    id_col: str = "event_id",
    n_folds: int = 4,
) -> DataFrame:
    """Rolling-origin (forward-chaining) CV fold assignment for time
    series: fold f trains on folds < f and validates on fold f, so no
    fold ever sees its future. Boundaries are the EXACT disc quantiles
    of the epoch-second axis at i/n_folds (exact_order_stats — the
    two-level rank, never a global sort; n_folds a power of two keeps
    p*(n-1) exact in binary so the rank replays bit-for-bit in SQL).
    Rows equal to a boundary second fall in the LOWER fold (strict >
    compare on the value axis — deterministic under ties).

    Returns (id, t, fold). The (n_folds-1)-row edge table is the only
    driver round-trip."""
    te = F.col(ts_col).cast("timestamp").cast("long")
    base = df.select(F.col(id_col), te.alias("__t")).filter(
        F.col("__t").isNotNull()
    )
    ps = tuple(i / n_folds for i in range(1, n_folds))
    edges = exact_order_stats(base, "__t", ps=ps, id_col=id_col).collect()
    evals = sorted(int(r["value"]) for r in edges)
    fold = F.lit(0)
    for e in evals:
        fold = fold + (F.col("__t") > F.lit(e)).cast("int")
    return base.select(
        id_col, F.col("__t").alias("t"), fold.cast("int").alias("fold")
    )


def learning_curve_plan(
    df: DataFrame,
    rates: "tuple[float, ...]" = (0.1, 0.25, 0.5, 1.0),
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Nested learning-curve subsets from one hash draw: the scaling-law
    protocol needs subset(10%) ⊂ subset(25%) ⊂ subset(50%) ⊂ full, or
    the curve confounds data growth with data replacement. hash_sample
    thresholds nest BY CONSTRUCTION (prefix < thr is monotone in thr),
    so one md5 per row yields every subset: ``bucket`` is the index of
    the smallest rate that contains the row (rows in bucket b belong
    to subsets rates[b:]). Pure row-local JVM expression — no shuffle,
    reproducible across runs/engines/partitionings (the hash_sample
    contract). Returns df + (bucket int, min_rate double)."""
    rs = list(rates)
    if sorted(rs) != rs or len(set(rs)) != len(rs):
        raise ValueError("rates must be strictly increasing")
    # the 9-hex-threshold class (group_split's round-5 defect): a rate
    # >= 1.0 anywhere but LAST would format to 9 hex chars and break
    # the fixed-width lexicographic compare — nesting silently dies
    if any(not 0.0 < r <= 1.0 for r in rs):
        raise ValueError("rates must be in (0, 1]")
    if any(r >= 1.0 for r in rs[:-1]):
        raise ValueError("only the last rate may be 1.0")
    if rs[-1] < 1.0:
        rs = rs + [1.0]
    h = F.substring(md5_hex(F.col(key_col), salt), 1, 8)
    bucket = F.lit(len(rs) - 1)
    for i in range(len(rs) - 2, -1, -1):
        thr = format(int(rs[i] * 16**8), "08x")
        bucket = F.when(h < F.lit(thr), F.lit(i)).otherwise(bucket)
    mr = F.lit(float(rs[-1]))
    for i in range(len(rs) - 2, -1, -1):
        thr = format(int(rs[i] * 16**8), "08x")
        mr = F.when(h < F.lit(thr), F.lit(float(rs[i]))).otherwise(mr)
    return df.withColumn("bucket", bucket.cast("int")).withColumn(
        "min_rate", mr
    )


def prune_vocab(
    counts: DataFrame,
    min_count: int = 5,
    token_col: str = "token",
    count_col: str = "__cnt",
) -> DataFrame:
    """Vocabulary finalization: drop tokens below ``min_count`` and
    assign DENSE contiguous ids by (count desc, token asc) — the stable
    id remap a tokenizer ships after training (embedding tables index
    by these, so the order must be deterministic and gap-free).
    The single unpartitioned rank window runs over the vocab-bounded
    counts table (corpus-size-independent — the K-row model-table
    precedent), never over corpus rows. Returns (token, count,
    token_id) with token_id 0-based."""
    kept = counts.filter(F.col(count_col) >= int(min_count))
    w = Window.orderBy(F.col(count_col).desc(), F.col(token_col).asc())
    return kept.select(
        F.col(token_col).alias("token"),
        F.col(count_col).cast("long").alias("count"),
        (F.row_number().over(w) - 1).cast("int").alias("token_id"),
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: "tuple[str, ...]",
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple — the
    re-identification risk gate a dataset release runs: any
    equivalence class smaller than ``k`` can single out a person when
    joined with outside data. ONE hash aggregate on the quasi tuple
    (map-side combine carries (tuple, count) — rows never shuffle),
    then per-class counts and flags. NULL quasi values form their own
    class (NULL-joins-NULL is how linkage attacks treat them too).
    Returns one row per equivalence class: (quasi..., n, at_risk)."""
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    counts = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.withColumn(
        "at_risk", (F.col("n") < int(k)).cast("int")
    )


def validate_expectations(
    df: DataFrame,
    rules: "list[tuple]",
) -> DataFrame:
    """Data-contract validation (the expectations gate a pipeline runs
    before publishing a snapshot). ``rules`` is a literal list of
    (name, kind, column, arg) with kinds:

      - ``not_null``: column must not be NULL,
      - ``min`` / ``max``: numeric bound (violation when outside),
      - ``regex``: string must fully match ``arg``,
      - ``in_set``: value must be one of ``arg`` (a list).

    ONE aggregation pass computes every rule's violation count — the
    rules compile to when/sum expressions inside the same scan, so a
    50-rule contract costs one corpus read, not 50. Returns one row
    per rule: (rule, kind, column, n_rows, n_violations, passed)."""
    names = [r[0] for r in rules]
    if len(set(names)) != len(names):
        raise ValueError("duplicate rule names (each needs a unique name)")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, kind, col, arg in rules:
        c = F.col(col)
        if kind == "not_null":
            bad = c.isNull()
        elif kind == "min":
            bad = c.isNotNull() & (c < F.lit(arg))
        elif kind == "max":
            bad = c.isNotNull() & (c > F.lit(arg))
        elif kind == "regex":
            bad = c.isNotNull() & ~c.rlike(f"^(?:{arg})$")
        elif kind == "in_set":
            bad = c.isNotNull() & ~c.isin(list(arg))
        else:
            raise ValueError(f"unknown expectation kind: {kind}")
        aggs.append(
            F.sum(F.when(bad, 1).otherwise(0)).alias(f"__v_{name}")
        )
    row = df.agg(*aggs).first()
    n = int(row["__n"])
    out = [
        (
            name,
            kind,
            col,
            n,
            int(row[f"__v_{name}"]),
            int(row[f"__v_{name}"]) == 0,
        )
        for name, kind, col, arg in rules
    ]
    return df.sparkSession.createDataFrame(
        out,
        "rule string, kind string, column string, n_rows bigint,"
        " n_violations bigint, passed boolean",
    )
