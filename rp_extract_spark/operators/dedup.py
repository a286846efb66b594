"""Deduplication operators for large-scale training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle → signature → banded
bucket-join), SimHash, and n-gram Jaccard verification. The reference's
only dedup is an id-level duplicate check (rp_feature_io.py:274-284);
these generalize it to content-level dedup as required for web-scale
corpus curation.

Scale notes: signatures are computed in one Arrow-batched pandas UDF
pass (vectorized numpy per batch); candidate generation is a single
explode + shuffle on (band, bucket); representative election is the
classic min-id propagation over the verified edge set, replayed on the
driver while the edge set is small (propagate_min_ids). Verified
MinHash dedup below the same bound does candidates, Jaccard and
components on the driver after one collect of the banded signatures.
"""

from __future__ import annotations

import logging
import re
from collections.abc import Iterator, Sequence
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._prims import arrow_stage, md5_hex, md5_int, spread
from .text import py_tokens, tokens_col

logger = logging.getLogger(__name__)

# Mersenne prime field 2^61-1 for universal hashing
_MERSENNE = (1 << 61) - 1

# propagate_min_ids: below this edge count the edges are collected once
# and the rounds replay in numpy on the driver (each distributed round
# is ~14 small jobs of fixed latency); at or above it they stay on the
# cluster as two persisted copies pre-partitioned by id and by bucket.
# Verified minhash_lsh_dedup finishes on the driver below this many
# banded rows (and capped candidate pairs).
_BIG_EDGE_THRESHOLD = 2_000_000
# ... and below this many bytes of candidate-document text. The driver's
# Python gram sets take ~24 bytes per text byte (measured at 100-1000
# word documents), so at most ~1.6 GB; 4 cores, 4g driver, 125k
# 300-word documents: driver path 84 s with 2.2 GB Python + 2.9 GB JVM
# tree at 87 MB of candidate text, Spark plan 763 s with 5.0 GB JVM tree
_DRIVER_TEXT_BYTES = 64 << 20


def exact_dedup(df: DataFrame, cols: Sequence[str], id_col: str) -> DataFrame:
    """Keep one deterministic representative (min id) per duplicate
    group defined by exact equality on ``cols``. The group key and join
    key is a 128-bit hash of the columns, not the raw values — shuffling
    32-byte digests instead of long text is the scale-safe shape."""
    fp = md5_hex(F.to_json(F.struct(*[F.col(c) for c in cols])))
    hashed = df.withColumn("__fp", fp)
    reps = hashed.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
    return (
        hashed.join(reps, on="__fp", how="inner")
        .filter(F.col(id_col) == F.col("__rep"))
        .drop("__rep", "__fp")
    )


def cluster_size_report(
    labels: DataFrame,
    rep_col: str = "rep_id",
) -> DataFrame:
    """Duplicate-cluster audit over any component labeling
    (phash_dedup / minhash_dedup / semdedup output): the cluster-size
    histogram that tells you whether dedup found a long tail of pairs
    or a few giant near-dup families — the first thing to read before
    trusting a dedup pass at corpus scale. Two narrow map-side-
    combined aggregations (rows → per-rep sizes → per-size histogram);
    nothing wide ever shuffles. Returns one row per distinct cluster
    size: (size, n_clusters, n_rows, n_dup_rows) where n_dup_rows =
    (size-1)·n_clusters is the removable excess."""
    sizes = labels.groupBy(F.col(rep_col)).agg(
        F.count(F.lit(1)).alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("size").cast("long"))
        .alias("n_rows"),
        (F.count(F.lit(1)) * (F.col("size").cast("long") - 1))
        .alias("n_dup_rows"),
    ).select(
        F.col("size").cast("long").alias("size"),
        "n_clusters",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_dup_rows").cast("long").alias("n_dup_rows"),
    )


def priority_dedup(
    df: DataFrame,
    cols: Sequence[str],
    id_col: str,
    priority_col: str,
) -> DataFrame:
    """Cross-source canonical-copy dedup: among exact duplicates on
    ``cols``, keep the row with the LOWEST ``priority_col`` value
    (tie → lowest id) — the multi-source corpus rule where curated
    sources outrank crawls for the same content. Same scale shape as
    exact_dedup (the 128-bit digest shuffles, never the text); the
    winner per group is ONE ``min(struct(priority, id))`` aggregate —
    lexicographic struct ordering gives the arg-min without a window.
    Priority must be non-NULL (NULL sorts first in Spark and last in
    SQL engines — the kmv NULL rule); raise upstream defaults
    explicitly rather than relying on engine NULL order."""
    fp = md5_hex(F.to_json(F.struct(*[F.col(c) for c in cols])))
    hashed = df.withColumn("__fp", fp)
    reps = hashed.groupBy("__fp").agg(
        F.min(F.struct(F.col(priority_col), F.col(id_col))).alias("__w")
    )
    return (
        hashed.join(reps, on="__fp", how="inner")
        .filter(F.col(id_col) == F.col("__w")[id_col])
        .drop("__w", "__fp")
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the C4/RefinedWeb
    curation rule): every repeated paragraph is removed from all but
    its FIRST occurrence — ordered by (id, position) — and each
    document is reassembled from its surviving paragraphs in original
    order. A document that is an exact later duplicate loses every
    paragraph (empty ``out_col``).

    Scale path: paragraph TEXT never crosses an exchange. The digest
    table (id, pos, md5) shuffles to pick per-digest winners
    (min struct(id, pos)); winners reduce to per-doc kept-position
    lists; ONE join back to the original one-row-per-doc table (on the
    id) re-splits the text locally and selects kept positions with JVM
    array ops. Adds ``out_col``, ``n_paras``, ``n_kept``."""
    paras = F.split(F.col(text_col), _re_escape(sep))
    hashed = df.select(
        F.col(id_col), F.posexplode(paras).alias("pos", "__p")
    ).select(id_col, "pos", md5_hex(F.col("__p")).alias("__d"))
    winners = hashed.groupBy("__d").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p")))
        .alias("w")
    )
    kept = (
        winners.select(F.col("w.i").alias(id_col), F.col("w.p").alias("pos"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("__keep"))
    )
    joined = df.join(kept, id_col, "left")
    keep = F.coalesce(F.col("__keep"), F.array().cast("array<int>"))
    clean = F.concat_ws(sep, F.transform(keep, lambda p: F.get(paras, p)))
    return (
        joined.withColumn(out_col, clean)
        .withColumn("n_paras", F.size(paras))
        .withColumn("n_kept", F.size(keep))
        .drop("__keep")
    )


def _re_escape(sep: str) -> str:
    """Literal separator → the regex F.split expects."""
    import re

    return re.escape(sep)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every word ``k``-gram, then keep the MINIMUM hash
    of each sliding window of ``w`` consecutive gram hashes. Guarantee:
    any shared run of at least ``w + k - 1`` tokens between two
    documents yields at least one shared fingerprint — the classic
    excerpt/quote detector that whole-document fingerprints and
    bucketed near-dup methods miss.

    Entirely JVM-side (md5-prefix gram hash → the driver-oracle
    discipline; HOF sliding minima); returns distinct (id, fp) rows.
    Documents with fewer than ``k`` tokens emit nothing; with fewer
    than ``w`` grams the single minimum of all grams is kept.

    The per-gram md5 stage is CPU-bound — spread across cores first
    (one small parquet file = one split = one task otherwise; the
    ``_prims.spread`` lesson), and the gram-hash array is materialized
    in its own projection so the window-minima expressions reference
    it instead of re-deriving the md5 array per use."""
    from .curation import ngram_col

    grams = ngram_col(F.col(text_col), k)
    h_expr = F.transform(grams, lambda g: md5_int(md5_hex(g)))
    hashed = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), h_expr.alias("__h")
    )
    h = F.col("__h")
    n = F.size(h)
    mins = (
        F.when(n >= w,
               F.transform(F.sequence(F.lit(0), n - w),
                           lambda i: F.array_min(F.slice(h, i + 1, w))))
        .when(n > 0, F.array(F.array_min(h)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return (
        hashed.select(
            F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp")
        )
        .distinct()
    )


def winnow_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """Excerpt-overlap candidate pairs via winnowing: documents sharing
    at least ``min_shared`` fingerprints. Scale hygiene: fingerprints
    appearing in more than ``max_df`` documents (boilerplate/stop
    phrases — the skewed join keys) are dropped BEFORE the self-join,
    the hot-bucket-cap discipline; the join then carries only
    (fp, id) pairs with bounded per-key fan-out ≤ max_df²."""
    # The fingerprint stage (per-gram md5 HOFs over every document) is
    # the dominant cost — it must run exactly once. A count window over
    # fp applies the df cap with a SINGLE consumer of the fingerprints
    # (an agg+join-back would be two, racing the cache); the capped
    # table then persists because the self-join reads it twice.
    from pyspark.sql.window import Window

    wfp = Window.partitionBy("fp")
    kept = (
        winnow_fingerprints(df, text_col, id_col, k, w)
        .withColumn("__df", F.count(F.lit(1)).over(wfp))
        .filter(F.col("__df") <= max_df)
        .drop("__df")
        # deliberate leak-until-evict: the cache feeds BOTH sides of
        # the returned lazy self-join, so it cannot be unpersisted
        # here; blocks age out under executor LRU pressure (the same
        # policy as the persist sites in curation/text/similarity)
        .persist()
    )
    a = kept.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = kept.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") > F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


@lru_cache(maxsize=1 << 18)
def _token_hash(tok: str) -> int:
    """Memoized 64-bit token hash (corpora have Zipfian vocab — the
    cache hit rate makes shingling ~hash-free on hot tokens)."""
    import hashlib

    return int.from_bytes(hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big")


def _hash_token_array(tokens: Sequence[str]) -> np.ndarray:
    """Vectorized batch token hashing: factorize the token list
    (Zipfian corpora collapse to a small unique set), blake2b only the
    uniques, gather back by code. Same hash values as per-token
    ``_token_hash`` — strictly a throughput optimization (the last
    per-item Python in the minhash/simhash hot kernel)."""
    if len(tokens) == 0:
        return np.empty(0, dtype=np.uint64)
    codes, uniques = pd.factorize(
        tokens if isinstance(tokens, np.ndarray) else np.asarray(tokens, dtype=object)
    )
    uh = np.fromiter(
        (_token_hash(t) for t in uniques), dtype=np.uint64, count=len(uniques)
    )
    return uh[codes]


def _hash_token_array_md5(tokens: Sequence[str], seed: int) -> np.ndarray:
    """md5-prefix token hash: first 8 bytes (big-endian) of
    md5(f"{tok}#{seed}") — slower than blake2b but exactly
    reproducible in SQL engines (DuckDB:
    CAST('0x' || substr(md5(tok || '#seed'), 1, 16) AS UBIGINT)),
    which makes the whole simhash signature independently
    recomputable by the driver's oracle. Memoized via factorize like
    ``_hash_token_array``."""
    import hashlib

    if len(tokens) == 0:
        return np.empty(0, dtype=np.uint64)
    codes, uniques = pd.factorize(
        tokens if isinstance(tokens, np.ndarray) else np.asarray(tokens, dtype=object)
    )
    uh = np.fromiter(
        (
            int.from_bytes(hashlib.md5(f"{t}#{seed}".encode()).digest()[:8], "big")
            for t in uniques
        ),
        dtype=np.uint64,
        count=len(uniques),
    )
    return uh[codes]


def _shingle_hashes(text: str, k: int, mode: str = "word") -> np.ndarray:
    """Hashes of k-shingles of the lowercased text.

    ``mode='word'`` (default): word k-grams — the standard choice for
    corpus near-dedup (discriminates texts that share vocabulary but
    not phrasing). ``mode='char'``: character k-grams for short/ideo-
    graphic text."""
    if mode == "word":
        toks = text.lower().split()
        if not toks:
            toks = ["_"]
        return _rolling_from_token_hashes(_hash_token_array(toks), k)
    t = " ".join(text.lower().split())
    if len(t) < k:
        t = t.ljust(k, "_")
    b = np.frombuffer(t.encode("utf-8", "ignore"), dtype=np.uint8).astype(np.uint64)
    n = b.size - k + 1
    base = np.uint64(1099511628211)
    powers = base ** np.arange(k, dtype=np.uint64)
    idx = np.arange(n)[:, None] + np.arange(k)[None, :]
    return (b[idx] * powers[::-1][None, :]).sum(axis=1)


def _rolling_from_token_hashes(h: np.ndarray, k: int) -> np.ndarray:
    """Polynomial rolling hash of k-grams over pre-hashed tokens
    (wraps mod 2^64 by uint64 arithmetic)."""
    if h.size < k:
        h = np.pad(h, (0, k - h.size), constant_values=np.uint64(0))
    n = h.size - k + 1
    base = np.uint64(1099511628211)
    powers = base ** np.arange(k, dtype=np.uint64)
    idx = np.arange(n)[:, None] + np.arange(k)[None, :]
    return (h[idx] * powers[::-1][None, :]).sum(axis=1)


def _shingle_hashes_flat(
    texts: Sequence[str], k: int, mode: str = "word",
    token_hash: str = "blake2b", seed: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Batch shingle hashing with NO per-document numpy calls:
    (flat shingle-hash array, shingles-per-document counts).

    Word mode: tokenize every document, hash the batch's tokens in ONE
    factorize+gather pass (the whole batch shares one unique-token
    table — Zipfian corpora collapse it to a fraction of the token
    stream), then compute every document's k-gram rolling hashes in one
    global windowed pass (documents shorter than k are zero-padded to
    k, exactly like the scalar path; windows never cross document
    boundaries). Identical values to ``_shingle_hashes``.

    ``token_hash='md5'`` (word mode only): SQL-recomputable md5-prefix
    token hash (``_hash_token_array_md5`` with ``seed``), the simhash
    oracle-mode convention — lets an external engine rebuild the full
    minhash signature (rolling hash and universal-hash family are both
    closed-form)."""
    if mode != "word":
        if token_hash != "blake2b":
            raise ValueError("token_hash='md5' supports word mode only")
        per_doc = [_shingle_hashes(t or "", k, mode) for t in texts]
        counts = np.fromiter((s.size for s in per_doc), dtype=np.int64,
                             count=len(per_doc))
        return (np.concatenate(per_doc) if per_doc
                else np.empty(0, np.uint64)), counts
    tok_lists = [((t or "").lower().split() or ["_"]) for t in texts]
    counts = np.fromiter(
        (len(x) for x in tok_lists), dtype=np.int64, count=len(tok_lists)
    )
    all_toks = [tok for toks in tok_lists for tok in toks]
    if token_hash == "md5":
        h = _hash_token_array_md5(all_toks, seed)
    else:
        h = _hash_token_array(all_toks)
    # scatter token hashes into zero-padded per-doc segments (>= k each)
    pad_counts = np.maximum(counts, k)
    pb = np.concatenate(([0], np.cumsum(pad_counts)))
    total = int(pb[-1])
    g = np.zeros(total, dtype=np.uint64)
    pos_in_seg = np.arange(total) - np.repeat(pb[:-1], pad_counts)
    g[pos_in_seg < np.repeat(counts, pad_counts)] = h
    # one global window pass: doc i contributes pad_counts[i]-k+1 windows
    nwin = pad_counts - k + 1
    wb = np.concatenate(([0], np.cumsum(nwin)))
    n_windows = int(wb[-1])
    wstarts = (np.repeat(pb[:-1], nwin)
               + np.arange(n_windows) - np.repeat(wb[:-1], nwin))
    base = np.uint64(1099511628211)
    powers = (base ** np.arange(k, dtype=np.uint64))[::-1]
    widx = wstarts[:, None] + np.arange(k)[None, :]
    sh = (g[widx] * powers[None, :]).sum(axis=1)  # wraps mod 2^64
    return sh, nwin


def _shingle_hashes_batch(
    texts: Sequence[str], k: int, mode: str = "word"
) -> list[np.ndarray]:
    """Per-document view over ``_shingle_hashes_flat`` (identical
    values to calling ``_shingle_hashes`` per document)."""
    sh, nwin = _shingle_hashes_flat(texts, k, mode)
    return np.split(sh, np.cumsum(nwin)[:-1])


_HASH_FAMILY_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _hash_family(n_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    key = (n_hashes, seed)
    if key not in _HASH_FAMILY_CACHE:
        rng = np.random.default_rng(seed)
        a = rng.integers(1, _MERSENNE, size=n_hashes, dtype=np.int64).astype(np.uint64)
        b = rng.integers(0, _MERSENNE, size=n_hashes, dtype=np.int64).astype(np.uint64)
        _HASH_FAMILY_CACHE[key] = (a, b)
    return _HASH_FAMILY_CACHE[key]


_P61 = np.uint64(_MERSENNE)


def _modmul61(a: np.ndarray, x: np.ndarray) -> np.ndarray:
    """(a*x) mod p for p = 2^61-1, vectorized and uint64-wrap-safe.

    Both operands < p. Split a = a1*2^32 + a0, x = x1*2^32 + x0
    (a1, x1 < 2^29) and reduce the four partial products with the
    Mersenne identity 2^61 ≡ 1 (mod p):

      a*x = a1*x1*2^64 + (a1*x0 + a0*x1)*2^32 + a0*x0
      2^64 ≡ 8;  m*2^32 = (m >> 29) + (m & (2^29-1)) * 2^32  (mod p)

    Every intermediate stays < 2^63, so nothing wraps."""
    m32 = np.uint64(0xFFFFFFFF)
    a1, a0 = a >> np.uint64(32), a & m32
    x1, x0 = x >> np.uint64(32), x & m32
    hi = a1 * x1                      # < 2^58
    mid = a1 * x0 + a0 * x1           # < 2^62
    lo = a0 * x0                      # < 2^64, exact in uint64
    r = (hi << np.uint64(3)) % _P61   # hi*2^64 ≡ hi*8
    r = r + (mid >> np.uint64(29)) + ((mid & np.uint64((1 << 29) - 1)) << np.uint64(32)) % _P61
    r = r + (lo >> np.uint64(61)) + (lo & _P61)
    return r % _P61


def _min_universal_hash(sh: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """min over shingles of h_i(x) = (a_i*x + b_i) mod p, fully
    vectorized over the (n_hashes, n_shingles) grid in the exact
    Mersenne field (true universal family — collision probability
    1/p holds as documented)."""
    prod = _modmul61(a[:, None], sh[None, :])
    return ((prod + b[:, None]) % _P61).min(axis=1)


def minhash_signature(text: str, n_hashes: int, k: int, seed: int,
                      mode: str = "word") -> np.ndarray:
    """n_hashes-wide MinHash signature from universal hash family
    h_i(x) = (a_i*x + b_i) mod p."""
    sh = np.unique(_shingle_hashes(text, k, mode)) % _MERSENNE
    a, b = _hash_family(n_hashes, seed)
    return _min_universal_hash(sh, a, b)


def minhash_signatures_batch(
    texts: Sequence[str], n_hashes: int, k: int, seed: int,
    mode: str = "word", token_hash: str = "blake2b",
) -> np.ndarray:
    """(n_docs, n_hashes) MinHash signatures with no per-document
    Python or numpy dispatch: one flat shingle pass, one universal-hash
    grid per chunk of documents, per-document mins via
    ``np.minimum.reduceat``. Identical values to ``minhash_signature``
    per row (min over the shingle multiset == min over its set, so the
    per-doc ``np.unique`` is unnecessary here). Chunked along the
    document axis so the (n_hashes, n_shingles) uint64 grid stays
    cache-resident regardless of Arrow batch size."""
    sh, nwin = _shingle_hashes_flat(texts, k, mode, token_hash, seed)
    sh = sh % _MERSENNE
    a, b = _hash_family(n_hashes, seed)
    bounds = np.concatenate(([0], np.cumsum(nwin)))
    out = np.empty((len(texts), n_hashes), dtype=np.uint64)
    # chunk by SHINGLE budget, not doc count: the (n_hashes, ~budget)
    # grid + the ~12 _modmul61 temporaries stay L2-resident (measured
    # 2.3x faster than a 256-doc chunk and strictly better than any
    # global-unique+gather layout, whose random row gathers across a
    # >L3 table thrash); one pathological long document still gets its
    # own chunk rather than inflating a shared one
    budget = 4096
    c0 = 0
    while c0 < len(texts):
        c1 = max(
            c0 + 1,
            int(np.searchsorted(bounds, bounds[c0] + budget, side="right")) - 1,
        )
        c1 = min(c1, len(texts))
        lo, hi = int(bounds[c0]), int(bounds[c1])
        grid = (_modmul61(a[:, None], sh[lo:hi][None, :]) + b[:, None]) % _P61
        offs = (bounds[c0:c1] - lo).astype(np.intp)
        out[c0:c1] = np.minimum.reduceat(grid, offs, axis=1).T
        c0 = c1
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 7,
    mode: str = "word",
    token_hash: str = "blake2b",
) -> DataFrame:
    """Arrow-batched signature computation: (id, signature array)."""
    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("signature", T.ArrayType(T.LongType()), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            sigs = minhash_signatures_batch(
                b[text_col].values, n_hashes, shingle_k, seed, mode, token_hash
            ).astype(np.int64)
            yield pd.DataFrame({id_col: b[id_col], "signature": list(sigs)})

    return spread(df.select(id_col, text_col)).mapInPandas(run, schema)


def propagate_min_ids(
    edges: DataFrame,
    id_col: str = "doc_id",
    bucket_col: str = "bucket",
    max_iters: int = 10,
) -> DataFrame:
    """Connected components over a bipartite (id, bucket) membership
    graph by iterated min-label propagation: every id converges to the
    smallest id in its component (= transitive duplicate group).

    The algorithm: labels are seeded with the one-hop bucket-min (min
    id per bucket, then min over an id's buckets); each round takes
    the bucket-min hop over the current labels, then one pointer
    halving (rep := label(rep)), which contracts chains geometrically.
    Converges in O(log(component diameter)) rounds — duplicate chains
    A~B~C with no shared bucket for (A, C) land in one group, which
    one-hop election cannot do. Stops early when a round changes no
    label and logs each round's change count; after ``max_iters``
    rounds without convergence it logs a WARNING and returns the
    refinement reached (``max_iters=0`` is the one-hop seed alone).

    The edge set is checkpointed once; one aggregate over it counts the
    edges and rejects NULL ids (``ValueError``). Edges in a NULL bucket
    join nothing, so an id seen only in NULL buckets gets no label.

    - Below ``_BIG_EDGE_THRESHOLD`` edges the checkpoint is collected
      once through Arrow (int64 ids stay exact) and the same rounds
      replay in numpy on the driver, with the same per-round log lines
      and the same stopping rule. A distributed round is ~14 small
      jobs whose fixed latency dwarfs the work on such inputs.
    - At or above it the edges stay on the cluster, persisted TWICE
      pre-partitioned by id and by bucket, so per-round joins/aggs on
      the edge side reuse the cached exchange with zero new shuffle
      (InMemoryRelation preserves outputPartitioning; localCheckpoint
      does NOT through the Python API — verified via explain). Labels
      are localCheckpoint'ed per round so iteration i+1's plan does
      not re-execute iteration i, and the convergence count scans the
      checkpointed round result carrying its previous label.

    Returns (id, rep_id) with the input's id type and nullability;
    ``rep_id`` has the same type and is nullable."""
    e = edges.select(F.col(id_col).alias("__id"),
                     F.col(bucket_col).alias("__bk")).localCheckpoint()
    n_edges, n_null = e.agg(
        F.count(F.lit(1)), F.count_if(F.col("__id").isNull())
    ).first()
    if n_null:
        raise ValueError(
            f"propagate_min_ids: {n_null} edge(s) have a NULL {id_col!r}"
        )
    if n_edges < _BIG_EDGE_THRESHOLD:
        return _propagate_on_driver(e, id_col, max_iters)
    e_by_id = e.repartition("__id").persist()
    e_by_bk = e_by_id.repartition("__bk").persist()
    # seed = one hop: min id per bucket, then min over an id's buckets
    # (every id is a member of its own buckets, so seed <= id)
    labels = (
        e_by_bk.join(
            e_by_bk.groupBy("__bk").agg(F.min("__id").alias("__bmin")), "__bk"
        )
        .groupBy("__id")
        .agg(F.min("__bmin").alias("rep_id"))
        .localCheckpoint()
    )

    def round_() -> int:
        nonlocal labels
        bucket_min = (
            e_by_id.join(labels, "__id")
            .groupBy("__bk")
            .agg(F.min("rep_id").alias("__bmin"))
        )
        cand = (
            e_by_bk.join(bucket_min, "__bk")
            .groupBy("__id")
            .agg(F.min("__bmin").alias("__cand"))
        )
        hopped = labels.join(cand, "__id", "left").select(
            "__id",
            F.col("rep_id").alias("__old"),
            F.least("rep_id", F.coalesce("__cand", "rep_id")).alias("rep_id"),
        )
        # pointer halving (rep := label(rep)) — contracts chains
        # geometrically, so a diameter-D component needs O(log D)
        # rounds instead of D (large-star/small-star style)
        new_labels = (
            hopped.join(
                hopped.select(
                    F.col("__id").alias("rep_id"), F.col("rep_id").alias("__rep2")
                ),
                "rep_id",
                "left",
            )
            .select("__id", "__old", F.coalesce("__rep2", "rep_id").alias("rep_id"))
            .localCheckpoint()
        )
        labels = new_labels.drop("__old")
        return new_labels.filter(F.col("rep_id") != F.col("__old")).count()

    try:
        _min_id_rounds(round_, max_iters)
    finally:
        # labels is checkpointed (materialized, lineage-free), so the
        # cached edge copies can be released before returning
        e_by_id.unpersist()
        e_by_bk.unpersist()
    return labels.select(F.col("__id").alias(id_col), "rep_id")


def _min_id_rounds(round_, max_iters: int) -> None:
    """The propagate_min_ids round loop shared by both paths: run
    ``round_`` (returns the labels it changed) until a round changes
    none, logging every round; WARNING when ``max_iters`` rounds did
    not converge (``max_iters=0`` is the documented one-hop mode)."""
    for it in range(max_iters):
        changed = round_()
        logger.info("propagate_min_ids round %d: %d labels changed", it + 1, changed)
        if changed == 0:
            return
    if max_iters > 0:
        logger.warning(
            "propagate_min_ids: not converged after %d rounds (deep dup "
            "chain); labels are a refinement of the true components",
            max_iters,
        )


def _propagate_on_driver(e: DataFrame, id_col: str, max_iters: int) -> DataFrame:
    """propagate_min_ids on a collected (__id, __bk) edge set. Ids and
    buckets become dense codes (ids in sort order, so a min over codes
    is a min over ids) for ``_min_id_labels``."""
    import pyarrow.compute as pc

    t = e.filter(F.col("__bk").isNotNull()).toArrow()
    uniq = _sorted_unique(t.column("__id"))
    idc = pc.index_in(t.column("__id"), value_set=uniq).to_numpy()
    bkc = pc.index_in(t.column("__bk"), value_set=pc.unique(t.column("__bk"))).to_numpy()
    labels = _min_id_labels(idc, bkc, len(uniq), max_iters)
    return _labels_frame(e.sparkSession, e.schema["__id"], id_col, uniq, labels)


def _sorted_unique(ids):
    """The distinct values of an Arrow id column in sort order: an id's
    index here is its dense code."""
    import pyarrow.compute as pc

    uniq = pc.unique(ids)
    return uniq.take(pc.sort_indices(uniq))


def _min_id_labels(idc: np.ndarray, bkc: np.ndarray, n_ids: int,
                   max_iters: int) -> np.ndarray:
    """The propagate_min_ids seed, rounds, log lines and stopping rule
    in numpy, over (id code, bucket code) edges in which every id code
    in ``range(n_ids)`` occurs. Each bucket-min hop is two segmented
    ``np.minimum.reduceat`` passes over the edges pre-sorted by bucket
    and by id. Returns each id code's label code."""
    by_bk, by_id = np.argsort(bkc, kind="stable"), np.argsort(idc, kind="stable")
    id_by_bk, bk_by_id = idc[by_bk], bkc[by_id]

    def starts(sorted_codes: np.ndarray) -> np.ndarray:
        return np.flatnonzero(np.diff(sorted_codes, prepend=-1))

    bk_starts, id_starts = starts(bkc[by_bk]), starts(idc[by_id])

    def hop(lab: np.ndarray) -> np.ndarray:
        """min over an id's buckets of each bucket's min label (<= lab:
        every id is a member of its own buckets)."""
        bmin = np.minimum.reduceat(lab[id_by_bk], bk_starts)
        return np.minimum.reduceat(bmin[bk_by_id], id_starts)

    labels = hop(np.arange(n_ids))

    def round_() -> int:
        nonlocal labels
        hopped = hop(labels)
        new = hopped[hopped]  # pointer halving
        changed = int(np.count_nonzero(new != labels))
        labels = new
        return changed

    _min_id_rounds(round_, max_iters)
    return labels


def _labels_frame(spark, field: T.StructField, id_col: str, uniq,
                  labels: np.ndarray) -> DataFrame:
    """(id, rep_id) from the sorted unique ids and their label codes;
    the id keeps ``field``'s type and nullability, rep_id is nullable."""
    import pyarrow as pa

    out = pa.table({id_col: uniq, "rep_id": uniq.take(pa.array(labels))})
    schema = T.StructType([
        T.StructField(id_col, field.dataType, field.nullable),
        T.StructField("rep_id", field.dataType, True),
    ])
    # one Arrow batch per partition: cap the width at the core count
    return spark.createDataFrame(out, schema).coalesce(
        spark.sparkContext.defaultParallelism
    )


def banded_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band, bucket) rows from a minhash-signature table — bucket
    is the xxhash64 of the band's signature slice. The single source of
    the banding construction, shared by ``minhash_lsh_dedup`` and the
    recall-oracle driver query so the proof stays tied to the
    production code path."""
    rows_per_band = n_hashes // bands
    return sigs.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.slice("signature", i * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "bucket"),
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 7,
    mode: str = "word",
    max_iters: int = 10,
    verify_jaccard: float | None = None,
    jaccard_n: int = 3,
    max_bucket_size: int = 512,
    token_hash: str = "blake2b",
) -> DataFrame:
    """Near-duplicate detection: returns (id, rep_id) where rep_id is
    the smallest id in the document's *transitive* duplicate component
    (ids connected through shared LSH band buckets) — min-id labels are
    propagated to fixpoint, so chains A~B~C merge even when A and C
    share no bucket. Labels are seeded with the one-hop bucket-min, so
    ``max_iters=0`` gives the cheap one-hop approximation and
    ``max_iters=1`` a two-hop pass with pointer halving.

    ``verify_jaccard``: when set, candidate pairs from shared band
    buckets are verified with exact word-``jaccard_n``-gram Jaccard and
    only pairs >= the threshold become edges (false-positive control;
    the unverified default is recall-biased and merges any bucket
    collision). ``max_bucket_size`` caps the all-pairs join per
    (band, bucket); overflow members fall back to star edges against
    two in-cap anchors (linear; keeps exact-duplicate recall unless
    the first ``max_bucket_size`` ids of a bucket are all
    non-duplicate colliders).

    Verified calls with fewer than ``_BIG_EDGE_THRESHOLD`` banded rows
    (documents x bands) finish on the driver (``_verified_on_driver``):
    one Arrow collect of the banded rows, candidates and Jaccard in
    numpy/Python over Spark's own ``lower(trim(text))``, the components
    in numpy. At or above it the candidates, grams, Jaccard and
    components stay Spark joins. Both give the same rows and log
    records; each verified call logs one INFO record (``_VERIFY_LOG``)
    with the path taken and its bucket and pair counts.

    ``token_hash='md5'`` switches the word-token hash to the
    SQL-recomputable md5-prefix form (the simhash oracle-mode
    convention) so an external engine can rebuild the signatures and
    the component labels exactly; 'blake2b' (default) is the faster
    production hash."""
    sigs = minhash_signatures(
        df, text_col, id_col, n_hashes, shingle_k, seed, mode, token_hash
    )
    banded = banded_signatures(sigs, id_col, n_hashes, bands)
    if verify_jaccard is None:
        # unverified: every shared band bucket is an edge (recall-biased)
        edges = banded.select(id_col, F.xxhash64("band", "bucket").alias("__edge_bk"))
        return propagate_min_ids(edges, id_col, "__edge_bk", max_iters=max_iters)
    # verified: candidate pairs from shared buckets, exact n-gram
    # Jaccard >= threshold filters out LSH false positives BEFORE the
    # component merge — the standard candidates->verify->union-find
    # near-dup pipeline (verification cost is per candidate pair only).
    # The banded signatures are cached (the signature UDF would
    # otherwise run once per consumer): counted, then collected once
    # by the driver finish, or read by the bucket sizes, ranked head
    # and star anchors of the Spark plan. The Spark plan also caches
    # the colliding bucket sizes (logged counts + candidate join), the
    # candidate pairs (count, gram prune, pair join), the candidate
    # grams (both pair sides) and the verified pairs (count + edges).
    # The labels are materialized, so every cache is released before
    # returning.
    cached = [banded.persist()]
    try:
        n_banded = banded.count()
        if n_banded < _BIG_EDGE_THRESHOLD:
            out = _verified_on_driver(df, banded, text_col, id_col, bands, jaccard_n,
                                      verify_jaccard, max_bucket_size, max_iters)
            if out is not None:
                return out
        # (band, bucket, __n) of the colliding buckets (>= 2 members):
        # the logged counts and _lsh_candidates read it
        sizes = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= 2)
            .persist()
        )
        cached.append(sizes)
        n_multi, n_over = sizes.agg(
            F.count(F.lit(1)), F.count_if(F.col("__n") > max_bucket_size)
        ).first()
        cand = _lsh_candidates(banded, sizes, id_col, max_bucket_size).persist()
        cached.append(cand)
        g = _candidate_grams(df, cand, text_col, id_col, jaccard_n).persist()
        cached.append(g)
        verified = _pair_jaccard(cand, g, id_col).filter(
            F.col("jaccard") >= verify_jaccard
        ).persist()
        cached.append(verified)
        logger.info(_VERIFY_LOG, "spark", n_banded, n_multi, n_over, cand.count(),
                    verified.count())
        edges = verified.select(
            F.explode(F.array("id_a", "id_b")).alias(id_col),
            F.xxhash64("id_a", "id_b").alias("__bk"),
        ).unionByName(
            df.select(F.col(id_col), F.xxhash64(id_col, F.lit(-1)).alias("__bk"))
        )  # singletons keep themselves
        return propagate_min_ids(edges, id_col, "__bk", max_iters=max_iters)
    finally:
        for c in reversed(cached):
            c.unpersist()


# one INFO record per verified minhash_lsh_dedup call, on either path
_VERIFY_LOG = (
    "minhash_lsh_dedup verify: path=%s banded_rows=%d colliding_buckets=%d "
    "overflow_buckets=%d candidate_pairs=%d verified_pairs=%d"
)

def _word_grams(text: str | None, n: int) -> frozenset[str]:
    """Driver twin of one ``_candidate_grams`` row, given the text's
    Spark ``lower(trim(text))`` (``py_tokens`` of it is its
    ``tokens_col``: trim and lower are idempotent), n-grams joined by
    one space, one gram of all the tokens when there are fewer than n.
    A NULL text gives Spark's answer for it, the one empty gram."""
    toks = py_tokens(text or "")
    return frozenset(" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1))


def _verified_on_driver(df, banded, text_col, id_col, bands, n, threshold, cap,
                        max_iters) -> DataFrame | None:
    """The verified ``minhash_lsh_dedup`` from the cached ``banded``
    table on, on the driver: one Arrow collect of the banded rows,
    ``_bucket_pairs`` for the candidates, one Spark job summing the
    bytes of the candidate documents' ``lower(trim(text))`` and one
    fetching it, ``_word_grams`` Jaccard per pair, then
    ``_min_id_labels`` over the verified pairs plus one singleton
    bucket per id. Same rows, schema and log records as the Spark
    plan; a pair of duplicate ids verifies when any pair of their
    texts does, as the Spark pair join does. Returns None, having
    logged nothing, when the capped pairs reach ``_BIG_EDGE_THRESHOLD``
    before their distinct or the candidate text reaches
    ``_DRIVER_TEXT_BYTES``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = banded.toArrow()
    ids = t.column(id_col)
    if ids.null_count:
        raise ValueError(
            f"propagate_min_ids: {ids.null_count // bands} edge(s) have a NULL {id_col!r}"
        )
    uniq = _sorted_unique(ids)
    idc = pc.index_in(ids, value_set=uniq).to_numpy().astype(np.int64)
    pairs = _bucket_pairs(idc, t.column("band").to_numpy(),
                          t.column("bucket").to_numpy(), cap, len(uniq))
    if pairs is None:
        return None
    a, b, n_multi, n_over = pairs
    spark = df.sparkSession
    grams: dict[int, list[frozenset[str]]] = {}
    if len(a):
        want = spark.createDataFrame(
            pa.table({id_col: uniq.take(pa.array(np.union1d(a, b)))}),
            T.StructType([df.schema[id_col]]),
        )
        texts = df.select(
            F.col(id_col), F.lower(F.trim(F.col(text_col))).alias("__t")
        ).join(F.broadcast(want), id_col, "left_semi")
        if (texts.agg(F.sum(F.octet_length("__t"))).first()[0] or 0) >= _DRIVER_TEXT_BYTES:
            return None
        rows = texts.toArrow()
        codes = pc.index_in(rows.column(id_col), value_set=uniq).to_numpy()
        for c, text in zip(codes.tolist(), rows.column("__t").to_pylist()):
            grams.setdefault(c, []).append(_word_grams(text, n))

    def jaccard(x: frozenset, y: frozenset) -> float:
        """``_pair_jaccard``'s inter / (union, or 1 when empty)."""
        inter = len(x & y)
        return inter / ((len(x) + len(y) - inter) or 1)

    # text pairs passing per candidate pair (> 1 only for repeated ids)
    hits = np.array([
        sum(jaccard(x, y) >= threshold for x in grams.get(i, ()) for y in grams.get(j, ()))
        for i, j in zip(a.tolist(), b.tolist())
    ], dtype=np.int64)
    logger.info(_VERIFY_LOG, "driver", len(t), n_multi, n_over, len(a), int(hits.sum()))
    va, vb = a[hits > 0], b[hits > 0]
    # edges: every id in its own singleton bucket, each verified pair in one
    own, pair_bk = np.arange(len(uniq)), len(uniq) + np.arange(len(va))
    labels = _min_id_labels(np.concatenate([own, va, vb]),
                            np.concatenate([own, pair_bk, pair_bk]), len(uniq), max_iters)
    return _labels_frame(spark, df.schema[id_col], id_col, uniq, labels)


def _bucket_pairs(idc: np.ndarray, band: np.ndarray, bucket: np.ndarray, cap: int,
                  n_ids: int):
    """numpy twin of ``_lsh_candidates`` over dense int64 id codes (code
    order = id order): the distinct candidate (a, b) code pairs as two
    arrays, plus the colliding (>= 2 members) and overflow (> ``cap``)
    bucket counts. Within each colliding (band, bucket), sorted by id:
    all pairs a > b among the first ``cap`` members, and every later
    member paired with the rank-1 and rank-``cap`` members. None when
    those pairs number ``_BIG_EDGE_THRESHOLD`` or more before the
    distinct."""
    order = np.lexsort((idc, bucket, band))
    code, band, bucket = idc[order], band[order], bucket[order]
    new = np.ones(len(code), dtype=bool)
    new[1:] = (band[1:] != band[:-1]) | (bucket[1:] != bucket[:-1])
    start = np.flatnonzero(new)
    size = np.diff(np.r_[start, len(code)])
    row_start, row_size = np.repeat(start, size), np.repeat(size, size)
    rank = np.arange(len(code)) - row_start  # 0-based, in id order
    # a head row pairs with every head row before it in its bucket
    k = np.where((row_size >= 2) & (rank < cap), rank, 0)
    star = np.flatnonzero((row_size >= 2) & (rank >= cap))
    anchors = [0, cap - 1] if cap >= 1 else [0]
    if int(k.sum()) + len(anchors) * len(star) >= _BIG_EDGE_THRESHOLD:
        return None
    ha = np.repeat(np.arange(len(code)), k)
    hb = np.repeat(row_start, k) + np.arange(len(ha)) - np.repeat(np.cumsum(k) - k, k)
    ha, hb = code[ha], code[hb]
    keep = ha > hb
    pa_ = np.concatenate([ha[keep], np.tile(code[star], len(anchors))])
    pb_ = np.concatenate([hb[keep], *(code[row_start[star] + r] for r in anchors)])
    key = np.unique(pa_ * n_ids + pb_)
    return key // n_ids, key % n_ids, int((size >= 2).sum()), int((size > cap).sum())


def _lsh_candidates(banded: DataFrame, sizes: DataFrame, id_col: str,
                    max_bucket_size: int) -> DataFrame:
    """Candidate pairs (id_a > id_b) sharing a (band, bucket); ``sizes``
    holds (band, bucket, __n) for the buckets with two or more members.

    Hot-bucket cap: a degenerate bucket (e.g. a 100k-member exact-
    duplicate group — precisely what dedup exists to find) must not
    build an O(n^2) all-pairs join. All-pairs only among the first
    ``max_bucket_size`` ids per (band, bucket); every OVERFLOW member
    gets TWO linear star edges instead — to the bucket's min-id member
    (rank 1) and to the LAST in-cap member (rank = cap) — so true
    duplicates beyond the cap still verify and merge even when the
    bucket min is a lower-id NON-duplicate LSH collider (in a
    dup-dominated bucket the cap'th member is almost surely a group
    member). Candidate count stays O(n * cap) per bucket. Recall is
    heuristic, not guaranteed: a bucket whose first ``cap`` ids are
    ALL colliders can still strand overflow duplicates."""
    from pyspark.sql.window import Window

    # singleton buckets can never produce a pair (the all-pairs join
    # needs two members, star edges need overflow) — restrict the rank
    # window to COLLIDING buckets first (round 6): one map-side-
    # combined count pass + a join that reuses the window's own
    # (band, bucket) exchange, in place of sorting every banded row
    multi = sizes.select("band", "bucket")
    w = Window.partitionBy("band", "bucket").orderBy(F.col(id_col))
    ranked = banded.join(multi, ["band", "bucket"]).withColumn(
        "__rn", F.row_number().over(w)
    )
    head = ranked.filter(F.col("__rn") <= max_bucket_size)
    anchors = ranked.filter(
        (F.col("__rn") == 1) | (F.col("__rn") == max_bucket_size)
    ).select("band", "bucket", F.col(id_col).alias("id_b"))
    star = (
        ranked.filter(F.col("__rn") > max_bucket_size)
        .join(anchors, ["band", "bucket"])
        .select(F.col(id_col).alias("id_a"), "id_b")
    )
    return (
        head.alias("a")
        .join(head.alias("b"), ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") > F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .unionByName(star)
        .distinct()
    )


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates the cached token hashes from
    the seed XOR, vectorized."""
    h = h.copy()
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


def simhash64_batch(
    texts: Sequence[str], seed: int = 11, token_hash: str = "blake2"
) -> np.ndarray:
    """64-bit SimHash (Charikar) for a batch of texts, vectorized:
    hash every token of the batch once (memoized blake2b + seeded
    splitmix64 remix), unpack all bits with one broadcast, and reduce
    per-document sign sums with ``np.add.reduceat`` — no per-token
    Python in the inner loop. Returns int64 (two's-complement view).

    ``token_hash='md5'`` swaps the token hash for the md5-prefix
    construction (``_hash_token_array_md5``) so the whole signature is
    recomputable in DuckDB SQL — the driver's oracle path. In that
    mode tokenization uses the RE2 ``\\s`` class ([ \\t\\n\\f\\r] —
    no \\x0b, no Unicode spaces) so Python and the SQL engine split
    identically; the default mode keeps Python's wider str.split()
    (signatures never leave the engine there)."""
    if token_hash == "md5":
        import re

        ws = re.compile(r"[ \t\n\f\r]+")
        tok_lists = [
            [w for w in ws.split((t or "").lower()) if w] for t in texts
        ]
    else:
        tok_lists = [(t or "").lower().split() for t in texts]
    counts = np.array([len(x) for x in tok_lists], dtype=np.int64)
    out = np.zeros(len(texts), dtype=np.int64)
    nz = np.flatnonzero(counts)
    if nz.size == 0:
        return out
    all_toks = [tok for i in nz for tok in tok_lists[i]]
    if token_hash == "md5":
        h = _hash_token_array_md5(all_toks, seed)
    else:
        h = _hash_token_array(all_toks)
        h = _mix64(h ^ np.uint64(seed * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF))
    # bit i of h == unpackbits(little) index i on little-endian layout;
    # sum of signs = 2*popcount_per_bit - n_tokens (avoids the 64-wide
    # uint64 broadcast, ~10x cheaper). Processed in chunks along the
    # document axis so the unpacked (tokens, 64) int32 slab stays
    # cache-resident regardless of Arrow batch size.
    nz_counts = counts[nz]
    bounds = np.concatenate(([0], np.cumsum(nz_counts)))
    acc = np.empty((nz.size, 64), dtype=np.int64)
    CHUNK_DOCS = 256
    for c0 in range(0, nz.size, CHUNK_DOCS):
        c1 = min(c0 + CHUNK_DOCS, nz.size)
        tok_lo, tok_hi = bounds[c0], bounds[c1]
        bits = np.unpackbits(
            h[tok_lo:tok_hi].view(np.uint8).reshape(-1, 8),
            axis=1, bitorder="little",
        ).astype(np.int32)
        offs = (bounds[c0:c1] - tok_lo).astype(np.intp)
        acc[c0:c1] = (
            2 * np.add.reduceat(bits, offs, axis=0)
            - nz_counts[c0:c1, None]
        )
    packed = ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
        axis=1, dtype=np.uint64
    )
    out[nz] = packed.view(np.int64)
    return out


def simhash64(text: str, seed: int = 11, token_hash: str = "blake2") -> int:
    """Scalar convenience wrapper over ``simhash64_batch``."""
    return int(simhash64_batch([text], seed, token_hash)[0])


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 11,
    token_hash: str = "blake2",
) -> DataFrame:
    """(id, simhash) via one Arrow-batched vectorized pass."""
    schema = T.StructType(
        [df.schema[id_col], T.StructField("simhash", T.LongType(), False)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {id_col: b[id_col],
                 "simhash": simhash64_batch(b[text_col].values, seed,
                                            token_hash)}
            )

    return spread(df.select(id_col, text_col)).mapInPandas(run, schema)


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 11,
    max_hamming: int = 0,
    max_iters: int = 10,
    token_hash: str = "blake2",
) -> DataFrame:
    """SimHash near-dup groups: (id, simhash, rep_id).

    ``max_hamming=0`` groups identical hashes (one groupBy). For
    ``1 <= max_hamming <= 3`` the 64-bit hash is split into 4 16-bit
    sub-bands; by pigeonhole any pair within Hamming distance 3 shares
    at least one band, so candidates are band-bucket joins (never
    all-pairs), verified with ``bit_count(a ^ b) <= max_hamming`` and
    merged transitively via min-label propagation."""
    hashed = simhash_signatures(df, text_col, id_col, seed, token_hash)
    return hamming64_dedup(hashed, "simhash", id_col, max_hamming, max_iters)


def hamming64_candidates(
    hashed: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int,
) -> DataFrame:
    """Candidate pairs (id_a, id_b), id_b < id_a, whose 64-bit
    ``hash_col`` values are within Hamming distance ``max_hamming``
    (1-3): the 4x16-bit band pigeonhole — any pair within distance 3
    shares at least one identical 16-bit band, so candidates are band
    equi-joins on 8-byte values (never all-pairs), then verified with
    ``bit_count(a ^ b)``. Shared by hamming64_dedup and the
    pixel-verified image variant (operators/images.phash_dedup_verified)."""
    if not 1 <= max_hamming <= 3:
        raise ValueError("4 bands guarantee recall only up to max_hamming=3")
    bands = hashed.select(
        id_col,
        hash_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(hash_col, 16 * i)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("val"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select(id_col, hash_col, F.col("b.band").alias("band"),
             F.col("b.val").alias("val"))
    left = bands.select(F.col(id_col).alias("id_a"),
                        F.col(hash_col).alias("__ha"), "band", "val")
    right = bands.select(F.col(id_col).alias("id_b"),
                         F.col(hash_col).alias("__hb"), "band", "val")
    return (
        left.join(right, ["band", "val"])
        .filter(F.col("id_b") < F.col("id_a"))
        .filter(
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))) <= max_hamming
        )
        .select("id_a", "id_b")
        .distinct()
    )


def hamming64_lookup(
    queries: DataFrame,
    gallery: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-duplicate SERVE path over 64-bit perceptual hashes: for
    each query hash, every gallery row within Hamming distance
    ``max_hamming`` (1-3) — the "is this image already in the corpus"
    probe an ingestion gate runs per batch, where the dedup operators
    relabel the whole corpus. Same pigeonhole as hamming64_candidates:
    the gallery bands once (4x16-bit), the query bands BROADCAST
    (query batches are small by definition — corpus-sized probes are
    dedup, not lookup), verification is one bit_count. Same-id pairs
    are excluded (a query drawn from the gallery must not match
    itself). Returns distinct (q_id, match_id, dist)."""
    if not 1 <= max_hamming <= 3:
        raise ValueError("4 bands guarantee recall only up to max_hamming=3")

    def _bands(df: DataFrame, ida: str, ha: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(ida),
            F.col(hash_col).alias(ha),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(hash_col, 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ])
            ).alias("b"),
        ).select(
            ida, ha, F.col("b.band").alias("band"),
            F.col("b.val").alias("val"),
        )

    qb = _bands(queries, "q_id", "__hq")
    gb = _bands(gallery, "match_id", "__hg")
    return (
        gb.join(F.broadcast(qb), ["band", "val"])
        .filter(F.col("match_id") != F.col("q_id"))
        .select(
            "q_id",
            "match_id",
            F.bit_count(
                F.col("__hq").bitwiseXOR(F.col("__hg"))
            ).alias("dist"),
        )
        .filter(F.col("dist") <= max_hamming)
        .distinct()
    )


def hamming64_dedup(
    hashed: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 0,
    max_iters: int = 10,
) -> DataFrame:
    """Group rows whose 64-bit ``hash_col`` values are within Hamming
    distance ``max_hamming``: returns (id, hash, rep_id). The shared
    tail of simhash_dedup and the image perceptual-hash dedup
    (operators/images.phash_dedup): ``max_hamming=0`` is one groupBy;
    1-3 uses the 4x16-bit band pigeonhole (any pair within distance 3
    shares a band) — candidates are band-bucket equi-joins, never
    all-pairs — verified with ``bit_count(a ^ b)`` and merged
    transitively via min-label propagation."""
    if max_hamming == 0:
        reps = hashed.groupBy(hash_col).agg(F.min(id_col).alias("rep_id"))
        return hashed.join(reps, hash_col).select(id_col, hash_col, "rep_id")
    pairs = hamming64_candidates(hashed, hash_col, id_col, max_hamming)
    # each verified pair is an edge; reuse the bipartite propagation by
    # treating the pair itself as a 2-member bucket
    edge_bk = F.xxhash64("id_a", "id_b")
    edges = (
        pairs.select(F.col("id_a").alias(id_col), edge_bk.alias("__bk"))
        .unionByName(pairs.select(F.col("id_b").alias(id_col), edge_bk.alias("__bk")))
        .unionByName(
            hashed.select(id_col, F.xxhash64(id_col, F.lit(-1)).alias("__bk"))
        )  # singletons keep themselves
    )
    labels = propagate_min_ids(edges, id_col, "__bk", max_iters=max_iters)
    return hashed.join(labels, id_col).select(id_col, hash_col, "rep_id")


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard for candidate pairs (id_a, id_b) —
    the verification stage after LSH candidate generation. JVM-side:
    ngrams via transform over token sequence, intersection/union via
    array functions. One row per input pair whose two documents exist
    (duplicate pairs give duplicate rows)."""
    return _pair_jaccard(pairs, _candidate_grams(df, pairs, text_col, id_col, n), id_col)


def _candidate_grams(
    df: DataFrame, pairs: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, distinct word-n-gram array) for the documents named in
    ``pairs``. Built ONLY for documents that appear in a candidate pair
    (semi-join prune — round 6): the gram HOF is the expensive step and
    candidates are a tiny fraction of the corpus, so computing grams
    corpus-wide burned ~the whole verify budget (33.9s of the 40.7s
    minhash_dedup_verified wall at sf1.0 was corpus-wide gram
    construction for 2.6k pairs). The HOF runs after ``_prims.spread``:
    a one-split input would otherwise build every array in one task.
    The tokens are projected once, in their own Project, and the HOF
    reads that column: a split inside the lambda runs once per gram
    index, W splits of a W-word document."""
    toks = F.col("__toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    ids = pairs.select(F.explode(F.array("id_a", "id_b")).alias(id_col)).distinct()
    return (
        spread(df.select(id_col, text_col))
        .join(ids, id_col, "left_semi")
        .select(F.col(id_col), tokens_col(F.col(text_col)).alias("__toks"))
        .select(F.col(id_col), grams.alias("grams"))
    )


def _pair_jaccard(pairs: DataFrame, g: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, jaccard) from the ``_candidate_grams`` table ``g``,
    which both pair sides read."""
    ab = pairs.join(
        g.select(F.col(id_col).alias("id_a"), F.col("grams").alias("grams_a")), "id_a"
    ).join(
        g.select(F.col(id_col).alias("id_b"), F.col("grams").alias("grams_b")), "id_b"
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return ab.select(
        "id_a",
        "id_b",
        (inter / F.when(union == 0, 1).otherwise(union)).alias("jaccard"),
    )


def embedding_cosine_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 10,
    seed: int = 13,
    dim: int | None = None,
    max_bucket_size: int = 512,
    max_iters: int = 10,
) -> DataFrame:
    """Embedding near-duplicate detection: random-hyperplane LSH
    bucketing (same family as similarity.lsh_topk) narrows candidates
    to same-bucket pairs; exact cosine >= threshold pairs are edges,
    merged transitively via min-label propagation (same fixpoint as
    minhash/simhash), so a chain A~B~C with no shared bucket for (A, C)
    still lands on one representative — one-hop election would elect a
    rep that is itself deduped away. Scale path: the pairwise step is
    per-bucket, never corpus x corpus — AND all-pairs membership per
    bucket is capped at ``max_bucket_size`` (lowest ids) so one
    degenerate bucket (e.g. all-zero embeddings) cannot create a
    quadratic task that never finishes. Overflow rows are NOT dropped:
    each gets one star verification pair against the bucket's min-id
    member (linear), so true duplicates beyond the cap still merge;
    the overflow count is logged, never silent."""
    from pyspark.sql.window import Window

    from .similarity import bucket_col, cosine_col, hyperplanes

    if dim is None:
        first = df.select(vec_col).first()
        if first is None:
            return df.sparkSession.createDataFrame(
                [], T.StructType([df.schema[id_col],
                                  T.StructField("rep_id", df.schema[id_col].dataType)])
            )
        dim = len(first[0])
    planes = hyperplanes(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    b = df.select(F.col(id_col), v.alias("__v")).withColumn(
        "__bucket", bucket_col(F.col("__v"), planes)
    )
    ranked = b.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__bucket").orderBy(F.col(id_col).asc())
        ),
    ).persist()  # the overflow count and the pair join both consume it;
    # without the persist the scan + LSH bucketing would run twice
    try:
        return _embedding_dedup_from_ranked(
            ranked, b, id_col, threshold, max_bucket_size, max_iters)
    finally:
        # propagate_min_ids eagerly materializes the labels (it
        # localCheckpoints each round), so the cache is consumed by
        # the time we return — release it instead of pinning executor
        # storage for the session
        ranked.unpersist()


def _embedding_dedup_from_ranked(ranked, b, id_col, threshold,
                                 max_bucket_size, max_iters):
    from .similarity import cosine_col

    n_over = ranked.filter(F.col("__rn") > max_bucket_size).count()
    if n_over:
        logger.warning(
            "embedding_cosine_dedup: %d rows beyond max_bucket_size=%d fell "
            "back to star verification against the bucket min (hot LSH "
            "bucket(s); raise n_planes to split them)", n_over, max_bucket_size,
        )
    capped = ranked.filter(F.col("__rn") <= max_bucket_size).drop("__rn")
    left = capped.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), "__bucket"
    )
    right = capped.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), "__bucket"
    )
    # overflow members: linear star pairs vs TWO in-cap anchors (the
    # bucket's min-id member and the last in-cap member) instead of
    # all-pairs — true duplicates beyond the cap still verify and
    # merge even when the bucket min is a lower-id non-duplicate
    # collider (heuristic: fails only if all cap members are colliders)
    anchors = ranked.filter(
        (F.col("__rn") == 1) | (F.col("__rn") == max_bucket_size)
    ).select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
             "__bucket")
    star = (
        ranked.filter(F.col("__rn") > max_bucket_size)
        .select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
                "__bucket")
        .join(anchors, "__bucket")
    )
    pairs = (
        left.join(right, "__bucket")
        .filter(F.col("id_b") < F.col("id_a"))
        .unionByName(star.select("id_a", "__va", "__bucket", "id_b", "__vb"))
        .withColumn("__cos", cosine_col(F.col("__va"), F.col("__vb")))
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b")
    )
    # verified pairs are edges; 2-member buckets + singleton self-buckets
    # feed the same fixpoint simhash_dedup uses, so representatives are
    # fixpoints (rep_id of a rep is itself)
    edge_bk = F.xxhash64("id_a", "id_b")
    edges = (
        pairs.select(F.col("id_a").alias(id_col), edge_bk.alias("__bk"))
        .unionByName(pairs.select(F.col("id_b").alias(id_col), edge_bk.alias("__bk")))
        .unionByName(
            b.select(F.col(id_col), F.xxhash64(id_col, F.lit(-1)).alias("__bk"))
        )
    )
    return propagate_min_ids(edges, id_col, "__bk", max_iters=max_iters)


def hamming64_dedup_incremental(
    new: DataFrame,
    index: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 2,
    max_iters: int = 10,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING hash index — the daily
    production shape: never re-dedup the historical corpus, match the
    increment's 64-bit hashes against the index's band table, then
    dedup the unmatched residue within the batch. Composes with
    resume.snapshot_diff (the increment) and a persisted/banded index
    table (write it partitioned by band value and matching becomes a
    co-located join).

    Semantics: index matching is ONE hop (a new row whose hash is
    within ``max_hamming`` of ANY index row takes the SMALLEST matching
    index id as its rep — deterministic); rows that match nothing in
    the index merge transitively among THEMSELVES (hamming64_dedup).
    A chain new2 ~ new1 ~ index where new2 itself misses the index
    keeps new2 in the batch component, not the index group — the
    documented one-hop trade, mirroring the capped-bucket discipline
    (an index rep's neighborhood is a lookup, not a graph walk).

    Returns (id, hash, rep_id, status) with status in
    'dup_of_index' | 'fresh_rep' | 'dup_in_batch'."""
    if not 1 <= max_hamming <= 3:
        raise ValueError("4 bands guarantee recall only up to max_hamming=3")

    def _bands(df: DataFrame, idn: str, hn: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(idn),
            F.col(hash_col).alias(hn),
            F.explode(F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(hash_col, 16 * i)
                    .bitwiseAND(F.lit(0xFFFF)).alias("val"),
                )
                for i in range(4)
            ])).alias("b"),
        ).select(idn, hn, F.col("b.band").alias("band"),
                 F.col("b.val").alias("val"))

    nb = _bands(new, "__nid", "__nh")
    ib = _bands(index, "__iid", "__ih")
    matched = (
        nb.join(ib, ["band", "val"])
        .filter(F.bit_count(F.col("__nh").bitwiseXOR(F.col("__ih")))
                <= max_hamming)
        .groupBy("__nid", "__nh")
        .agg(F.min("__iid").alias("rep_id"))
        .select(
            F.col("__nid").alias(id_col), F.col("__nh").alias(hash_col),
            "rep_id", F.lit("dup_of_index").alias("status"),
        )
        .persist()  # TWO consumers (the residue anti-join and the
        # final union) — without the cache the exploded band join, the
        # operator's dominant cost, runs twice; narrow (id, hash, rep)
        # rows, leak-until-evict (the _prims.global_rank policy)
    )
    resid = new.join(
        matched.select(F.col(id_col).alias("__mid")),
        new[id_col] == F.col("__mid"), "left_anti",
    ).select(id_col, hash_col)
    batch = hamming64_dedup(resid, hash_col, id_col, max_hamming, max_iters)
    batch = batch.select(
        id_col, hash_col, "rep_id",
        F.when(F.col("rep_id") == F.col(id_col), "fresh_rep")
        .otherwise("dup_in_batch").alias("status"),
    )
    return matched.unionByName(batch)


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
    max_dist: int = 2,
) -> DataFrame:
    """Edit-distance join (entity resolution / misspelling linkage):
    every (left, right) pair with ``levenshtein <= max_dist``, found
    WITHOUT an all-pairs product: distance <= d implies
    ``|len(a) - len(b)| <= d``, so blocking on length buckets of width
    d+1 is COMPLETE (zero false negatives) — each left row probes its
    own bucket and both neighbors (a x3 explode), the right side bands
    once, and one JVM ``levenshtein`` verifies each candidate.

    Length blocking is the completeness BASELINE, not the 100-TB
    pruner — compose with minhash/q-gram candidate generation upstream
    (the minhash_dedup_verified shape) and use this operator as the
    verify stage when the name space is corpus-sized. Returns
    (left_id, right_id, dist)."""
    d = int(max_dist)
    if d < 0:
        raise ValueError("max_dist must be >= 0")
    w = d + 1
    lb = left.select(
        F.col(left_id).alias("__lid"),
        F.col(left_col).alias("__lv"),
        F.explode(
            F.array(
                *[
                    (
                        F.floor(F.length(left_col) / w).cast("long")
                        + F.lit(o)
                    )
                    for o in (-1, 0, 1)
                ]
            )
        ).alias("__bk"),
    )
    rb = right.select(
        F.col(right_id).alias("__rid"),
        F.col(right_col).alias("__rv"),
        F.floor(F.length(right_col) / w).cast("long").alias("__bk"),
    )
    return (
        lb.join(rb, "__bk")
        .filter(
            F.abs(F.length("__lv") - F.length("__rv")) <= d
        )
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            F.levenshtein("__lv", "__rv").alias("dist"),
        )
        .filter(F.col("dist") <= d)
    )


def dedup_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-wide exact-substring dedup at token n-gram granularity
    (the ExactSubstr rule of Lee et al., "Deduplicating Training Data
    Makes Language Models Better", re-expressed over whitespace
    tokens): every token n-gram that occurs more than once corpus-wide
    is removed from all but its FIRST occurrence — ordered by
    (id, position) — removal spans are unioned per document, and the
    text is reassembled from the surviving tokens.

    Scale path mirrors dedup_paragraphs: token TEXT never crosses an
    exchange. Only (id, pos, 16-byte md5 digest) rows shuffle to pick
    per-digest winners (min struct(id, pos)); loser occurrences explode
    to covered token positions; ONE id-keyed join back to the
    one-row-per-doc table re-splits the text locally and drops removed
    positions. Adds ``out_col``, ``n_tokens``, ``n_removed``.

    Round 6: gram digests are built in one Arrow-batched pass (raw
    16-byte md5 of the identical UTF-8 gram string — same grouping
    equality as the old hex F.md5, half the shuffle bytes) instead of
    an interpreted per-position slice+join+md5 lambda, and the digest
    table is PERSISTED — it feeds both the winner aggregation and the
    loser join, which previously re-ran the gram HOF (bounded at
    (id, pos, 16B) per gram; leak-until-evict, the documented persist
    trade). Reassembly moved to the same Arrow path: a per-row kept-
    position set replaces the O(tokens x removals) array_contains
    filter."""
    import hashlib

    gram_schema = T.StructType(
        [df.schema[id_col], T.StructField("__ds", T.ArrayType(T.BinaryType()))]
    )

    def gram_rows(t):
        if t is None:
            return {}
        tk = t.split(" ")
        return {"__ds": [hashlib.md5(" ".join(tk[p : p + n]).encode("utf-8")).digest()
                         for p in range(len(tk) - (n - 1))]}

    grams = (
        arrow_stage(spread(df.select(id_col, text_col)), [id_col], [text_col],
                    gram_schema, gram_rows)
        .select(id_col, F.posexplode("__ds").alias("pos", "__d"))
        .persist()
    )
    # groupBy + join, NOT a window over the digest: a mega-duplicated
    # gram (boilerplate repeated 10^9 times) would buffer its whole
    # window group in one task, while the aggregate streams.  Winners
    # shrink to dup digests only BEFORE the join (the inner join drops
    # non-dup grams anyway), so the probe side carries ~dup_rate of
    # the digests.
    winners = grams.groupBy("__d").agg(
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
        ).alias("w"),
        F.count("*").alias("c"),
    ).filter(F.col("c") > 1)
    losers = (
        grams.join(winners, "__d")
        .filter(
            ~(
                (F.col(id_col) == F.col("w.i"))
                & (F.col("pos") == F.col("w.p"))
            )
        )
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("tp"),
        )
    )
    rm = losers.groupBy(id_col).agg(
        F.sort_array(F.collect_set("tp")).alias("__rm")
    )
    joined = df.join(rm, id_col, "left")
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField(out_col, T.StringType()),
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("n_removed", T.IntegerType()),
        ]
    )

    def reassemble(t, rmv):
        rset = set() if rmv is None else {int(i) for i in rmv}
        if t is None:
            return {"n_removed": len(rset)}
        tk = t.split(" ")
        return {
            out_col: " ".join(w for i, w in enumerate(tk) if i not in rset)
            if rset else t,
            "n_tokens": len(tk),
            "n_removed": len(rset),
        }

    return arrow_stage(joined, df.columns, [text_col, "__rm"], out_schema,
                       reassemble)


def multi_signal_dedup(
    df: DataFrame,
    signal_cols: "tuple[str, ...]",
    id_col: str = "doc_id",
) -> DataFrame:
    """Transitive dedup across MULTIPLE independent equality signals
    (canonical URL, content fingerprint, normalized title, ...): two
    rows belong to one group when ANY signal chain connects them —
    the union-of-evidence rule real pipelines need (a mirror shares
    the URL, a re-paste shares the text). Each signal contributes its
    value as a prefixed bucket into ONE bipartite min-label
    propagation (propagate_min_ids — the same component machinery
    every dedup family here ends in; signals never multiply the
    fixpoint cost, they just add membership edges). NULL signal values
    contribute no edge. Returns (id, rep_id)."""
    if not signal_cols:
        raise ValueError("need at least one signal column")
    parts = []
    for i, c in enumerate(signal_cols):
        parts.append(
            df.filter(F.col(c).isNotNull()).select(
                F.col(id_col),
                F.concat(
                    F.lit(f"s{i}:"), F.col(c).cast("string")
                ).alias("bucket"),
            )
        )
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    labels = propagate_min_ids(edges, id_col, "bucket")
    return (
        df.select(id_col)
        .join(labels, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("rep_id"), F.col(id_col)).alias("rep_id"),
        )
    )


def golden_record(
    df: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    best_of: "dict | None" = None,
) -> DataFrame:
    """Survivorship — the golden record per duplicate component: after
    entity resolution the group needs ONE canonical row, assembled by
    per-attribute rules rather than picking a whole winner (the
    longest text may come from one copy, the earliest id from
    another). ``labels`` is any (id, rep_id) component table
    (multi_signal_dedup / hamming64_dedup / exact dedup);
    ``best_of`` maps output attribute -> (source_col, rule) with rules
    ``max`` / ``min`` / ``longest`` (max by (length, value) — the
    value tiebreak keeps equal-length winners deterministic).

    One groupBy on rep_id; attribute picks are struct-argmax
    aggregates — no window, no second shuffle. Returns one row per
    component: (rep_id, n_members, <attributes...>)."""
    if not best_of:
        raise ValueError("best_of must name at least one attribute rule")
    j = df.join(labels.select(id_col, "rep_id"), id_col)
    aggs = [F.count(F.lit(1)).alias("n_members")]
    for out, (src, rule) in sorted(best_of.items()):
        c = F.col(src)
        if rule == "max":
            aggs.append(F.max(c).alias(out))
        elif rule == "min":
            aggs.append(F.min(c).alias(out))
        elif rule == "longest":
            picked = F.max(
                F.when(
                    c.isNotNull(),
                    F.struct(
                        F.length(c).alias("l"), c.alias("v")
                    ),
                )
            )
            aggs.append(picked.getField("v").alias(out))
        else:
            raise ValueError(f"unknown survivorship rule: {rule}")
    return j.groupBy("rep_id").agg(*aggs)
