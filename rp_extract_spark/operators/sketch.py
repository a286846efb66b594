"""Distributed sketches: count-min (frequency estimation without raw
data).

The prompt-side use case: token/entity frequency over a 100-TB corpus
where the exact (key, count) table is itself too hot to keep — a CMS
is a fixed depth x width grid (a few KB) built in ONE pass and ONE
shuffle, mergeable across partitions/days by cell-wise addition, and
answers point queries with one-sided error (estimate >= true count,
overshoot bounded by ~2N/width with probability 1 - 2^-depth). The
builder is source-agnostic: the same aggregate runs under Structured
Streaming (complete-mode memory/table sink) and the streamed grid
equals the batch grid over the data seen so far (tested).

Engine-portable hashing: row j's hash is the first 8 hex chars of
md5(key || '\\x1e' || 'cms' || j) taken as an integer mod width —
md5 parity with DuckDB is already established by the dedup oracles,
so the full sketch (and its estimates) recomputes EXACTLY in SQL for
the driver gate. No reference analog (the reference has no sketches).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .._prims import md5_hex, md5_int


def _cms_bucket(key: Column, j: int, width: int) -> Column:
    return md5_int(md5_hex(key, f"\x1ecms{j}"), digits=8) % F.lit(width)


def count_min_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch: (depth, bucket, cnt) with at most
    depth x width rows. Keys are pre-reduced to (key, total weight)
    first (map-side-combined — the shuffle carries distinct keys, not
    occurrences), so the ``depth`` md5 cells are computed once per
    DISTINCT key instead of once per occurrence (round 6 — 4 md5
    calls x every token occurrence dominated the wall on Zipf
    corpora; integer weight sums are exact, so the grid is
    bit-identical). The grid aggregate itself stays the only
    grid-payload shuffle."""
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    if df.isStreaming:
        # Structured Streaming forbids chained aggregations — keep the
        # single-agg per-occurrence shape there (grids stay identical)
        reduced = df.select(F.col(key_col), w.alias("__w"))
    else:
        reduced = (
            df.select(F.col(key_col), w.alias("__w"))
            .groupBy(key_col)
            .agg(F.sum("__w").alias("__w"))
        )
    cells = F.array(*[
        F.struct(
            F.lit(j).alias("d"),
            _cms_bucket(F.col(key_col), j, width).alias("b"),
        )
        for j in range(depth)
    ])
    return (
        reduced.select(F.explode(cells).alias("c"), F.col("__w"))
        .groupBy(F.col("c.d").alias("depth"), F.col("c.b").alias("bucket"))
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: "list[str]",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for a list of keys: min over the depth
    rows of each key's cells; absent cells count 0. The key list is a
    handful of constants — broadcast against the (small) sketch."""
    spark: SparkSession = sketch.sparkSession
    probes = spark.createDataFrame(
        [(k,) for k in keys], "key string"
    ).select(
        "key",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("depth"),
                     _cms_bucket(F.col("key"), j, width).alias("bucket"))
            for j in range(depth)
        ])).alias("c"),
    ).select("key", "c.depth", "c.bucket")
    # Broadcast hint goes on the BUILD side (the bounded depth×width
    # sketch) — a hint on the preserved side of a LEFT join is silently
    # ignored (Spark can't build a broadcast hash table from the stream
    # side) and the planner would fall back to a shuffle join.
    return (
        probes
        .join(F.broadcast(sketch), ["depth", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


# 16^15 — the KMV hash space: ``_prims.md5_int``'s 15 hex digits of
# md5 as an integer (60 bits; the SQL parity argument is written there)
_KMV_SPACE = 16 ** 15


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """K-minimum-values distinct-cardinality sketch (Bar-Yossef et al.
    2002): hash every key into [0, 16^15), keep the k smallest DISTINCT
    hash values; the k-th smallest h_k estimates the cardinality as
    ``(k-1) * SPACE // h_k`` (uniform order statistics). Fewer than k
    distinct hashes means the sketch holds the whole distinct set and
    the count is EXACT. Complements count_min_sketch (frequency) with
    the "how many unique captions / phashes / entities" question at
    fixed memory, and — unlike HyperLogLog — is deterministic and
    engine-exact: the same md5 rule and integer division replay in SQL.

    Scale shape: one distinct aggregate (map-side partial dedup — the
    exchange carries unique 8-byte hashes, never keys) feeding a
    TakeOrdered k; the k-row tail is collected and the estimate is
    computed in exact Python big-int ((k-1)*2^60 overflows int64 —
    the oracle side uses HUGEINT). At extreme cardinalities add a
    per-partition k-smallest pre-reduction in front of the distinct;
    the sketch itself is mergeable (union two tails, re-take k).

    Returns ONE row: (k_used, n_seen, kth_hash, est_distinct) where
    n_seen = min(k, distinct hashes) and k_used = k."""
    if k < 2:
        raise ValueError("k must be >= 2")
    spark = df.sparkSession
    h = md5_int(md5_hex(F.col(key_col), f"\x1e{salt}"))
    tail = (
        df.filter(F.col(key_col).isNotNull())  # NULL keys hash to NULL
        # and would sort NULLS-FIRST in Spark vs NULLS-LAST in SQL —
        # a cardinality sketch has no meaningful NULL key anyway
        .select(h.alias("__h")).distinct()
        .orderBy(F.col("__h").asc()).limit(k).collect()
    )
    n_seen = len(tail)
    if n_seen == 0:
        kth, est = 0, 0
    elif n_seen < k:
        kth, est = int(tail[-1]["__h"]), n_seen
    else:
        kth = int(tail[-1]["__h"])
        est = (k - 1) * _KMV_SPACE // kth
    return spark.createDataFrame(
        [(k, n_seen, kth, est)],
        schema="k_used int, n_seen int, kth_hash long, est_distinct long",
    )


def _bloom_pos(key: Column, j: int, m_bits: int, salt: str) -> Column:
    return md5_int(md5_hex(key, f"\x1e{salt}{j}"), digits=8) % F.lit(m_bits)


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 8192,
    k: int = 4,
    salt: str = "bloom",
) -> DataFrame:
    """Bloom filter over a key column, represented as the TABLE of set
    bit positions (at most ``m_bits`` rows — sparse, mergeable across
    partitions/days by union+distinct, broadcastable at probe time):
    the membership sketch completing the family next to
    count_min_sketch (frequency) and kmv_distinct (cardinality). The
    100-TB use: ship a few-KB benchmark/blocklist filter to every
    executor and pre-screen a corpus without joining the real set.

    Same engine-portable hashing as the CMS (first 8 hex chars of
    salted md5 mod m_bits), so build AND probe replay exactly in SQL —
    including which non-members false-positive. Classic guarantees:
    no false negatives; FP rate ~ (1 - e^(-kn/m))^k."""
    if m_bits < 1 or k < 1:
        raise ValueError("m_bits and k must be >= 1")
    # one scan: all k positions as an array, exploded — a k-way union
    # of selects would plan k source scans. NULL keys are excluded
    # (the kmv_distinct rule): they hash to NULL positions, which are
    # not meaningful filter bits
    return df.filter(F.col(key_col).isNotNull()).select(
        F.explode(F.array(*[
            _bloom_pos(F.col(key_col), j, m_bits, salt) for j in range(k)
        ])).alias("pos")
    ).distinct()


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 8192,
    k: int = 4,
    salt: str = "bloom",
) -> DataFrame:
    """Probe: a row is a MAYBE-member iff all ``k`` of its bit
    positions are set. The filter collects to the driver once (at most
    ``m_bits`` longs — model-sized) and ships as a LITERAL array of
    m_bits/64 bitmap words, so the membership test is k row-local
    O(1) bit probes (element_at + logical shift) inside whole-stage
    codegen — ZERO exchanges, the corpus never shuffles (a
    join-against-the-position-table formulation would shuffle the
    corpus on the group-back). Adds ``maybe_member`` (0/1).
    Parameters must match the build."""
    n_words = (m_bits + 63) // 64
    words = [0] * n_words
    for r in bloom.collect():
        if r["pos"] is None:  # a legacy filter built over NULL keys
            continue
        p = int(r["pos"])
        words[p >> 6] |= 1 << (p & 63)
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    warr = F.array(*[F.lit(w).cast("long") for w in signed])
    hit = None
    for j in range(k):
        pos = _bloom_pos(F.col(key_col), j, m_bits, salt)
        word = F.element_at(
            warr, (F.shiftrightunsigned(pos, 6) + 1).cast("int"))
        # bit_get takes a COLUMN position (the python
        # shiftrightunsigned wrapper only takes literal counts) and is
        # sign-safe, unlike (word >> s) % 2 which is -1 for a negative
        # odd word
        b = F.bit_get(word, pos.bitwiseAND(F.lit(63)))
        hit = b if hit is None else hit * b
    # a NULL key hashes to NULL positions -> NULL bit product; the
    # contract is 0 (definitely-not-member is meaningless for NULL,
    # and consumers filter maybe_member == 0)
    return df.withColumn(
        "maybe_member", F.coalesce(hit.cast("int"), F.lit(0)))


def hll_distinct(
    df: DataFrame,
    key_col: str,
    p: int = 6,
    salt: str = "hll",
) -> DataFrame:
    """HyperLogLog distinct-cardinality sketch (Flajolet et al. 2007)
    with every decision kept EXACT so the whole sketch — registers,
    scaled harmonic sum, and the final estimate — replays bit-for-bit
    in SQL. Complements kmv_distinct: KMV keeps k full hash values
    (exact below k, one estimate above); HLL keeps 2^p 6-bit registers
    (m = 64 at the default p=6), merges by element-wise MAX, and is
    the shape every production engine (Spark's own approx_count_
    distinct, Redis PFCOUNT) uses at scale.

    Determinism contract (the engine-portable part most HLLs lack):
    - hash = first 15 hex chars of ``md5(key || '\\x1e' || salt)`` as
      a 60-bit integer (the kmv/cms md5-parity rule); register =
      ``h mod m``; suffix ``w = h div m`` has exactly W = 60-p bits;
    - rho(w) = position of the leftmost 1-bit of w within the W-bit
      field, W+1 when w = 0 — computed EXACTLY via strings:
      ``strpos(lpad(bin(w), W, '0'), '1')`` on both engines (no
      float log2 anywhere);
    - the harmonic sum is scaled by 2^(W+1) into an exact int64:
      ``S = sum over registers of 2^(W+1-rho_j)`` (empty register →
      rho 0 → 2^(W+1); max S = m * 2^(W+1) = 2^61 at p=6, in range);
    - alpha_m is an exact RATIONAL (673/1000, 697/1000, 709/1000 for
      m = 16/32/64 per the paper; 7213*m / (10*(1000*m + 1079)) —
      the paper's 0.7213/(1+1.079/m) cleared of decimals — above), so
      ``est_u = alpha_num * m^2 * 2^(W+1) * grain // (alpha_den * S)``
      is one exact big-int floor division (Python int driver-side,
      HUGEINT in the oracle). Small-range linear counting (V empty
      registers, est <= 2.5m) uses ``m * ln(m/V)`` — the only float,
      flagged by ``linear_counting`` so a verifier knows which branch
      produced the number (the 1-ulp ln wobble is ~1e-12 relative vs
      the 1e-6 grain).

    Scale shape: one map-side-combined groupBy onto m keys (max per
    register), an m-row collect, driver big-int math. The register
    table is the mergeable artifact — union two corpora by MAX(rho)
    per register before estimating.

    Returns ONE row: (m, v_zero, s_scaled, est_u, linear_counting)."""
    if not 4 <= p <= 12:
        raise ValueError("p must be in [4, 12]")
    spark = df.sparkSession
    m = 1 << p
    w_bits = 60 - p
    grain = 1_000_000
    h = md5_int(md5_hex(F.col(key_col), f"\x1e{salt}"))
    sfx = F.lpad(F.bin(F.expr(f"__h div {m}")), w_bits, "0")
    pos = F.instr(sfx, "1")
    regs = (
        df.filter(F.col(key_col).isNotNull())  # the kmv NULL rule
        .select(h.alias("__h"))
        .select(
            F.pmod(F.col("__h"), F.lit(m)).alias("reg"),
            F.when(pos > 0, pos).otherwise(F.lit(w_bits + 1))
            .cast("int").alias("rho"),
        )
        .groupBy("reg").agg(F.max("rho").alias("rho"))
        .collect()
    )
    rho_by_reg = {int(r["reg"]): int(r["rho"]) for r in regs}
    v_zero = m - len(rho_by_reg)
    s_scaled = sum(
        1 << (w_bits + 1 - rho_by_reg.get(j, 0)) for j in range(m)
    )
    if m == 16:
        a_num, a_den = 673, 1000
    elif m == 32:
        a_num, a_den = 697, 1000
    elif m == 64:
        a_num, a_den = 709, 1000
    else:
        a_num, a_den = 7213 * m, 10 * (1000 * m + 1079)
    est_u = (a_num * m * m * (1 << (w_bits + 1)) * grain) // (
        a_den * s_scaled
    )
    linear = 0
    if v_zero > 0 and est_u <= (5 * m * grain) // 2:
        import math

        linear = 1
        est_u = int(math.floor(m * math.log(m / v_zero) * grain + 0.5))
    return spark.createDataFrame(
        [(m, v_zero, s_scaled, est_u, linear)],
        schema="m int, v_zero int, s_scaled long, est_u long, "
               "linear_counting int",
    )


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """Union of bloom filters built with IDENTICAL (m_bits, k, salt):
    since a filter is the table of set bit positions, the union of the
    underlying key sets is exactly union+distinct of the position
    tables — the mergeability that lets every partition/day/shard
    build its own filter and a reducer fold them without touching
    keys. (Bitmap-word OR is the dense equivalent; the sparse table
    form keeps merges shuffle-light at a few KB per filter.)"""
    if not blooms:
        raise ValueError("need at least one filter")
    out = blooms[0]
    for b in blooms[1:]:
        out = out.unionByName(b)
    return out.distinct()
