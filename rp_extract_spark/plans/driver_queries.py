"""Driver-contract queries: Spark implementations + ANSI-SQL oracles.

Each entry maps a SURVEY.md §2 operator family to a concrete query on
the driver's parquet tables (region nation customer supplier part
orders lineitem events documents embeddings). The paired oracle SQL is
run by DuckDB on the same files; the driver compares row counts,
schemas and order-insensitive value hashes — so every computed column
is aliased identically on both sides, ordering uses explicit
deterministic tiebreaks, and floats are rounded identically where
cross-engine summation order could differ.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .._prims import arrow_stage, md5_hex, md5_int, spread
from ..operators.asof import asof_join
from ..operators.classes import label_encode, prune_min_instances
from ..operators.similarity import topk_similar
from ..operators.text import fingerprint, token_count
from ..operators.windows import forward_fill, lag_lead_stack, sessionize


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@lru_cache(maxsize=None)
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="rp_driver_queries_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _scratch_dir(prefix: str) -> str:
    """A fresh directory for the files a query writes and reads back,
    under one per-process directory removed at interpreter exit: the
    returned DataFrame reads them lazily, so they outlive the call."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


# ---------------------------------------------------------------- aggs

def q_pricing_summary(spark, sf):
    """TPC-H Q1 shape: scan + filter + groupBy aggs (SURVEY A1-A5
    relational analog). Filter pushes to the parquet scan."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # rounded identically on both sides: cross-engine summation
            # order can differ in the last ulps
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4)                          AS sum_qty,
       round(sum(l_extendedprice), 4)                     AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4)  AS sum_disc_price,
       round(avg(l_quantity), 6)                          AS avg_qty,
       round(avg(l_discount), 6)                          AS avg_disc,
       count(*)                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_stats7(spark, sf):
    """The reference's 7-stat block (rp_extract.py:218-232) as a
    relational aggregate with the exact conventions: population
    variance, biased skew, Pearson kurtosis, exact median. Moments are
    computed from explicit power sums on BOTH sides so engines agree
    bit-for-bit-ish."""
    li = _t(spark, sf, "lineitem")
    x = F.col("l_quantity")
    m1 = F.avg(x)
    m2 = F.avg(x * x)
    m3 = F.avg(x * x * x)
    m4 = F.avg(x * x * x * x)
    g = li.groupBy("l_returnflag").agg(
        m1.alias("__m1"), m2.alias("__m2"), m3.alias("__m3"), m4.alias("__m4"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.min(x).alias("min_qty"),
        F.max(x).alias("max_qty"),
    )
    mu = F.col("__m1")
    var = F.col("__m2") - mu * mu
    mc3 = F.col("__m3") - 3 * mu * F.col("__m2") + 2 * mu * mu * mu
    mc4 = (
        F.col("__m4")
        - 4 * mu * F.col("__m3")
        + 6 * mu * mu * F.col("__m2")
        - 3 * mu * mu * mu * mu
    )
    return g.select(
        "l_returnflag",
        F.round(mu, 6).alias("mean_qty"),
        F.round(var, 6).alias("var_qty"),
        F.round(mc3 / F.pow(var, 1.5), 6).alias("skew_qty"),
        F.round(mc4 / (var * var), 6).alias("kurt_qty"),
        "median_qty",
        "min_qty",
        "max_qty",
    ).orderBy("l_returnflag")


ORACLE_STATS7 = """
WITH g AS (
  SELECT l_returnflag,
         avg(l_quantity) AS m1, avg(l_quantity*l_quantity) AS m2,
         avg(l_quantity*l_quantity*l_quantity) AS m3,
         avg(l_quantity*l_quantity*l_quantity*l_quantity) AS m4,
         round(median(l_quantity), 6) AS median_qty,
         min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       round(m1, 6) AS mean_qty,
       round(m2 - m1*m1, 6) AS var_qty,
       round((m3 - 3*m1*m2 + 2*m1*m1*m1) / (m2 - m1*m1)^1.5, 6) AS skew_qty,
       round((m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*m1*m1*m1*m1) / ((m2-m1*m1)*(m2-m1*m1)), 6) AS kurt_qty,
       median_qty, min_qty, max_qty
FROM g ORDER BY l_returnflag
"""


def q_top_revenue(spark, sf):
    """Multi-join + agg + deterministic top-k (broadcast dims)."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "c_mktsegment")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


ORACLE_TOP_REVENUE = """
SELECT l_orderkey, c_mktsegment,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY l_orderkey, c_mktsegment
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_nation_revenue(spark, sf):
    """Star joins through nation/region (broadcast all dims)."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


ORACLE_NATION_REVENUE = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q_band_agg(spark, sf):
    """Range/interval band aggregation (SURVEY P5/A2 relational
    analog): bucket values into bands, sum per band."""
    li = _t(spark, sf, "lineitem")
    band = F.floor(F.col("l_quantity") / 10).cast("bigint")
    return (
        li.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
        .orderBy("band")
    )


ORACLE_BAND_AGG = """
SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS band,
       count(*) AS n, round(sum(l_extendedprice), 4) AS sum_price
FROM lineitem GROUP BY 1 ORDER BY band
"""


# ------------------------------------------------------------- windows

def q_lag_lead(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        lag_lead_stack(
            ev, "value", lags=(1, 2), leads=(1,),
            entity="user_id", ts="ts", tiebreak=("event_id",),
        )
        .select("event_id", "user_id", "value", "value_lag1", "value_lag2", "value_lead1")
        .orderBy("event_id")
    )


ORACLE_LAG_LEAD = """
SELECT event_id, user_id, value,
       lag(value, 1)  OVER w AS value_lag1,
       lag(value, 2)  OVER w AS value_lag2,
       lead(value, 1) OVER w AS value_lead1
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
"""


def q_ffill(spark, sf):
    ev = _t(spark, sf, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", None).otherwise(F.col("value"))
    )
    return (
        forward_fill(ev, ["v"], entity="user_id", ts="ts", tiebreak=("event_id",))
        .select("event_id", "v")
        .orderBy("event_id")
    )


ORACLE_FFILL = """
SELECT event_id,
       last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
FROM events ORDER BY event_id
"""


def q_sessionize(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        sessionize(ev, gap_seconds=1800, entity="user_id", ts="ts",
                   tiebreak=("event_id",))
        .select("event_id", "user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .orderBy("event_id")
    )


# CAST to BIGINT: DuckDB types sum() over integers as HUGEINT (int128),
# which the driver harness canonicalizes differently from Spark's bigint
# (CORRECTNESS_r01 hash_match=false on exactly the integer-sum oracles).
ORACLE_SESSIONIZE = """
SELECT event_id, user_id,
       CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS flag
  FROM events)
ORDER BY event_id
"""


def q_rolling(spark, sf):
    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-4, 0)
    )
    return (
        ev.select(
            "event_id",
            F.round(F.avg("value").over(w), 6).alias("rmean5"),
            F.min("value").over(w).alias("rmin5"),
            F.max("value").over(w).alias("rmax5"),
        )
        .orderBy("event_id")
    )


ORACLE_ROLLING = """
SELECT event_id,
       round(avg(value) OVER w, 6) AS rmean5,
       min(value) OVER w AS rmin5,
       max(value) OVER w AS rmax5
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


# --------------------------------------------------------------- joins

def _asof_sides(spark, sf):
    """Shared left/right construction for the as-of query family:
    view/click events on the left, purchases deduped to unique
    (user, ts) with max value on the right (engine-independent ties)."""
    ev = _t(spark, sf, "events")
    left = ev.filter(F.col("event_type").isin("view", "click")).select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return left, right


def q_asof(spark, sf):
    """Point-in-time join: each view/click event gets the latest
    purchase value at-or-before its timestamp, per user (engine core,
    SURVEY J8)."""
    left, right = _asof_sides(spark, sf)
    out = asof_join(
        left,
        right,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        values=["purchase_value"],
    )
    return out.select(
        "event_id", "user_id", "ts", "purchase_value",
        F.col("matched_ts").alias("purchase_ts"),
    ).orderBy("event_id")


ORACLE_ASOF = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type IN ('view','click')),
r AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, l.ts, r.purchase_value, r.ts AS purchase_ts
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def q_asof_forward(spark, sf):
    """Forward (next-event) as-of join: each view/click gets the
    earliest purchase at-or-after its timestamp per user."""
    left, right = _asof_sides(spark, sf)
    out = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        values=["purchase_value"], direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts", "purchase_value",
        F.col("matched_ts").alias("purchase_ts"),
    ).orderBy("event_id")


ORACLE_ASOF_FORWARD = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type IN ('view','click')),
r AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, l.ts, m.purchase_value, m.ts AS purchase_ts
FROM l LEFT JOIN LATERAL (
  SELECT r.ts, r.purchase_value FROM r
  WHERE r.user_id = l.user_id AND r.ts >= l.ts
  ORDER BY r.ts ASC LIMIT 1) m ON true
ORDER BY l.event_id
"""


def q_asof_tolerance(spark, sf):
    """As-of join with a match-window tolerance (pd.merge_asof
    tolerance semantics): matches farther than 1 hour back are nulled
    out. Exercises the tolerance branch of the window strategy."""
    left, right = _asof_sides(spark, sf)
    out = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        values=["purchase_value"], tolerance_seconds=3600,
    )
    return out.select(
        "event_id", "user_id", "ts", "purchase_value",
        F.col("matched_ts").alias("purchase_ts"),
    ).orderBy("event_id")


ORACLE_ASOF_TOLERANCE = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type IN ('view','click')),
r AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
j AS (
  SELECT l.event_id, l.user_id, l.ts, r.purchase_value, r.ts AS pts
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts)
SELECT event_id, user_id, ts,
       CASE WHEN pts IS NOT NULL AND epoch(ts) - epoch(pts) <= 3600
            THEN purchase_value END AS purchase_value,
       CASE WHEN pts IS NOT NULL AND epoch(ts) - epoch(pts) <= 3600
            THEN pts END AS purchase_ts
FROM j ORDER BY event_id
"""


def q_anti_join(spark, sf):
    """Incremental-resume primitive (SURVEY J3/U1): customers without
    orders."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ORACLE_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q_semi_join(spark, sf):
    """Match report (SURVEY J2): customers having >= 1 order."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


ORACLE_SEMI = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q_set_ops(spark, sf):
    """Set operators (SURVEY U1-U3): symmetric difference of the
    customer-key sets of two order-priority slices."""
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return (
        a.subtract(b)
        .withColumn("side", F.lit("urgent_only"))
        .unionByName(b.subtract(a).withColumn("side", F.lit("high_only")))
        .unionByName(
            a.intersect(b).withColumn("side", F.lit("both"))
        )
        .orderBy("side", "o_custkey")
    )


ORACLE_SET_OPS = """
WITH a AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
     b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
SELECT * FROM (
  SELECT o_custkey, 'urgent_only' AS side FROM (SELECT DISTINCT o_custkey FROM a EXCEPT SELECT DISTINCT o_custkey FROM b)
  UNION ALL
  SELECT o_custkey, 'high_only' AS side FROM (SELECT DISTINCT o_custkey FROM b EXCEPT SELECT DISTINCT o_custkey FROM a)
  UNION ALL
  SELECT o_custkey, 'both' AS side FROM (SELECT DISTINCT o_custkey FROM a INTERSECT SELECT DISTINCT o_custkey FROM b))
ORDER BY side, o_custkey
"""


# ------------------------------------------------------------ dedup/text

def q_dedup_exact(spark, sf):
    """Exact dedup by content fingerprint: representative id + group
    size per distinct text (SURVEY A10 generalized)."""
    d = _t(spark, sf, "documents")
    return (
        d.groupBy(fingerprint(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n_dups"))
        .orderBy("rep_id")
    )


ORACLE_DEDUP_EXACT = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       min(doc_id) AS rep_id, count(*) AS n_dups
FROM documents GROUP BY 1 ORDER BY rep_id
"""


def q_text_stats(spark, sf):
    """Token counting + fingerprinting (text-analysis operators)."""
    d = _t(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        fingerprint(t).alias("fp"),
        F.length(t).alias("n_chars2"),
    ).orderBy("doc_id")


ORACLE_TEXT_STATS = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                 - length(replace(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ', '')) + 1
       END AS n_tokens,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       length(text) AS n_chars2
FROM documents ORDER BY doc_id
"""


def q_text_quality(spark, sf):
    """Full text-analysis battery (lang-ID, quality score, BPE-ish
    token count, punctuation/stopword ratios) — every expression is
    JVM-side and re-derived independently in the DuckDB oracle."""
    from ..operators.text import analyze_documents

    d = _t(spark, sf, "documents")
    return (
        analyze_documents(d)
        .select(
            "doc_id",
            F.col("n_tokens_bpe").cast("bigint").alias("n_tokens_bpe"),
            "punct_ratio",
            "stopword_ratio",
            "lang_guess",
            "quality",
        )
        .orderBy("doc_id")
    )


# NOTE: tokens = split on whitespace runs of lower(trim(text)); DuckDB
# re-derives every score from scratch (no shared helpers), which keeps
# the oracle an independent recomputation.
ORACLE_TEXT_QUALITY = r"""
WITH base AS (
  SELECT doc_id, text,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents),
scores AS (
  SELECT doc_id, text, toks,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tok,
         len(list_filter(toks, t -> list_contains(
           ['the','and','of','to','in','is','that','it','was','for'], t))) AS s_en,
         len(list_filter(toks, t -> list_contains(
           ['der','die','und','das','ist','von','ein','mit','den','nicht'], t))) AS s_de,
         len(list_filter(toks, t -> list_contains(
           ['le','la','et','les','des','est','une','dans','que','pour'], t))) AS s_fr,
         len(list_filter(toks, t -> list_contains(
           ['el','la','de','que','los','una','con','por','para','es'], t))) AS s_es,
         (length(text) - length(regexp_replace(text, '[.,;:!?()\[\]"'']', '', 'g')))
           / greatest(length(text), 1) AS punct_r,
         len(list_filter(toks, t -> list_contains(
           ['the','and','of','to','in','is','that','it','was','for'], t)))
           / greatest(len(toks), 1) AS stop_r
  FROM base)
SELECT doc_id,
       CAST(list_sum(list_transform(toks, t -> ceil(length(t) / 4.0)))
            + (length(text) - length(regexp_replace(text, '[.,;:!?()\[\]]', '', 'g')))
            AS BIGINT) AS n_tokens_bpe,
       round(punct_r, 6) AS punct_ratio,
       round(stop_r, 6) AS stopword_ratio,
       CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es' END AS lang_guess,
       round((0.5 * least(n_tok / 100.0, 1.0)
              + 0.5 * least(stop_r * 5.0, 1.0))
             * (CASE WHEN punct_r > 0.1 THEN 0.5 ELSE 1.0 END), 6) AS quality
FROM scores ORDER BY doc_id
"""


def q_jaccard_verify(spark, sf):
    """LSH-candidate verification stage: exact word-trigram Jaccard on
    deterministic candidate pairs (doc_id, doc_id+1), doc_id < 20 —
    JVM array ops on the Spark side, list functions in DuckDB."""
    from ..operators.dedup import ngram_jaccard

    d = _t(spark, sf, "documents")
    pairs = d.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).filter(F.col("id_a") < 20)
    out = ngram_jaccard(d, pairs, n=3)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


ORACLE_JACCARD_VERIFY = r"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 1)),
           i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM toks),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.g AS ga, b.g AS gb
  FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id < 20)
SELECT id_a, id_b,
       round(len(list_intersect(ga, gb))
             / greatest(len(list_distinct(list_concat(ga, gb))), 1), 6) AS jaccard
FROM pairs ORDER BY id_a, id_b
"""


def q_vocab_topk(spark, sf):
    """Corpus vocabulary statistics: top-50 tokens by total occurrences
    (explode-heavy aggregation shape; deterministic token tiebreak)."""
    from ..operators.text import tokens_col

    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
    )


ORACLE_VOCAB_TOPK = r"""
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                ' ')) AS token
  FROM documents)
WHERE token <> ''
GROUP BY token ORDER BY n DESC, token ASC LIMIT 50
"""


def q_token_df(spark, sf):
    """Document frequency (the IDF denominator): for the top-20 tokens
    by df, the number of distinct documents containing them."""
    from ..operators.text import tokens_col

    d = _t(spark, sf, "documents")
    return (
        d.select("doc_id", F.explode(
            F.array_distinct(tokens_col(F.col("text")))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(20)
    )


ORACLE_TOKEN_DF = r"""
SELECT token, CAST(count(*) AS BIGINT) AS df
FROM (
  SELECT DISTINCT doc_id, unnest(string_split(
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
  FROM documents)
WHERE token <> ''
GROUP BY token ORDER BY df DESC, token ASC LIMIT 20
"""


def q_funnel(spark, sf):
    """Conversion funnel over the events stream: per user, first-touch
    timestamps per stage and ordered-conversion flags (multi-level
    conditional aggregation)."""
    ev = _t(spark, sf, "events")
    g = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    converted = (
        F.col("first_view").isNotNull()
        & F.col("first_click").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_view") <= F.col("first_click"))
        & (F.col("first_click") <= F.col("first_purchase"))
    )
    return g.select(
        "user_id", "first_view", "first_click", "first_purchase",
        converted.cast("int").alias("converted"),
    ).orderBy("user_id")


ORACLE_FUNNEL = """
SELECT user_id,
       min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
       min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
       min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
       CAST((min(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL
         AND min(CASE WHEN event_type = 'click' THEN ts END) IS NOT NULL
         AND min(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
         AND min(CASE WHEN event_type = 'view' THEN ts END)
             <= min(CASE WHEN event_type = 'click' THEN ts END)
         AND min(CASE WHEN event_type = 'click' THEN ts END)
             <= min(CASE WHEN event_type = 'purchase' THEN ts END)) AS INT)
         AS converted
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_value_percentiles(spark, sf):
    """Exact percentile profile of event values per event type (the
    reference's exact-median discipline, generalized)."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


ORACLE_VALUE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_daily_active(spark, sf):
    """Distinct-aggregation shape: daily active users + events per day
    (the two-level shuffle pattern behind every DAU dashboard)."""
    ev = _t(spark, sf, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return (
        ev.groupBy(day)
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day")
    )


ORACLE_DAILY_ACTIVE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
       count(*) AS n_events
FROM events GROUP BY day ORDER BY day
"""


def q_hourly_rollup(spark, sf):
    """Hypertable-style time-bucketed rollup: hourly aggregates of the
    event stream per event type (operators/rollup.time_bucket)."""
    from ..operators.rollup import rollup_aggregate

    ev = _t(spark, sf, "events")
    return (
        rollup_aggregate(ev, 3600, dims=("event_type",))
        .orderBy("bucket", "event_type")
    )


ORACLE_HOURLY_ROLLUP = """
SELECT date_trunc('hour', ts) AS bucket, event_type,
       count(*) AS n,
       round(sum(value), 6) AS sum_v,
       min(value) AS min_v,
       max(value) AS max_v,
       round(avg(value), 6) AS avg_v
FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type
"""


def q_pattern_stats(spark, sf):
    """Corpus-curation pattern signals (URL / email counts, digit
    share) — JVM regexp_count vs DuckDB regexp_extract_all."""
    from ..operators.text import pattern_stats

    d = _t(spark, sf, "documents")
    return (
        pattern_stats(d)
        .select("doc_id", "n_urls", "n_emails", "digit_ratio")
        .orderBy("doc_id")
    )


ORACLE_PATTERN_STATS = r"""
SELECT doc_id,
       CAST(length(regexp_extract_all(text, 'https?://[^\s\x0b]+')) AS INT) AS n_urls,
       CAST(length(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
       round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
             / greatest(length(text), 1), 6) AS digit_ratio
FROM documents ORDER BY doc_id
"""


def q_embedding_normalize(spark, sf):
    """L2 normalization of the embedding column (the vector analog of
    the scaler stage) — JVM array arithmetic vs DuckDB list ops."""
    e = _t(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    unit = F.transform(v, lambda x: x / F.when(norm == 0, 1.0).otherwise(norm))
    return e.select(
        "vec_id",
        F.round(norm, 6).alias("l2_norm"),
        F.round(F.element_at(unit, 1), 6).alias("u0"),
        F.round(
            F.aggregate(unit, F.lit(0.0), lambda a, x: a + x * x), 6
        ).alias("unit_sq"),
    ).orderBy("vec_id")


ORACLE_EMBEDDING_NORMALIZE = """
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
              x -> x * x), 'sum')) AS l2
  FROM embeddings)
SELECT vec_id,
       round(l2, 6) AS l2_norm,
       round(v[1] / CASE WHEN l2 = 0 THEN 1.0 ELSE l2 END, 6) AS u0,
       round(list_aggregate(list_transform(v,
             x -> (x / CASE WHEN l2 = 0 THEN 1.0 ELSE l2 END)
                * (x / CASE WHEN l2 = 0 THEN 1.0 ELSE l2 END)), 'sum'), 6) AS unit_sq
FROM n ORDER BY vec_id
"""


def q_class_histogram(spark, sf):
    """Class histogram + HAVING prune (SURVEY A7/A9) over doc langs."""
    d = _t(spark, sf, "documents")
    return (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 75)
        .orderBy("lang")
    )


ORACLE_CLASS_HISTOGRAM = """
SELECT lang, count(*) AS n FROM documents
GROUP BY lang HAVING count(*) >= 75 ORDER BY lang
"""


def q_label_encode(spark, sf):
    """Deterministic 0-based label codes (SURVEY F19)."""
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), F.col("lang").alias("label")
    )
    return label_encode(d).select("id", "label", "label_code").orderBy("id")


ORACLE_LABEL_ENCODE = """
SELECT doc_id AS id, lang AS label,
       dense_rank() OVER (ORDER BY lang) - 1 AS label_code
FROM documents ORDER BY id
"""


def q_zscore(spark, sf):
    """Per-group z-score standardization, ddof=0 (SURVEY A12)."""
    d = _t(spark, sf, "documents")
    w = Window.partitionBy("lang")
    mu = F.avg("n_chars").over(w)
    sd = F.stddev_pop("n_chars").over(w)
    return d.select(
        "doc_id",
        F.round((F.col("n_chars") - mu) / F.when(sd == 0, 1.0).otherwise(sd), 6).alias(
            "n_chars_z"
        ),
    ).orderBy("doc_id")


ORACLE_ZSCORE = """
SELECT doc_id,
       round((n_chars - avg(n_chars) OVER w) /
             (CASE WHEN stddev_pop(n_chars) OVER w = 0 THEN 1.0
                   ELSE stddev_pop(n_chars) OVER w END), 6) AS n_chars_z
FROM documents WINDOW w AS (PARTITION BY lang) ORDER BY doc_id
"""


def q_topk_per_group(spark, sf):
    """Ranked top-k per group (SURVEY T1 batch pattern)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rank")
    )


ORACLE_TOPK_PER_GROUP = """
SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders)
WHERE rank <= 3 ORDER BY o_orderpriority, rank
"""


def q_similarity_topk(spark, sf):
    """Brute-force cosine top-k against the vec_id=0 embedding
    (query-by-example, SURVEY T1). Scores rounded on both sides."""
    e = _t(spark, sf, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).collect()[0].embedding]
    out = topk_similar(e, qv, k=10, exclude_id=0)
    return out.select("vec_id", F.round("score", 5).alias("cos_sim"))


ORACLE_SIMILARITY_TOPK = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 5) AS cos_sim
FROM embeddings, q WHERE vec_id <> 0
ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]) DESC, vec_id ASC
LIMIT 10
"""


def q_knn_join(spark, sf):
    """Batch kNN: 3 query vectors x corpus, top-3 each by cosine
    (reference kNN query-by-example, SURVEY T1; broadcast query side +
    ranked window)."""
    from ..operators.similarity import knn_join

    e = _t(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = knn_join(queries, e, k=3)
    return out.select(
        "q_id", "rank", "vec_id", F.round("score", 5).alias("cos_sim")
    ).orderBy("q_id", "rank")


ORACLE_KNN_JOIN = """
SELECT q_id, rank, vec_id, cos_sim FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 5) AS cos_sim,
         row_number() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                     c.vec_id ASC) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 3)
WHERE rank <= 3 ORDER BY q_id, rank
"""


def q_knn_euclidean(spark, sf):
    """Batch kNN under the euclidean metric (the reference's
    NearestNeighbors default) — exercises the other metric branch of
    the kNN operator against DuckDB's list_distance."""
    from ..operators.similarity import knn_join

    e = _t(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = knn_join(queries, e, k=3, metric="euclidean")
    return out.select(
        "q_id", "rank", "vec_id", F.round("score", 5).alias("dist")
    ).orderBy("q_id", "rank")


ORACLE_KNN_EUCLIDEAN = """
SELECT q_id, rank, vec_id, dist FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         round(list_distance(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 5) AS dist,
         row_number() OVER (PARTITION BY q.vec_id
            ORDER BY list_distance(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) ASC,
                     c.vec_id ASC) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 3)
WHERE rank <= 3 ORDER BY q_id, rank
"""


def q_corpus_curation(spark, sf):
    """End-to-end curation slice a training-data pipeline runs before
    tokenization: text analysis → quality/language gate → exact dedup
    (min-id representative per content fingerprint). Entirely
    JVM-expression Spark; independently recomputed in DuckDB."""
    from ..operators.text import analyze_documents

    d = analyze_documents(_t(spark, sf, "documents"))
    kept = d.filter((F.col("lang_guess") != "und") & (F.col("quality") >= 0.3))
    w = Window.partitionBy("fingerprint").orderBy(F.col("doc_id").asc())
    return (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang_guess", "quality", "n_tokens")
        .orderBy("doc_id")
    )


ORACLE_CORPUS_CURATION = r"""
WITH base AS (
  SELECT doc_id, text,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM documents),
scores AS (
  SELECT doc_id, fp,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
         len(list_filter(toks, t -> list_contains(
           ['the','and','of','to','in','is','that','it','was','for'], t))) AS s_en,
         len(list_filter(toks, t -> list_contains(
           ['der','die','und','das','ist','von','ein','mit','den','nicht'], t))) AS s_de,
         len(list_filter(toks, t -> list_contains(
           ['le','la','et','les','des','est','une','dans','que','pour'], t))) AS s_fr,
         len(list_filter(toks, t -> list_contains(
           ['el','la','de','que','los','una','con','por','para','es'], t))) AS s_es,
         (length(text) - length(regexp_replace(text, '[.,;:!?()\[\]"'']', '', 'g')))
           / greatest(length(text), 1) AS punct_r,
         len(list_filter(toks, t -> list_contains(
           ['the','and','of','to','in','is','that','it','was','for'], t)))
           / greatest(len(toks), 1) AS stop_r
  FROM base),
scored AS (
  SELECT doc_id, fp, n_tokens,
         CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
              WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
              ELSE 'es' END AS lang_guess,
         round((0.5 * least(n_tokens / 100.0, 1.0)
                + 0.5 * least(stop_r * 5.0, 1.0))
               * (CASE WHEN punct_r > 0.1 THEN 0.5 ELSE 1.0 END), 6) AS quality
  FROM scores)
SELECT doc_id, lang_guess, quality, n_tokens
FROM scored
WHERE lang_guess <> 'und' AND quality >= 0.3
QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) = 1
ORDER BY doc_id
"""


def q_multilabel_pivot(spark, sf):
    """Multi-label 0/1 matrix (classes_io.py:60-110 read_multi_class_file
    analog): one indicator column per language, via conditional
    aggregation (portable pivot)."""
    d = _t(spark, sf, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    return (
        d.groupBy("source")
        .agg(
            *[
                F.sum(F.when(F.col("lang") == l, 1).otherwise(0))
                .cast("bigint")
                .alias(f"n_{l}")
                for l in langs
            ]
        )
        .orderBy("source")
    )


def q_multilabel_roundtrip(spark, sf):
    """S14 multi-label evidence: build a 0/1 language-presence matrix
    per source, WRITE it in the reference multi-class table format
    ('x' / blank, TAB, header — classes_io.py:127-134), then READ it
    back through read_multi_class_file (classes_io.py:60-110, label
    replacement + blank→0). The oracle recomputes the same matrix from
    documents directly, so the file roundtrip itself is under test."""

    from ..sources.multilabel import read_multi_class_file, write_multi_class_table

    d = _t(spark, sf, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    tbl = d.groupBy(F.col("source").alias("id")).agg(
        *[
            F.max(F.when(F.col("lang") == l, 1).otherwise(0)).cast("int").alias(l)
            for l in langs
        ]
    )
    path = os.path.join(_scratch_dir("mlc_table_"), "table")
    write_multi_class_table(tbl, path)
    return read_multi_class_file(spark, path).orderBy("id")


ORACLE_MULTILABEL_ROUNDTRIP = """
SELECT source AS id,
       CAST(max(CASE WHEN lang='de' THEN 1 ELSE 0 END) AS INT) AS de,
       CAST(max(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS INT) AS en,
       CAST(max(CASE WHEN lang='es' THEN 1 ELSE 0 END) AS INT) AS es,
       CAST(max(CASE WHEN lang='fr' THEN 1 ELSE 0 END) AS INT) AS fr,
       CAST(max(CASE WHEN lang='zh' THEN 1 ELSE 0 END) AS INT) AS zh
FROM documents GROUP BY source ORDER BY id
"""


# CAST to BIGINT: DuckDB integer sum() is HUGEINT — see ORACLE_SESSIONIZE.
ORACLE_MULTILABEL_PIVOT = """
SELECT source,
       CAST(sum(CASE WHEN lang='de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
       CAST(sum(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       CAST(sum(CASE WHEN lang='es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
       CAST(sum(CASE WHEN lang='fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
       CAST(sum(CASE WHEN lang='zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh
FROM documents GROUP BY source ORDER BY source
"""


def q_prune_min_instances(spark, sf):
    """Min-instances class pruning (classes_io.py:445-472): rows whose
    lang class has >= 80 members."""
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), F.col("lang").alias("label")
    )
    return prune_min_instances(d, min_n=80).orderBy("id")


ORACLE_PRUNE_MIN_INSTANCES = """
SELECT doc_id AS id, lang AS label FROM documents
WHERE lang IN (SELECT lang FROM documents GROUP BY lang HAVING count(*) >= 80)
ORDER BY id
"""


def q_duplicate_check(spark, sf):
    """The reference's id-duplicate assertion (rp_feature_io.py:274-284)
    as a query: ids with count > 1 (empty on clean data)."""
    d = _t(spark, sf, "documents")
    return (
        d.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .orderBy("doc_id")
    )


ORACLE_DUPLICATE_CHECK = """
SELECT doc_id, count(*) AS n FROM documents
GROUP BY doc_id HAVING count(*) > 1 ORDER BY doc_id
"""


# -------------------------------------------- non-SQL-expressible (rows-only)

def q_feature_extract(spark, sf):
    """Flagship kernel on a deterministically synthesized image table
    (no image table exists in the driver testdata; BASELINE.json
    input_hint shape). Returns scalar summaries of the descriptor
    vectors — rows-only check; numeric parity is covered by the pytest
    oracle suite."""
    from ..operators.extract import extract_features
    from ..sources.images import images_df

    imgs = images_df(spark, 96, seed=42)
    feats = extract_features(imgs, families=("rp", "ssd", "rh"))
    # T2 argmax analog: peak modulation bin -> BPM on the reference axis
    from ..functions.kernel import MOD_FREQ_RES

    peak_bin = F.array_position("rh", F.array_max("rh"))
    return feats.select(
        "image_id",
        "entity_id",
        "ts",
        F.round(F.element_at("rp", 1), 6).alias("rp_0"),
        F.round(F.aggregate("rp", F.lit(0.0), lambda a, v: a + v * v), 4).alias(
            "rp_energy"
        ),
        F.round(F.element_at("ssd", 1), 6).alias("ssd_0"),
        F.round(F.element_at("rh", 1), 6).alias("rh_0"),
        F.round(peak_bin * MOD_FREQ_RES * 60.0, 4).alias("peak_bpm"),
        "caption",
    ).orderBy("image_id")


def q_asof_features(spark, sf):
    """Minimum end-to-end slice B: decode -> kernel -> as-of caption ->
    sessionize, on synthesized images (rows-only)."""
    from .flagship import flagship

    out = flagship(spark, n_images=96, seed=42)
    return out.select(
        "entity_id", "ts", "image_id",
        F.round(F.element_at("rp", 1), 6).alias("rp_0"),
        "caption_asof", "caption_asof_ts", "session_id",
    ).orderBy("image_id")


def q_minhash_dedup(spark, sf):
    """MinHash+LSH near-dup component labels, fully ORACLED since
    round 5: token_hash='md5' makes every stage of the signature
    closed-form for DuckDB — md5-prefix token hashes, the k=3 rolling
    polynomial mod 2^64 (emulated wrap via HUGEINT split-multiply),
    the seeded Mersenne universal-hash family inlined as literals,
    4-row band slices grouped by VALUE (equivalent to the xxhash64
    bucket modulo a 2^-64 collision the gate would catch), star edges
    to each bucket min, recursive-CTE min-label components. The
    blake2b production hash path stays property-tested in pytest."""
    from ..operators.dedup import minhash_lsh_dedup

    d = _t(spark, sf, "documents")
    return minhash_lsh_dedup(
        d, n_hashes=128, bands=32, token_hash="md5"
    ).orderBy("doc_id")


def _minhash_dedup_oracle_sql(n_hashes: int = 128, bands: int = 32,
                              seed: int = 7) -> str:
    """Rebuild the full minhash pipeline in DuckDB (see q_minhash_dedup).
    The universal-hash (a_i, b_i) family comes from the same seeded
    generator the operator uses (the seeded-constant inlining pattern
    of the embedding_dedup planes)."""
    from ..operators.dedup import _hash_family

    B = 1099511628211          # token-rolling-hash base (FNV prime)
    B2 = (B * B) % (1 << 64)
    P61 = (1 << 61) - 1
    M64 = 1 << 64
    rpb = n_hashes // bands
    a, b = _hash_family(n_hashes, seed)
    hf_vals = ",".join(
        f"({i},{int(a[i])},{int(b[i])})" for i in range(n_hashes)
    )

    def mm(x: str, c: int) -> str:
        # (x * c) mod 2^64 without overflowing HUGEINT: split x at 2^32
        return (
            f"(((CAST({x} AS HUGEINT) // 4294967296) * {c} % {M64})"
            f" * 4294967296"
            f" + (CAST({x} AS HUGEINT) % 4294967296) * {c}) % {M64}"
        )

    return rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
th AS (
  SELECT doc_id,
         list_transform(CASE WHEN len(t) = 0 THEN ['_'] ELSE t END,
           x -> CAST('0x' || substr(md5(x || '#{seed}'), 1, 16)
                AS UBIGINT)) AS h
  FROM toks),
gz AS (
  SELECT doc_id,
         CASE WHEN len(h) >= 3 THEN h
              ELSE h || list_transform(generate_series(1, 3 - len(h)),
                                       x -> CAST(0 AS UBIGINT)) END AS g
  FROM th),
sh AS (
  SELECT doc_id,
         CAST(({mm('g[w]', B2)} + {mm('g[w+1]', B)}
               + CAST(g[w+2] AS HUGEINT)) % {M64} AS UBIGINT)
           % {P61} AS sm
  FROM gz, unnest(generate_series(1, len(g) - 2)) AS u(w)),
hf(i, a, b) AS (VALUES {hf_vals}),
sig AS (
  SELECT doc_id, hf.i,
         min((hf.a * CAST(sm AS HUGEINT) + hf.b) % {P61}) AS v
  FROM sh CROSS JOIN hf GROUP BY doc_id, hf.i),
bk AS (
  SELECT doc_id, CAST(i // {rpb} AS INT) AS band,
         string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS key
  FROM sig GROUP BY doc_id, i // {rpb}),
bmin AS (SELECT band, key, min(doc_id) AS m FROM bk GROUP BY band, key),
edges AS (
  SELECT DISTINCT k.doc_id AS id_a, b.m AS id_b
  FROM bk k JOIN bmin b ON b.band = k.band AND b.key = k.key
  WHERE k.doc_id <> b.m),
sym AS (SELECT id_a AS s, id_b AS d FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach(a, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d)
SELECT a AS doc_id, min(r) AS rep_id FROM reach GROUP BY a ORDER BY doc_id
"""


def q_simhash(spark, sf):
    """SimHash near-dup groups, fully ORACLED: the md5-prefix token
    hash (token_hash='md5') makes the 64-bit signature itself
    recomputable in DuckDB ('0x' || md5-prefix → UBIGINT, per-bit sign
    sums), so identical-signature groups (max_hamming=0) with min-id
    representatives are one GROUP BY on both sides. Signatures compare
    as fixed-width hex so two's-complement vs unsigned never matters.
    The blake2b production hash path stays property-tested in pytest."""
    from ..operators.dedup import simhash_dedup

    d = _t(spark, sf, "documents")
    out = simhash_dedup(d, token_hash="md5")
    return out.select(
        "doc_id",
        F.lower(F.lpad(F.hex("simhash"), 16, "0")).alias("simhash_hex"),
        "rep_id",
    ).orderBy("doc_id")


def q_centroid_classify(spark, sf):
    """Nearest-centroid train+predict on the embeddings table
    (rp_classify entry-point analog; rows-only — accuracy properties
    are pytest-verified on synthetic clusters)."""
    from ..operators.classify import predict_centroids, train_centroids

    e = _t(spark, sf, "embeddings").withColumn(
        "label_s", F.col("label").cast("string")
    )
    cent = train_centroids(e, vec_col="embedding", label_col="label_s")
    preds = predict_centroids(e, cent, vec_col="embedding", id_col="vec_id")
    return preds.select(
        "vec_id", "predicted_label", F.round("distance", 5).alias("distance")
    ).orderBy("vec_id")


def q_multilabel_classify(spark, sf):
    """One-vs-rest multi-label centroid model (OneVsRestClassifier
    analog, rp_classify.py:51-52), ORACLED: per (vector, category) the
    distances to the positive and negative centroids — verifying the
    trained model numerically against DuckDB recomputation without
    argmin boundary sensitivity."""
    from ..operators.classify import _sq_dist, train_multilabel_centroids

    e = _t(spark, sf, "embeddings")
    ml = e.select(
        "vec_id", "embedding",
        F.when(F.col("label") == 0, 1).otherwise(0).alias("is_l0"),
        F.when(F.col("label") == 1, 1).otherwise(0).alias("is_l1"),
    )
    model = train_multilabel_centroids(ml, label_cols=["is_l0", "is_l1"])
    joined = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("__v")
    ).crossJoin(F.broadcast(model))
    d = joined.withColumn("__d", _sq_dist(F.col("__v"), F.col("centroid")))
    return (
        d.groupBy("vec_id", "category")
        .agg(
            F.round(F.sqrt(F.max(F.when(F.col("y") == 1, F.col("__d")))), 5)
            .alias("dist_pos"),
            F.round(F.sqrt(F.max(F.when(F.col("y") == 0, F.col("__d")))), 5)
            .alias("dist_neg"),
        )
        .orderBy("vec_id", "category")
    )


ORACLE_MULTILABEL_CLASSIFY = """
WITH e AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings),
lab AS (
  SELECT e.*, c.category,
         CASE WHEN (c.category = 'is_l0' AND label = 0)
                OR (c.category = 'is_l1' AND label = 1)
              THEN 1 ELSE 0 END AS y
  FROM e CROSS JOIN (SELECT unnest(['is_l0','is_l1']) AS category) c),
cent AS (
  SELECT category, y, pos, avg(val) AS cv FROM lab GROUP BY category, y, pos),
d AS (
  SELECT e.vec_id, cent.category, cent.y,
         sum((e.val - cent.cv) * (e.val - cent.cv)) AS d2
  FROM e JOIN cent ON e.pos = cent.pos
  GROUP BY e.vec_id, cent.category, cent.y)
SELECT vec_id, category,
       round(sqrt(max(CASE WHEN y = 1 THEN d2 END)), 5) AS dist_pos,
       round(sqrt(max(CASE WHEN y = 0 THEN d2 END)), 5) AS dist_neg
FROM d GROUP BY vec_id, category ORDER BY vec_id, category
"""


def q_cv_accuracy(spark, sf):
    """k-fold CV of the centroid model, fully ORACLED: folds assigned
    by the md5-prefix hash (SQL-recomputable), so DuckDB re-runs the
    entire cross-validation — per-fold centroid training on the
    held-out complement, nearest-centroid prediction with the
    (distance, label) tiebreak, per-fold accuracy. The xxhash default
    fold path stays pytest-covered."""
    from ..operators.classify import cross_validate

    e = _t(spark, sf, "embeddings").withColumn(
        "label_s", F.col("label").cast("string")
    )
    return cross_validate(
        e, vec_col="embedding", label_col="label_s", k=3, fold_fn="md5"
    )


def q_entity_features_rel(spark, sf):
    """A4/A5 oracle analog on a SQL-expressible surface: exact median
    and mean PER VECTOR POSITION per label over the embeddings table —
    the same cross-segment aggregation semantics the kernel pipeline
    applies per entity (exact median for RP/RH, mean for SSD/MVD)."""
    e = _t(spark, sf, "embeddings")
    return (
        e.select("label", F.posexplode(F.col("embedding").cast("array<double>")))
        .groupBy("label", "pos")
        .agg(
            F.round(F.expr("percentile(col, 0.5)"), 6).alias("med_v"),
            F.round(F.avg("col"), 6).alias("mean_v"),
        )
        .orderBy("label", "pos")
    )


ORACLE_ENTITY_FEATURES_REL = """
SELECT label, pos, round(median(val), 6) AS med_v, round(avg(val), 6) AS mean_v
FROM (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings)
GROUP BY label, pos ORDER BY label, pos
"""


ORACLE_CENTROID_CLASSIFY = """
WITH e AS (
  SELECT vec_id, CAST(label AS VARCHAR) AS label_s,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings),
cent AS (
  SELECT label_s, pos, avg(val) AS c FROM e GROUP BY label_s, pos),
d AS (
  SELECT e.vec_id, cent.label_s, sum((e.val - cent.c) * (e.val - cent.c)) AS d2
  FROM e JOIN cent ON e.pos = cent.pos
  GROUP BY e.vec_id, cent.label_s),
r AS (
  SELECT vec_id, label_s, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, label_s ASC) AS rn
  FROM d)
SELECT vec_id, label_s AS predicted_label, round(sqrt(d2), 5) AS distance
FROM r WHERE rn = 1 ORDER BY vec_id
"""


def q_embedding_dedup(spark, sf):
    """Embedding-cosine near-dup (rows-only: LSH bucketing is
    engine-specific; correctness property-tested in pytest)."""
    from ..operators.dedup import embedding_cosine_dedup

    e = _t(spark, sf, "embeddings")
    return embedding_cosine_dedup(e, threshold=0.98).orderBy("vec_id")


def q_audio_roundtrip(spark, sf):
    """Multimodal audio path, ORACLED: each embedding vector is muxed
    into a float32 WAV (exact roundtrip), decoded back through the
    in-repo RIFF codec inside analyze_audio, and its RMS compared to
    DuckDB computing RMS directly from the same array. Verifies the
    codec + the Arrow plumbing end-to-end against an independent
    recomputation."""
    import numpy as np
    import pandas as pd

    from ..codecs.wav import encode_wav
    from ..operators.multimodal import analyze_audio

    e = _t(spark, sf, "embeddings")

    def gen(batches):
        for b in batches:
            yield pd.DataFrame(
                {
                    "clip_id": b["vec_id"].astype(str),
                    "bytes": [
                        encode_wav(np.asarray(v, dtype=np.float32), 8000,
                                   samplewidth=4)
                        for v in b["embedding"].values
                    ],
                }
            )

    clips = spread(e.select("vec_id", "embedding")).mapInPandas(
        gen, "clip_id string, bytes binary"
    )
    out = analyze_audio(clips)
    return out.select(
        F.col("clip_id").cast("bigint").alias("clip_id"),
        "n_samples",
        "samplerate",
        F.round("rms", 5).alias("rms"),
    ).orderBy("clip_id")


ORACLE_AUDIO_ROUNDTRIP = """
SELECT vec_id AS clip_id,
       CAST(len(embedding) AS INT) AS n_samples,
       CAST(8000 AS INT) AS samplerate,
       round(sqrt(list_aggregate(
         list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
         'avg')), 5) AS rms
FROM embeddings ORDER BY clip_id
"""


def q_audio_descriptors(spark, sf):
    """The reference's TRUE entry point as a distributed query: WAV
    clips (synthesized deterministic PCM, muxed on executors) →
    rp/ssd/rh/mvd/tssd/trh descriptor vectors via the audio kernel
    (rows-only; numeric parity vs the reference's own rp_extract() is
    pytest-enforced in test_audio_parity.py)."""
    import numpy as np
    import pandas as pd

    from ..codecs.wav import encode_wav
    from ..operators.multimodal import extract_features_audio

    def gen(batches):
        for b in batches:
            ids, blobs = [], []
            for i in b["id"].values:
                i = int(i)
                sr = 11025
                t = np.arange(int(13.0 * sr)) / sr
                x = (
                    0.4 * np.sin(2 * np.pi * (180 + 20 * i) * t)
                    + 0.2 * np.sign(np.sin(2 * np.pi * (1.5 + 0.25 * i) * t))
                )
                x = (x / np.max(np.abs(x)) * 0.9).astype(np.float32)
                ids.append(f"clip{i:03d}")
                blobs.append(encode_wav(x, sr, samplewidth=4))
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = spark.range(6).mapInPandas(gen, "clip_id string, bytes binary")
    out = extract_features_audio(clips)
    peak_bin = F.array_position("rh", F.array_max("rh"))
    return out.select(
        "clip_id",
        "samplerate",
        "n_segments",
        F.round(F.element_at("rp", 1), 6).alias("rp_0"),
        F.round(F.element_at("ssd", 1), 6).alias("ssd_0"),
        F.round(F.element_at("rh", 1), 6).alias("rh_0"),
        F.round(F.element_at("tssd", 1), 6).alias("tssd_0"),
        # T2 argmax analog on the true audio modulation axis
        F.round(peak_bin * F.lit(11025.0 / 2**16) * 60.0, 3).alias("peak_bpm"),
        "err",
    ).orderBy("clip_id")


def q_image_formats(spark, sf):
    """All five image codecs through the distributed decode path,
    fully ORACLED: closed-form pixels (the resize_images formula) are
    encoded as PNG / real-JPEG(q97) / BMP / GIF / LQ01-lossy on
    executors and decoded via the fmt+magic dispatch. For the lossless
    codecs DuckDB recomputes the exact pixel mean from the formula;
    for LQ01 the quantization (v//4*4+2) is itself closed-form; for
    real JPEG the check is the PSNR>=40 gate (its numerics are
    interop-tested against javax.imageio in pytest)."""
    import numpy as np
    import pandas as pd

    from ..codecs import decode_image, encode_jpeg, encode_png, psnr
    from ..codecs.bmp import encode_bmp
    from ..codecs.gif import encode_gif
    from ..codecs.lossy import encode_lossy

    encoders = {
        "png": ("png", encode_png),
        "jpeg": ("jpeg", lambda p: encode_jpeg(p, 97)),
        "bmp": ("bmp", encode_bmp),
        "gif": ("gif", encode_gif),
        "lossy": ("jpeg", encode_lossy),  # LQ01 rides the jpeg dispatch
    }
    names = list(encoders)
    H, W = 32, 40

    def _formula(i):
        yy, xx = np.mgrid[0:H, 0:W]
        return ((i * 31 + xx * 7 + yy * 13) % 256).astype(np.uint8)

    def gen(batches):
        for b in batches:
            rows = []
            for i in b["id"].values:
                i = int(i)
                name = names[i % 5]
                dispatch_fmt, enc = encoders[name]
                rows.append({"img_id": i, "fmt": name,
                             "dispatch_fmt": dispatch_fmt,
                             "bytes": enc(_formula(i))})
            yield pd.DataFrame(rows)

    imgs = spark.range(20).mapInPandas(
        gen, "img_id long, fmt string, dispatch_fmt string, bytes binary"
    )

    def dec(i, name, dfmt, data):
        px = decode_image(data, dfmt)
        # floor(x*1e4+0.5)/1e4, NOT round(): Python rounds half-even
        # while DuckDB rounds half-away; pixel means (sum/1280) can land
        # exactly on 4th-decimal ties. Values are non-negative so
        # floor+0.5 is half-away on both sides.
        m4 = float(np.floor(np.mean(px) * 1e4 + 0.5) / 1e4)
        return {"psnr_ok": int(psnr(_formula(i), px) >= 40.0),
                "mean_px": None if name == "jpeg" else m4}

    out = arrow_stage(
        imgs, ["img_id", "fmt"], ["img_id", "fmt", "dispatch_fmt", "bytes"],
        T.StructType([imgs.schema["img_id"], imgs.schema["fmt"],
                      T.StructField("psnr_ok", T.IntegerType()),
                      T.StructField("mean_px", T.DoubleType()),
                      T.StructField("err", T.StringType())]),
        dec,
    )
    return out.select(
        "img_id", "fmt", F.col("err").isNull().cast("int").alias("ok"),
        F.coalesce("psnr_ok", F.lit(0)).alias("psnr_ok"), "mean_px",
    ).orderBy("img_id")


ORACLE_IMAGE_FORMATS = """
WITH ids AS (SELECT unnest(range(20)) AS i),
fmts AS (SELECT i,
  CASE i % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'bmp'
             WHEN 3 THEN 'gif' ELSE 'lossy' END AS fmt
  FROM ids),
grid AS (SELECT i, (i * 31 + x.g * 7 + y.g * 13) % 256 AS v
         FROM ids,
              (SELECT unnest(range(40)) AS g) x,
              (SELECT unnest(range(32)) AS g) y),
means AS (SELECT i, avg(v) AS m, avg((v // 4) * 4 + 2) AS mq
          FROM grid GROUP BY i)
SELECT f.i AS img_id, f.fmt, CAST(1 AS INT) AS ok, CAST(1 AS INT) AS psnr_ok,
       CASE f.fmt WHEN 'jpeg' THEN NULL
                  WHEN 'lossy' THEN floor(mq * 1e4 + 0.5) / 1e4
                  ELSE floor(m * 1e4 + 0.5) / 1e4 END AS mean_px
FROM fmts f JOIN means ON f.i = means.i ORDER BY img_id
"""


def q_incremental_resume(spark, sf):
    """Checkpoint-resume through the driver surface (S8/S16/J3):
    snapshot 300 documents, then run the incremental extractor over the
    full 500 — the anti-join must extract exactly the 200 new rows and
    the second re-run exactly 0 (idempotence). Returns the snapshot log
    with per-run row counts (rows-only; wall-clock fields excluded)."""

    from ..operators.resume import incremental_extract, list_snapshots, write_snapshot

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("image_id"), F.length("text").alias("n_chars_f")
    )
    out = _scratch_dir("resume_q_")
    write_snapshot(d.filter(F.col("image_id") < 300), out, ts_col=None)
    incremental_extract(spark, d, out, lambda df: df)   # picks up the rest
    incremental_extract(spark, d, out, lambda df: df)   # idempotent: +0
    snaps = list_snapshots(out)
    rows = [
        (i, int(m["total_rows"]), len(m.get("files", [])))
        for i, m in enumerate(snaps)
    ]
    return spark.createDataFrame(
        rows, "run int, total_rows bigint, n_files int"
    ).orderBy("run")


def q_video_frames(spark, sf):
    """Multimodal video path, fully ORACLED: deterministic MJPEG AVIs
    (6 flat frames of value (10i+7k)%256 — flat 8x8 blocks decode
    EXACTLY at q97, DC quantizer 1) are muxed on executors, demuxed by
    sample_video_frames (every 2nd frame), each sampled frame decoded
    through the JPEG codec; DuckDB recomputes the frame index set and
    the exact pixel constant from the formula. Verifies mux → RIFF
    demux → frame order → JPEG decode end to end."""
    import numpy as np
    import pandas as pd

    from ..codecs.avi import encode_mjpeg_avi
    from ..codecs.jpeg import decode_jpeg
    from ..operators.multimodal import sample_video_frames

    def gen(batches):
        for b in batches:
            vids, blobs = [], []
            for i in b["id"].values:
                frames = [
                    np.full((16, 16), (10 * int(i) + 7 * k) % 256, dtype=np.uint8)
                    for k in range(6)
                ]
                vids.append(f"v{int(i):03d}")
                blobs.append(encode_mjpeg_avi(frames, fps=10))
            yield pd.DataFrame({"video_id": vids, "bytes": blobs})

    videos = spark.range(8).mapInPandas(gen, "video_id string, bytes binary")
    sampled = sample_video_frames(videos, every_n=2)

    def dec(fb):
        px = decode_jpeg(fb)
        u = np.unique(px)
        return {"h": px.shape[0], "w": px.shape[1],
                "px_const": int(u[0]) if len(u) == 1 else -1}

    out = arrow_stage(
        sampled, ["video_id", "frame_idx"], ["frame_bytes"],
        T.StructType([sampled.schema["video_id"], sampled.schema["frame_idx"]]
                     + [T.StructField(c, T.IntegerType())
                        for c in ("h", "w", "px_const")]),
        dec,
    )
    return out.orderBy("video_id", "frame_idx")


ORACLE_VIDEO_FRAMES = """
WITH v AS (SELECT unnest(range(8)) AS i),
k AS (SELECT unnest([0, 2, 4]) AS frame_idx)
SELECT printf('v%03d', i) AS video_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(16 AS INT) AS h, CAST(16 AS INT) AS w,
       CAST((10 * i + 7 * frame_idx) % 256 AS INT) AS px_const
FROM v, k ORDER BY video_id, frame_idx
"""


def q_resize_images(spark, sf):
    """Multimodal resize stage, fully ORACLED: closed-form-pixel PNGs
    (formula_images_df: pixel(y,x) = (i*31 + x*7 + y*13) % 256) →
    decode → block resize to 8x8 → re-encode PNG → decode back to a
    relational pixel view; DuckDB recomputes every resized pixel from
    the formula. Verifies the PNG codec roundtrip AND the resize
    sampling rule ((o*dim)//8 block anchor) value-by-value."""
    from ..operators.multimodal import image_pixels, resize_images
    from ..sources.images import formula_images_df

    imgs = formula_images_df(spark, 12)
    small = resize_images(imgs, out_h=8, out_w=8)
    return image_pixels(small).orderBy("image_id", "y", "x")


def q_lsh_topk(spark, sf):
    from ..operators.similarity import lsh_topk

    e = _t(spark, sf, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 5).collect()[0].embedding]
    out = lsh_topk(e, qv, k=10, n_planes=8)
    return out.select("vec_id", F.round("score", 5).alias("cos_sim"))


def q_entity_features(spark, sf):
    """Cross-segment aggregation operator (A4-A6: exact median, mean,
    temporal 7-stat block via applyInPandas — aggregate_entity_features
    verbatim), fully ORACLED by lifting it onto a SQL-expressible
    surface: embedding vectors play the per-segment descriptors
    (entity = label), and DuckDB independently recomputes the exact
    median, mean, and all 7 temporal stats (population variance,
    biased skew, Pearson kurtosis, NaN→0) for dimension 0. The
    kernel-input path stays exercised by feature_extract/asof_features
    and the parity suite (tests/test_kernel_parity.py)."""
    from ..operators.extract import aggregate_entity_features

    e = _t(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    segs = e.select(
        F.concat(F.lit("L"), F.col("label").cast("string")).alias("entity_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("vec_id")).alias("ts"),
        F.col("vec_id").cast("string").alias("image_id"),
        v.alias("rp"), v.alias("ssd"), v.alias("rh"), v.alias("rh2"),
        v.alias("mvd"),
        F.lit(None).cast("string").alias("caption"),
        F.lit(None).cast("string").alias("err"),
    )
    agg = aggregate_entity_features(segs)
    dim = 64  # embeddings dim at every SF
    stats = ["mean", "var", "skew", "kurt", "med", "min", "max"]
    tcols = [
        F.round(F.element_at("tssd", s * dim + 1), 6).alias(f"t_{name}_0")
        for s, name in enumerate(stats)
    ]
    return agg.select(
        "entity_id",
        "n_segments",
        F.round(F.element_at("rp", 1), 6).alias("rp_med_0"),
        F.round(F.element_at("ssd", 1), 6).alias("ssd_mean_0"),
        *tcols,
        F.round(F.element_at("trh", dim + 1), 6).alias("trh_var_0"),
    ).orderBy("entity_id")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pricing_summary": q_pricing_summary,
    "stats7": q_stats7,
    "top_revenue": q_top_revenue,
    "nation_revenue": q_nation_revenue,
    "band_agg": q_band_agg,
    "lag_lead": q_lag_lead,
    "ffill": q_ffill,
    "sessionize": q_sessionize,
    "rolling": q_rolling,
    "asof": q_asof,
    "asof_forward": q_asof_forward,
    "asof_tolerance": q_asof_tolerance,
    "anti_join": q_anti_join,
    "semi_join": q_semi_join,
    "set_ops": q_set_ops,
    "dedup_exact": q_dedup_exact,
    "text_stats": q_text_stats,
    "text_quality": q_text_quality,
    "jaccard_verify": q_jaccard_verify,
    "pattern_stats": q_pattern_stats,
    "embedding_normalize": q_embedding_normalize,
    "vocab_topk": q_vocab_topk,
    "token_df": q_token_df,
    "funnel": q_funnel,
    "value_percentiles": q_value_percentiles,
    "hourly_rollup": q_hourly_rollup,
    "daily_active": q_daily_active,
    "class_histogram": q_class_histogram,
    "label_encode": q_label_encode,
    "zscore": q_zscore,
    "topk_per_group": q_topk_per_group,
    "similarity_topk": q_similarity_topk,
    "knn_join": q_knn_join,
    "knn_euclidean": q_knn_euclidean,
    "corpus_curation": q_corpus_curation,
    "multilabel_pivot": q_multilabel_pivot,
    "multilabel_roundtrip": q_multilabel_roundtrip,
    "prune_min_instances": q_prune_min_instances,
    "duplicate_check": q_duplicate_check,
    # non-SQL-expressible (rows-only checks)
    "feature_extract": q_feature_extract,
    "asof_features": q_asof_features,
    "entity_features": q_entity_features,
    "entity_features_rel": q_entity_features_rel,
    "minhash_dedup": q_minhash_dedup,
    "simhash": q_simhash,
    "lsh_topk": q_lsh_topk,
    "embedding_dedup": q_embedding_dedup,
    "resize_images": q_resize_images,
    "audio_roundtrip": q_audio_roundtrip,
    "audio_descriptors": q_audio_descriptors,
    "video_frames": q_video_frames,
    "incremental_resume": q_incremental_resume,
    "image_formats": q_image_formats,
    "centroid_classify": q_centroid_classify,
    "multilabel_classify": q_multilabel_classify,
    "cv_accuracy": q_cv_accuracy,
}

ORACLES: dict[str, str] = {
    "pricing_summary": ORACLE_PRICING,
    "stats7": ORACLE_STATS7,
    "top_revenue": ORACLE_TOP_REVENUE,
    "nation_revenue": ORACLE_NATION_REVENUE,
    "band_agg": ORACLE_BAND_AGG,
    "lag_lead": ORACLE_LAG_LEAD,
    "ffill": ORACLE_FFILL,
    "sessionize": ORACLE_SESSIONIZE,
    "rolling": ORACLE_ROLLING,
    "asof": ORACLE_ASOF,
    "asof_forward": ORACLE_ASOF_FORWARD,
    "asof_tolerance": ORACLE_ASOF_TOLERANCE,
    "anti_join": ORACLE_ANTI,
    "semi_join": ORACLE_SEMI,
    "set_ops": ORACLE_SET_OPS,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "text_stats": ORACLE_TEXT_STATS,
    "text_quality": ORACLE_TEXT_QUALITY,
    "jaccard_verify": ORACLE_JACCARD_VERIFY,
    "pattern_stats": ORACLE_PATTERN_STATS,
    "embedding_normalize": ORACLE_EMBEDDING_NORMALIZE,
    "vocab_topk": ORACLE_VOCAB_TOPK,
    "token_df": ORACLE_TOKEN_DF,
    "funnel": ORACLE_FUNNEL,
    "value_percentiles": ORACLE_VALUE_PERCENTILES,
    "hourly_rollup": ORACLE_HOURLY_ROLLUP,
    "daily_active": ORACLE_DAILY_ACTIVE,
    "class_histogram": ORACLE_CLASS_HISTOGRAM,
    "label_encode": ORACLE_LABEL_ENCODE,
    "zscore": ORACLE_ZSCORE,
    "topk_per_group": ORACLE_TOPK_PER_GROUP,
    "similarity_topk": ORACLE_SIMILARITY_TOPK,
    "knn_join": ORACLE_KNN_JOIN,
    "knn_euclidean": ORACLE_KNN_EUCLIDEAN,
    "corpus_curation": ORACLE_CORPUS_CURATION,
    "multilabel_pivot": ORACLE_MULTILABEL_PIVOT,
    "multilabel_roundtrip": ORACLE_MULTILABEL_ROUNDTRIP,
    "prune_min_instances": ORACLE_PRUNE_MIN_INSTANCES,
    "duplicate_check": ORACLE_DUPLICATE_CHECK,
    "entity_features_rel": ORACLE_ENTITY_FEATURES_REL,
    "centroid_classify": ORACLE_CENTROID_CLASSIFY,
    "multilabel_classify": ORACLE_MULTILABEL_CLASSIFY,
    "audio_roundtrip": ORACLE_AUDIO_ROUNDTRIP,
}


def q_asof_merge(spark, sf):
    """Same semantics as q_asof but through the cogroup/merge_asof
    implementation — cross-checks both physical strategies against the
    single DuckDB ASOF oracle at the driver surface."""
    from ..operators.asof import asof_join_merge

    left, right = _asof_sides(spark, sf)
    out = asof_join_merge(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        values=["purchase_value"],
    )
    return out.select(
        "event_id", "user_id", "ts", "purchase_value",
        F.col("matched_ts").alias("purchase_ts"),
    ).orderBy("event_id")


QUERIES["asof_merge"] = q_asof_merge
ORACLES["asof_merge"] = ORACLE_ASOF


def q_ivf_topk(spark, sf):
    """IVF ANN with a TRAINED coarse quantizer, fully ORACLED: k-means
    seeded from fixed table rows (vec_id < 8, via kmeans_fit(init=...))
    so the ENTIRE pipeline — 2 Lloyd iterations (nearest-centroid
    assign → element-wise mean), inverted-list build, nprobe-limited
    probe, exact in-list top-k — unrolls into DuckDB CTEs (the logreg
    unrolled-training technique). The hash-seeded default kmeans path
    stays covered by pytest; this verifies the training loop
    numerically end to end."""
    from ..operators.similarity import ivf_build, ivf_probe, kmeans_fit

    e = _t(spark, sf, "embeddings")
    init = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("string").alias("centroid_label"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    cent = kmeans_fit(e, k=8, iters=2, init=init)
    qv = [float(x) for x in e.filter(F.col("vec_id") == 7).first().embedding]
    lists = ivf_build(e, cent)  # write-once / probe-many shape
    out = ivf_probe(lists, cent, qv, k=10, nprobe=2)
    return out.select(
        "vec_id", F.round("score", 5).alias("cos_sim")
    ).orderBy(F.col("cos_sim").desc(), "vec_id")


def _ivf_topk_oracle_sql(iters: int = 2, nprobe: int = 2, k: int = 10) -> str:
    """Unrolled Lloyd iterations + IVF probe, mirroring q_ivf_topk:
    assignment tiebreak (distance ASC, label ASC) matches
    predict_centroids; top-k membership by RAW cosine score with the
    final order on the ROUNDED alias, the ORACLE_IVF_RECALL rule."""
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7)",
        "c0 AS (SELECT CAST(vec_id AS VARCHAR) AS lab, v AS c FROM e WHERE vec_id < 8)",
    ]
    for it in range(1, iters + 1):
        ctes.append(
            f"""a{it} AS (
  SELECT e.vec_id, e.v,
         (SELECT lab FROM c{it - 1}
          ORDER BY list_distance(c{it - 1}.c, e.v) ASC, lab ASC LIMIT 1) AS lab
  FROM e)"""
        )
        ctes.append(
            f"""c{it} AS (
  SELECT lab, array_agg(m ORDER BY pos) AS c FROM (
    SELECT lab, pos, avg(val) AS m FROM (
      SELECT lab, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM a{it})
    GROUP BY lab, pos)
  GROUP BY lab)"""
        )
    final = f"""assign AS (
  SELECT e.vec_id, e.v,
         (SELECT lab FROM c{iters}
          ORDER BY list_distance(c{iters}.c, e.v) ASC, lab ASC LIMIT 1) AS list_id
  FROM e),
probe AS (SELECT lab FROM c{iters}, q
          ORDER BY list_distance(c, v) ASC, lab ASC LIMIT {nprobe})
SELECT * FROM (
  SELECT vec_id,
         round(list_cosine_similarity(v, (SELECT v FROM q)), 5) AS cos_sim
  FROM assign WHERE list_id IN (SELECT lab FROM probe)
  ORDER BY list_cosine_similarity(v, (SELECT v FROM q)) DESC, vec_id ASC
  LIMIT {k})
ORDER BY cos_sim DESC, vec_id ASC"""
    return "WITH " + ",\n".join(ctes) + ",\n" + final


QUERIES["ivf_topk"] = q_ivf_topk
ORACLES["ivf_topk"] = _ivf_topk_oracle_sql()


# ------------------------------------------- round 3: ANN recall oracles
#
# The approximate operators (LSH top-k, IVF probe, MinHash candidates,
# embedding near-dup) were rows-only in round 2. They become fully
# oracled by making the approximation REPRODUCIBLE in SQL: the random
# hyperplanes depend only on (dim, n_planes, seed), so their constants
# are inlined into the oracle; IVF uses table rows as fixed coarse
# centroids; MinHash candidates are verified with exact n-gram Jaccard
# whose >=threshold ground truth DuckDB recomputes over ALL pairs
# (a genuine recall check: one missed true pair = one missing row).

def _sql_double_array(vals) -> str:
    return "[" + ", ".join(repr(float(x)) for x in vals) + "]::DOUBLE[]"


def _sql_bucket_expr(vec_sql: str, planes) -> str:
    """DuckDB expression for the random-hyperplane LSH bucket id —
    bit i (MSB-first) = sign of <vec, plane_i>, identical to
    operators.similarity.bucket_col."""
    n = len(planes)
    terms = [
        f"(CASE WHEN list_dot_product({vec_sql}, {_sql_double_array(p)}) >= 0"
        f" THEN {1 << (n - 1 - i)} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + "\n   + ".join(terms) + ")"


def _planes(n_planes: int):
    from ..operators.similarity import hyperplanes

    return hyperplanes(64, n_planes, seed=13)  # embeddings dim is 64 at every SF


ORACLE_LSH_TOPK = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 5),
b AS (SELECT e.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.v) AS cs,
             {_sql_bucket_expr("e.embedding::DOUBLE[]", _planes(8))} AS bucket,
             {_sql_bucket_expr("q.v", _planes(8))} AS qbucket
      FROM embeddings e, q)
SELECT vec_id, round(cs, 5) AS cos_sim
FROM b WHERE bucket = qbucket
ORDER BY cs DESC, vec_id ASC LIMIT 10
"""

ORACLES["lsh_topk"] = ORACLE_LSH_TOPK


def q_ivf_recall(spark, sf):
    """IVF probe with FIXED coarse centroids (the embeddings of
    vec_id 0..7), so the whole approximate search — nearest-centroid
    assignment, nprobe-list selection, in-list exact top-k — is
    independently recomputable in DuckDB. Complements ivf_topk (which
    keeps the k-means-trained quantizer, not SQL-expressible)."""
    from ..operators.similarity import ivf_build, ivf_probe

    e = _t(spark, sf, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("string").alias("centroid_label"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    qv = [float(x) for x in e.filter(F.col("vec_id") == 7).first().embedding]
    lists = ivf_build(e, cent)
    out = ivf_probe(lists, cent, qv, k=10, nprobe=2)
    return out.select(
        "vec_id", F.round("score", 5).alias("cos_sim")
    ).orderBy(F.col("cos_sim").desc(), "vec_id")


ORACLE_IVF_RECALL = """
WITH cent AS (SELECT CAST(vec_id AS VARCHAR) AS lab, embedding::DOUBLE[] AS c
              FROM embeddings WHERE vec_id < 8),
q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
assign AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS ev,
         (SELECT lab FROM cent
          ORDER BY list_distance(cent.c, e.embedding::DOUBLE[]) ASC, lab ASC
          LIMIT 1) AS list_id
  FROM embeddings e),
probe AS (SELECT lab FROM cent, q
          ORDER BY list_distance(c, v) ASC, lab ASC LIMIT 2)
SELECT * FROM (
  SELECT vec_id,
         round(list_cosine_similarity(ev, (SELECT v FROM q)), 5) AS cos_sim
  FROM assign WHERE list_id IN (SELECT lab FROM probe)
  ORDER BY list_cosine_similarity(ev, (SELECT v FROM q)) DESC, vec_id ASC
  LIMIT 10)
-- top-10 membership by RAW score (matches topk_similar's orderBy);
-- final row order by the ROUNDED alias + id, exactly like the Spark
-- side's orderBy(cos_sim, vec_id) — raw-score final order could
-- disagree when two scores round to the same 5-decimal value
ORDER BY cos_sim DESC, vec_id ASC
"""

QUERIES["ivf_recall"] = q_ivf_recall
ORACLES["ivf_recall"] = ORACLE_IVF_RECALL


def q_minhash_recall(spark, sf):
    """Recall oracle for MinHash LSH: banded-signature candidates,
    verified with EXACT word-3-gram Jaccard, thresholded at 0.5. The
    oracle recomputes the >=0.5 ground truth over ALL document pairs in
    DuckDB — if the LSH bands miss one true near-dup pair, the Spark
    side has one row fewer and the gate goes red. With 32 bands x 4
    rows, P(miss) at jaccard s is (1-s^4)^32 (<= 5e-8 for s >= 0.8; the
    corpus' true pairs all sit above 0.8), and the outcome is
    deterministic for a fixed seed."""
    from ..operators.dedup import (
        banded_signatures, minhash_signatures, ngram_jaccard)

    d = _t(spark, sf, "documents")
    n_hashes, bands = 128, 32
    sigs = minhash_signatures(d, n_hashes=n_hashes)
    banded = banded_signatures(sigs, "doc_id", n_hashes, bands)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .filter(F.col("a.doc_id") > F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    j = ngram_jaccard(d, cand, n=3)
    return (
        j.filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


ORACLE_MINHASH_RECALL = r"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 1)),
           i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM toks),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.g, b.g))
           / greatest(len(list_distinct(list_concat(a.g, b.g))), 1) AS jac
  FROM grams a JOIN grams b ON b.doc_id < a.doc_id)
SELECT id_a, id_b, round(jac, 6) AS jaccard
FROM pairs WHERE jac >= 0.5 ORDER BY id_a, id_b
"""

QUERIES["minhash_recall"] = q_minhash_recall
ORACLES["minhash_recall"] = ORACLE_MINHASH_RECALL


ORACLE_EMBEDDING_DEDUP = f"""
WITH RECURSIVE b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_sql_bucket_expr("embedding::DOUBLE[]", _planes(10))} AS bucket
  FROM embeddings),
capped AS (
  SELECT vec_id, v, bucket FROM (
    SELECT vec_id, v, bucket,
           row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
    FROM b)
  WHERE rn <= 512),
edges AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b
  FROM capped a JOIN capped c ON a.bucket = c.bucket AND c.vec_id < a.vec_id
  WHERE list_cosine_similarity(a.v, c.v) >= 0.98),
sym AS (SELECT id_a AS s, id_b AS d FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach(a, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d)
SELECT a AS vec_id, min(r) AS rep_id FROM reach GROUP BY a ORDER BY vec_id
"""

ORACLES["embedding_dedup"] = ORACLE_EMBEDDING_DEDUP


def q_minhash_dedup_verified(spark, sf):
    """MinHash near-dup COMPONENTS, fully oracled: band candidates ->
    exact 3-gram Jaccard verify (>= 0.5) -> transitive min-label
    components. Because minhash_recall proves band recall is 1.0 on
    this corpus, the verified component structure equals the components
    of the exact all-pairs Jaccard graph, which DuckDB recomputes with
    a recursive CTE — approximate pipeline vs exact ground truth."""
    from ..operators.dedup import minhash_lsh_dedup

    d = _t(spark, sf, "documents")
    out = minhash_lsh_dedup(d, n_hashes=128, bands=32, verify_jaccard=0.5)
    return out.select("doc_id", "rep_id").orderBy("doc_id")


ORACLE_MINHASH_DEDUP_VERIFIED = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 1)),
           i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM toks),
edges AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM grams a JOIN grams b ON b.doc_id < a.doc_id
  WHERE len(list_intersect(a.g, b.g))
          / greatest(len(list_distinct(list_concat(a.g, b.g))), 1) >= 0.5),
sym AS (SELECT id_a AS s, id_b AS d FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach(a, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d)
SELECT a AS doc_id, min(r) AS rep_id FROM reach GROUP BY a ORDER BY doc_id
"""

QUERIES["minhash_dedup_verified"] = q_minhash_dedup_verified
ORACLES["minhash_dedup_verified"] = ORACLE_MINHASH_DEDUP_VERIFIED


def _logreg_oracle_sql(iters: int, lr: float) -> str:
    """Unrolled full-batch gradient-descent logistic regression in pure
    SQL: one CTE block per iteration (residuals -> per-dimension mean
    gradient -> updated weight lists). Mirrors train_logreg_ovr exactly
    (zero init, bias dimension appended, mean gradient, same lr), so
    the trained model itself is cross-checked, not just the scoring.
    The embeddings dim (64, +1 bias) is constant at every SF and is
    baked in because generate_series needs constant bounds."""
    parts = [r"""WITH raw AS (
  SELECT vec_id, CAST(label AS VARCHAR) AS y,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings),
stats AS (SELECT pos, avg(val) AS mu, stddev_pop(val) AS sd
          FROM raw GROUP BY pos),
e AS (
  SELECT vec_id, y,
         list_append(
           list((raw.val - stats.mu)
                / (CASE WHEN stats.sd = 0 THEN 1.0 ELSE stats.sd END)
                ORDER BY raw.pos), 1.0) AS v
  FROM raw JOIN stats USING (pos)
  GROUP BY vec_id, y),
w0 AS (SELECT DISTINCT y AS cls,
              list_transform(generate_series(1, 65), i -> 0.0) AS w
       FROM e)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
s{i} AS (SELECT w.cls, e.v,
               1.0/(1.0+exp(-list_dot_product(w.w, e.v)))
                 - (CASE WHEN e.y = w.cls THEN 1.0 ELSE 0.0 END) AS r
        FROM e, w{i - 1} w),
g{i} AS (SELECT cls, t.pos, avg(r * v[t.pos]) AS g
        FROM s{i}, generate_series(1, 65) AS t(pos)
        GROUP BY cls, t.pos),
w{i} AS (SELECT w{i - 1}.cls,
               list(w{i - 1}.w[g.pos] - {lr!r} * g.g ORDER BY g.pos) AS w
        FROM g{i} g JOIN w{i - 1} ON w{i - 1}.cls = g.cls
        GROUP BY w{i - 1}.cls)""")
    parts.append(f""",
sc AS (SELECT e.vec_id, w.cls, list_dot_product(w.w, e.v) AS s
       FROM e, w{iters} w),
r AS (SELECT vec_id, cls, s,
             row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cls ASC) AS rn
      FROM sc)
SELECT vec_id, cls AS predicted_label, round(s, 5) AS score
FROM r WHERE rn = 1 ORDER BY vec_id""")
    return "".join(parts)


def q_logreg_classify(spark, sf):
    """Linear-model classifier (the reference's SVC family analog,
    rp_classify.py:59-66): OvR logistic regression trained by 8
    full-batch GD iterations, each ONE distributed aggregation with the
    K-row model collected per iteration. The oracle re-trains the SAME
    model in DuckDB (unrolled iterations) and re-scores — weights,
    bias, argmax and tiebreaks all cross-checked."""
    from ..operators.classify import (apply_vector_scaler, fit_vector_scaler,
                                      predict_logreg, train_logreg_ovr)

    e = _t(spark, sf, "embeddings")
    es = apply_vector_scaler(e, fit_vector_scaler(e))  # StandardScaler
    # first, exactly like the reference (rp_classify.py:28-37) — and GD
    # on standardized features converges in single-digit iterations
    model = train_logreg_ovr(es, iters=8, lr=2.0)
    preds = predict_logreg(model, es)
    return preds.select(
        "vec_id", "predicted_label", F.round("score", 5).alias("score")
    ).orderBy("vec_id")


QUERIES["logreg_classify"] = q_logreg_classify
ORACLES["logreg_classify"] = _logreg_oracle_sql(iters=8, lr=2.0)


_GTZAN_BASENAME = "/root/reference/models/GTZAN"
_GTZAN_MODEL = _GTZAN_BASENAME + ".model.pkl"


def _svm_oracle_sql() -> str:
    """Re-score the reference's pickled GTZAN OvR-linear-SVC in pure
    SQL: the folded (scaler @ SVM) weights are exact float64 literals,
    the synthetic 228-dim features are closed-form in doc_id, and the
    argmax replicates sklearn's later-estimator-wins tie rule via
    ``ORDER BY s DESC, c DESC``. Cross-engine score drift through the
    228-term dot products measured 2e-12 on decision values O(1e3)
    with top-2 margins >= 0.49 — rounded floor(x*1e4+0.5) parity."""
    from ..sources.sklearn_models import load_reference_model

    m = load_reference_model(_GTZAN_BASENAME)
    w, b = m.folded_weights()
    wt_rows = ",".join(f"({c},{j},{w[c, j]!r})"
                       for c in range(w.shape[0]) for j in range(w.shape[1]))
    b_rows = ",".join(f"({c},{b[c]!r})" for c in range(len(b)))
    lbl_rows = ",".join(f"({c},'{g}')" for c, g in enumerate(m.labels))
    return f"""
WITH d AS (SELECT doc_id FROM documents),
feat AS (SELECT doc_id, j,
                CAST((doc_id*31 + j*17 + (doc_id%11)*j) % 997 AS DOUBLE)
                  / 99.7 - 5.0 AS x
         FROM d, range(0,228) t(j)),
w(c, j, wt) AS (VALUES {wt_rows}),
b(c, icpt) AS (VALUES {b_rows}),
lbl(c, genre) AS (VALUES {lbl_rows}),
dec AS (SELECT doc_id, c, sum(x*wt) AS s
        FROM feat JOIN w USING (j) GROUP BY doc_id, c),
full_dec AS (SELECT doc_id, dec.c AS c, s + icpt AS s
             FROM dec JOIN b ON dec.c = b.c),
r AS (SELECT doc_id, c, s,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, c DESC) AS rn
      FROM full_dec)
SELECT r.doc_id, lbl.genre,
       floor(r.s * 10000 + 0.5) / 10000 AS score
FROM r JOIN lbl ON r.c = lbl.c
WHERE r.rn = 1 ORDER BY r.doc_id
"""


def q_svm_classify(spark, sf):
    """Pre-trained sklearn model interop (UD3 / reference entry point
    3, rp_classify.py:110-158 + :66-71): the reference's shipped GTZAN
    ``OneVsRestClassifier(SVC(kernel='linear'))`` + StandardScaler +
    LabelEncoder pickles are loaded WITHOUT sklearn (restricted
    unpickler, sources/sklearn_models.py) and re-executed as one
    Arrow-batched scoring scan. Features are deterministic closed-form
    228-dim vectors per doc_id so DuckDB recomputes the entire chain —
    folded weights, decisions, argmax tie rule and genre labels."""
    from ..sources.sklearn_models import classify_vectors, load_reference_model

    if not os.path.isfile(_GTZAN_MODEL):
        raise FileNotFoundError(
            f"svm_classify needs the reference GTZAN model {_GTZAN_MODEL}")
    model = load_reference_model(_GTZAN_BASENAME)
    # one parquet file = one split: spread so the 228-dim feature
    # synthesis + Arrow scoring stage runs on every core (round 6)
    docs = spread(_t(spark, sf, "documents").select("doc_id"))
    j = F.sequence(F.lit(0), F.lit(227))
    feat = docs.withColumn(
        "features",
        F.transform(
            j,
            lambda jj: (
                (F.col("doc_id") * 31 + jj * 17
                 + (F.col("doc_id") % 11) * jj) % 997
            ).cast("double") / F.lit(99.7) - F.lit(5.0),
        ),
    )
    out = classify_vectors(feat, model, "features", "genre",
                           score_col="__raw")
    return out.select(
        "doc_id", "genre",
        (F.floor(F.col("__raw") * 10000 + F.lit(0.5)) / 10000).alias("score"),
    ).orderBy("doc_id")


QUERIES["svm_classify"] = q_svm_classify
# the oracle folds the model's weights into SQL literals, so it exists
# only where the reference model does
if os.path.isfile(_GTZAN_MODEL):
    ORACLES["svm_classify"] = _svm_oracle_sql()


def q_mp3_decode(spark, sf):
    """S4 (compressed-audio decode): self-generated MPEG-1 Layer III
    streams (codecs/mp3.encode_mp3_subset, verified-table subset)
    through the Spark audio-analysis path — full bitstream decode
    (header/side-info/Huffman/requantize/IMDCT/synthesis) on
    executors, error isolation for a corrupt row. Rows-only: bit-level
    codec work has no SQL oracle; byte-exact PCM equality is
    pytest-enforced (tests/test_mp3.py)."""
    import numpy as np

    from ..codecs.mp3 import encode_mp3_subset
    from ..operators.multimodal import analyze_audio

    rng = np.random.default_rng(17)
    rows = []
    for i in range(8):
        pairs = [tuple(int(v) for v in rng.integers(-5, 6, size=2))
                 for _ in range(24)]
        rows.append((f"mp3_{i:02d}",
                     bytearray(encode_mp3_subset([pairs, pairs]))))
    rows.append(("corrupt", bytearray(b"\xff\xfb\x00\x00garbage")))
    clips = spark.createDataFrame(rows, "clip_id string, bytes binary")
    out = analyze_audio(clips)
    return out.select(
        "clip_id", "n_samples", "samplerate",
        F.round("rms", 6).alias("rms"),
        F.col("err").isNotNull().alias("failed"),
    ).orderBy("clip_id")


QUERIES["mp3_decode"] = q_mp3_decode


# ------------------------------------ round 3: curation operators

_SQL_NTOK = r"""CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                 - length(replace(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ', '')) + 1
       END"""


def q_pack_sequences(spark, sf):
    """Concatenate-and-chunk sequence packing for LLM pretraining:
    token stream in doc_id order, seq_id = start_offset // budget.
    Implemented as a DISTRIBUTED prefix sum (range partition +
    per-partition window + broadcast base offsets — no global window);
    the oracle is the plain global running sum in SQL."""
    from ..operators.curation import pack_sequences

    d = _t(spark, sf, "documents")
    out = pack_sequences(d, budget=512)
    return out.select(
        "doc_id", "n_tokens", "start_offset", "seq_id"
    ).orderBy("doc_id")


ORACLE_PACK_SEQUENCES = rf"""
WITH t AS (
  SELECT doc_id, {_SQL_NTOK} AS n_tokens FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_offset
  FROM t)
SELECT doc_id, n_tokens, start_offset,
       CAST(FLOOR(start_offset / 512) AS BIGINT) AS seq_id
FROM c ORDER BY doc_id
"""

QUERIES["pack_sequences"] = q_pack_sequences
ORACLES["pack_sequences"] = ORACLE_PACK_SEQUENCES


def q_stratified_split(spark, sf):
    """Deterministic stratified train/val/test assignment (80/10/10
    within every label, rank-by-id cuts — reproducible, no RNG)."""
    from ..operators.curation import stratified_split

    e = _t(spark, sf, "embeddings")
    out = stratified_split(e, label_col="label", id_col="vec_id")
    return out.select("vec_id", "label", "split").orderBy("vec_id")


ORACLE_STRATIFIED_SPLIT = """
WITH r AS (
  SELECT vec_id, label,
         row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn,
         count(*) OVER (PARTITION BY label) AS n
  FROM embeddings)
SELECT vec_id, label,
       CASE WHEN rn <= FLOOR(n * 0.8) THEN 'train'
            WHEN rn <= FLOOR(n * 0.9) THEN 'val'
            ELSE 'test' END AS split
FROM r ORDER BY vec_id
"""

QUERIES["stratified_split"] = q_stratified_split
ORACLES["stratified_split"] = ORACLE_STRATIFIED_SPLIT


def q_decontaminate(spark, sf):
    """Benchmark decontamination: corpus documents whose normalized
    content fingerprint appears in the 'benchmark' (every 10th doc
    plays the benchmark here) are dropped — broadcast anti-join on
    md5 digests, no text in the exchange."""
    from ..operators.curation import decontaminate

    d = _t(spark, sf, "documents")
    benchmark = d.filter(F.col("doc_id") % 10 == 0).select("text")
    kept = decontaminate(d, benchmark)
    return kept.select("doc_id").orderBy("doc_id")


ORACLE_DECONTAMINATE = r"""
WITH bfp AS (
  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM documents WHERE doc_id % 10 = 0)
SELECT doc_id FROM documents
WHERE md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      NOT IN (SELECT fp FROM bfp)
ORDER BY doc_id
"""

QUERIES["decontaminate"] = q_decontaminate
ORACLES["decontaminate"] = ORACLE_DECONTAMINATE


def q_sequences_table(spark, sf):
    """Materialized packing view: per training sequence, member docs in
    stream order + token totals (groupBy over the distributed prefix
    sum; the first doc id stands in for the array in the compare —
    arrays hash fine too, but a scalar keeps the oracle readable)."""
    from ..operators.curation import sequences_table

    d = _t(spark, sf, "documents")
    out = sequences_table(d, budget=512)
    return out.select(
        "seq_id",
        F.element_at("doc_ids", 1).alias("first_doc"),
        "n_docs",
        "total_tokens",
    ).orderBy("seq_id")


ORACLE_SEQUENCES_TABLE = rf"""
WITH t AS (
  SELECT doc_id, {_SQL_NTOK} AS n_tokens FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_offset
  FROM t)
SELECT CAST(FLOOR(start_offset / 512) AS BIGINT) AS seq_id,
       MIN(doc_id) AS first_doc,
       COUNT(*) AS n_docs,
       SUM(n_tokens) AS total_tokens
FROM c GROUP BY 1 ORDER BY seq_id
"""

QUERIES["sequences_table"] = q_sequences_table
ORACLES["sequences_table"] = ORACLE_SEQUENCES_TABLE


# ------------------------------------------- HDF5 feature-store interop

def q_hdf5_roundtrip(spark, sf):
    """S8/S10 HDF5 interop evidence: WRITE the embeddings table as a
    reference-layout ``.h5`` feature store (HDF5FeatureWriter schema:
    vec + file_ids + file_ids2 + vec_dim/vec_type attrs,
    rp_feature_io.py:93-264) through the pure-numpy codec, then READ
    it back with the distributed binaryFile scan and derive per-row
    checksums. The oracle recomputes the same values from the parquet
    directly, so the full byte-level h5 write/read path is what is
    under test."""

    from ..sources.hdf5 import read_h5_features, write_h5_features

    e = _t(spark, sf, "embeddings")
    src = e.select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("embedding").alias("vec"),
        F.col("label").alias("lbl"),
    )
    path = os.path.join(_scratch_dir("h5_"), "features.ssd")
    write_h5_features(src, path, id2_col="lbl", vec_type="ssd")
    back = read_h5_features(spark, path + ".h5")
    return back.select(
        "file_id",
        F.col("file_id2").alias("label"),
        F.size("vec").alias("dim"),
        F.round(
            F.aggregate("vec", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("vec_sum"),
        "vec_type",
    ).orderBy("file_id")


ORACLE_HDF5_ROUNDTRIP = """
SELECT CAST(vec_id AS VARCHAR) AS file_id,
       label,
       len(embedding) AS dim,
       ROUND(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum'), 6)
         AS vec_sum,
       'SSD' AS vec_type
FROM embeddings
ORDER BY file_id
"""

QUERIES["hdf5_roundtrip"] = q_hdf5_roundtrip
ORACLES["hdf5_roundtrip"] = ORACLE_HDF5_ROUNDTRIP


# --------------------------------------------------- BM25 retrieval

_BM25_TERMS = ("spark", "merge", "vector")


def q_bm25_rank(spark, sf):
    """Lexical ranked retrieval over documents: Okapi BM25 (Lucene idf
    form) for a fixed 3-term query — the text-battery complement of
    the embedding kNN queries. One aggregate pass for corpus stats
    (N, avgdl, per-term document frequencies), one stateless scoring
    scan, global top-k."""
    from ..operators.text import bm25_rank

    d = _t(spark, sf, "documents")
    return bm25_rank(d, list(_BM25_TERMS), top_k=10)


def _bm25_oracle_sql(terms=_BM25_TERMS, k1=1.2, b=0.75, top_k=10):
    """BM25 recomputed from scratch in SQL: same tokenizer as the
    Spark side (whitespace split of the lowercased trimmed text),
    same idf/norm formulas, same rounding and tiebreaks."""
    toks = (r"string_split(regexp_replace(lower(trim(text)), '\s+', ' ', "
            r"'g'), ' ')")
    per_term = []
    stats_cols = []
    for i, t in enumerate(terms):
        stats_cols.append(
            f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END)"
            f" AS df_{i}"
        )
        per_term.append(
            f"""ln(1.0 + (s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5))
             * tf_{i} * ({k1} + 1.0)
             / (tf_{i} + {k1} * (1.0 - {b} + {b} * d.dl / s.avgdl))"""
        )
    tf_cols = ", ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    return f"""
WITH d AS (
  SELECT doc_id, {toks} AS toks, CAST({_SQL_NTOK} AS BIGINT) AS dl
  FROM documents),
t AS (
  SELECT doc_id, dl, {tf_cols} FROM d),
s AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl, {", ".join(stats_cols)} FROM d)
SELECT d.doc_id, ROUND({" + ".join(per_term)}, 6) AS score, d.dl
FROM t d, s
WHERE {" + ".join(per_term)} > 0
ORDER BY score DESC, d.doc_id ASC
LIMIT {top_k}
"""


QUERIES["bm25_rank"] = q_bm25_rank
ORACLES["bm25_rank"] = _bm25_oracle_sql()


# --------------------------------------------------- BPE merge training

def q_bpe_merges(spark, sf):
    """Learned BPE merge list over documents (4 merges, full corpus).
    The oracle recomputes training from scratch in DuckDB: the same
    word-frequency reduction, pair counting over double-space symbol
    strings, (count desc, pair asc) argmax, and literal-replace merge
    application, unrolled one CTE stage per merge (the unrolled-GD
    logreg discipline)."""
    from ..operators.curation import train_bpe

    d = _t(spark, sf, "documents")
    return train_bpe(d, n_merges=4, min_count=1).orderBy("rank")


def _bpe_oracle_sql(n_merges=4):
    """Mirrors train_bpe's sentinel-wrapped representation: symbols
    are '\\x1fsym\\x1f' (chr(31)), so the literal pair replace can only
    match whole adjacent symbols, never a prefix of a longer symbol."""
    tok = (r"unnest(string_split(regexp_replace(lower(trim(text)), "
           r"'\s+', ' ', 'g'), ' '))")
    sql = f"""WITH words AS (
  SELECT replace(w, chr(31), '') AS w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT {tok} AS w FROM documents) WHERE w <> ''
  GROUP BY 1),
s0 AS (SELECT array_to_string(
         list_transform(string_split(w, ''),
                        c -> chr(31) || c || chr(31)), '  ') AS sym, cnt
       FROM words)"""
    selects = []
    for i in range(n_merges):
        # merged-wrapped = chr(31) || lhs || rhs || chr(31)
        merged_w = (f"chr(31) || replace(replace((SELECT pair FROM m{i}), "
                    f"chr(31), ''), '  ', '') || chr(31)")
        sql += f""",
p{i} AS (SELECT z[1] || '  ' || z[2] AS pair, CAST(SUM(cnt) AS BIGINT) AS c
         FROM (SELECT unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS z, cnt
               FROM (SELECT string_split(sym, '  ') AS s, cnt FROM s{i}))
         GROUP BY 1),
m{i} AS (SELECT pair, c FROM p{i} ORDER BY c DESC, pair ASC LIMIT 1),
s{i + 1} AS (SELECT replace(sym, (SELECT pair FROM m{i}),
                    {merged_w}) AS sym, cnt
             FROM s{i})"""
        selects.append(
            f"""SELECT {i} AS rank,
       replace(string_split((SELECT pair FROM m{i}), '  ')[1],
               chr(31), '') AS lhs,
       replace(string_split((SELECT pair FROM m{i}), '  ')[2],
               chr(31), '') AS rhs,
       replace(replace((SELECT pair FROM m{i}), chr(31), ''),
               '  ', '') AS merged,
       (SELECT c FROM m{i}) AS pair_count"""
        )
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY rank"


QUERIES["bpe_merges"] = q_bpe_merges
ORACLES["bpe_merges"] = _bpe_oracle_sql()


def q_bpe_encode(spark, sf):
    """BPE apply path under oracle: train 3 merges on documents, then
    tokenize the same corpus with them — per-doc BPE token counts. The
    oracle reuses the unrolled training CTEs and, instead of replay,
    JOINS each document's words to the final merge state s3 (training
    already symbolized every vocabulary word), which must agree with
    the Spark side's per-word literal-replace re-application."""
    from ..operators.curation import apply_bpe, train_bpe

    d = _t(spark, sf, "documents")
    merges = train_bpe(d, n_merges=3, min_count=1)
    return (
        apply_bpe(d, merges)
        .select("doc_id", F.col("n_bpe_tokens").cast("long").alias("n_bpe"))
        .orderBy("doc_id")
    )


def _bpe_encode_oracle_sql(n_merges=3):
    train = _bpe_oracle_sql(n_merges).split("\nSELECT 0 AS rank")[0]
    # keep the word through the stages: rebuild s0..sN with w carried
    train = train.replace(
        "s0 AS (SELECT array_to_string(",
        "s0 AS (SELECT w, array_to_string(",
    )
    for i in range(n_merges):
        train = train.replace(
            f"s{i + 1} AS (SELECT replace(sym,",
            f"s{i + 1} AS (SELECT w, replace(sym,",
        )
    # LEFT join from documents: empty/whitespace-only docs must emit
    # n_bpe = 0, exactly as apply_bpe's empty token array does
    return train + f"""
SELECT d0.doc_id, CAST(COALESCE(x.n, 0) AS BIGINT) AS n_bpe
FROM documents d0
LEFT JOIN (
  SELECT d.doc_id, SUM(len(string_split(s.sym, '  '))) AS n
  FROM (SELECT doc_id, replace(
               unnest(string_split(regexp_replace(lower(trim(text)),
                      '\\s+', ' ', 'g'), ' ')), chr(31), '') AS w
        FROM documents) d
  JOIN s{n_merges} s ON d.w = s.w
  WHERE d.w <> ''
  GROUP BY d.doc_id) x ON d0.doc_id = x.doc_id
ORDER BY d0.doc_id
"""


QUERIES["bpe_encode"] = q_bpe_encode
ORACLES["bpe_encode"] = _bpe_encode_oracle_sql()


# ------------------------------------------- deterministic sampling

def q_corpus_sample(spark, sf):
    """Reproducible corpus subsetting: stable-hash sample at 20% then
    a per-source cap of 15 (deterministic lowest-doc_id winners). Both
    steps recompute exactly in SQL."""
    from ..operators.curation import cap_per_group, hash_sample

    d = _t(spark, sf, "documents")
    out = cap_per_group(hash_sample(d, 0.2, "doc_id"), "source", 15)
    return out.select("doc_id", "source", "lang").orderBy("doc_id")


ORACLE_CORPUS_SAMPLE = f"""
WITH s AS (
  SELECT doc_id, source, lang
  FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{format(int(0.2 * 16**8), "08x")}'),
r AS (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rn
  FROM s)
SELECT doc_id, source, lang FROM r WHERE rn <= 15 ORDER BY doc_id
"""

QUERIES["corpus_sample"] = q_corpus_sample
ORACLES["corpus_sample"] = ORACLE_CORPUS_SAMPLE


def q_chunk_documents(spark, sf):
    """Overlapping token-window chunking (retrieval prep): 40-token
    chunks every 32 tokens. Oracle recomputes the same windows via
    generate_series + list slicing."""
    from ..operators.curation import chunk_documents

    d = spread(_t(spark, sf, "documents"))  # 1-split scan (round 6)
    return chunk_documents(d, chunk_size=40, overlap=8).orderBy(
        "doc_id", "chunk_idx"
    )


ORACLE_CHUNK_DOCUMENTS = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                     '\s+', ' ', 'g'), ' '), x -> x <> '') AS toks
  FROM documents),
s AS (SELECT unnest(generate_series(0, 100000, 32)) AS n)
SELECT t.doc_id,
       CAST(s.n // 32 AS INT) AS chunk_idx,
       CAST(s.n AS INT) AS start_tok,
       CAST(len(toks[s.n + 1 : s.n + 40]) AS INT) AS n_chunk_tokens,
       array_to_string(toks[s.n + 1 : s.n + 40], ' ') AS chunk_text
FROM t, s
WHERE s.n < len(toks)
ORDER BY doc_id, chunk_idx
"""

QUERIES["chunk_documents"] = q_chunk_documents
ORACLES["chunk_documents"] = ORACLE_CHUNK_DOCUMENTS


# --------------------------------------------------- count-min sketch

_CMS_DEPTH, _CMS_WIDTH = 4, 256
_CMS_KEYS = ("scan", "column", "window", "spark", "merge",
             "zz-absent-token")


def q_cms_counts(spark, sf):
    """Count-min sketch over document tokens (depth 4 x width 256 —
    small enough to force collisions) probed for 6 fixed keys. The
    oracle rebuilds the identical sketch in SQL (md5-prefix hashing
    parity) and takes the same min-over-depth estimates."""
    from ..operators.sketch import cms_estimate, count_min_sketch
    from ..operators.text import nonempty_tokens_col

    d = _t(spark, sf, "documents")
    items = d.select(
        F.explode(nonempty_tokens_col(F.col("text"))).alias("token")
    )
    sketch = count_min_sketch(items, "token", _CMS_DEPTH, _CMS_WIDTH)
    return cms_estimate(
        sketch, list(_CMS_KEYS), _CMS_DEPTH, _CMS_WIDTH
    ).orderBy("key")


def _cms_oracle_sql(depth=_CMS_DEPTH, width=_CMS_WIDTH, keys=_CMS_KEYS):
    bucket = (lambda expr, j:
              f"CAST('0x' || substr(md5({expr} || chr(30) || 'cms{j}'), "
              f"1, 8) AS BIGINT) % {width}")
    key_rows = ", ".join(f"('{k}')" for k in keys)
    cell_selects = "\nUNION ALL\n".join(
        f"SELECT token, {j} AS depth, {bucket('token', j)} AS bucket FROM items"
        for j in range(depth)
    )
    probe_selects = "\nUNION ALL\n".join(
        f"SELECT key, {j} AS depth, {bucket('key', j)} AS bucket FROM ks"
        for j in range(depth)
    )
    return rf"""
WITH items AS (
  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+',
                ' ', 'g'), ' ')) AS token
  FROM documents),
cells AS ({cell_selects.replace('FROM items',
                                "FROM items WHERE token <> ''")}),
sketch AS (
  SELECT depth, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cells GROUP BY 1, 2),
ks(key) AS (VALUES {key_rows}),
probes AS ({probe_selects})
SELECT p.key, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est
FROM probes p LEFT JOIN sketch s
  ON p.depth = s.depth AND p.bucket = s.bucket
GROUP BY p.key
ORDER BY p.key
"""


QUERIES["cms_counts"] = q_cms_counts
ORACLES["cms_counts"] = _cms_oracle_sql()


# --------------------------------------------------- corpus mixing

_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2, "src3": 2.0}
_MIX_BUDGET = 1500


def q_mix_corpus(spark, sf):
    """Mixture weighting: per-source acceptance rates from a token
    budget (incl. one weight large enough to cap at rate 1.0 — the
    keep-everything path), applied via the stable-hash rule. The
    oracle recomputes totals, rates, thresholds and the hash filter
    with identical double-precision arithmetic."""
    from ..operators.curation import mix_corpus

    d = _t(spark, sf, "documents")
    out = mix_corpus(d, dict(_MIX_WEIGHTS), _MIX_BUDGET)
    return out.select(
        "doc_id", "source", F.round("rate", 6).alias("rate")
    ).orderBy("doc_id")


def _mix_oracle_sql(weights=_MIX_WEIGHTS, budget=_MIX_BUDGET):
    case = " ".join(
        f"WHEN '{s}' THEN {w!r}" for s, w in sorted(weights.items())
    )
    return rf"""
WITH tok AS (
  SELECT doc_id, source, CAST({_SQL_NTOK} AS BIGINT) AS nt
  FROM documents),
tot AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS t FROM tok GROUP BY 1),
r AS (
  SELECT source,
         LEAST(1.0, ({budget} * (CASE source {case} ELSE 0.0 END)) / t)
           AS rate
  FROM tot),
thr AS (
  SELECT source, rate,
         CASE WHEN rate >= 1.0 THEN 'g'
              ELSE lower(lpad(to_hex(CAST(FLOOR(rate * 4294967296.0)
                                          AS BIGINT)), 8, '0'))
         END AS h
  FROM r)
SELECT d.doc_id, d.source, ROUND(thr.rate, 6) AS rate
FROM documents d JOIN thr USING (source)
WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.h
ORDER BY d.doc_id
"""


QUERIES["mix_corpus"] = q_mix_corpus
ORACLES["mix_corpus"] = _mix_oracle_sql()


# --------------------------------------------- repetition / redaction

def q_repetition_stats(spark, sf):
    """Gopher-style repetition quality signals (duplicate-token /
    duplicate-line fractions, top word-2-gram share) — all JVM array
    ops, no explode/groupBy; the oracle recomputes them with
    unnest + group-by per document."""
    from ..operators.text import repetition_stats

    d = _t(spark, sf, "documents")
    return repetition_stats(d).select(
        "doc_id", "dup_token_frac", "dup_line_frac", "top_2gram_share"
    ).orderBy("doc_id")


ORACLE_REPETITION_STATS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)),
                     x -> x <> '') AS lines
  FROM documents),
g AS (
  SELECT doc_id, t, lines,
         list_transform(generate_series(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i + 1]) AS grams
  FROM toks),
gc AS (
  SELECT doc_id, x, count(*) AS c
  FROM g, unnest(g.grams) AS u(x)
  GROUP BY doc_id, x),
top AS (
  SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM gc GROUP BY doc_id)
SELECT g.doc_id,
       CASE WHEN len(t) = 0 THEN 0.0
            ELSE round(1 - len(list_distinct(t))::DOUBLE / len(t), 6)
       END AS dup_token_frac,
       CASE WHEN len(lines) = 0 THEN 0.0
            ELSE round(1 - len(list_distinct(lines))::DOUBLE / len(lines), 6)
       END AS dup_line_frac,
       coalesce(round(top.mx::DOUBLE / top.tot, 6), 0.0) AS top_2gram_share
FROM g LEFT JOIN top USING (doc_id)
ORDER BY g.doc_id
"""

QUERIES["repetition_stats"] = q_repetition_stats
ORACLES["repetition_stats"] = ORACLE_REPETITION_STATS


def q_redact_pii(spark, sf):
    """PII redaction: the corpus has no PII-like content, so both
    sides append an IDENTICAL deterministic suffix derived from doc_id
    (email, IP, phone, URL) and then redact. Counts per kind + the
    exact redacted string are compared — regex semantics must agree
    between Java regex and RE2 on real replacements, not on a no-op."""
    from ..operators.text import redact_pii

    d = _t(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    suffix = F.concat(
        F.lit(" contact u"), did, F.lit("@ex.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".7 call +1 555-010-"),
        (1000 + F.col("doc_id") % 9000).cast("string"),
        F.lit(" see https://ex.org/d/"), did,
    )
    d2 = d.select("doc_id", F.concat(F.col("text"), suffix).alias("text"))
    return redact_pii(d2).select(
        "doc_id", "n_url", "n_email", "n_ip", "n_phone", "text_redacted"
    ).orderBy("doc_id")


ORACLE_REDACT_PII = r"""
WITH t0 AS (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR)
              || '@ex.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 call +1 555-010-'
              || CAST(1000 + doc_id % 9000 AS VARCHAR)
              || ' see https://ex.org/d/' || CAST(doc_id AS VARCHAR)
           AS s
  FROM documents),
t1 AS (SELECT doc_id,
              CAST(len(regexp_extract_all(s, 'https?://[^\s\x0b]+')) AS INT)
                AS n_url,
              regexp_replace(s, 'https?://[^\s\x0b]+', '<URL>', 'g') AS s
       FROM t0),
t2 AS (SELECT doc_id, n_url,
              CAST(len(regexp_extract_all(s,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
                AS n_email,
              regexp_replace(s,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                '<EMAIL>', 'g') AS s
       FROM t1),
t3 AS (SELECT doc_id, n_url, n_email,
              CAST(len(regexp_extract_all(s,
                '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT)
                AS n_ip,
              regexp_replace(s,
                '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
                '<IP>', 'g') AS s
       FROM t2),
t4 AS (SELECT doc_id, n_url, n_email, n_ip,
              CAST(len(regexp_extract_all(s,
                '(\+?[0-9]{1,3}[ -]?)?\(?[0-9]{3}\)?[ -][0-9]{3}[ -][0-9]{4}|\+[0-9]{7,15}'))
                AS INT) AS n_phone,
              regexp_replace(s,
                '(\+?[0-9]{1,3}[ -]?)?\(?[0-9]{3}\)?[ -][0-9]{3}[ -][0-9]{4}|\+[0-9]{7,15}',
                             '<PHONE>', 'g') AS s
       FROM t3)
SELECT doc_id, n_url, n_email, n_ip, n_phone, s AS text_redacted
FROM t4 ORDER BY doc_id
"""

QUERIES["redact_pii"] = q_redact_pii
ORACLES["redact_pii"] = ORACLE_REDACT_PII


# ------------------------------------------------ unigram LM / hashed vectors

_LM_VOCAB = 20
_LM_ALPHA = 0.5


def q_unigram_lm(spark, sf):
    """LM-filter quality signal: train the unigram model on the corpus
    (one token-count pass, deterministic top-V cutoff, add-alpha
    smoothing) and score every document by mean token log-prob. The
    small vocab_size forces real OOV hits so the smoothing path is
    exercised; the oracle retrains and rescores from scratch in SQL."""
    from ..operators.text import score_unigram_lm, train_unigram_lm

    d = _t(spark, sf, "documents")
    model = train_unigram_lm(d, vocab_size=_LM_VOCAB, alpha=_LM_ALPHA)
    return score_unigram_lm(d, model).orderBy("doc_id")


ORACLE_UNIGRAM_LM = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
tk AS (SELECT doc_id, x AS token FROM toks, unnest(toks.t) AS u(x)),
cnt AS (SELECT token, count(*) AS c FROM tk GROUP BY token),
tot AS (SELECT sum(c)::DOUBLE AS T FROM cnt),
kept AS (SELECT token, c FROM cnt ORDER BY c DESC, token ASC LIMIT {_LM_VOCAB}),
model AS (SELECT token, round(ln(c / (T + {_LM_ALPHA})), 6) AS logp
          FROM kept, tot),
oov AS (SELECT round(ln({_LM_ALPHA} / (T + {_LM_ALPHA})), 6) AS logp FROM tot),
sc AS (
  -- exact micro-integer sum of the 6-dp logps: float avg is summation-
  -- order-sensitive and can flip the 6th decimal between engines
  SELECT tk.doc_id,
         round(sum(CAST(round(coalesce(m.logp, (SELECT logp FROM oov))
                              * 1000000.0) AS BIGINT))
               / (count(*) * 1000000.0), 6) AS lm_score,
         count(*) AS n_tokens
  FROM tk LEFT JOIN model m USING (token)
  GROUP BY tk.doc_id)
SELECT d.doc_id,
       coalesce(sc.lm_score, 0.0) AS lm_score,
       CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN sc USING (doc_id)
ORDER BY d.doc_id
"""

QUERIES["unigram_lm"] = q_unigram_lm
ORACLES["unigram_lm"] = ORACLE_UNIGRAM_LM

_HE_DIM = 16


def q_hash_embed(spark, sf):
    """Feature-hashed doc vectors (hashing trick, md5-prefix buckets,
    L2-normalized) — the text -> embedding bridge into the ANN stack.
    The oracle rebuilds every vector element-by-element in SQL."""
    from ..operators.text import hash_embed

    d = _t(spark, sf, "documents")
    return hash_embed(d, dim=_HE_DIM).orderBy("doc_id")


ORACLE_HASH_EMBED = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
v AS (
  SELECT doc_id,
         list_transform(generate_series(0, {_HE_DIM - 1}),
            j -> len(list_filter(t,
                   x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)
                        % {_HE_DIM} = j))::DOUBLE) AS v
  FROM toks),
n AS (SELECT doc_id, v,
             sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
      FROM v)
SELECT doc_id,
       CASE WHEN nrm > 0 THEN list_transform(v, x -> round(x / nrm, 6))
            ELSE list_transform(v, x -> 0.0)
       END AS embedding
FROM n ORDER BY doc_id
"""

QUERIES["hash_embed"] = q_hash_embed
ORACLES["hash_embed"] = ORACLE_HASH_EMBED


# --------------------------------------- n-gram decontamination

_DC_N = 5  # short n for the tiny-vocab test corpus; default is 13


def q_decontaminate_ngram(spark, sf):
    """N-gram-overlap decontamination: every 50th doc plays the
    benchmark set; corpus docs sharing any word 5-gram with it are
    dropped. The oracle recomputes the gram tables and the anti-join
    in SQL."""
    from ..operators.curation import decontaminate_ngram

    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return (
        decontaminate_ngram(corpus, bench, n=_DC_N)
        .select("doc_id")
        .orderBy("doc_id")
    )


ORACLE_DECONTAMINATE_NGRAM = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {_DC_N}
              THEN list_transform(generate_series(1, len(t) - {_DC_N} + 1),
                     i -> array_to_string(t[i : i + {_DC_N} - 1], ' '))
              ELSE [] END AS grams
  FROM toks),
bg AS (SELECT DISTINCT x AS gram FROM g, unnest(g.grams) AS u(x)
       WHERE doc_id % 50 = 0),
bad AS (SELECT DISTINCT g.doc_id FROM g, unnest(g.grams) AS u(x)
        WHERE g.doc_id % 50 <> 0 AND x IN (SELECT gram FROM bg))
SELECT doc_id FROM documents
WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
ORDER BY doc_id
"""

QUERIES["decontaminate_ngram"] = q_decontaminate_ngram
ORACLES["decontaminate_ngram"] = ORACLE_DECONTAMINATE_NGRAM


# ------------------------------------------- round 4: remaining oracles
#
# The last oracle-able rows-only queries flip to oracled (VERDICT r3
# item 3): simhash signatures recompute in SQL via the md5-prefix token
# hash; resized image pixels recompute from a closed-form pixel
# formula; the entity aggregation (exact median / mean / 7-stat block)
# recomputes over the embeddings surface; the trained-kmeans IVF
# unrolls Lloyd iterations into CTEs (registered next to q_ivf_topk).


def _simhash_oracle_sql(seed: int = 11) -> str:
    """Per-bit sign sums of md5-prefix token hashes — the exact
    simhash64_batch(token_hash='md5') construction. Bits extract via
    division by power-of-two UBIGINT literals (DuckDB's shift operators
    overflow on bit 63); the packed signature compares as fixed-width
    lowercase hex."""
    bits = "\n   + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h // CAST({1 << b} AS UBIGINT)) % 2 = 1"
        f" THEN 1 ELSE -1 END) > 0 THEN CAST({1 << b} AS UBIGINT)"
        f" ELSE CAST(0 AS UBIGINT) END)"
        for b in range(64)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                             ' ')) AS tok
  FROM documents),
th AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(tok || '#{seed}'), 1, 16) AS UBIGINT) AS h
  FROM toks WHERE tok <> ''),
sig AS (
  SELECT doc_id, ({bits}) AS s FROM th GROUP BY doc_id),
sigs AS (
  SELECT d.doc_id,
         lpad(lower(hex(coalesce(sig.s, 0)))::VARCHAR, 16, '0') AS simhash_hex
  FROM documents d LEFT JOIN sig USING (doc_id)),
reps AS (SELECT simhash_hex, min(doc_id) AS rep_id FROM sigs GROUP BY simhash_hex)
SELECT sigs.doc_id, sigs.simhash_hex, reps.rep_id
FROM sigs JOIN reps USING (simhash_hex) ORDER BY sigs.doc_id
"""


ORACLES["simhash"] = _simhash_oracle_sql()
ORACLES["minhash_dedup"] = _minhash_dedup_oracle_sql()


ORACLE_RESIZE_IMAGES = """
WITH ids AS (SELECT unnest(range(12)) AS i),
dims AS (SELECT i,
  CASE i % 4 WHEN 0 THEN 64 WHEN 1 THEN 96 WHEN 2 THEN 128 ELSE 256 END AS w,
  CASE i % 3 WHEN 0 THEN 48 WHEN 1 THEN 64 ELSE 128 END AS h
  FROM ids),
grid AS (SELECT i, w, h, oy.g AS y, ox.g AS x
  FROM dims,
       (SELECT unnest(range(8)) AS g) oy,
       (SELECT unnest(range(8)) AS g) ox)
SELECT printf('img%08d', i) AS image_id,
       CAST(y AS INT) AS y, CAST(x AS INT) AS x,
       CAST((i * 31 + ((x * w) // 8) * 7 + ((y * h) // 8) * 13) % 256 AS INT)
         AS val
FROM grid ORDER BY image_id, y, x
"""

ORACLES["resize_images"] = ORACLE_RESIZE_IMAGES


ORACLE_ENTITY_FEATURES = """
WITH e AS (
  SELECT 'L' || CAST(label AS VARCHAR) AS entity_id, vec_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings),
n AS (SELECT entity_id, CAST(count(DISTINCT vec_id) AS INT) AS n_segments
      FROM e GROUP BY entity_id),
d0 AS (SELECT entity_id, val FROM e WHERE pos = 1),
mu AS (SELECT entity_id, avg(val) AS m FROM d0 GROUP BY entity_id),
mom AS (
  SELECT d0.entity_id,
         avg(val) AS mean0,
         avg((val - m) * (val - m)) AS m2,
         avg((val - m) * (val - m) * (val - m)) AS m3,
         avg((val - m) * (val - m) * (val - m) * (val - m)) AS m4,
         median(val) AS med0, min(val) AS mn0, max(val) AS mx0
  FROM d0 JOIN mu USING (entity_id) GROUP BY d0.entity_id)
SELECT n.entity_id, n.n_segments,
       round(mom.med0, 6) AS rp_med_0,
       round(mom.mean0, 6) AS ssd_mean_0,
       round(mom.mean0, 6) AS t_mean_0,
       round(mom.m2, 6) AS t_var_0,
       round(CASE WHEN mom.m2 = 0 THEN 0
                  ELSE mom.m3 / (mom.m2 * sqrt(mom.m2)) END, 6) AS t_skew_0,
       round(CASE WHEN mom.m2 = 0 THEN 0
                  ELSE mom.m4 / (mom.m2 * mom.m2) END, 6) AS t_kurt_0,
       round(mom.med0, 6) AS t_med_0,
       round(mom.mn0, 6) AS t_min_0,
       round(mom.mx0, 6) AS t_max_0,
       round(mom.m2, 6) AS trh_var_0
FROM n JOIN mom USING (entity_id) ORDER BY entity_id
"""

ORACLES["entity_features"] = ORACLE_ENTITY_FEATURES


def q_flac_decode(spark, sf):
    """FLAC lossless path, fully ORACLED: each embedding vector is
    quantized to 16-bit PCM (floor(x*30000 + 0.5)), FLAC-encoded on
    executors (codecs/flac.py subset encoder: FIXED predictors + rice),
    decoded back through the decode_audio dispatch inside
    analyze_audio, and its RMS compared to DuckDB recomputing from the
    same quantization — the lossless roundtrip makes the comparison
    exact, verifying codec + Arrow plumbing end to end."""
    import numpy as np
    import pandas as pd

    from ..codecs.flac import encode_flac
    from ..operators.multimodal import analyze_audio

    e = _t(spark, sf, "embeddings")

    def gen(batches):
        for b in batches:
            yield pd.DataFrame(
                {
                    "clip_id": b["vec_id"].astype(str),
                    "bytes": [
                        encode_flac(
                            np.floor(
                                np.asarray(v, dtype=np.float64) * 30000 + 0.5
                            ).astype(np.int64),
                            16000, bits=16, blocksize=256,
                        )
                        for v in b["embedding"].values
                    ],
                }
            )

    clips = spread(e.select("vec_id", "embedding")).mapInPandas(
        gen, "clip_id string, bytes binary"
    )
    out = analyze_audio(clips)
    return out.select(
        F.col("clip_id").cast("bigint").alias("clip_id"),
        "n_samples",
        "samplerate",
        F.round("rms", 5).alias("rms"),
    ).orderBy("clip_id")


ORACLE_FLAC_DECODE = """
SELECT vec_id AS clip_id,
       CAST(len(embedding) AS INT) AS n_samples,
       CAST(16000 AS INT) AS samplerate,
       round(sqrt(list_aggregate(
         list_transform(embedding,
           x -> (floor(CAST(x AS DOUBLE) * 30000 + 0.5) / 32768.0)
                * (floor(CAST(x AS DOUBLE) * 30000 + 0.5) / 32768.0)),
         'avg')), 5) AS rms
FROM embeddings ORDER BY clip_id
"""

QUERIES["flac_decode"] = q_flac_decode
ORACLES["flac_decode"] = ORACLE_FLAC_DECODE


ORACLES["image_formats"] = ORACLE_IMAGE_FORMATS
ORACLES["video_frames"] = ORACLE_VIDEO_FRAMES


ORACLE_CV_ACCURACY = """
WITH e AS (
  SELECT vec_id, CAST(label AS VARCHAR) AS lab,
         CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 3 AS fold,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings),
folds AS (SELECT DISTINCT fold FROM e),
cent AS (
  SELECT f.fold, e.lab, e.pos, avg(e.val) AS c
  FROM folds f JOIN e ON e.fold <> f.fold
  GROUP BY f.fold, e.lab, e.pos),
d AS (
  SELECT e.vec_id, e.fold, cent.lab AS plab,
         sum((e.val - cent.c) * (e.val - cent.c)) AS d2
  FROM e JOIN cent ON cent.fold = e.fold AND cent.pos = e.pos
  GROUP BY e.vec_id, e.fold, cent.lab),
r AS (
  SELECT vec_id, fold, plab,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, plab ASC) AS rn
  FROM d),
own AS (SELECT DISTINCT vec_id, lab, fold FROM e),
pred AS (SELECT r.vec_id, r.fold, r.plab, own.lab
         FROM r JOIN own ON own.vec_id = r.vec_id WHERE rn = 1)
SELECT CAST(fold AS INT) AS fold, count(*) AS n,
       CAST(sum(CASE WHEN plab = lab THEN 1 ELSE 0 END) AS BIGINT) AS correct,
       round(sum(CASE WHEN plab = lab THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS accuracy
FROM pred GROUP BY fold ORDER BY fold
"""

ORACLES["cv_accuracy"] = ORACLE_CV_ACCURACY


def q_paragraph_dedup(spark, sf):
    """Corpus-wide paragraph-level exact dedup (C4/RefinedWeb rule),
    fully ORACLED. The fixture documents are single-line, so both
    sides first synthesize paragraphs identically: 12-token chunks of
    the shared tokenizer's output joined by '\\n'. dedup_paragraphs
    then drops every repeated paragraph except its first (id, pos)
    occurrence and reassembles documents; DuckDB recomputes the whole
    thing with a window over the paragraph text."""
    from ..operators.dedup import dedup_paragraphs
    from ..operators.text import nonempty_tokens_col

    d = _t(spark, sf, "documents")
    toks = nonempty_tokens_col(F.col("text"))
    nchunks = F.ceil(F.size(toks) / F.lit(12)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 12 + 1, 12)),
    )
    docs = d.filter(F.size(toks) > 0).select(
        "doc_id", F.concat_ws("\n", paras).alias("text")
    ).persist()  # dedup_paragraphs scans its input twice (digest pass
    # + reassembly join); without this the chunking HOF above runs
    # twice — it dominated the query wall (round 6)
    out = dedup_paragraphs(docs, sep="\n")
    return out.select(
        "doc_id", "clean_text", "n_paras", "n_kept"
    ).orderBy("doc_id")


ORACLE_PARAGRAPH_DEDUP = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
chunked AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, CAST(ceil(len(t) / 12.0) AS INT)),
           i -> array_to_string(t[(i - 1) * 12 + 1 : (i - 1) * 12 + 12], ' ')
         ) AS chunks
  FROM toks WHERE len(t) > 0),
p AS (
  SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS pos,
         unnest(chunks) AS para
  FROM chunked),
w AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
  FROM p),
kept AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM w WHERE rn = 1 GROUP BY doc_id)
SELECT c.doc_id,
       coalesce(kept.clean_text, '') AS clean_text,
       CAST(len(c.chunks) AS INT) AS n_paras,
       CAST(coalesce(kept.n_kept, 0) AS INT) AS n_kept
FROM chunked c LEFT JOIN kept ON kept.doc_id = c.doc_id
ORDER BY c.doc_id
"""

QUERIES["paragraph_dedup"] = q_paragraph_dedup
ORACLES["paragraph_dedup"] = ORACLE_PARAGRAPH_DEDUP


def q_winnow_overlap(spark, sf):
    """MOSS winnowing excerpt detection, fully ORACLED: md5-prefix
    gram hashes + sliding-window minima are recomputed verbatim in
    DuckDB; pairs sharing >= 2 rare fingerprints (document frequency
    <= 100) match exactly."""
    from ..operators.dedup import winnow_overlap

    d = _t(spark, sf, "documents")
    out = winnow_overlap(d, k=5, w=4, min_shared=2, max_df=100)
    return out.orderBy("id_a", "id_b")


ORACLE_WINNOW_OVERLAP = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN list_transform(generate_series(1, len(t) - 4),
                                  i -> array_to_string(t[i : i + 4], ' '))
              ELSE [] END AS grams
  FROM toks),
h AS (
  SELECT doc_id,
         list_transform(grams,
           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hs
  FROM g),
m AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4
              THEN list_distinct(list_transform(
                     generate_series(1, len(hs) - 3),
                     i -> list_aggregate(hs[i : i + 3], 'min')))
              WHEN len(hs) > 0 THEN [list_aggregate(hs, 'min')]
              ELSE [] END AS fps
  FROM h),
fp AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM m),
rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 100),
kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id > b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
ORDER BY id_a, id_b
"""

QUERIES["winnow_overlap"] = q_winnow_overlap
ORACLES["winnow_overlap"] = ORACLE_WINNOW_OVERLAP


def q_bpe_ids(spark, sf):
    """Token-ID encoding end to end, fully ORACLED at per-token-row
    granularity: train 3 merges, build the GPT-2-style vocabulary
    (sorted base chars then merges), encode every document, emit one
    row per (doc, global token position, id). The oracle reuses the
    unrolled BPE training CTEs, re-derives the vocabulary in SQL, and
    reconstructs global token positions with a per-doc running offset
    over word symbol counts — order errors, vocab errors, and merge
    errors all surface as row mismatches."""
    from ..operators.curation import apply_bpe_ids, train_bpe

    d = _t(spark, sf, "documents")
    merges = train_bpe(d, n_merges=3, min_count=1)
    out = apply_bpe_ids(d, merges)
    return (
        out.select("doc_id", F.posexplode("token_ids").alias("pos", "token_id"))
        .select(
            "doc_id", (F.col("pos") + 1).cast("int").alias("tpos"), "token_id"
        )
        .orderBy("doc_id", "tpos")
    )


def _bpe_ids_oracle_sql(n_merges=3) -> str:
    train = _bpe_encode_oracle_sql(n_merges).split("\nSELECT d0.doc_id")[0]
    merged_union = "\nUNION ALL\n".join(
        f"SELECT replace(replace((SELECT pair FROM m{i}), chr(31), ''),"
        f" '  ', '') AS token,"
        f" (SELECT count(*) FROM chars) + {i} AS token_id"
        for i in range(n_merges)
    )
    return train + rf""",
dtoks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
dwords AS (
  SELECT doc_id, generate_subscripts(t, 1) AS wpos,
         replace(unnest(t), chr(31), '') AS w
  FROM dtoks),
wsyms AS (
  SELECT d.doc_id, d.wpos,
         list_transform(string_split(s.sym, '  '),
                        x -> replace(x, chr(31), '')) AS syms
  FROM (SELECT * FROM dwords WHERE w <> '') d
  JOIN s{n_merges} s ON d.w = s.w),
offs AS (
  SELECT doc_id, wpos, syms,
         coalesce(SUM(len(syms)) OVER (
           PARTITION BY doc_id ORDER BY wpos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
  FROM wsyms),
toks AS (
  SELECT doc_id, base + generate_subscripts(syms, 1) AS tpos,
         unnest(syms) AS token
  FROM offs),
chars AS (
  SELECT sym, row_number() OVER (ORDER BY sym) - 1 AS token_id
  FROM (SELECT DISTINCT unnest(string_split(w, '')) AS sym
        FROM dwords WHERE w <> '')
  WHERE sym <> ''),
vocab AS (
  -- one id per surface form, lowest wins (bpe_vocab's dedup rule for
  -- merges sharing a concatenation)
  SELECT token, CAST(min(token_id) AS INT) AS token_id FROM (
    SELECT sym AS token, token_id FROM chars
    UNION ALL
    {merged_union})
  GROUP BY token)
SELECT t.doc_id, CAST(t.tpos AS INT) AS tpos,
       CAST(coalesce(v.token_id, -1) AS INT) AS token_id
FROM toks t LEFT JOIN vocab v ON v.token = t.token
ORDER BY t.doc_id, t.tpos
"""


QUERIES["bpe_ids"] = q_bpe_ids
ORACLES["bpe_ids"] = _bpe_ids_oracle_sql()


def q_contamination_report(spark, sf):
    """Per-benchmark-item contamination audit, fully ORACLED: every
    50th doc plays the benchmark (the decontaminate_ngram fixture);
    for each, the count of corpus docs sharing any word 5-gram and the
    distinct (doc, shared-gram) hit count, zeros included."""
    from ..operators.curation import contamination_report

    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return contamination_report(corpus, bench, n=_DC_N).orderBy("bench_id")


ORACLE_CONTAMINATION_REPORT = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {_DC_N}
              THEN list_transform(generate_series(1, len(t) - {_DC_N} + 1),
                     i -> array_to_string(t[i : i + {_DC_N} - 1], ' '))
              ELSE [] END AS grams
  FROM toks),
bg AS (SELECT DISTINCT doc_id AS bench_id, x AS gram
       FROM g, unnest(g.grams) AS u(x) WHERE doc_id % 50 = 0),
cg AS (SELECT DISTINCT doc_id, x AS gram
       FROM g, unnest(g.grams) AS u(x) WHERE doc_id % 50 <> 0),
hits AS (
  SELECT bg.bench_id,
         count(DISTINCT cg.doc_id) AS n_contaminated_docs,
         count(*) AS n_hits
  FROM cg JOIN bg ON cg.gram = bg.gram
  GROUP BY bg.bench_id)
SELECT b.bench_id,
       coalesce(h.n_contaminated_docs, 0) AS n_contaminated_docs,
       coalesce(h.n_hits, 0) AS n_hits
FROM (SELECT DISTINCT doc_id AS bench_id FROM documents
      WHERE doc_id % 50 = 0) b
LEFT JOIN hits h ON h.bench_id = b.bench_id
ORDER BY b.bench_id
"""

QUERIES["contamination_report"] = q_contamination_report
ORACLES["contamination_report"] = ORACLE_CONTAMINATION_REPORT


def q_embedding_covariance(spark, sf):
    """One-pass distributed covariance (the PCA input), fully ORACLED
    cell-by-cell: partial Gramians per Arrow batch, driver combine,
    population covariance; DuckDB recomputes E[xy] - mu_x*mu_y from a
    self-join on the unnested table. Both sides round to 8 dp (values
    are irrational averages — exact decimal ties cannot occur, so
    round-half mode differences are moot here, unlike pixel sums)."""
    from ..operators.similarity import covariance_matrix

    e = _t(spark, sf, "embeddings")
    _mu, cov, _n = covariance_matrix(e)
    dim = cov.shape[0]
    rows = [
        (i, j, round(float(cov[i, j]), 8))
        for i in range(dim)
        for j in range(dim)
    ]
    return spark.createDataFrame(rows, "i int, j int, cov_v double").orderBy(
        "i", "j"
    )


ORACLE_EMBEDDING_COVARIANCE = """
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
m AS (SELECT i, avg(v) AS mu FROM e GROUP BY i),
x AS (
  SELECT a.i AS i, b.i AS j, avg(a.v * b.v) AS exy
  FROM e a JOIN e b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i)
SELECT CAST(x.i AS INT) AS i, CAST(x.j AS INT) AS j,
       round(x.exy - mi.mu * mj.mu, 8) AS cov_v
FROM x JOIN m mi ON mi.i = x.i JOIN m mj ON mj.i = x.j
ORDER BY i, j
"""

QUERIES["embedding_covariance"] = q_embedding_covariance
ORACLES["embedding_covariance"] = ORACLE_EMBEDDING_COVARIANCE


_PCA_K = 4
_PCA_ITERS = 24


def q_pca_project(spark, sf):
    """PCA end to end, fully ORACLED via the unrolled-iteration
    technique (the ivf_topk/logreg recipe): the fit is a FIXED-BUDGET
    deflated power iteration (seed ones/sqrt(dim), 24 rounds per
    component, deterministic sign pivot) whose every step DuckDB
    replays as CTEs over the covariance it already recomputes for
    embedding_covariance.  Cross-engine float drift through 24
    normalised matvecs stays ~1e-13 — far under the 1e-6 floor-round
    (floor(x*1e6+0.5), half-away on both engines).  The eigh-based
    ``pca_fit`` stays the production fit; its invariants are
    pytest-verified against numpy."""
    from ..operators.similarity import pca_fit_power, pca_transform

    e = _t(spark, sf, "embeddings")
    model = pca_fit_power(e, k=_PCA_K, n_iters=_PCA_ITERS)
    out = pca_transform(e, model)
    return out.select(
        "vec_id",
        *[
            (F.floor(F.element_at("pca", c + 1) * 1e6 + F.lit(0.5)) / 1e6)
            .alias(f"pc{c}")
            for c in range(_PCA_K)
        ],
    ).orderBy("vec_id")


def _pca_project_oracle_sql(k: int = _PCA_K, n_iters: int = _PCA_ITERS) -> str:
    """Unroll the fixed-budget deflated power iteration as DuckDB CTEs:
    cov0 = population covariance (as in embedding_covariance), then per
    component c: n_iters x (matvec w = C v, normalise v = w/||w||),
    eigenvalue lambda = v·(Cv), deflation cov{c+1} = cov{c} - lambda
    vv^T, sign fix at the largest-|loading| index, and the per-vector
    projection (x - mu)·v.  MATERIALIZED pins each CTE to one
    evaluation — cov{c} is referenced n_iters+2 times and would
    otherwise re-expand exponentially through the deflation chain."""
    parts = [
        """
e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
m AS MATERIALIZED (SELECT i, avg(v) AS mu FROM e GROUP BY i),
cov0 AS MATERIALIZED (
  SELECT x.i AS i, x.j AS j, x.exy - mi.mu * mj.mu AS v
  FROM (SELECT a.i AS i, b.i AS j, avg(a.v * b.v) AS exy
        FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2) x
  JOIN m mi ON mi.i = x.i JOIN m mj ON mj.i = x.j),
seed AS MATERIALIZED (
  SELECT i, 1.0 / sqrt(CAST((SELECT count(*) FROM m) AS DOUBLE)) AS val
  FROM m)"""
    ]
    for c in range(k):
        prev = "seed"
        for t in range(1, n_iters + 1):
            parts.append(
                f"""
w{c}_{t} AS (SELECT cv.i AS i, sum(cv.v * p.val) AS w
             FROM cov{c} cv JOIN {prev} p ON p.i = cv.j GROUP BY cv.i),
v{c}_{t} AS MATERIALIZED (
  SELECT i, w / sqrt((SELECT sum(w * w) FROM w{c}_{t})) AS val
  FROM w{c}_{t})"""
            )
            prev = f"v{c}_{t}"
        parts.append(
            f"""
wf{c} AS MATERIALIZED (
  SELECT cv.i AS i, sum(cv.v * p.val) AS w
  FROM cov{c} cv JOIN {prev} p ON p.i = cv.j GROUP BY cv.i),
lam{c} AS MATERIALIZED (
  SELECT sum(v.val * w.w) AS l FROM {prev} v JOIN wf{c} w ON w.i = v.i),
cov{c + 1} AS MATERIALIZED (
  SELECT cv.i AS i, cv.j AS j,
         cv.v - (SELECT l FROM lam{c}) * a.val * b.val AS v
  FROM cov{c} cv JOIN {prev} a ON a.i = cv.i JOIN {prev} b ON b.i = cv.j),
sgn{c} AS (SELECT CASE WHEN val < 0 THEN -1.0 ELSE 1.0 END AS s
           FROM {prev} ORDER BY abs(val) DESC, i ASC LIMIT 1),
comp{c} AS MATERIALIZED (
  SELECT i, val * (SELECT s FROM sgn{c}) AS val FROM {prev}),
s{c} AS MATERIALIZED (
  SELECT e.vec_id, sum((e.v - m.mu) * cp.val) AS p
  FROM e JOIN m ON m.i = e.i JOIN comp{c} cp ON cp.i = e.i
  GROUP BY e.vec_id)"""
        )
    pcs = ",\n       ".join(
        f"floor(s{c}.p * 1e6 + 0.5) / 1e6 AS pc{c}" for c in range(k)
    )
    joins = "\n".join(
        f"JOIN s{c} ON s{c}.vec_id = s0.vec_id" for c in range(1, k)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT s0.vec_id,
       {pcs}
FROM s0
{joins}
ORDER BY s0.vec_id"""
    )


QUERIES["pca_project"] = q_pca_project
ORACLES["pca_project"] = _pca_project_oracle_sql()


# ---------------------------------------------------------------------------
# Round-5 image-curation queries (operators/images.py): perceptual
# hashes, per-image stats, geometric transforms, ViT tiling, near-dup
# dedup — all over closed-form-pixel fixtures so DuckDB replays every
# pixel, every hash bit, and the full dedup graph from the formula.
# ---------------------------------------------------------------------------

# the 12-image formula fixture dims (sources/images._W_CYCLE/_H_CYCLE)
_SQL_FORMULA_DIMS = """
dims AS (SELECT i,
  CASE i % 4 WHEN 0 THEN 64 WHEN 1 THEN 96 WHEN 2 THEN 128 ELSE 256 END AS w,
  CASE i % 3 WHEN 0 THEN 48 WHEN 1 THEN 64 ELSE 128 END AS h
  FROM ids)"""


def q_image_stats(spark, sf):
    """Per-image quality signals (brightness / contrast / dynamic
    range / histogram entropy), fully ORACLED: exact integer sums
    compare raw; derived floats are re-derived in DuckDB with the
    identical expression order (mean = s/n, var = sq/n - mean*mean)
    and compared at floor(x*1e6 + 0.5)."""
    from ..operators.images import image_stats
    from ..sources.images import formula_images_df

    s = image_stats(formula_images_df(spark, 12))
    u = lambda c: F.floor(F.col(c) * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    return s.select(
        "image_id", "w", "h", "n_px", "px_sum", "px_sq_sum", "px_min",
        "px_max",
        u("mean").alias("mean_u"),
        u("variance").alias("var_u"),
        u("entropy_bits").alias("entropy_u"),
    ).orderBy("image_id")


ORACLE_IMAGE_STATS = """
WITH ids AS (SELECT unnest(range(12)) AS i),
""" + _SQL_FORMULA_DIMS + """,
px AS (SELECT i, w, h, (i*31 + x.g*7 + y.g*13) % 256 AS val
       FROM dims, (SELECT unnest(range(256)) AS g) x,
            (SELECT unnest(range(128)) AS g) y
       WHERE x.g < w AND y.g < h),
agg AS (SELECT i, w, h, count(*) AS n, sum(val) AS s, sum(val*val) AS sq,
               min(val) AS mn, max(val) AS mx
        FROM px GROUP BY i, w, h),
hist AS (SELECT i, val, count(*) AS c FROM px GROUP BY i, val),
ent AS (SELECT hist.i,
               -sum((c::DOUBLE / n) * log2(c::DOUBLE / n)) AS e
        FROM hist JOIN agg USING (i) GROUP BY hist.i)
SELECT printf('img%08d', agg.i) AS image_id,
       CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(n AS BIGINT) AS n_px, CAST(s AS BIGINT) AS px_sum,
       CAST(sq AS BIGINT) AS px_sq_sum,
       CAST(mn AS INT) AS px_min, CAST(mx AS INT) AS px_max,
       CAST(floor((s::DOUBLE / n) * 1e6 + 0.5) AS BIGINT) AS mean_u,
       CAST(floor((sq::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n)) * 1e6
                  + 0.5) AS BIGINT) AS var_u,
       CAST(floor(e * 1e6 + 0.5) AS BIGINT) AS entropy_u
FROM agg JOIN ent ON ent.i = agg.i ORDER BY image_id
"""


def q_image_hashes(spark, sf):
    """Perceptual-hash scan (aHash/dHash/pHash), fully ORACLED: every
    hash bit is recomputed closed-form in DuckDB — anchor-resize grids
    from the pixel formula, the aHash integer mean threshold, dHash
    gradient signs, and the full 32x32 DCT-II + median threshold for
    pHash (coefficient margins over this fixture are >= 11 absolute vs
    ~1e-10 cross-engine drift). Hashes compare as 64-char bit strings
    (F.bin prints the same two's-complement bits both sides)."""
    from ..operators.images import image_hashes
    from ..sources.images import formula_images_df

    hs = image_hashes(formula_images_df(spark, 12))
    bits = lambda c: F.lpad(F.bin(F.col(c)), 64, "0")  # noqa: E731
    return hs.select(
        "image_id",
        bits("ahash").alias("ahash_bits"),
        bits("dhash").alias("dhash_bits"),
        bits("phash").alias("phash_bits"),
    ).orderBy("image_id")


ORACLE_IMAGE_HASHES = """
WITH ids AS (SELECT unnest(range(12)) AS i),
""" + _SQL_FORMULA_DIMS + """,
a8 AS (SELECT i, ry.g AS r, rx.g AS c,
              (i*31 + ((rx.g*w)//8)*7 + ((ry.g*h)//8)*13) % 256 AS v
       FROM dims, (SELECT unnest(range(8)) AS g) ry,
            (SELECT unnest(range(8)) AS g) rx),
asum AS (SELECT i, sum(v) AS s FROM a8 GROUP BY i),
ahash AS (SELECT a8.i,
                 string_agg(CASE WHEN v*64 > s THEN '1' ELSE '0' END, ''
                            ORDER BY r, c) AS bits
          FROM a8 JOIN asum USING (i) GROUP BY a8.i),
d9 AS (SELECT i, ry.g AS r, rx.g AS c,
              (i*31 + ((rx.g*w)//9)*7 + ((ry.g*h)//8)*13) % 256 AS v
       FROM dims, (SELECT unnest(range(8)) AS g) ry,
            (SELECT unnest(range(9)) AS g) rx),
dhash AS (SELECT a.i,
                 string_agg(CASE WHEN a.v < b.v THEN '1' ELSE '0' END, ''
                            ORDER BY a.r, a.c) AS bits
          FROM d9 a JOIN d9 b ON a.i = b.i AND a.r = b.r AND b.c = a.c + 1
          WHERE a.c < 8 GROUP BY a.i),
p32 AS (SELECT i, ry.g AS y, rx.g AS x,
               CAST((i*31 + ((rx.g*w)//32)*7 + ((ry.g*h)//32)*13) % 256
                    AS DOUBLE) AS v
        FROM dims, (SELECT unnest(range(32)) AS g) ry,
             (SELECT unnest(range(32)) AS g) rx),
uv AS (SELECT uu.g AS u, vv.g AS v
       FROM (SELECT unnest(range(8)) AS g) uu,
            (SELECT unnest(range(8)) AS g) vv),
coef AS (SELECT p32.i, uv.u, uv.v,
                sum(p32.v * cos(pi()*(2*p32.y+1)*uv.u/64)
                          * cos(pi()*(2*p32.x+1)*uv.v/64)) AS c
         FROM p32, uv GROUP BY p32.i, uv.u, uv.v),
med AS (SELECT i, median(c) AS m FROM coef GROUP BY i),
phash AS (SELECT coef.i,
                 string_agg(CASE WHEN c > m THEN '1' ELSE '0' END, ''
                            ORDER BY u, v) AS bits
          FROM coef JOIN med USING (i) GROUP BY coef.i)
SELECT printf('img%08d', ahash.i) AS image_id,
       ahash.bits AS ahash_bits, dhash.bits AS dhash_bits,
       phash.bits AS phash_bits
FROM ahash JOIN dhash ON dhash.i = ahash.i JOIN phash ON phash.i = ahash.i
ORDER BY image_id
"""


def q_image_augment(spark, sf):
    """Geometric augmentation (rot90 + crop), fully ORACLED through
    the relational pixel view: DuckDB recomputes every output pixel
    from the formula with the documented coordinate remap
    (rot90: out[y, x] = in[x, w-1-y]; crop: out[y, x] = in[5+y, 9+x])."""
    from ..operators.multimodal import image_pixels
    from ..operators.images import transform_images
    from ..sources.images import formula_images_df

    imgs = formula_images_df(spark, 6)
    rot = image_pixels(transform_images(imgs, "rot90")).withColumn(
        "op", F.lit("rot90")
    )
    crop = image_pixels(
        transform_images(imgs, "crop", y0=5, x0=9, crop_h=24, crop_w=20)
    ).withColumn("op", F.lit("crop"))
    return rot.unionByName(crop).select(
        "op", "image_id", "y", "x", "val"
    ).orderBy("op", "image_id", "y", "x")


ORACLE_IMAGE_AUGMENT = """
WITH ids AS (SELECT unnest(range(6)) AS i),
""" + _SQL_FORMULA_DIMS + """,
rot AS (SELECT i, oy.g AS y, ox.g AS x,
               (i*31 + (w-1-oy.g)*7 + ox.g*13) % 256 AS val
        FROM dims, (SELECT unnest(range(256)) AS g) oy,
             (SELECT unnest(range(128)) AS g) ox
        WHERE oy.g < w AND ox.g < h),
crp AS (SELECT i, oy.g AS y, ox.g AS x,
               (i*31 + (9+ox.g)*7 + (5+oy.g)*13) % 256 AS val
        FROM dims, (SELECT unnest(range(24)) AS g) oy,
             (SELECT unnest(range(20)) AS g) ox)
SELECT op, printf('img%08d', i) AS image_id,
       CAST(y AS INT) AS y, CAST(x AS INT) AS x, CAST(val AS INT) AS val
FROM (SELECT 'rot90' AS op, * FROM rot UNION ALL SELECT 'crop', * FROM crp)
ORDER BY op, image_id, y, x
"""


def q_image_tiles(spark, sf):
    """ViT-style patch tiling, fully ORACLED: exact integer patch
    stats (sum / sq-sum / min / max) for every full 16x16 tile are
    recomputed in DuckDB by grouping the formula grid on
    (y//16, x//16); the ragged remainder drop (full tiles only) is
    replayed by the grid bound."""
    from ..operators.images import tile_images
    from ..sources.images import formula_images_df

    t = tile_images(formula_images_df(spark, 8), tile_h=16, tile_w=16)
    return t.select(
        "image_id", "ty", "tx", "px_sum", "px_sq_sum", "px_min", "px_max"
    ).orderBy("image_id", "ty", "tx")


ORACLE_IMAGE_TILES = """
WITH ids AS (SELECT unnest(range(8)) AS i),
""" + _SQL_FORMULA_DIMS + """,
grid AS (SELECT i, y.g // 16 AS ty, x.g // 16 AS tx,
                (i*31 + x.g*7 + y.g*13) % 256 AS val
         FROM dims, (SELECT unnest(range(256)) AS g) x,
              (SELECT unnest(range(128)) AS g) y
         WHERE x.g < (w // 16) * 16 AND y.g < (h // 16) * 16)
SELECT printf('img%08d', i) AS image_id,
       CAST(ty AS INT) AS ty, CAST(tx AS INT) AS tx,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(sum(val*val) AS BIGINT) AS px_sq_sum,
       CAST(min(val) AS INT) AS px_min, CAST(max(val) AS INT) AS px_max
FROM grid GROUP BY i, ty, tx ORDER BY image_id, ty, tx
"""


def q_image_dedup(spark, sf):
    """Near-duplicate image dedup (dHash + 4x16-bit Hamming bands +
    bit_count verify + transitive min-label components), fully ORACLED:
    the fixture's pixels are closed-form (groups of 3 images within
    dHash Hamming <= 2, distinct groups >= 5 apart), so DuckDB rebuilds
    every dHash bit from the formula, regenerates the band candidate
    pairs, verifies with bit_count(xor) <= 2 and resolves components
    with a recursive CTE — the exact pipeline the Spark side runs."""
    from ..operators.images import phash_dedup
    from ..sources.images import near_dup_images_df

    out = phash_dedup(
        near_dup_images_df(spark, 18), hash_type="dhash", max_hamming=2
    )
    return out.select(
        "image_id",
        F.lpad(F.bin(F.col("dhash")), 64, "0").alias("dhash_bits"),
        "rep_id",
    ).orderBy("image_id")


# dHash bits of the near_dup_images_df fixture, closed-form (shared by
# the image_dedup and image_decontaminate oracles)
_SQL_NEAR_DUP_HASHES = """ids AS (SELECT unnest(range(18)) AS i),
px AS (SELECT i, y.g AS y, x.g AS x,
        CASE WHEN y.g = 0 AND x.g = 0 AND i % 3 >= 1
               THEN (((i//3)*37 + x.g*7 + y.g*13) % 251 + 128) % 256
             WHEN y.g = 2 AND x.g = 0 AND i % 3 = 2
               THEN (((i//3)*37 + x.g*7 + y.g*13) % 251 + 128) % 256
             ELSE ((i//3)*37 + x.g*7 + y.g*13) % 251 END AS v
       FROM ids, (SELECT unnest(range(16)) AS g) y,
            (SELECT unnest(range(16)) AS g) x),
d9 AS (SELECT px.i, r.g AS r, c.g AS c, px.v
       FROM px, (SELECT unnest(range(8)) AS g) r,
            (SELECT unnest(range(9)) AS g) c
       WHERE px.y = r.g * 2 AND px.x = (c.g * 16) // 9),
hashes AS (SELECT a.i,
                  string_agg(CASE WHEN a.v < b.v THEN '1' ELSE '0' END, ''
                             ORDER BY a.r, a.c) AS bits
           FROM d9 a JOIN d9 b ON a.i = b.i AND a.r = b.r AND b.c = a.c + 1
           WHERE a.c < 8 GROUP BY a.i)"""


ORACLE_IMAGE_DEDUP = """
WITH RECURSIVE """ + _SQL_NEAR_DUP_HASHES + """,
bands AS (SELECT i, bnd.g AS band, substr(bits, 1 + 16*bnd.g, 16) AS val, bits
          FROM hashes, (SELECT unnest(range(4)) AS g) bnd),
pairs AS (SELECT DISTINCT a.i AS id_a, b.i AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
                                    AND b.i < a.i
          WHERE bit_count(xor(a.bits::BIT, b.bits::BIT)) <= 2),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(a, r) AS (
  SELECT i, i FROM ids
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d),
comp AS (SELECT a AS i, min(r) AS rep FROM reach GROUP BY a)
SELECT printf('img%08d', h.i) AS image_id, h.bits AS dhash_bits,
       printf('img%08d', comp.rep) AS rep_id
FROM hashes h JOIN comp ON comp.i = h.i ORDER BY image_id
"""


def q_image_gradients(spark, sf):
    """Gradient/sharpness blur-gate signals, fully ORACLED: central
    differences and the 4-neighbor Laplacian over interior pixels are
    exact integers DuckDB recomputes from the formula at shifted
    coordinates; sharpness (lap_sq_sum/n, one float division) compares
    at floor(x*1e6 + 0.5)."""
    from ..operators.images import image_gradients
    from ..sources.images import formula_images_df

    g = image_gradients(formula_images_df(spark, 10))
    return g.select(
        "image_id", "n_interior", "abs_gx_sum", "abs_gy_sum", "lap_sq_sum",
        F.floor(F.col("sharpness") * 1e6 + F.lit(0.5)).cast("long")
        .alias("sharp_u"),
    ).orderBy("image_id")


ORACLE_IMAGE_GRADIENTS = """
WITH ids AS (SELECT unnest(range(10)) AS i),
""" + _SQL_FORMULA_DIMS + """,
g AS (SELECT i,
             (i*31 + (x.g+1)*7 + y.g*13) % 256
               - (i*31 + (x.g-1)*7 + y.g*13) % 256 AS gx,
             (i*31 + x.g*7 + (y.g+1)*13) % 256
               - (i*31 + x.g*7 + (y.g-1)*13) % 256 AS gy,
             4 * ((i*31 + x.g*7 + y.g*13) % 256)
               - (i*31 + (x.g+1)*7 + y.g*13) % 256
               - (i*31 + (x.g-1)*7 + y.g*13) % 256
               - (i*31 + x.g*7 + (y.g+1)*13) % 256
               - (i*31 + x.g*7 + (y.g-1)*13) % 256 AS lap
      FROM dims, (SELECT unnest(range(256)) AS g) x,
           (SELECT unnest(range(128)) AS g) y
      WHERE x.g >= 1 AND x.g < w - 1 AND y.g >= 1 AND y.g < h - 1)
SELECT printf('img%08d', i) AS image_id,
       CAST(count(*) AS BIGINT) AS n_interior,
       CAST(sum(abs(gx)) AS BIGINT) AS abs_gx_sum,
       CAST(sum(abs(gy)) AS BIGINT) AS abs_gy_sum,
       CAST(sum(lap*lap) AS BIGINT) AS lap_sq_sum,
       CAST(floor(sum(lap*lap)::DOUBLE / count(*) * 1e6 + 0.5) AS BIGINT)
         AS sharp_u
FROM g GROUP BY i ORDER BY image_id
"""


def q_image_equalize(spark, sf):
    """Histogram equalization, fully ORACLED pixel-by-pixel: the LUT is
    pure integer arithmetic (out = ((cdf-m)*510 + (n-m)) // (2*(n-m)),
    half-up rounding with no float division), so DuckDB rebuilds the
    per-image CDF with a window cumulative sum and replays every output
    pixel exactly."""
    from ..operators.images import equalize_images
    from ..operators.multimodal import image_pixels
    from ..sources.images import formula_images_df

    out = equalize_images(formula_images_df(spark, 6))
    return image_pixels(out).orderBy("image_id", "y", "x")


ORACLE_IMAGE_EQUALIZE = """
WITH ids AS (SELECT unnest(range(6)) AS i),
""" + _SQL_FORMULA_DIMS + """,
px AS (SELECT i, w, h, y.g AS y, x.g AS x,
              (i*31 + x.g*7 + y.g*13) % 256 AS val
       FROM dims, (SELECT unnest(range(256)) AS g) x,
            (SELECT unnest(range(128)) AS g) y
       WHERE x.g < w AND y.g < h),
counts AS (SELECT i, val, count(*) AS c, max(w*h) AS n
           FROM px GROUP BY i, val),
cdf AS (SELECT i, val, n,
               sum(c) OVER (PARTITION BY i ORDER BY val) AS cum
        FROM counts),
m AS (SELECT i, min(cum) AS m FROM cdf GROUP BY i),
lut AS (SELECT cdf.i, val,
               ((cum - m.m) * 510 + (n - m.m)) // (2 * (n - m.m)) AS out_val
        FROM cdf JOIN m ON m.i = cdf.i)
SELECT printf('img%08d', px.i) AS image_id,
       CAST(px.y AS INT) AS y, CAST(px.x AS INT) AS x,
       CAST(lut.out_val AS INT) AS val
FROM px JOIN lut ON lut.i = px.i AND lut.val = px.val
ORDER BY image_id, y, x
"""


def q_image_decontaminate(spark, sf):
    """Perceptual-hash benchmark decontamination, fully ORACLED: with
    benchmark images 1 and 10 (variant members of groups 0 and 3), the
    whole of both groups must drop (intra-group dHash Hamming <= 2);
    DuckDB recomputes every hash closed-form and applies the exact
    brute-force NOT EXISTS rule — the band pigeonhole on the Spark side
    is guaranteed-equal for max_hamming <= 3."""
    from ..operators.images import decontaminate_images
    from ..sources.images import near_dup_images_df

    corpus = near_dup_images_df(spark, 18)
    benchmark = corpus.filter(
        F.col("image_id").isin("img00000001", "img00000010")
    )
    kept = decontaminate_images(corpus, benchmark, max_hamming=2)
    return kept.select("image_id").orderBy("image_id")


ORACLE_IMAGE_DECONTAMINATE = """
WITH """ + _SQL_NEAR_DUP_HASHES + """
SELECT printf('img%08d', h.i) AS image_id
FROM hashes h
WHERE NOT EXISTS (
  SELECT 1 FROM hashes b WHERE b.i IN (1, 10)
  AND bit_count(xor(h.bits::BIT, b.bits::BIT)) <= 2)
ORDER BY image_id
"""


QUERIES["image_decontaminate"] = q_image_decontaminate
ORACLES["image_decontaminate"] = ORACLE_IMAGE_DECONTAMINATE
QUERIES["image_gradients"] = q_image_gradients
ORACLES["image_gradients"] = ORACLE_IMAGE_GRADIENTS
QUERIES["image_equalize"] = q_image_equalize
ORACLES["image_equalize"] = ORACLE_IMAGE_EQUALIZE
QUERIES["image_stats"] = q_image_stats
ORACLES["image_stats"] = ORACLE_IMAGE_STATS
QUERIES["image_hashes"] = q_image_hashes
ORACLES["image_hashes"] = ORACLE_IMAGE_HASHES
QUERIES["image_augment"] = q_image_augment
ORACLES["image_augment"] = ORACLE_IMAGE_AUGMENT
QUERIES["image_tiles"] = q_image_tiles
ORACLES["image_tiles"] = ORACLE_IMAGE_TILES
QUERIES["image_dedup"] = q_image_dedup
ORACLES["image_dedup"] = ORACLE_IMAGE_DEDUP


def q_image_dedup_verified(spark, sf):
    """MSE-verified near-dup image dedup (dHash bands -> candidate
    pairs -> EXACT integer SSE over the 16x16 anchor grid -> min-label
    components), fully ORACLED. The fixture plants the canonical
    hash-collision false positive — variant v3 shifts every pixel the
    dHash anchor lattice does NOT sample, so its hash equals the base
    at Hamming 0 while 128 of 256 pixels differ by 128 — and the
    verify stage must reject it (plain phash_dedup would merge it).
    DuckDB replays every hash bit, the band join, the per-pair SSE sum
    and the component fixpoint from the pixel formula."""
    from ..operators.images import phash_dedup_verified
    from ..sources.images import verified_dup_images_df

    out = phash_dedup_verified(
        verified_dup_images_df(spark, 20),
        hash_type="dhash", max_hamming=2, max_sse=40000, grid=16,
    )
    return out.select(
        "image_id",
        F.lpad(F.bin(F.col("dhash")), 64, "0").alias("dhash_bits"),
        "rep_id",
    ).orderBy("image_id")


ORACLE_IMAGE_DEDUP_VERIFIED = """
WITH RECURSIVE ids AS (SELECT unnest(range(20)) AS i),
px AS (SELECT i, y.g AS y, x.g AS x,
        CASE WHEN i % 4 IN (1, 2) AND y.g = 0 AND x.g = 0
               THEN (((i//4)*41 + x.g*7 + y.g*13) % 251 + 128) % 256
             WHEN i % 4 = 2 AND y.g = 2 AND x.g = 0
               THEN (((i//4)*41 + x.g*7 + y.g*13) % 251 + 128) % 256
             WHEN i % 4 = 3 AND y.g % 2 = 1
               THEN (((i//4)*41 + x.g*7 + y.g*13) % 251 + 128) % 256
             ELSE ((i//4)*41 + x.g*7 + y.g*13) % 251 END AS v
       FROM ids, (SELECT unnest(range(16)) AS g) y,
            (SELECT unnest(range(16)) AS g) x),
d9 AS (SELECT px.i, r.g AS r, c.g AS c, px.v
       FROM px, (SELECT unnest(range(8)) AS g) r,
            (SELECT unnest(range(9)) AS g) c
       WHERE px.y = r.g * 2 AND px.x = (c.g * 16) // 9),
hashes AS (SELECT a.i,
                  string_agg(CASE WHEN a.v < b.v THEN '1' ELSE '0' END, ''
                             ORDER BY a.r, a.c) AS bits
           FROM d9 a JOIN d9 b ON a.i = b.i AND a.r = b.r AND b.c = a.c + 1
           WHERE a.c < 8 GROUP BY a.i),
bands AS (SELECT i, bnd.g AS band, substr(bits, 1 + 16*bnd.g, 16) AS val, bits
          FROM hashes, (SELECT unnest(range(4)) AS g) bnd),
cand AS (SELECT DISTINCT a.i AS id_a, b.i AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
                                   AND b.i < a.i
         WHERE bit_count(xor(a.bits::BIT, b.bits::BIT)) <= 2),
sse AS (SELECT c.id_a, c.id_b,
               sum((pa.v - pb.v) * (pa.v - pb.v)) AS s
        FROM cand c
        JOIN px pa ON pa.i = c.id_a
        JOIN px pb ON pb.i = c.id_b AND pb.y = pa.y AND pb.x = pa.x
        GROUP BY c.id_a, c.id_b),
pairs AS (SELECT id_a, id_b FROM sse WHERE s <= 40000),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(a, r) AS (
  SELECT i, i FROM ids
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d),
comp AS (SELECT a AS i, min(r) AS rep FROM reach GROUP BY a)
SELECT printf('img%08d', h.i) AS image_id, h.bits AS dhash_bits,
       printf('img%08d', comp.rep) AS rep_id
FROM hashes h JOIN comp ON comp.i = h.i ORDER BY image_id
"""


QUERIES["image_dedup_verified"] = q_image_dedup_verified
ORACLES["image_dedup_verified"] = ORACLE_IMAGE_DEDUP_VERIFIED


def q_image_quality_gate(spark, sf):
    """LAION-style curation gate, fully ORACLED: every gate decision
    (resolution / aspect / brightness / contrast / entropy) is integer
    arithmetic on the ridden-along pixel sums, replayed verbatim by
    DuckDB over the closed-form gate fixture (every 5th image is FLAT
    — zero variance, zero entropy — so the contrast and entropy
    rejections actually fire; dimension cycles fire the rest).
    entropy rides along rounded at 1e-6 like image_stats."""
    from ..operators.images import quality_gate_images
    from ..sources.images import gate_images_df

    g = quality_gate_images(
        gate_images_df(spark, 15),
        min_w=96, min_h=48, max_aspect=(4, 1), brightness=(32, 240),
        min_variance=25.0, min_entropy_bits=1.0,
    )
    return g.select(
        "image_id", "w", "h", "n_px", "px_sum", "px_sq_sum",
        F.floor(F.col("entropy_bits") * 1e6 + F.lit(0.5)).cast("long")
        .alias("entropy_u"),
        "passes", "reject_reasons",
    ).orderBy("image_id")


ORACLE_IMAGE_QUALITY_GATE = """
WITH ids AS (SELECT unnest(range(15)) AS i),
dims AS (SELECT i,
  CASE i % 4 WHEN 0 THEN 64 WHEN 1 THEN 96 WHEN 2 THEN 128 ELSE 256 END AS w,
  CASE i % 3 WHEN 0 THEN 48 WHEN 1 THEN 64 ELSE 128 END AS h
  FROM ids),
px AS (SELECT i, w, h,
              CASE WHEN i % 5 = 4 THEN (i*31) % 256
                   ELSE (i*31 + x.g*7 + y.g*13) % 256 END AS val
       FROM dims, (SELECT unnest(range(256)) AS g) x,
            (SELECT unnest(range(128)) AS g) y
       WHERE x.g < w AND y.g < h),
agg AS (SELECT i, w, h, count(*) AS n, sum(val) AS s, sum(val*val) AS sq
        FROM px GROUP BY i, w, h),
hist AS (SELECT i, val, count(*) AS c FROM px GROUP BY i, val),
ent AS (SELECT hist.i,
               -sum((c::DOUBLE / n) * log2(c::DOUBLE / n)) AS e
        FROM hist JOIN agg USING (i) GROUP BY hist.i),
gated AS (SELECT agg.i, w, h, n, s, sq, e,
                 (w < 96 OR h < 48) AS too_small,
                 (greatest(w, h) * 1 > least(w, h) * 4) AS extreme_aspect,
                 (s < 32 * n) AS too_dark,
                 (s > 240 * n) AS too_bright,
                 (n*sq - s*s < 25 * n * n) AS low_contrast,
                 (e < 1.0) AS low_entropy
          FROM agg JOIN ent ON ent.i = agg.i)
SELECT printf('img%08d', i) AS image_id,
       CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(n AS BIGINT) AS n_px, CAST(s AS BIGINT) AS px_sum,
       CAST(sq AS BIGINT) AS px_sq_sum,
       CAST(floor(e * 1e6 + 0.5) AS BIGINT) AS entropy_u,
       NOT (too_small OR extreme_aspect OR too_dark OR too_bright
            OR low_contrast OR low_entropy) AS passes,
       concat_ws(',',
         CASE WHEN too_small THEN 'too_small' END,
         CASE WHEN extreme_aspect THEN 'extreme_aspect' END,
         CASE WHEN too_dark THEN 'too_dark' END,
         CASE WHEN too_bright THEN 'too_bright' END,
         CASE WHEN low_contrast THEN 'low_contrast' END,
         CASE WHEN low_entropy THEN 'low_entropy' END) AS reject_reasons
FROM gated ORDER BY image_id
"""


QUERIES["image_quality_gate"] = q_image_quality_gate
ORACLES["image_quality_gate"] = ORACLE_IMAGE_QUALITY_GATE


def q_image_aspect_buckets(spark, sf):
    """SDXL aspect-ratio bucketing, fully ORACLED: the argmin of
    |w/h - bw/bh| over the published SDXL 1024^2 bucket list — one
    exact integer product/difference and one correctly-rounded double
    division per candidate (|w*bh - h*bw| / bh; the common 1/h factor
    cancels), ties to the earliest bucket. A pure projection — the
    oracle replays the identical expression over the dimension
    cycles."""
    from ..operators.images import aspect_bucket_images
    from ..sources.images import formula_images_df

    return aspect_bucket_images(formula_images_df(spark, 12)).orderBy(
        "image_id"
    )


ORACLE_IMAGE_ASPECT_BUCKETS = """
WITH ids AS (SELECT unnest(range(12)) AS i),
""" + _SQL_FORMULA_DIMS + """,
bk(idx, bw, bh) AS (VALUES
  (0, 1024, 1024), (1, 1152, 896), (2, 896, 1152), (3, 1216, 832),
  (4, 832, 1216), (5, 1344, 768), (6, 768, 1344), (7, 1536, 640),
  (8, 640, 1536)),
scored AS (SELECT i, w, h, bw, bh,
                  row_number() OVER (
                    PARTITION BY i
                    ORDER BY abs(w*bh - h*bw)::DOUBLE / bh, idx) AS rn
           FROM dims, bk)
SELECT printf('img%08d', i) AS image_id,
       CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(bw AS INT) AS bucket_w, CAST(bh AS INT) AS bucket_h
FROM scored WHERE rn = 1 ORDER BY image_id
"""


QUERIES["image_aspect_buckets"] = q_image_aspect_buckets
ORACLES["image_aspect_buckets"] = ORACLE_IMAGE_ASPECT_BUCKETS


def q_pq_topk(spark, sf):
    """Product-quantization ADC top-k with FIXED codebooks (the
    sub-slices of embeddings vec_id 0..3, m=4 subspaces x 16 dims), so
    the whole compressed-domain search — per-subspace nearest-code
    assignment, the query's LUT of per-subspace squared distances, the
    m-term ADC sum and the top-k cut — is independently recomputable
    in DuckDB (the ivf_recall pattern; pq_fit's TRAINED quantizer is
    exercised in pytest). Membership by raw distance, final order by
    the rounded alias + id, floor(x*1e4+0.5) both sides."""
    from ..operators.similarity import pq_encode, pq_topk

    e = _t(spark, sf, "embeddings")
    cent = e.filter(F.col("vec_id") < 4).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.col("vec_id").cast("string").alias("centroid_label"),
                    F.slice(
                        F.col("embedding").cast("array<double>"),
                        s * 16 + 1, 16,
                    ).alias("centroid"),
                )
                for s in range(4)
            ])
        ).alias("b")
    ).select("b.*")
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == 9).first()["embedding"]
    ]
    codes = pq_encode(e, cent)
    out = pq_topk(codes, cent, qv, k=10)
    return out.select(
        "vec_id",
        F.floor(F.col("adc_dist") * 1e4 + F.lit(0.5)).cast("long")
        .alias("adc_u"),
    ).orderBy("adc_u", "vec_id")


ORACLE_PQ_TOPK = """
WITH cb AS (SELECT s.g AS sub, CAST(e.vec_id AS INT) AS code,
                   list_slice(e.embedding::DOUBLE[],
                              s.g*16 + 1, s.g*16 + 16) AS c
            FROM embeddings e, (SELECT unnest(range(4)) AS g) s
            WHERE e.vec_id < 4),
q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 9),
sv AS (SELECT e.vec_id, s.g AS sub,
              list_slice(e.embedding::DOUBLE[],
                         s.g*16 + 1, s.g*16 + 16) AS x
       FROM embeddings e, (SELECT unnest(range(4)) AS g) s),
codes AS (SELECT vec_id, sub,
                 (SELECT code FROM cb WHERE cb.sub = sv.sub
                  ORDER BY list_distance(cb.c, sv.x) ASC, code ASC
                  LIMIT 1) AS code
          FROM sv),
lut AS (SELECT sub, code,
               list_distance(c, list_slice((SELECT v FROM q),
                                           sub*16 + 1, sub*16 + 16)) AS li
        FROM cb),
adc AS (SELECT codes.vec_id,
               -- ordered list_sum, NOT sum(): rows sharing all m codes
               -- must get BIT-IDENTICAL dists so the (dist, vec_id)
               -- tie-break at the LIMIT cut is deterministic —
               -- sum()'s per-group accumulation order is not
               list_sum(list(lut.li * lut.li ORDER BY codes.sub)) AS dist
        FROM codes JOIN lut ON lut.sub = codes.sub AND lut.code = codes.code
        GROUP BY codes.vec_id)
SELECT * FROM (
  SELECT vec_id, CAST(floor(dist * 1e4 + 0.5) AS BIGINT) AS adc_u
  FROM adc ORDER BY dist ASC, vec_id ASC LIMIT 10)
ORDER BY adc_u ASC, vec_id ASC
"""


QUERIES["pq_topk"] = q_pq_topk
ORACLES["pq_topk"] = ORACLE_PQ_TOPK


def q_image_curation(spark, sf):
    """COMPOSED image-curation pipeline, fully ORACLED end to end:
    quality gate -> MSE-verified near-dup dedup on the survivors ->
    aspect-bucket assignment for the kept representatives (with
    component sizes). The fixture makes stage ORDER observable: every
    group's flat variant is identical across groups — if it reached
    the dedup stage it would chain all groups into one component — but
    the gate rejects it first (zero variance/entropy), and the decoy
    variant passes the gate, collides at Hamming 0, and is rejected by
    the pixel-SSE verify. DuckDB replays the gate arithmetic, every
    hash bit, the band join, per-pair SSE, the component fixpoint,
    member counts and the bucket argmin from the pixel formula."""
    from ..operators.images import (
        aspect_bucket_images,
        phash_dedup_verified,
        quality_gate_images,
    )
    from ..sources.images import curation_images_df

    imgs = curation_images_df(spark, 20)
    gated = quality_gate_images(
        imgs, min_w=16, min_h=16, max_aspect=(4, 1), brightness=(16, 240),
        min_variance=25.0, min_entropy_bits=1.0,
    )
    keep = imgs.join(
        gated.filter(F.col("passes")).select("image_id"), "image_id"
    )
    dd = phash_dedup_verified(
        keep, hash_type="dhash", max_hamming=2, max_sse=40000, grid=16
    )
    reps = dd.groupBy("rep_id").agg(F.count("*").alias("n_members"))
    rep_dims = reps.join(
        imgs.select("image_id", "w", "h"),
        reps["rep_id"] == F.col("image_id"),
    ).select("image_id", "n_members", "w", "h")
    out = aspect_bucket_images(rep_dims).join(
        rep_dims.select("image_id", "n_members"), "image_id"
    )
    return out.select(
        "image_id", "n_members", "w", "h", "bucket_w", "bucket_h"
    ).orderBy("image_id")


def _cur_px(i: str, x: str, y: str) -> str:
    """Pixel CASE of curation_images_df at row ``i`` and SOURCE
    coordinates (``x``, ``y``) — shared by the full-resolution gate
    view, the dHash anchor view and the SSE grid view (each samples
    the same formula at different coordinates)."""
    base = f"(({i}//5)*41 + ({x})*7 + ({y})*13) % 251"
    return f"""CASE
      WHEN {i} % 5 = 4 THEN (({i}//5)*41) % 251
      WHEN {i} % 5 IN (1, 2) AND ({y}) = 0 AND ({x}) = 0
        THEN ({base} + 128) % 256
      WHEN {i} % 5 = 2 AND ({y}) = 2 AND ({x}) = 0
        THEN ({base} + 128) % 256
      WHEN {i} % 5 = 3 AND ({y}) % 2 = 1 THEN ({base} + 128) % 256
      ELSE {base} END"""


ORACLE_IMAGE_CURATION = f"""
WITH RECURSIVE ids AS (SELECT unnest(range(20)) AS i),
dims AS (SELECT i,
  CASE (i//5) % 3 WHEN 0 THEN 16 WHEN 1 THEN 20 ELSE 24 END AS w,
  16 AS h FROM ids),
px AS (SELECT d.i, d.w, d.h, {_cur_px("d.i", "x.g", "y.g")} AS v
       FROM dims d, (SELECT unnest(range(24)) AS g) x,
            (SELECT unnest(range(16)) AS g) y
       WHERE x.g < d.w),
agg AS (SELECT i, w, h, count(*) AS n, sum(v) AS s, sum(v*v) AS sq
        FROM px GROUP BY i, w, h),
hist AS (SELECT i, v, count(*) AS c FROM px GROUP BY i, v),
ent AS (SELECT hist.i,
               -sum((c::DOUBLE / n) * log2(c::DOUBLE / n)) AS e
        FROM hist JOIN agg USING (i) GROUP BY hist.i),
keep AS (SELECT agg.i, agg.w
         FROM agg JOIN ent ON ent.i = agg.i
         WHERE NOT (w < 16 OR h < 16)
           AND NOT (greatest(w, h) * 1 > least(w, h) * 4)
           AND s >= 16 * n AND s <= 240 * n
           AND n*sq - s*s >= 25 * n * n
           AND e >= 1.0),
d9 AS (SELECT k.i, r.g AS r, c.g AS c,
              {_cur_px("k.i", "(c.g * k.w) // 9", "r.g * 2")} AS v
       FROM keep k, (SELECT unnest(range(8)) AS g) r,
            (SELECT unnest(range(9)) AS g) c),
hashes AS (SELECT a.i,
                  string_agg(CASE WHEN a.v < b.v THEN '1' ELSE '0' END, ''
                             ORDER BY a.r, a.c) AS bits
           FROM d9 a JOIN d9 b ON a.i = b.i AND a.r = b.r AND b.c = a.c + 1
           WHERE a.c < 8 GROUP BY a.i),
bands AS (SELECT i, bnd.g AS band, substr(bits, 1 + 16*bnd.g, 16) AS val, bits
          FROM hashes, (SELECT unnest(range(4)) AS g) bnd),
cand AS (SELECT DISTINCT a.i AS id_a, b.i AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
                                   AND b.i < a.i
         WHERE bit_count(xor(a.bits::BIT, b.bits::BIT)) <= 2),
grid AS (SELECT k.i, gy.g AS gy, gx.g AS gx,
                {_cur_px("k.i", "(gx.g * k.w) // 16", "gy.g")} AS v
         FROM keep k, (SELECT unnest(range(16)) AS g) gy,
              (SELECT unnest(range(16)) AS g) gx),
sse AS (SELECT c.id_a, c.id_b,
               sum((ga.v - gb.v) * (ga.v - gb.v)) AS s
        FROM cand c
        JOIN grid ga ON ga.i = c.id_a
        JOIN grid gb ON gb.i = c.id_b AND gb.gy = ga.gy AND gb.gx = ga.gx
        GROUP BY c.id_a, c.id_b),
pairs AS (SELECT id_a, id_b FROM sse WHERE s <= 40000),
sym AS (SELECT id_a AS sa, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(a, r) AS (
  SELECT i, i FROM keep
  UNION
  SELECT sym.sa, reach.r FROM sym JOIN reach ON reach.a = sym.d),
comp AS (SELECT a AS i, min(r) AS rep FROM reach GROUP BY a),
members AS (SELECT rep, count(*) AS n_members FROM comp GROUP BY rep),
bk(idx, bw, bh) AS (VALUES
  (0, 1024, 1024), (1, 1152, 896), (2, 896, 1152), (3, 1216, 832),
  (4, 832, 1216), (5, 1344, 768), (6, 768, 1344), (7, 1536, 640),
  (8, 640, 1536)),
scored AS (SELECT m.rep, m.n_members, d.w, d.h, bw, bh,
                  row_number() OVER (
                    PARTITION BY m.rep
                    ORDER BY abs(d.w*bh - d.h*bw)::DOUBLE / bh, idx) AS rn
           FROM members m JOIN dims d ON d.i = m.rep, bk)
SELECT printf('img%08d', rep) AS image_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(bw AS INT) AS bucket_w, CAST(bh AS INT) AS bucket_h
FROM scored WHERE rn = 1 ORDER BY image_id
"""


QUERIES["image_curation"] = q_image_curation
ORACLES["image_curation"] = ORACLE_IMAGE_CURATION


def q_epoch_shuffle(spark, sf):
    """Deterministic per-epoch training shuffle, fully ORACLED: rank
    in md5(id:seed:epoch) order — Spark's F.md5 and DuckDB's md5 agree
    byte-for-byte on the same concatenation, so the whole permutation
    (and the pos % n_shards round-robin) replays exactly. The Spark
    side computes the global rank with the two-level technique (range
    partition by key, per-partition row_number, broadcast base
    counts) — never a single-reducer global sort."""
    from ..operators.curation import epoch_shuffle

    docs = _t(spark, sf, "documents")
    out = epoch_shuffle(docs, id_col="doc_id", seed=7, epoch=2, n_shards=8)
    return out.select("doc_id", "pos", "shard").orderBy("doc_id")


ORACLE_EPOCH_SHUFFLE = """
WITH r AS (SELECT doc_id,
                  row_number() OVER (
                    ORDER BY md5(doc_id || ':7:2'), doc_id) - 1 AS pos
           FROM documents)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       CAST(pos % 8 AS INT) AS shard
FROM r ORDER BY doc_id
"""


QUERIES["epoch_shuffle"] = q_epoch_shuffle
ORACLES["epoch_shuffle"] = ORACLE_EPOCH_SHUFFLE


def q_webdataset_roundtrip(spark, sf):
    """WebDataset tar-shard sink + scan, ORACLED end to end: formula
    images are written as tar shards (deterministic member names,
    mtime 0), scanned back through the binaryFile + untar stage,
    DECODED, and reduced to exact integer pixel sums — which DuckDB
    recomputes straight from the pixel formula. A corrupted byte
    anywhere in the write→scan→decode chain breaks the integer
    equality, so this verifies the full sink/scan fidelity, not just
    row counts (the hdf5_roundtrip pattern). Side effect: writes tar
    shards to a fresh temp dir each run."""

    from ..operators.images import image_stats
    from ..sources.images import formula_images_df
    from ..sources.webdataset import read_webdataset, write_webdataset

    d = _scratch_dir("wds_roundtrip_")
    write_webdataset(
        formula_images_df(spark, 12), d, shard_rows=5
    ).count()
    back = read_webdataset(spark, d).filter(F.col("err").isNull())
    imgs = back.select(
        F.col("key").alias("image_id"),
        F.col("data").alias("bytes"),
        F.col("ext").alias("fmt"),
    )
    return image_stats(imgs).select(
        "image_id", "w", "h", "n_px", "px_sum", "px_sq_sum"
    ).orderBy("image_id")


ORACLE_WEBDATASET_ROUNDTRIP = """
WITH ids AS (SELECT unnest(range(12)) AS i),
""" + _SQL_FORMULA_DIMS + """,
px AS (SELECT i, w, h, (i*31 + x.g*7 + y.g*13) % 256 AS val
       FROM dims, (SELECT unnest(range(256)) AS g) x,
            (SELECT unnest(range(128)) AS g) y
       WHERE x.g < w AND y.g < h)
SELECT printf('img%08d', i) AS image_id,
       CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(sum(val*val) AS BIGINT) AS px_sq_sum
FROM px GROUP BY i, w, h ORDER BY image_id
"""


QUERIES["webdataset_roundtrip"] = q_webdataset_roundtrip
ORACLES["webdataset_roundtrip"] = ORACLE_WEBDATASET_ROUNDTRIP


def q_audio_quality_gate(spark, sf):
    """Audio curation gate (the audio analog of image_quality_gate),
    fully ORACLED: embeddings mux into float32 WAVs with POWER-OF-TWO
    per-clip transformations (x64 -> clipping, x2^-20 -> silence,
    8-sample slice -> too-short) that are exact in BOTH float32 and
    double, so every count and gate decision replays bit-for-bit in
    DuckDB over the same arrays; float-WAV decode is an exact
    roundtrip (the audio_roundtrip precedent). RMS/peak ride along at
    floor(x*1e6+0.5)."""
    import numpy as np
    import pandas as pd

    from ..codecs.wav import encode_wav
    from ..operators.multimodal import quality_gate_audio

    e = _t(spark, sf, "embeddings")

    def gen(batches):
        for b in batches:
            ids, blobs = [], []
            for vid, v in zip(b["vec_id"].values, b["embedding"].values):
                vid = int(vid)
                a = np.asarray(v, dtype=np.float32)
                if vid % 5 == 0:
                    a = a * np.float32(64.0)
                elif vid % 7 == 0:
                    a = a * np.float32(2.0 ** -20)
                elif vid % 11 == 0:
                    a = a[:8]
                ids.append(str(vid))
                blobs.append(encode_wav(a, 8000, samplewidth=4))
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = spread(e.select("vec_id", "embedding")).mapInPandas(
        gen, "clip_id string, bytes binary"
    )
    g = quality_gate_audio(clips)
    u = lambda c: F.floor(F.col(c) * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    return g.select(
        F.col("clip_id").cast("bigint").alias("clip_id"),
        "n_samples", "n_clipped", "n_silent",
        u("peak").alias("peak_u"),
        u("rms").alias("rms_u"),
        "passes", "reject_reasons",
    ).orderBy("clip_id")


ORACLE_AUDIO_QUALITY_GATE = """
WITH base AS (
  SELECT vec_id,
         CASE WHEN vec_id % 5 = 0
                THEN list_transform(embedding, x -> CAST(x AS DOUBLE) * 64)
              WHEN vec_id % 7 = 0
                THEN list_transform(embedding,
                                    x -> CAST(x AS DOUBLE) / 1048576)
              WHEN vec_id % 11 = 0
                THEN list_transform(list_slice(embedding, 1, 8),
                                    x -> CAST(x AS DOUBLE))
              ELSE list_transform(embedding, x -> CAST(x AS DOUBLE))
         END AS s
  FROM embeddings),
st AS (
  SELECT vec_id, len(s) AS n,
         list_aggregate(list_transform(
           s, x -> CASE WHEN abs(x) >= 0.999 THEN 1 ELSE 0 END),
           'sum') AS nclip,
         list_aggregate(list_transform(
           s, x -> CASE WHEN abs(x) <= 1.0/1024 THEN 1 ELSE 0 END),
           'sum') AS nsil,
         list_max(list_transform(s, x -> abs(x))) AS peak,
         sqrt(list_aggregate(list_transform(s, x -> x*x), 'sum')
              / len(s)) AS rms
  FROM base),
g AS (SELECT *,
             (n < 16) AS too_short,
             (nclip * 100 > n * 1) AS clipped,
             (nsil * 2 > n * 1) AS mostly_silence,
             (rms < 0.001) AS too_quiet
      FROM st)
SELECT vec_id AS clip_id, CAST(n AS INT) AS n_samples,
       CAST(nclip AS INT) AS n_clipped, CAST(nsil AS INT) AS n_silent,
       CAST(floor(peak * 1e6 + 0.5) AS BIGINT) AS peak_u,
       CAST(floor(rms * 1e6 + 0.5) AS BIGINT) AS rms_u,
       NOT (too_short OR clipped OR mostly_silence OR too_quiet) AS passes,
       concat_ws(',',
         CASE WHEN too_short THEN 'too_short' END,
         CASE WHEN clipped THEN 'clipped' END,
         CASE WHEN mostly_silence THEN 'mostly_silence' END,
         CASE WHEN too_quiet THEN 'too_quiet' END) AS reject_reasons
FROM g ORDER BY clip_id
"""


QUERIES["audio_quality_gate"] = q_audio_quality_gate
ORACLES["audio_quality_gate"] = ORACLE_AUDIO_QUALITY_GATE


def q_ivfpq_topk(spark, sf):
    """IVF-PQ top-k (the FAISS serve architecture) with FIXED coarse
    centroids (embeddings vec_id 0..7) and FIXED PQ codebooks (the
    sub-slices of vec_id 0..3), so the ENTIRE two-stage approximate
    search — coarse assignment, nprobe probe-list selection, the
    pruned per-subspace code assignment, the ADC sum and the top-k
    cut — replays independently in DuckDB. Same membership-by-raw /
    order-by-rounded convention and ordered list_sum as pq_topk."""
    from ..operators.similarity import ivfpq_topk

    e = _t(spark, sf, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("string").alias("centroid_label"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    pq_model = e.filter(F.col("vec_id") < 4).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.col("vec_id").cast("string").alias("centroid_label"),
                    F.slice(
                        F.col("embedding").cast("array<double>"),
                        s * 16 + 1, 16,
                    ).alias("centroid"),
                )
                for s in range(4)
            ])
        ).alias("b")
    ).select("b.*")
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == 9).first()["embedding"]
    ]
    out = ivfpq_topk(e, cent, pq_model, qv, k=10, nprobe=2)
    return out.select(
        "vec_id",
        F.floor(F.col("adc_dist") * 1e4 + F.lit(0.5)).cast("long")
        .alias("adc_u"),
    ).orderBy("adc_u", "vec_id")


ORACLE_IVFPQ_TOPK = """
WITH cent AS (SELECT CAST(vec_id AS VARCHAR) AS lab, embedding::DOUBLE[] AS c
              FROM embeddings WHERE vec_id < 8),
q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 9),
probe AS (SELECT lab FROM cent, q
          ORDER BY list_distance(c, v) ASC, lab ASC LIMIT 2),
assign AS (SELECT e.vec_id,
                  (SELECT lab FROM cent
                   ORDER BY list_distance(cent.c, e.embedding::DOUBLE[]) ASC,
                            lab ASC LIMIT 1) AS list_id
           FROM embeddings e),
pruned AS (SELECT vec_id FROM assign
           WHERE list_id IN (SELECT lab FROM probe)),
cb AS (SELECT s.g AS sub, CAST(e.vec_id AS INT) AS code,
              list_slice(e.embedding::DOUBLE[],
                         s.g*16 + 1, s.g*16 + 16) AS c
       FROM embeddings e, (SELECT unnest(range(4)) AS g) s
       WHERE e.vec_id < 4),
sv AS (SELECT e.vec_id, s.g AS sub,
              list_slice(e.embedding::DOUBLE[],
                         s.g*16 + 1, s.g*16 + 16) AS x
       FROM embeddings e JOIN pruned USING (vec_id),
            (SELECT unnest(range(4)) AS g) s),
codes AS (SELECT vec_id, sub,
                 (SELECT code FROM cb WHERE cb.sub = sv.sub
                  ORDER BY list_distance(cb.c, sv.x) ASC, code ASC
                  LIMIT 1) AS code
          FROM sv),
lut AS (SELECT sub, code,
               list_distance(c, list_slice((SELECT v FROM q),
                                           sub*16 + 1, sub*16 + 16)) AS li
        FROM cb),
adc AS (SELECT codes.vec_id,
               list_sum(list(lut.li * lut.li ORDER BY codes.sub)) AS dist
        FROM codes JOIN lut ON lut.sub = codes.sub AND lut.code = codes.code
        GROUP BY codes.vec_id)
SELECT * FROM (
  SELECT vec_id, CAST(floor(dist * 1e4 + 0.5) AS BIGINT) AS adc_u
  FROM adc ORDER BY dist ASC, vec_id ASC LIMIT 10)
ORDER BY adc_u ASC, vec_id ASC
"""


QUERIES["ivfpq_topk"] = q_ivfpq_topk
ORACLES["ivfpq_topk"] = ORACLE_IVFPQ_TOPK


def q_pq_trained_topk(spark, sf):
    """PQ with TRAINED codebooks verified end to end (the ivf_topk
    discipline): pq_fit runs 2 Lloyd iterations per subspace from
    fixed table-row seeds, and the oracle unrolls the SAME iterations
    as generated DuckDB CTEs (assignment tiebreak distance ASC, label
    ASC — pq_fit's nearest_centroid argmin; per-position avg means), then
    replays encode + ADC + the top-k cut. Training, not just serving,
    is in the hard signal."""
    from ..operators.similarity import pq_encode, pq_fit, pq_topk

    e = _t(spark, sf, "embeddings")
    init = e.filter(F.col("vec_id") < 4).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.col("vec_id").cast("string").alias("centroid_label"),
                    F.slice(
                        F.col("embedding").cast("array<double>"),
                        s * 16 + 1, 16,
                    ).alias("centroid"),
                )
                for s in range(4)
            ])
        ).alias("b")
    ).select("b.*")
    model = pq_fit(e, m=4, k=4, iters=2, init=init)
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == 9).first()["embedding"]
    ]
    out = pq_topk(pq_encode(e, model), model, qv, k=10)
    return out.select(
        "vec_id",
        F.floor(F.col("adc_dist") * 1e4 + F.lit(0.5)).cast("long")
        .alias("adc_u"),
    ).orderBy("adc_u", "vec_id")


def _pq_trained_topk_oracle_sql(iters: int = 2, m: int = 4, d: int = 16,
                                k: int = 10) -> str:
    """Unrolled per-subspace Lloyd + ADC, mirroring q_pq_trained_topk."""
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""sv AS (SELECT vec_id, s.g AS sub,
           list_slice(v, s.g*{d} + 1, s.g*{d} + {d}) AS x
    FROM e, (SELECT unnest(range({m})) AS g) s)""",
        f"""qs AS (SELECT s.g AS sub,
           list_slice((SELECT v FROM e WHERE vec_id = 9),
                      s.g*{d} + 1, s.g*{d} + {d}) AS x
    FROM (SELECT unnest(range({m})) AS g) s)""",
        """cb0 AS (SELECT sv.sub, CAST(sv.vec_id AS VARCHAR) AS lab, sv.x AS c
    FROM sv WHERE sv.vec_id < 4)""",
    ]
    for it in range(1, iters + 1):
        ctes.append(
            f"""a{it} AS (
  SELECT sv.vec_id, sv.sub, sv.x,
         (SELECT lab FROM cb{it - 1} cb WHERE cb.sub = sv.sub
          ORDER BY list_distance(cb.c, sv.x) ASC, lab ASC LIMIT 1) AS lab
  FROM sv)"""
        )
        ctes.append(
            f"""cb{it} AS (
  SELECT sub, lab, array_agg(mu ORDER BY pos) AS c FROM (
    SELECT sub, lab, pos, avg(val) AS mu FROM (
      SELECT sub, lab, generate_subscripts(x, 1) AS pos, unnest(x) AS val
      FROM a{it})
    GROUP BY sub, lab, pos)
  GROUP BY sub, lab)"""
        )
    final = f"""codes AS (
  SELECT sv.vec_id, sv.sub,
         (SELECT lab FROM cb{iters} cb WHERE cb.sub = sv.sub
          ORDER BY list_distance(cb.c, sv.x) ASC, lab ASC LIMIT 1) AS lab
  FROM sv),
lut AS (SELECT cb.sub, cb.lab, list_distance(cb.c, qs.x) AS li
        FROM cb{iters} cb JOIN qs USING (sub)),
adc AS (SELECT codes.vec_id,
               list_sum(list(lut.li * lut.li ORDER BY codes.sub)) AS dist
        FROM codes JOIN lut ON lut.sub = codes.sub AND lut.lab = codes.lab
        GROUP BY codes.vec_id)
SELECT * FROM (
  SELECT vec_id, CAST(floor(dist * 1e4 + 0.5) AS BIGINT) AS adc_u
  FROM adc ORDER BY dist ASC, vec_id ASC LIMIT {k})
ORDER BY adc_u ASC, vec_id ASC"""
    return "WITH " + ",\n".join(ctes) + ",\n" + final


QUERIES["pq_trained_topk"] = q_pq_trained_topk
ORACLES["pq_trained_topk"] = _pq_trained_topk_oracle_sql()


def q_crossmodal_gate(spark, sf):
    """CLIP-score-style cross-modal alignment gate (LAION filtering
    rule), fully ORACLED: embeddings pair with a deterministic partner
    ((id*7+13) mod n playing the caption embedding), cosine similarity
    in integer 1e-6 units, gate decided on exact integers. Float-float
    products are exact in double; cross-engine sum-order drift ~1e-15,
    six orders below the grain — DuckDB replays the score with
    list_cosine_similarity over DOUBLE[] casts."""
    from ..operators.similarity import crossmodal_gate

    e = _t(spark, sf, "embeddings")
    n = e.count()  # K-row driver lookup pattern (contiguous vec_ids)
    a = e.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("img_emb"),
        F.pmod(F.col("vec_id") * 7 + 13, F.lit(n)).alias("pid"),
    )
    b = e.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("txt_emb"))
    out = crossmodal_gate(a.join(b, "pid"), "img_emb", "txt_emb",
                          threshold_u=50_000)
    return out.select("id", "pid", "score_u", "passed").orderBy("id")


ORACLE_CROSSMODAL_GATE = """
WITH pairs AS (
  SELECT a.vec_id AS id,
         (a.vec_id * 7 + 13) % (SELECT count(*) FROM embeddings) AS pid,
         a.embedding AS ea
  FROM embeddings a),
j AS (SELECT p.id, p.pid, p.ea, b.embedding AS eb
      FROM pairs p JOIN embeddings b ON b.vec_id = p.pid),
s AS (SELECT id, pid,
             floor(list_cosine_similarity(CAST(ea AS DOUBLE[]),
                                          CAST(eb AS DOUBLE[])) * 1e6 + 0.5)
               AS su
      FROM j)
SELECT id, pid, CAST(su AS BIGINT) AS score_u,
       CAST(CASE WHEN su >= 50000 THEN 1 ELSE 0 END AS INT) AS passed
FROM s ORDER BY id
"""


def q_image_entropy(spark, sf):
    """Histogram-entropy curation signal, fully ORACLED: the per-image
    value histogram is exact integers DuckDB regroups from the pixel
    formula; entropy = ln(n) - sum(c*ln c)/n evaluated identically on
    both sides (ln ulp + sum-order drift ~1e-12 at the 1e-6 grain)."""
    from ..operators.images import image_entropy
    from ..sources.images import formula_images_df

    ent = image_entropy(formula_images_df(spark, 10))
    return ent.select(
        "image_id", "n_px", "n_distinct",
        F.floor(F.col("entropy") * 1e6 + F.lit(0.5)).cast("long")
        .alias("entropy_u"),
    ).orderBy("image_id")


ORACLE_IMAGE_ENTROPY = """
WITH ids AS (SELECT unnest(range(10)) AS i),
""" + _SQL_FORMULA_DIMS + """,
px AS (SELECT i, (i*31 + x.g*7 + y.g*13) % 256 AS v
       FROM dims, (SELECT unnest(range(256)) AS g) x,
            (SELECT unnest(range(128)) AS g) y
       WHERE x.g < w AND y.g < h),
counts AS (SELECT i, v, count(*) AS c FROM px GROUP BY i, v),
tot AS (SELECT i, sum(c) AS n FROM counts GROUP BY i)
SELECT printf('img%08d', counts.i) AS image_id,
       CAST(max(tot.n) AS BIGINT) AS n_px,
       CAST(count(*) AS INT) AS n_distinct,
       CAST(floor((ln(CAST(max(tot.n) AS DOUBLE))
                   - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                     / CAST(max(tot.n) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         AS entropy_u
FROM counts JOIN tot ON tot.i = counts.i
GROUP BY counts.i ORDER BY image_id
"""


def q_image_letterbox(spark, sf):
    """Letterbox batching transform, fully ORACLED pixel-by-pixel: the
    aspect-fit geometry is pure integer arithmetic, inner pixels are
    the anchor-sampled formula at remapped coordinates, pad pixels the
    constant 114 — DuckDB recomputes the entire 64x64 canvas."""
    from ..operators.images import letterbox_images
    from ..operators.multimodal import image_pixels
    from ..sources.images import formula_images_df

    out = letterbox_images(formula_images_df(spark, 10),
                           out_w=64, out_h=64, fill=114)
    return image_pixels(out).orderBy("image_id", "y", "x")


ORACLE_IMAGE_LETTERBOX = """
WITH ids AS (SELECT unnest(range(10)) AS i),
""" + _SQL_FORMULA_DIMS + """,
geo AS (SELECT i, w, h,
         CASE WHEN w >= h THEN 64 ELSE greatest((w*64)//h, 1) END AS nw,
         CASE WHEN w >= h THEN greatest((h*64)//w, 1) ELSE 64 END AS nh
        FROM dims),
geo2 AS (SELECT i, w, h, nw, nh,
                (64 - nw) // 2 AS pl, (64 - nh) // 2 AS pt
         FROM geo)
SELECT printf('img%08d', k.i) AS image_id,
       CAST(oy.g AS INT) AS y, CAST(ox.g AS INT) AS x,
       CAST(CASE WHEN ox.g >= k.pl AND ox.g < k.pl + k.nw
                  AND oy.g >= k.pt AND oy.g < k.pt + k.nh
             THEN (k.i*31 + (((ox.g - k.pl) * k.w) // k.nw) * 7
                   + (((oy.g - k.pt) * k.h) // k.nh) * 13) % 256
             ELSE 114 END AS INT) AS val
FROM geo2 k, (SELECT unnest(range(64)) AS g) ox,
     (SELECT unnest(range(64)) AS g) oy
ORDER BY image_id, y, x
"""


def q_pmi_collocations(spark, sf):
    """PMI collocation mining (word2vec-style phrase pass), fully
    ORACLED: counts are exact integers over the shared tokenizer; the
    one float expression ln((cxy*Nu*Nu)/(Nb*cx*cy)) is evaluated in
    the identical association order on both engines (drift ~1 ulp at
    the 1e-6 grain); the LIMIT cut is decided on (pmi_u, w1, w2) —
    a total order over exact values."""
    from ..operators.text import pmi_collocations

    d = _t(spark, sf, "documents")
    return pmi_collocations(d, "text", min_count=5, top_k=100)


ORACLE_PMI_COLLOCATIONS = r"""
WITH arr AS (SELECT list_filter(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
               t -> t <> '') AS ts
             FROM documents),
bi AS (SELECT list_extract(ts, i.g) AS w1, list_extract(ts, i.g + 1) AS w2
       FROM arr, LATERAL (SELECT unnest(range(1, len(ts))) AS g) i),
bc AS (SELECT w1, w2, count(*) AS c_xy FROM bi GROUP BY w1, w2),
uni AS (SELECT unnest(ts) AS token FROM arr),
uc AS (SELECT token, count(*) AS c_tok FROM uni GROUP BY token),
nu AS (SELECT CAST(count(*) AS DOUBLE) AS nu FROM uni),
nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bi)
SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
       CAST(x.c_tok AS BIGINT) AS c_x, CAST(y.c_tok AS BIGINT) AS c_y,
       CAST(floor(ln((CAST(c_xy AS DOUBLE) * nu.nu * nu.nu)
                     / (nb.nb * CAST(x.c_tok AS DOUBLE)
                        * CAST(y.c_tok AS DOUBLE)))
                  * 1e6 + 0.5) AS BIGINT) AS pmi_u
FROM bc JOIN uc x ON x.token = bc.w1
        JOIN uc y ON y.token = bc.w2, nu, nb
WHERE c_xy >= 5
ORDER BY pmi_u DESC, w1 ASC, w2 ASC LIMIT 100
"""


QUERIES["crossmodal_gate"] = q_crossmodal_gate
ORACLES["crossmodal_gate"] = ORACLE_CROSSMODAL_GATE
QUERIES["image_entropy"] = q_image_entropy
ORACLES["image_entropy"] = ORACLE_IMAGE_ENTROPY
QUERIES["image_letterbox"] = q_image_letterbox
ORACLES["image_letterbox"] = ORACLE_IMAGE_LETTERBOX
QUERIES["pmi_collocations"] = q_pmi_collocations
ORACLES["pmi_collocations"] = ORACLE_PMI_COLLOCATIONS


# ---------------------------------------------------------------------------
# Round-5 fourth wave: the data-loader layer between curation and the
# training loop — corpus normalization constants, bucketed batch
# packing, per-epoch hash-decided augmentation, deterministic mixup.
# ---------------------------------------------------------------------------


def q_corpus_pixel_stats(spark, sf):
    """Corpus normalization constants (the ImageNet mean/std step,
    computed over OUR corpus), fully ORACLED: the exact int64 corpus
    sums compare raw; mean/std are derived in ONE fixed expression
    order (mean = px_sum/n_px, var = px_sq_sum/n_px - mean*mean,
    std = sqrt(var)) — every step correctly rounded in IEEE double, so
    DuckDB replaying the identical order from identical integers
    reproduces the bits; compared at floor(x*1e6+0.5) anyway."""
    from ..operators.images import corpus_pixel_stats
    from ..sources.images import formula_images_df

    g = corpus_pixel_stats(formula_images_df(spark, 20))
    return g.select(
        "n_images", "n_px", "px_sum", "px_sq_sum", "px_min", "px_max",
        F.floor(F.col("mean") * 1e6 + F.lit(0.5)).cast("long").alias("mean_u"),
        F.floor(F.col("std") * 1e6 + F.lit(0.5)).cast("long").alias("std_u"),
    )


ORACLE_CORPUS_PIXEL_STATS = """
WITH ids AS (SELECT unnest(range(20)) AS i),
""" + _SQL_FORMULA_DIMS + """,
px AS (SELECT i, (i*31 + x.g*7 + y.g*13) % 256 AS v
       FROM dims, (SELECT unnest(range(256)) AS g) x,
            (SELECT unnest(range(128)) AS g) y
       WHERE x.g < w AND y.g < h),
agg AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS n_images,
               CAST(count(*) AS BIGINT) AS n_px,
               CAST(sum(v) AS BIGINT) AS px_sum,
               CAST(sum(v*v) AS BIGINT) AS px_sq_sum,
               CAST(min(v) AS INT) AS px_min,
               CAST(max(v) AS INT) AS px_max
        FROM px)
SELECT n_images, n_px, px_sum, px_sq_sum, px_min, px_max,
       CAST(floor((CAST(px_sum AS DOUBLE) / CAST(n_px AS DOUBLE)) * 1e6
                  + 0.5) AS BIGINT) AS mean_u,
       CAST(floor(sqrt(CAST(px_sq_sum AS DOUBLE) / CAST(n_px AS DOUBLE)
                       - (CAST(px_sum AS DOUBLE) / CAST(n_px AS DOUBLE))
                         * (CAST(px_sum AS DOUBLE) / CAST(n_px AS DOUBLE)))
                  * 1e6 + 0.5) AS BIGINT) AS std_u
FROM agg
"""


def q_batch_pack(spark, sf):
    """Bucketed batch packing over the SDXL aspect buckets, fully
    ORACLED: within each bucket rows rank by md5(id:seed:epoch) (the
    epoch_shuffle key — Spark's F.md5 and DuckDB's md5 agree on the
    same concatenation), batch_idx = rank//B, slot = rank%B, trailing
    partial batches dropped. The Spark side never runs a
    bucket-partitioned global window — two-level rank, buckets spread
    by range partitioning."""
    from ..operators.curation import pack_batches
    from ..operators.images import aspect_bucket_images
    from ..sources.images import formula_images_df

    b = aspect_bucket_images(formula_images_df(spark, 40))
    out = pack_batches(
        b.select("image_id", "bucket_w", "bucket_h"),
        bucket_cols=("bucket_w", "bucket_h"),
        id_col="image_id",
        batch_size=4,
        seed=3,
        epoch=0,
    )
    return out.orderBy("image_id")


ORACLE_BATCH_PACK = """
WITH ids AS (SELECT unnest(range(40)) AS i),
""" + _SQL_FORMULA_DIMS + """,
bk(idx, bw, bh) AS (VALUES
  (0, 1024, 1024), (1, 1152, 896), (2, 896, 1152), (3, 1216, 832),
  (4, 832, 1216), (5, 1344, 768), (6, 768, 1344), (7, 1536, 640),
  (8, 640, 1536)),
scored AS (SELECT i, w, h, bw, bh,
                  row_number() OVER (
                    PARTITION BY i
                    ORDER BY abs(w*bh - h*bw)::DOUBLE / bh, idx) AS rn
           FROM dims, bk),
assigned AS (SELECT printf('img%08d', i) AS image_id, bw, bh
             FROM scored WHERE rn = 1),
r AS (SELECT image_id, bw, bh,
             row_number() OVER (
               PARTITION BY bw, bh
               ORDER BY md5(image_id || ':3:0'), image_id) - 1 AS rn,
             count(*) OVER (PARTITION BY bw, bh) AS n
      FROM assigned)
SELECT image_id, CAST(bw AS INT) AS bucket_w, CAST(bh AS INT) AS bucket_h,
       CAST(rn // 4 AS BIGINT) AS batch_idx, CAST(rn % 4 AS INT) AS slot
FROM r WHERE rn < (n // 4) * 4 ORDER BY image_id
"""


def q_epoch_augment(spark, sf):
    """Per-epoch hash-decided augmentation (flip_h then rot180),
    fully ORACLED via position-sensitive integer moments: decisions are
    md5 hex-digit parities (``_prims.md5_int``, which DuckDB replays
    as CAST('0x'||hex AS INT)); the transformed image's m0/mx/my are
    exact int64 sums DuckDB recomputes from the source-coordinate map
    (flip XOR rot reads column w-1-x, rot reads row h-1-y). m0 is
    flip/rot-invariant; mx/my witness the geometry was APPLIED."""
    from ..operators.images import augment_moments
    from ..sources.images import formula_images_df

    out = augment_moments(formula_images_df(spark, 10), seed=2, epoch=1)
    return out.select(
        "image_id", "flip_h", "rot180", "w", "h", "m0", "mx", "my"
    ).orderBy("image_id")


ORACLE_EPOCH_AUGMENT = """
WITH ids AS (SELECT unnest(range(10)) AS i),
""" + _SQL_FORMULA_DIMS + """,
dec AS (SELECT i, w, h,
          CAST('0x' || substring(md5(printf('img%08d', i) || ':2:1'), 1, 1)
               AS INT) % 2 AS fl,
          CAST('0x' || substring(md5(printf('img%08d', i) || ':2:1'), 2, 1)
               AS INT) % 2 AS rt
        FROM dims),
cells AS (SELECT i, w, h, fl, rt, x.g AS x, y.g AS y,
            (i*31 + (CASE WHEN fl <> rt THEN w-1-x.g ELSE x.g END)*7
                  + (CASE WHEN rt = 1 THEN h-1-y.g ELSE y.g END)*13) % 256
              AS v
          FROM dec, (SELECT unnest(range(256)) AS g) x,
               (SELECT unnest(range(128)) AS g) y
          WHERE x.g < w AND y.g < h)
SELECT printf('img%08d', i) AS image_id,
       CAST(max(fl) AS INT) AS flip_h, CAST(max(rt) AS INT) AS rot180,
       CAST(max(w) AS INT) AS w, CAST(max(h) AS INT) AS h,
       CAST(sum(v) AS BIGINT) AS m0,
       CAST(sum(v * x) AS BIGINT) AS mx,
       CAST(sum(v * y) AS BIGINT) AS my
FROM cells GROUP BY i ORDER BY image_id
"""


def q_mixup_pairs(spark, sf):
    """Deterministic mixup at lambda=1/2, fully ORACLED: pairing is
    pack_batches(batch_size=2) within each (w, h) shape class on the
    per-epoch md5 permutation (24 formula images = 12 shape classes of
    exactly 2 — every image pairs, none dropped); the integer blend
    (pa+pb)//2 and its moments replay closed-form from the pixel
    formula of BOTH parents."""
    from ..operators.images import mixup_images
    from ..sources.images import formula_images_df

    out = mixup_images(formula_images_df(spark, 24), seed=5, epoch=1)
    return out.select(
        "a_id", "b_id", "w", "h", "m0", "mx", "my"
    ).orderBy("a_id")


ORACLE_MIXUP_PAIRS = """
WITH ids AS (SELECT unnest(range(24)) AS i),
""" + _SQL_FORMULA_DIMS + """,
r AS (SELECT i, w, h, printf('img%08d', i) AS iid,
             row_number() OVER (
               PARTITION BY w, h
               ORDER BY md5(printf('img%08d', i) || ':5:1'),
                        printf('img%08d', i)) - 1 AS rn,
             count(*) OVER (PARTITION BY w, h) AS n
      FROM dims),
kept AS (SELECT * FROM r WHERE rn < (n // 2) * 2),
pairs AS (SELECT a.iid AS a_id, b.iid AS b_id, a.i AS ia, b.i AS ib,
                 a.w AS w, a.h AS h
          FROM kept a JOIN kept b
            ON a.w = b.w AND a.h = b.h AND b.rn = a.rn + 1
          WHERE a.rn % 2 = 0),
cells AS (SELECT a_id, b_id, w, h, x.g AS x, y.g AS y,
            ((ia*31 + x.g*7 + y.g*13) % 256
             + (ib*31 + x.g*7 + y.g*13) % 256) // 2 AS v
          FROM pairs, (SELECT unnest(range(256)) AS g) x,
               (SELECT unnest(range(128)) AS g) y
          WHERE x.g < w AND y.g < h)
SELECT a_id, b_id, CAST(max(w) AS INT) AS w, CAST(max(h) AS INT) AS h,
       CAST(sum(v) AS BIGINT) AS m0,
       CAST(sum(v * x) AS BIGINT) AS mx,
       CAST(sum(v * y) AS BIGINT) AS my
FROM cells GROUP BY a_id, b_id ORDER BY a_id
"""


QUERIES["corpus_pixel_stats"] = q_corpus_pixel_stats
ORACLES["corpus_pixel_stats"] = ORACLE_CORPUS_PIXEL_STATS
QUERIES["batch_pack"] = q_batch_pack
ORACLES["batch_pack"] = ORACLE_BATCH_PACK
QUERIES["epoch_augment"] = q_epoch_augment
ORACLES["epoch_augment"] = ORACLE_EPOCH_AUGMENT
QUERIES["mixup_pairs"] = q_mixup_pairs
ORACLES["mixup_pairs"] = ORACLE_MIXUP_PAIRS


def q_batch_manifest(spark, sf):
    """Batch manifest — the loader's index artifact, fully ORACLED:
    pack_batches output collated to one row per (bucket, batch_idx)
    with member ids in slot order (array_sort over (slot, id) structs,
    no window) and the summed pixel budget per batch. The member_ids
    ARRAY column compares exactly — ids are raw strings, order pinned
    by slot on both engines."""
    from ..operators.curation import collate_manifest, pack_batches
    from ..operators.images import aspect_bucket_images
    from ..sources.images import formula_images_df

    b = aspect_bucket_images(formula_images_df(spark, 40))
    packed = pack_batches(
        b.select(
            "image_id", "bucket_w", "bucket_h",
            (F.col("w") * F.col("h")).cast("long").alias("px"),
        ),
        bucket_cols=("bucket_w", "bucket_h"),
        id_col="image_id",
        batch_size=4,
        seed=3,
        epoch=0,
    )
    out = collate_manifest(
        packed, bucket_cols=("bucket_w", "bucket_h"),
        id_col="image_id", size_col="px",
    )
    return out.select(
        "bucket_w", "bucket_h", "batch_idx", "member_ids", "n_members",
        F.col("total_px").cast("long").alias("total_px"),
    ).orderBy("bucket_w", "bucket_h", "batch_idx")


ORACLE_BATCH_MANIFEST = """
WITH ids AS (SELECT unnest(range(40)) AS i),
""" + _SQL_FORMULA_DIMS + """,
bk(idx, bw, bh) AS (VALUES
  (0, 1024, 1024), (1, 1152, 896), (2, 896, 1152), (3, 1216, 832),
  (4, 832, 1216), (5, 1344, 768), (6, 768, 1344), (7, 1536, 640),
  (8, 640, 1536)),
scored AS (SELECT i, w, h, bw, bh,
                  row_number() OVER (
                    PARTITION BY i
                    ORDER BY abs(w*bh - h*bw)::DOUBLE / bh, idx) AS rn
           FROM dims, bk),
assigned AS (SELECT printf('img%08d', i) AS image_id, bw, bh, w * h AS px
             FROM scored WHERE rn = 1),
r AS (SELECT image_id, bw, bh, px,
             row_number() OVER (
               PARTITION BY bw, bh
               ORDER BY md5(image_id || ':3:0'), image_id) - 1 AS rn,
             count(*) OVER (PARTITION BY bw, bh) AS n
      FROM assigned),
packed AS (SELECT image_id, bw, bh, px, rn // 4 AS batch_idx,
                  CAST(rn % 4 AS INT) AS slot
           FROM r WHERE rn < (n // 4) * 4)
SELECT CAST(bw AS INT) AS bucket_w, CAST(bh AS INT) AS bucket_h,
       CAST(batch_idx AS BIGINT) AS batch_idx,
       list(image_id ORDER BY slot) AS member_ids,
       CAST(count(*) AS INT) AS n_members,
       CAST(sum(px) AS BIGINT) AS total_px
FROM packed GROUP BY bw, bh, batch_idx
ORDER BY bucket_w, bucket_h, batch_idx
"""


def q_rrc_crop(spark, sf):
    """Deterministic RandomResizedCrop, fully ORACLED at the pixel
    level: the crop window comes from four md5 hex digits (integer
    rrc_geometry — SQL replays it digit for digit), the anchor resize
    maps every output pixel to one closed-form source coordinate
    (sx = x0 + (dx*cw)//32), and image_moments' m0/mx/my pin each
    output pixel to its position — DuckDB recomputes all three sums
    from the pixel formula through the same window."""
    from ..operators.images import image_moments, random_resized_crop
    from ..sources.images import formula_images_df

    out = random_resized_crop(
        formula_images_df(spark, 20), out_w=32, out_h=32, seed=7, epoch=2
    )
    m = image_moments(out, carry_cols=("x0", "y0", "crop_w", "crop_h"))
    return m.select(
        "image_id", "x0", "y0", "crop_w", "crop_h", "w", "h",
        "m0", "mx", "my",
    ).orderBy("image_id")


ORACLE_RRC_CROP = """
WITH ids AS (SELECT unnest(range(20)) AS i),
""" + _SQL_FORMULA_DIMS + """,
dig AS (SELECT i, w, h,
  CAST('0x' || substring(md5(printf('img%08d', i) || ':7:2'), 1, 1) AS INT) AS d0,
  CAST('0x' || substring(md5(printf('img%08d', i) || ':7:2'), 2, 1) AS INT) AS d1,
  CAST('0x' || substring(md5(printf('img%08d', i) || ':7:2'), 3, 1) AS INT) AS d2,
  CAST('0x' || substring(md5(printf('img%08d', i) || ':7:2'), 4, 1) AS INT) AS d3
  FROM dims),
geo AS (SELECT i, w, h, d2, d3,
         (w // 2) + (d0 * (w - w // 2)) // 15 AS cw,
         (h // 2) + (d1 * (h - h // 2)) // 15 AS ch
        FROM dig),
win AS (SELECT i, cw, ch,
         (d2 * (w - cw)) // 15 AS x0,
         (d3 * (h - ch)) // 15 AS y0
        FROM geo),
cells AS (SELECT i, x0, y0, cw, ch, dx.g AS dx, dy.g AS dy,
           (i*31 + (x0 + (dx.g*cw)//32)*7 + (y0 + (dy.g*ch)//32)*13) % 256
             AS v
          FROM win, (SELECT unnest(range(32)) AS g) dx,
               (SELECT unnest(range(32)) AS g) dy)
SELECT printf('img%08d', i) AS image_id,
       CAST(max(x0) AS INT) AS x0, CAST(max(y0) AS INT) AS y0,
       CAST(max(cw) AS INT) AS crop_w, CAST(max(ch) AS INT) AS crop_h,
       CAST(32 AS INT) AS w, CAST(32 AS INT) AS h,
       CAST(sum(v) AS BIGINT) AS m0,
       CAST(sum(v * dx) AS BIGINT) AS mx,
       CAST(sum(v * dy) AS BIGINT) AS my
FROM cells GROUP BY i ORDER BY image_id
"""


QUERIES["batch_manifest"] = q_batch_manifest
ORACLES["batch_manifest"] = ORACLE_BATCH_MANIFEST
QUERIES["rrc_crop"] = q_rrc_crop
ORACLES["rrc_crop"] = ORACLE_RRC_CROP


def q_cutmix_pairs(spark, sf):
    """Deterministic CutMix, fully ORACLED: pairing is the mixup
    pack_batches(B=2) permutation (24 formula images = 12 shape
    classes of exactly 2), the patch window replays from md5 hex
    digits of the PAIR key, and the composite is pure pixel selection
    — one CASE over the window recomputes every output pixel from the
    two parents' formulas, witnessed by m0/mx/my."""
    from ..operators.images import cutmix_images
    from ..sources.images import formula_images_df

    out = cutmix_images(formula_images_df(spark, 24), seed=6, epoch=1)
    return out.select(
        "a_id", "b_id", "w", "h", "x0", "y0", "cut_w", "cut_h",
        "patch_area", "m0", "mx", "my",
    ).orderBy("a_id")


ORACLE_CUTMIX_PAIRS = """
WITH ids AS (SELECT unnest(range(24)) AS i),
""" + _SQL_FORMULA_DIMS + """,
r AS (SELECT i, w, h, printf('img%08d', i) AS iid,
             row_number() OVER (
               PARTITION BY w, h
               ORDER BY md5(printf('img%08d', i) || ':6:1'),
                        printf('img%08d', i)) - 1 AS rn,
             count(*) OVER (PARTITION BY w, h) AS n
      FROM dims),
kept AS (SELECT * FROM r WHERE rn < (n // 2) * 2),
pairs AS (SELECT a.iid AS a_id, b.iid AS b_id, a.i AS ia, b.i AS ib,
                 a.w AS w, a.h AS h
          FROM kept a JOIN kept b
            ON a.w = b.w AND a.h = b.h AND b.rn = a.rn + 1
          WHERE a.rn % 2 = 0),
dig AS (SELECT *,
  CAST('0x' || substring(md5(a_id || ':' || b_id || ':6:1'), 1, 1) AS INT) AS d0,
  CAST('0x' || substring(md5(a_id || ':' || b_id || ':6:1'), 2, 1) AS INT) AS d1,
  CAST('0x' || substring(md5(a_id || ':' || b_id || ':6:1'), 3, 1) AS INT) AS d2,
  CAST('0x' || substring(md5(a_id || ':' || b_id || ':6:1'), 4, 1) AS INT) AS d3
  FROM pairs),
geo AS (SELECT *, (w // 4) + (d0 * (w // 2)) // 15 AS cw,
               (h // 4) + (d1 * (h // 2)) // 15 AS ch
        FROM dig),
win AS (SELECT *, (d2 * (w - cw)) // 15 AS px0,
               (d3 * (h - ch)) // 15 AS py0
        FROM geo),
cells AS (SELECT a_id, b_id, w, h, px0, py0, cw, ch, x.g AS x, y.g AS y,
           CASE WHEN x.g >= px0 AND x.g < px0 + cw
                 AND y.g >= py0 AND y.g < py0 + ch
                THEN (ib*31 + x.g*7 + y.g*13) % 256
                ELSE (ia*31 + x.g*7 + y.g*13) % 256 END AS v
          FROM win, (SELECT unnest(range(256)) AS g) x,
               (SELECT unnest(range(128)) AS g) y
          WHERE x.g < w AND y.g < h)
SELECT a_id, b_id, CAST(max(w) AS INT) AS w, CAST(max(h) AS INT) AS h,
       CAST(max(px0) AS INT) AS x0, CAST(max(py0) AS INT) AS y0,
       CAST(max(cw) AS INT) AS cut_w, CAST(max(ch) AS INT) AS cut_h,
       CAST(max(cw) * max(ch) AS BIGINT) AS patch_area,
       CAST(sum(v) AS BIGINT) AS m0,
       CAST(sum(v * x) AS BIGINT) AS mx,
       CAST(sum(v * y) AS BIGINT) AS my
FROM cells GROUP BY a_id, b_id ORDER BY a_id
"""


def q_jitter_moments(spark, sf):
    """Deterministic integer brightness/contrast jitter, fully
    ORACLED pixel-exactly: bright/contrast come from md5 hex digits,
    the pixel map is clamp((p*c)//16 + 128 - (128*c)//16 + bright) —
    every floor division over non-negative ints (the Python-vs-SQL
    negative-division trap never fires) — and DuckDB recomputes
    m0/mx/my through LEAST/GREATEST from the pixel formula."""
    from ..operators.images import color_jitter, image_moments
    from ..sources.images import formula_images_df

    out = color_jitter(formula_images_df(spark, 16), seed=4, epoch=2)
    m = image_moments(out, carry_cols=("bright", "contrast"))
    return m.select(
        "image_id", "bright", "contrast", "w", "h", "m0", "mx", "my"
    ).orderBy("image_id")


ORACLE_JITTER_MOMENTS = """
WITH ids AS (SELECT unnest(range(16)) AS i),
""" + _SQL_FORMULA_DIMS + """,
dig AS (SELECT i, w, h,
  CAST('0x' || substring(md5(printf('img%08d', i) || ':4:2'), 1, 1) AS INT)
    * 4 - 30 AS bright,
  8 + CAST('0x' || substring(md5(printf('img%08d', i) || ':4:2'), 2, 1)
           AS INT) AS contrast
  FROM dims),
cells AS (SELECT i, bright, contrast, w, h, x.g AS x, y.g AS y,
           LEAST(255, GREATEST(0,
             (((i*31 + x.g*7 + y.g*13) % 256) * contrast) // 16
             + 128 - (128 * contrast) // 16 + bright)) AS v
          FROM dig, (SELECT unnest(range(256)) AS g) x,
               (SELECT unnest(range(128)) AS g) y
          WHERE x.g < w AND y.g < h)
SELECT printf('img%08d', i) AS image_id,
       CAST(max(bright) AS INT) AS bright,
       CAST(max(contrast) AS INT) AS contrast,
       CAST(max(w) AS INT) AS w, CAST(max(h) AS INT) AS h,
       CAST(sum(v) AS BIGINT) AS m0,
       CAST(sum(v * x) AS BIGINT) AS mx,
       CAST(sum(v * y) AS BIGINT) AS my
FROM cells GROUP BY i ORDER BY image_id
"""


def q_loader_shards(spark, sf):
    """Distributed-loader shard assignment over the batch manifest,
    fully ORACLED: rank = md5(bucket:batch:seed) mod world, its digits
    read by ``_prims.md5_int`` (which holds the SQL parity argument); a
    stateless projection every rank can evaluate independently, no
    coordinator."""
    from ..operators.curation import (
        collate_manifest,
        pack_batches,
        plan_loader_shards,
    )
    from ..operators.images import aspect_bucket_images
    from ..sources.images import formula_images_df

    b = aspect_bucket_images(formula_images_df(spark, 40))
    packed = pack_batches(
        b.select("image_id", "bucket_w", "bucket_h"),
        bucket_cols=("bucket_w", "bucket_h"),
        id_col="image_id",
        batch_size=4,
        seed=3,
        epoch=0,
    )
    m = collate_manifest(packed, ("bucket_w", "bucket_h"), "image_id")
    out = plan_loader_shards(m, world_size=4, seed=1)
    return out.select(
        "bucket_w", "bucket_h", "batch_idx", "n_members", "rank"
    ).orderBy("bucket_w", "bucket_h", "batch_idx")


ORACLE_LOADER_SHARDS = """
WITH ids AS (SELECT unnest(range(40)) AS i),
""" + _SQL_FORMULA_DIMS + """,
bk(idx, bw, bh) AS (VALUES
  (0, 1024, 1024), (1, 1152, 896), (2, 896, 1152), (3, 1216, 832),
  (4, 832, 1216), (5, 1344, 768), (6, 768, 1344), (7, 1536, 640),
  (8, 640, 1536)),
scored AS (SELECT i, w, h, bw, bh,
                  row_number() OVER (
                    PARTITION BY i
                    ORDER BY abs(w*bh - h*bw)::DOUBLE / bh, idx) AS rn
           FROM dims, bk),
assigned AS (SELECT printf('img%08d', i) AS image_id, bw, bh
             FROM scored WHERE rn = 1),
r AS (SELECT image_id, bw, bh,
             row_number() OVER (
               PARTITION BY bw, bh
               ORDER BY md5(image_id || ':3:0'), image_id) - 1 AS rn,
             count(*) OVER (PARTITION BY bw, bh) AS n
      FROM assigned),
packed AS (SELECT image_id, bw, bh, rn // 4 AS batch_idx
           FROM r WHERE rn < (n // 4) * 4),
manifest AS (SELECT bw, bh, batch_idx, CAST(count(*) AS INT) AS n_members
             FROM packed GROUP BY bw, bh, batch_idx)
SELECT CAST(bw AS INT) AS bucket_w, CAST(bh AS INT) AS bucket_h,
       CAST(batch_idx AS BIGINT) AS batch_idx, n_members,
       CAST(CAST('0x' || substring(
              md5(bw || ':' || bh || ':' || batch_idx || ':1'), 1, 15)
            AS BIGINT) % 4 AS INT) AS rank
FROM manifest ORDER BY bucket_w, bucket_h, batch_idx
"""


def q_shard_packing(spark, sf):
    """Size-budgeted shard planning over the documents corpus, fully
    ORACLED: rows lay out on the md5(id:seed) permutation, the
    exclusive prefix sum of n_chars replays as one DuckDB window
    cumsum, and shard_id = start // target follows exactly. The Spark
    side never runs a global window (pack_sequences two-level prefix
    sum); the oracle's single window is fine at oracle scale."""
    from ..operators.curation import plan_shard_packing

    d = _t(spark, sf, "documents")
    out = plan_shard_packing(
        d, size_col="n_chars", id_col="doc_id",
        target_size=4096, shuffle=True, seed=0,
    )
    return out.orderBy("doc_id")


ORACLE_SHARD_PACKING = """
WITH r AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS size,
         coalesce(sum(n_chars) OVER (
           ORDER BY md5(doc_id || ':0'), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_offset
  FROM documents)
SELECT doc_id, size, CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // 4096 AS BIGINT) AS shard_id
FROM r ORDER BY doc_id
"""


QUERIES["shard_packing"] = q_shard_packing
ORACLES["shard_packing"] = ORACLE_SHARD_PACKING


def q_repeat_factor(spark, sf):
    """LVIS repeat-factor class-balanced oversampling, fully ORACLED:
    repeats = max(1, ceil-sqrt(t*N / n_class)) with the ceil-sqrt
    decided by exact integer square comparisons (float sqrt only seeds
    the candidate), expansion via explode(sequence(1, repeats)) vs
    DuckDB unnest(range(...)). Run on the documents lang classes —
    naturally imbalanced."""
    from ..operators.curation import repeat_factor_sampling

    d = _t(spark, sf, "documents")
    out = repeat_factor_sampling(
        d, label_col="lang", id_col="doc_id",
        threshold_num=3, threshold_den=10,
    )
    return out.select(
        "doc_id", "lang", "repeats",
        F.col("copy_idx").cast("int").alias("copy_idx"),
    ).orderBy("doc_id", "copy_idx")


ORACLE_REPEAT_FACTOR = """
WITH c AS (SELECT lang, count(*) AS n_cls FROM documents GROUP BY lang),
tot AS (SELECT sum(n_cls) AS n_total FROM c),
r AS (SELECT lang, 3 * n_total AS num, 10 * n_cls AS den,
             CAST(ceil(sqrt((3 * n_total)::DOUBLE / (10 * n_cls)))
                  AS BIGINT) AS s
      FROM c, tot),
k AS (SELECT lang,
             CAST(GREATEST(1,
               CASE WHEN (s-1)*(s-1)*den >= num THEN s-1
                    WHEN s*s*den < num THEN s+1
                    ELSE s END) AS INT) AS repeats
      FROM r)
SELECT d.doc_id, d.lang, k.repeats,
       CAST(unnest(range(1, k.repeats + 1)) AS INT) AS copy_idx
FROM documents d JOIN k USING (lang)
ORDER BY doc_id, copy_idx
"""


QUERIES["repeat_factor"] = q_repeat_factor
ORACLES["repeat_factor"] = ORACLE_REPEAT_FACTOR


QUERIES["cutmix_pairs"] = q_cutmix_pairs
ORACLES["cutmix_pairs"] = ORACLE_CUTMIX_PAIRS
QUERIES["jitter_moments"] = q_jitter_moments
ORACLES["jitter_moments"] = ORACLE_JITTER_MOMENTS
QUERIES["loader_shards"] = q_loader_shards
ORACLES["loader_shards"] = ORACLE_LOADER_SHARDS


def q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023) semantic dedup, fully ORACLED: the
    coarse quantizer is FIXED table rows (vec_id < 6 — the ivf_topk
    discipline) so assignment, per-member centroid-cosine and every
    within-cluster pair cosine are closed-form in DuckDB. All gate
    decisions compare integers (cosines floored to 1e-6 units half-up;
    fixture grain margins >= 1.9e-5 vs ~1e-15 cross-engine drift); the
    keep rule — among duplicates keep the member FARTHEST from its
    centroid, ties to the smaller id — replays as one EXISTS."""
    from ..operators.similarity import semdedup

    e = _t(spark, sf, "embeddings")
    cent = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").cast("string").alias("centroid_label"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    out = semdedup(e, cent, threshold_u=320_000)
    return out.select(
        "vec_id", "cluster", "cent_u", F.col("kept").cast("int").alias("kept")
    ).orderBy("vec_id")


ORACLE_SEMDEDUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT CAST(vec_id AS VARCHAR) AS lab, v AS cv FROM e WHERE vec_id < 6),
a AS (SELECT e.vec_id, e.v,
        (SELECT lab FROM c
         ORDER BY list_distance(c.cv, e.v) ASC, lab ASC LIMIT 1) AS cluster
      FROM e),
m AS (SELECT a.vec_id, a.v, a.cluster,
        CAST(floor(list_cosine_similarity(a.v, c.cv) * 1e6 + 0.5) AS BIGINT)
          AS cent_u
      FROM a JOIN c ON c.lab = a.cluster),
drops AS (SELECT DISTINCT x.vec_id FROM m x JOIN m y
            ON y.cluster = x.cluster AND y.vec_id <> x.vec_id
          WHERE CAST(floor(list_cosine_similarity(x.v, y.v) * 1e6 + 0.5)
                     AS BIGINT) >= 320000
            AND (y.cent_u < x.cent_u
                 OR (y.cent_u = x.cent_u AND y.vec_id < x.vec_id)))
SELECT m.vec_id, m.cluster, m.cent_u,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM m LEFT JOIN drops d ON d.vec_id = m.vec_id
ORDER BY m.vec_id
"""


QUERIES["semdedup"] = q_semdedup
ORACLES["semdedup"] = ORACLE_SEMDEDUP


def q_leakage_split(spark, sf):
    """Duplicate-leakage-safe train/test split, fully ORACLED: the
    dHash near-dup components (the image_dedup chain — formula pixels,
    band candidates, bit_count verify, recursive-CTE components) become
    the SPLIT UNIT, then group_split hashes each component's rep id so
    a near-dup pair can never straddle train and test. DuckDB replays
    the whole chain plus the md5-prefix threshold (the hash_sample
    fixed-width-hex discipline)."""
    from ..operators.curation import group_split
    from ..operators.images import phash_dedup
    from ..sources.images import near_dup_images_df

    out = phash_dedup(
        near_dup_images_df(spark, 18), hash_type="dhash", max_hamming=2
    )
    out = group_split(out, "rep_id",
                      fractions=(("train", 0.6), ("test", 0.4)), seed=11)
    return out.select("image_id", "rep_id", "split").orderBy("image_id")


ORACLE_LEAKAGE_SPLIT = """
WITH RECURSIVE """ + _SQL_NEAR_DUP_HASHES + """,
bands AS (SELECT i, bnd.g AS band, substr(bits, 1 + 16*bnd.g, 16) AS val, bits
          FROM hashes, (SELECT unnest(range(4)) AS g) bnd),
pairs AS (SELECT DISTINCT a.i AS id_a, b.i AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
                                    AND b.i < a.i
          WHERE bit_count(xor(a.bits::BIT, b.bits::BIT)) <= 2),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(a, r) AS (
  SELECT i, i FROM ids
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d),
comp AS (SELECT a AS i, min(r) AS rep FROM reach GROUP BY a)
SELECT printf('img%08d', comp.i) AS image_id,
       printf('img%08d', comp.rep) AS rep_id,
       CASE WHEN substr(md5(printf('img%08d', comp.rep) || ':11'), 1, 8)
                 < '99999999'
            THEN 'train' ELSE 'test' END AS split
FROM comp ORDER BY image_id
"""


QUERIES["leakage_split"] = q_leakage_split
ORACLES["leakage_split"] = ORACLE_LEAKAGE_SPLIT


def q_order_stats(spark, sf):
    """Exact distributed percentiles (two-level rank, partition-pruned
    to the target ranks), ORACLED against one SQL row_number: the
    lower/disc definition k = floor(p*(n-1)) + 1 in (value, id) order
    is engine-exact — p*(n-1) is the same double product on both
    sides and everything after it is integer."""
    from ..operators.curation import exact_order_stats

    d = _t(spark, sf, "documents")
    out = exact_order_stats(
        d, "n_chars", ps=(0.25, 0.5, 0.9, 0.99), id_col="doc_id")
    return out.select(
        "p", "k", F.col("value").cast("long").alias("value")
    ).orderBy("p")


ORACLE_ORDER_STATS = """
WITH r AS (SELECT n_chars AS value,
                  row_number() OVER (ORDER BY n_chars, doc_id) AS rn
           FROM documents),
n AS (SELECT count(*) AS n FROM documents),
ks AS (SELECT CAST(v.p AS DOUBLE) AS p,
              CAST(floor(CAST(v.p AS DOUBLE) * (n.n - 1)) + 1 AS BIGINT) AS k
       FROM n, (VALUES (0.25), (0.5), (0.9), (0.99)) AS v(p))
SELECT ks.p, ks.k, CAST(r.value AS BIGINT) AS value
FROM ks JOIN r ON r.rn = ks.k
ORDER BY ks.p
"""


QUERIES["order_stats"] = q_order_stats
ORACLES["order_stats"] = ORACLE_ORDER_STATS


def q_corpus_report(spark, sf):
    """Dataset-card composition table (cube over lang x source in ONE
    shuffle with map-side combine), ORACLED via DuckDB GROUP BY CUBE:
    rollup keys labeled through GROUPING() on both engines, all metrics
    exact integers. Registered OUTSIDE the 50-query priority window by
    design — it is the lowest-risk query in the registry (a single
    hash aggregate) and the window is reserved for never-graded
    higher-risk operators."""
    from ..operators.curation import corpus_report

    d = _t(spark, sf, "documents")
    return corpus_report(d).orderBy("lang", "source")


ORACLE_CORPUS_REPORT = """
SELECT CASE WHEN GROUPING(lang) = 1 THEN '<all>' ELSE lang END AS lang,
       CASE WHEN GROUPING(source) = 1 THEN '<all>' ELSE source END AS source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS total_size,
       CAST(min(n_chars) AS BIGINT) AS min_size,
       CAST(max(n_chars) AS BIGINT) AS max_size
FROM documents
GROUP BY CUBE(lang, source)
ORDER BY lang, source
"""


QUERIES["corpus_report"] = q_corpus_report
ORACLES["corpus_report"] = ORACLE_CORPUS_REPORT


def q_kmv_distinct(spark, sf):
    """KMV distinct-cardinality sketch, fully ORACLED: the k-smallest
    distinct 15-hex md5 hashes and the (k-1)*2^60 // h_k estimate
    replay exactly in DuckDB (HUGEINT for the product — it overflows
    int64, which is why the Spark side computes it in Python big-int
    over the collected k-row tail). Outside the 50-query priority
    window by design (single distinct agg + TakeOrdered, lowest-risk
    tier with corpus_report)."""
    from ..operators.sketch import kmv_distinct

    d = _t(spark, sf, "documents")
    return kmv_distinct(d, "text", k=64)


ORACLE_KMV_DISTINCT = """
WITH h AS (SELECT DISTINCT
             CAST('0x' || substr(md5(text || chr(30) || 'kmv'), 1, 15)
                  AS BIGINT) AS hv
           FROM documents WHERE text IS NOT NULL),
o AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
n AS (SELECT count(*) AS c FROM h)
SELECT CAST(64 AS INT) AS k_used,
       CAST(LEAST(n.c, 64) AS INT) AS n_seen,
       CASE WHEN n.c = 0 THEN 0
            ELSE (SELECT hv FROM o WHERE rn = LEAST(n.c, 64)) END AS kth_hash,
       CASE WHEN n.c >= 64 THEN CAST(
              CAST(63 AS HUGEINT) * 1152921504606846976
                // (SELECT hv FROM o WHERE rn = 64) AS BIGINT)
            ELSE CAST(n.c AS BIGINT) END AS est_distinct
FROM n
"""


QUERIES["kmv_distinct"] = q_kmv_distinct
ORACLES["kmv_distinct"] = ORACLE_KMV_DISTINCT


def q_interval_join(spark, sf):
    """Range (interval) join via time-bin equi-join, ORACLED against
    the literal BETWEEN join: per-user events inside the 60-minute
    window opened by each error event. The bin trick turns Spark's
    nested-loop inequality join into a hash join on (user_id, bin);
    the BETWEEN filter restores exactness, and a row's single bin
    means no dedup stage. Timestamp arithmetic (+ INTERVAL) and the
    boundary compares are exact on both engines."""
    from ..operators.asof import interval_join

    e = _t(spark, sf, "events")
    w = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 60 MINUTES")).alias("end"),
    )
    out = interval_join(e, w, on=["user_id"], left_ts="ts",
                        bin_seconds=3600)
    return out.select("window_id", "event_id", "event_type").orderBy(
        "window_id", "event_id")


ORACLE_INTERVAL_JOIN = """
SELECT w.event_id AS window_id, e.event_id AS event_id, e.event_type
FROM events e JOIN events w
  ON e.user_id = w.user_id AND w.event_type = 'error'
 AND e.ts >= w.ts AND e.ts <= w.ts + INTERVAL 60 MINUTE
ORDER BY window_id, e.event_id
"""


QUERIES["interval_join"] = q_interval_join
ORACLES["interval_join"] = ORACLE_INTERVAL_JOIN


def q_psi_drift(spark, sf):
    """PSI distribution-drift monitor, fully ORACLED: exact-quantile
    bin edges (the order_stats row_number rule), deterministic bucket
    CASE, integer bucket counts, and the PSI term replayed with the
    SAME float expression order — the only cross-engine wobble is
    ln() (<= 1 ulp), vs fixture grain margins >= 0.06 at the 1e-6
    floor. Ref = even-numbered sources, cur = odd."""
    from ..operators.curation import psi_drift

    d = _t(spark, sf, "documents")
    par = F.substring("source", 4, 10).cast("int") % 2
    out = psi_drift(d.filter(par == 0), d.filter(par == 1),
                    "n_chars", n_bins=8)
    return out.orderBy("bin")


ORACLE_PSI_DRIFT = """
WITH ref AS (SELECT doc_id, n_chars AS v FROM documents
             WHERE CAST(substr(source, 4, 10) AS INT) % 2 = 0),
cur AS (SELECT doc_id, n_chars AS v FROM documents
        WHERE CAST(substr(source, 4, 10) AS INT) % 2 = 1),
r AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rn FROM ref),
nref AS (SELECT count(*) AS c FROM ref),
edges AS (SELECT t.i,
            (SELECT r.v FROM r, nref
             WHERE r.rn = CAST(floor((t.i / 8.0) * (nref.c - 1)) + 1
                               AS BIGINT)) AS ev
          FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) t(i)),
ra AS (SELECT COALESCE((SELECT min(e.i) - 1 FROM edges e
                        WHERE ref.v <= e.ev), 7) AS bin FROM ref),
rb AS (SELECT COALESCE((SELECT min(e.i) - 1 FROM edges e
                        WHERE cur.v <= e.ev), 7) AS bin FROM cur),
spine AS (SELECT unnest(range(8)) AS bin),
ca AS (SELECT spine.bin, count(ra.bin) AS n
       FROM spine LEFT JOIN ra ON ra.bin = spine.bin GROUP BY spine.bin),
cb AS (SELECT spine.bin, count(rb.bin) AS n
       FROM spine LEFT JOIN rb ON rb.bin = spine.bin GROUP BY spine.bin),
tot AS (SELECT (SELECT sum(n) FROM ca) + 8 AS na,
               (SELECT sum(n) FROM cb) + 8 AS nb)
SELECT CAST(ca.bin AS INT) AS bin,
       CAST((SELECT ev FROM edges WHERE i = ca.bin + 1) AS DOUBLE) AS upper,
       CAST(ca.n AS BIGINT) AS ref_n,
       CAST(cb.n AS BIGINT) AS cur_n,
       CAST(floor(
         ((ca.n + 1) / CAST(tot.na AS DOUBLE)
            - (cb.n + 1) / CAST(tot.nb AS DOUBLE))
         * ln(((ca.n + 1) / CAST(tot.na AS DOUBLE))
              / ((cb.n + 1) / CAST(tot.nb AS DOUBLE)))
         * 1000000 + 0.5) AS BIGINT) AS psi_u
FROM ca JOIN cb ON cb.bin = ca.bin, tot
ORDER BY bin
"""


QUERIES["psi_drift"] = q_psi_drift
ORACLES["psi_drift"] = ORACLE_PSI_DRIFT


def q_temperature_resample(spark, sf):
    """Temperature (alpha=1/2) corpus rebalancing, fully ORACLED: the
    per-class target isqrt(n_max*n_c) is pinned by integer square
    compares (float sqrt only seeds — the repeat_factor discipline),
    the extra-copy set is the first t%%n rows of the class's md5
    permutation (row_number replay), and the expansion is
    unnest(range). Exact class sizes, not expectation-only."""
    from ..operators.curation import temperature_resample

    d = _t(spark, sf, "documents")
    out = temperature_resample(d, "lang", "doc_id", seed=7)
    return out.orderBy("doc_id", "copy_idx")


ORACLE_TEMPERATURE_RESAMPLE = """
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
m AS (SELECT max(n) AS nmax FROM c),
t AS (SELECT lang, n, (SELECT nmax FROM m) * n AS x FROM c),
s0 AS (SELECT lang, n, x,
              CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) AS s FROM t),
tg AS (SELECT lang, n,
              CASE WHEN (s+1)*(s+1) <= x THEN s+1
                   WHEN s*s > x THEN s-1
                   ELSE s END AS tgt
       FROM s0),
r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(doc_id || ':7'), doc_id) AS rn
      FROM documents),
j AS (SELECT r.doc_id, r.lang, tg.tgt AS target,
             (tg.tgt // tg.n)
               + CASE WHEN r.rn <= tg.tgt % tg.n THEN 1 ELSE 0 END AS reps
      FROM r JOIN tg USING (lang))
SELECT doc_id, lang, target, CAST(reps AS INT) AS repeats,
       CAST(unnest(range(1, reps + 1)) AS INT) AS copy_idx
FROM j ORDER BY doc_id, copy_idx
"""


QUERIES["temperature_resample"] = q_temperature_resample
ORACLES["temperature_resample"] = ORACLE_TEMPERATURE_RESAMPLE


def q_skew_report(spark, sf):
    """Key-skew diagnostics (hot keys + exact p50/p99/max of per-key
    counts), ORACLED: the count table, its order statistics (the
    order_stats rule) and the TakeOrdered hot-key head replay as plain
    SQL — all integers."""
    from ..operators.curation import skew_report

    e = _t(spark, sf, "events")
    return skew_report(e, "user_id", top_n=5).orderBy("rank")


ORACLE_SKEW_REPORT = """
WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
           FROM events GROUP BY 1),
o AS (SELECT n, row_number() OVER (ORDER BY n, key) AS rn FROM c),
k AS (SELECT count(*) AS nk, sum(n) AS tr FROM c),
st AS (SELECT
  (SELECT n FROM o, k
   WHERE rn = CAST(floor(0.5 * (k.nk - 1)) + 1 AS BIGINT)) AS p50,
  (SELECT n FROM o, k
   WHERE rn = CAST(floor(0.99 * (k.nk - 1)) + 1 AS BIGINT)) AS p99,
  (SELECT n FROM o, k WHERE rn = k.nk) AS mx),
hot AS (SELECT key, n,
               row_number() OVER (ORDER BY n DESC, key ASC) AS rank
        FROM c)
SELECT CAST(rank AS INT) AS rank, key, CAST(n AS BIGINT) AS n,
       CAST(k.nk AS BIGINT) AS n_keys, CAST(k.tr AS BIGINT) AS total_rows,
       CAST(st.p50 AS BIGINT) AS p50_n, CAST(st.p99 AS BIGINT) AS p99_n,
       CAST(st.mx AS BIGINT) AS max_n
FROM hot, k, st WHERE rank <= 5 ORDER BY rank
"""


QUERIES["skew_report"] = q_skew_report
ORACLES["skew_report"] = ORACLE_SKEW_REPORT


def q_mosaic_quads(spark, sf):
    """Deterministic 4-image mosaic, fully ORACLED: quad grouping is
    pack_batches(B=4) on the md5 permutation (48 formula images = 12
    shape classes of exactly 4 — no partials drop), the center replays
    from two md5 hex digits of the QUAD key, and the composite is pure
    pixel selection — one CASE over (x < cx, y < cy) recomputes every
    output pixel from the four parents' formulas, witnessed by
    m0/mx/my."""
    from ..operators.images import mosaic_images
    from ..sources.images import formula_images_df

    out = mosaic_images(formula_images_df(spark, 48), seed=5, epoch=2)
    return out.select(
        "a_id", "b_id", "c_id", "d_id", "w", "h", "cx", "cy",
        "m0", "mx", "my",
    ).orderBy("a_id")


ORACLE_MOSAIC_QUADS = """
WITH ids AS (SELECT unnest(range(48)) AS i),
""" + _SQL_FORMULA_DIMS + """,
r AS (SELECT i, w, h, printf('img%08d', i) AS iid,
             row_number() OVER (
               PARTITION BY w, h
               ORDER BY md5(printf('img%08d', i) || ':5:2'),
                        printf('img%08d', i)) - 1 AS rn,
             count(*) OVER (PARTITION BY w, h) AS n
      FROM dims),
kept AS (SELECT * FROM r WHERE rn < (n // 4) * 4),
q AS (SELECT w, h, rn // 4 AS b,
             max(CASE WHEN rn % 4 = 0 THEN iid END) AS a_id,
             max(CASE WHEN rn % 4 = 0 THEN i END) AS ia,
             max(CASE WHEN rn % 4 = 1 THEN iid END) AS b_id,
             max(CASE WHEN rn % 4 = 1 THEN i END) AS ib,
             max(CASE WHEN rn % 4 = 2 THEN iid END) AS c_id,
             max(CASE WHEN rn % 4 = 2 THEN i END) AS ic,
             max(CASE WHEN rn % 4 = 3 THEN iid END) AS d_id,
             max(CASE WHEN rn % 4 = 3 THEN i END) AS idd
      FROM kept GROUP BY w, h, rn // 4),
dig AS (SELECT *,
  CAST('0x' || substring(
    md5(a_id || ':' || b_id || ':' || c_id || ':' || d_id || ':5:2'),
    1, 1) AS INT) AS d0,
  CAST('0x' || substring(
    md5(a_id || ':' || b_id || ':' || c_id || ':' || d_id || ':5:2'),
    2, 1) AS INT) AS d1
  FROM q),
geo AS (SELECT *, (w // 4) + (d0 * (w // 2)) // 15 AS cx,
               (h // 4) + (d1 * (h // 2)) // 15 AS cy
        FROM dig),
px AS (SELECT g.a_id, g.b_id, g.c_id, g.d_id, g.w, g.h, g.cx, g.cy,
              x.g AS x, y.g AS y,
              CASE WHEN x.g < g.cx AND y.g < g.cy
                     THEN (g.ia * 31 + x.g * 7 + y.g * 13) % 256
                   WHEN x.g >= g.cx AND y.g < g.cy
                     THEN (g.ib * 31 + x.g * 7 + y.g * 13) % 256
                   WHEN x.g < g.cx AND y.g >= g.cy
                     THEN (g.ic * 31 + x.g * 7 + y.g * 13) % 256
                   ELSE (g.idd * 31 + x.g * 7 + y.g * 13) % 256
              END AS v
       FROM geo g, (SELECT unnest(range(256)) AS g) x,
            (SELECT unnest(range(128)) AS g) y
       WHERE x.g < g.w AND y.g < g.h)
SELECT a_id, b_id, c_id, d_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(cx AS INT) AS cx, CAST(cy AS INT) AS cy,
       CAST(sum(v) AS BIGINT) AS m0,
       CAST(sum(v * x) AS BIGINT) AS mx,
       CAST(sum(v * y) AS BIGINT) AS my
FROM px GROUP BY a_id, b_id, c_id, d_id, w, h, cx, cy
ORDER BY a_id
"""


QUERIES["mosaic_quads"] = q_mosaic_quads
ORACLES["mosaic_quads"] = ORACLE_MOSAIC_QUADS


def q_mae_mask(spark, sf):
    """MAE patch masking, fully ORACLED: 16x16 patch sums over the
    formula grid, the per-image md5 patch permutation replayed with
    row_number, EXACTLY (n*3)//4 patches masked; visible/masked pixel
    sums witness the precise mask set."""
    from ..operators.images import mae_mask
    from ..sources.images import formula_images_df

    out = mae_mask(formula_images_df(spark, 10), patch=16,
                   mask_num=3, mask_den=4, seed=5, epoch=1)
    return out.select(
        "image_id", "n_patches", "n_masked", "visible_sum", "masked_sum"
    ).orderBy("image_id")


ORACLE_MAE_MASK = """
WITH ids AS (SELECT unnest(range(10)) AS i),
""" + _SQL_FORMULA_DIMS + """,
ps AS (SELECT i, w, h,
              (y.g // 16) * (w // 16) + (x.g // 16) AS pidx,
              sum((i * 31 + x.g * 7 + y.g * 13) % 256) AS s
       FROM dims, (SELECT unnest(range(256)) AS g) x,
            (SELECT unnest(range(128)) AS g) y
       WHERE x.g < (w // 16) * 16 AND y.g < (h // 16) * 16
       GROUP BY i, w, h, (y.g // 16) * (w // 16) + (x.g // 16)),
cnt AS (SELECT i, count(*) AS n FROM ps GROUP BY i),
rk AS (SELECT ps.i, ps.pidx, ps.s,
              row_number() OVER (
                PARTITION BY ps.i
                ORDER BY md5(printf('img%08d', ps.i) || ':5:1:' || ps.pidx),
                         ps.pidx) AS r
       FROM ps),
m AS (SELECT i, n, (n * 3) // 4 AS nm FROM cnt)
SELECT printf('img%08d', rk.i) AS image_id,
       CAST(m.n AS INT) AS n_patches,
       CAST(m.nm AS INT) AS n_masked,
       CAST(sum(CASE WHEN rk.r > m.nm THEN rk.s ELSE 0 END) AS BIGINT)
         AS visible_sum,
       CAST(sum(CASE WHEN rk.r <= m.nm THEN rk.s ELSE 0 END) AS BIGINT)
         AS masked_sum
FROM rk JOIN m ON m.i = rk.i
GROUP BY rk.i, m.n, m.nm
ORDER BY image_id
"""


QUERIES["mae_mask"] = q_mae_mask
ORACLES["mae_mask"] = ORACLE_MAE_MASK


def q_incremental_dedup(spark, sf):
    """Increment-vs-index near-dup dedup, fully ORACLED over the
    near-dup fixture: the index holds groups 0-2's base images, the
    batch holds those groups' variants (one-hop index matches, min
    index id) plus groups 3-5's full trios (no index hit — transitive
    batch components). DuckDB replays hash bits, the cross band join,
    the min-rep pick and the recursive-CTE residue components."""
    from ..operators.dedup import hamming64_dedup_incremental
    from ..operators.images import image_hashes
    from ..sources.images import near_dup_images_df

    hashed = image_hashes(near_dup_images_df(spark, 18)).filter(
        F.col("err").isNull()).select("image_id", "dhash")
    i = F.substring("image_id", 4, 8).cast("int")
    idx = hashed.filter((i % 3 == 0) & (i < 9))
    new = hashed.filter(~((i % 3 == 0) & (i < 9)))
    out = hamming64_dedup_incremental(new, idx, "dhash", "image_id",
                                      max_hamming=2)
    return out.select(
        "image_id",
        F.lpad(F.bin(F.col("dhash")), 64, "0").alias("dhash_bits"),
        "rep_id", "status",
    ).orderBy("image_id")


ORACLE_INCREMENTAL_DEDUP = """
WITH RECURSIVE """ + _SQL_NEAR_DUP_HASHES + """,
idx AS (SELECT i, bits FROM hashes WHERE i % 3 = 0 AND i < 9),
newt AS (SELECT i, bits FROM hashes WHERE NOT (i % 3 = 0 AND i < 9)),
bnd AS (SELECT unnest(range(4)) AS g),
nb AS (SELECT i, bits, bnd.g AS band, substr(bits, 1 + 16*bnd.g, 16) AS val
       FROM newt, bnd),
ib AS (SELECT i, bits, bnd.g AS band, substr(bits, 1 + 16*bnd.g, 16) AS val
       FROM idx, bnd),
m AS (SELECT nb.i, nb.bits, min(ib.i) AS rep
      FROM nb JOIN ib ON ib.band = nb.band AND ib.val = nb.val
      WHERE bit_count(xor(nb.bits::BIT, ib.bits::BIT)) <= 2
      GROUP BY nb.i, nb.bits),
res AS (SELECT * FROM newt WHERE i NOT IN (SELECT i FROM m)),
rb AS (SELECT i, bits, bnd.g AS band, substr(bits, 1 + 16*bnd.g, 16) AS val
       FROM res, bnd),
pairs AS (SELECT DISTINCT a.i AS id_a, b.i AS id_b
          FROM rb a JOIN rb b ON a.band = b.band AND a.val = b.val
                              AND b.i < a.i
          WHERE bit_count(xor(a.bits::BIT, b.bits::BIT)) <= 2),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(a, r) AS (
  SELECT i, i FROM res
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d),
comp AS (SELECT a AS i, min(r) AS rep FROM reach GROUP BY a),
unioned AS (
  SELECT i, bits, rep, 'dup_of_index' AS status FROM m
  UNION ALL
  SELECT res.i, res.bits, comp.rep,
         CASE WHEN comp.rep = res.i THEN 'fresh_rep'
              ELSE 'dup_in_batch' END AS status
  FROM res JOIN comp ON comp.i = res.i)
SELECT printf('img%08d', i) AS image_id, bits AS dhash_bits,
       printf('img%08d', rep) AS rep_id, status
FROM unioned ORDER BY image_id
"""


QUERIES["incremental_dedup"] = q_incremental_dedup
ORACLES["incremental_dedup"] = ORACLE_INCREMENTAL_DEDUP


def q_span_corruption(spark, sf):
    """T5 span-corruption plan, fully ORACLED: the shared whitespace
    tokenizer (the decontaminate_ngram parity), 3-token blocks,
    EXACTLY (n_blocks*15)//100 blocks masked per doc via the md5 block
    permutation (row_number replay); masked/visible char sums witness
    the exact mask set."""
    from ..operators.text import span_corruption_plan

    d = spread(_t(spark, sf, "documents"))  # 1-split scan (round 6)
    return span_corruption_plan(d, "text", "doc_id", span=3,
                                mask_num=15, mask_den=100,
                                seed=9).orderBy("doc_id")


ORACLE_SPAN_CORRUPTION = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
tok AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS w
        FROM toks WHERE len(t) > 0),
blk AS (SELECT doc_id, pos // 3 AS b, sum(length(w)) AS chars,
               count(*) AS nt
        FROM tok GROUP BY doc_id, pos // 3),
rk AS (SELECT blk.*,
              row_number() OVER (
                PARTITION BY doc_id
                ORDER BY md5(doc_id || ':' || b || ':9'), b) AS r,
              count(*) OVER (PARTITION BY doc_id) AS nb
       FROM blk),
m AS (SELECT rk.*, (nb * 15) // 100 AS nm FROM rk)
SELECT doc_id,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       CAST(max(nb) AS BIGINT) AS n_blocks,
       CAST(max(nm) AS BIGINT) AS n_masked_blocks,
       CAST(sum(CASE WHEN r <= nm THEN chars ELSE 0 END) AS BIGINT)
         AS masked_chars,
       CAST(sum(CASE WHEN r > nm THEN chars ELSE 0 END) AS BIGINT)
         AS visible_chars
FROM m GROUP BY doc_id ORDER BY doc_id
"""


QUERIES["span_corruption"] = q_span_corruption
ORACLES["span_corruption"] = ORACLE_SPAN_CORRUPTION


def q_bloom_probe(spark, sf):
    """Bloom-filter pre-screen, fully ORACLED including which
    non-members false-positive: the filter is built over the benchmark
    docs' content fingerprints (the decontaminate rule), the corpus is
    probed row-locally against the broadcast position table, and the
    exact membership column sits alongside so the FP set is explicit.
    Small m_bits (256) on purpose — the fixture must exercise real
    false positives, not just echo membership (1024 measured zero FPs
    over 450 probes; 256 yields a real FP set)."""
    from ..operators.sketch import bloom_build, bloom_probe
    from ..operators.text import fingerprint

    d = _t(spark, sf, "documents")
    fp = d.withColumn("__fp", fingerprint(F.col("text")))
    bench = fp.filter(F.col("doc_id") % 10 == 0)
    bloom = bloom_build(bench.select("__fp"), "__fp", m_bits=256, k=3)
    probed = bloom_probe(fp, bloom, "__fp", m_bits=256, k=3)
    return probed.select(
        "doc_id", "maybe_member",
        (F.col("doc_id") % 10 == 0).cast("int").alias("exact_member"),
    ).orderBy("doc_id")


ORACLE_BLOOM_PROBE = r"""
WITH fp AS (SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                     AS f
            FROM documents),
hk AS (SELECT unnest(range(3)) AS j),
bloom AS (SELECT DISTINCT
            CAST('0x' || substr(md5(f || chr(30) || 'bloom' || j), 1, 8)
                 AS BIGINT) % 256 AS pos
          FROM fp, hk WHERE doc_id % 10 = 0),
probe AS (SELECT fp.doc_id,
                 CAST('0x' || substr(md5(f || chr(30) || 'bloom' || j), 1, 8)
                      AS BIGINT) % 256 AS pos
          FROM fp, hk),
hits AS (SELECT doc_id, count(*) AS h
         FROM probe JOIN bloom USING (pos) GROUP BY doc_id)
SELECT fp.doc_id,
       CAST(CASE WHEN COALESCE(hits.h, 0) = 3 THEN 1 ELSE 0 END AS INT)
         AS maybe_member,
       CAST(CASE WHEN fp.doc_id % 10 = 0 THEN 1 ELSE 0 END AS INT)
         AS exact_member
FROM fp LEFT JOIN hits ON hits.doc_id = fp.doc_id
ORDER BY fp.doc_id
"""


QUERIES["bloom_probe"] = q_bloom_probe
ORACLES["bloom_probe"] = ORACLE_BLOOM_PROBE


def q_zorder_layout(spark, sf):
    """Z-order layout keys over (user_id, minute-of-day), ORACLED bit
    for bit: the Morton interleave is pure integer div/mod arithmetic
    replayed verbatim in SQL. The key is what a writer sorts by so a
    (user range x time range) predicate prunes two dimensions at
    once."""
    from ..sources.feature_store import zorder_key

    e = _t(spark, sf, "events")
    out = e.select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        (F.col("ts").cast("timestamp").cast("long") % 86400)
        .alias("__sec"),
    ).withColumn(
        # integer div, never double-divide-then-cast (and the DuckDB
        # side must use // — CAST(double AS BIGINT) ROUNDS there)
        "minute", F.expr("__sec div 60")
    ).drop("__sec").withColumn(
        "zkey",
        zorder_key(F.col("user_id"), F.col("minute"), bits=12),
    )
    return out.select("event_id", "user_id", "minute", "zkey").orderBy(
        "event_id")


def _zorder_oracle_sql(bits: int = 12) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((ux // {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"((mn // {1 << b}) % 2) * {1 << (2 * b + 1)}")
    lim = (1 << bits) - 1
    return f"""
WITH base AS (
  SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 60 AS minute
  FROM events),
clamped AS (SELECT *, LEAST(GREATEST(user_id, 0), {lim}) AS ux,
                   LEAST(GREATEST(minute, 0), {lim}) AS mn
            FROM base)
SELECT event_id, user_id, minute,
       CAST({' + '.join(terms)} AS BIGINT) AS zkey
FROM clamped ORDER BY event_id
"""


QUERIES["zorder_layout"] = q_zorder_layout
ORACLES["zorder_layout"] = _zorder_oracle_sql()


def q_length_bucket_pack(spark, sf):
    """COMPOSED loader query — exact quantile buckets feeding batch
    packing (the text analog of SDXL aspect-bucket packing: batch
    same-length docs to cut padding waste), fully ORACLED across the
    composition: order_stats edges (row_number rule), deterministic
    bucket CASE, pack_batches' md5 rank / batch_idx / slot / partial
    drop replayed verbatim."""
    from ..operators.curation import exact_order_stats, pack_batches

    d = _t(spark, sf, "documents")
    edge_rows = exact_order_stats(
        d, "n_chars", ps=(0.25, 0.5, 0.75), id_col="doc_id"
    ).orderBy("p").collect()
    edges = [int(r["value"]) for r in edge_rows]
    v = F.col("n_chars")
    expr = None
    for i, e in enumerate(edges):
        cond = v <= F.lit(e)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    bucket = expr.otherwise(len(edges))
    b = d.select("doc_id", bucket.alias("lbucket"))
    out = pack_batches(b, bucket_cols=("lbucket",), id_col="doc_id",
                       batch_size=8, seed=4, epoch=1)
    return out.orderBy("doc_id")


ORACLE_LENGTH_BUCKET_PACK = """
WITH o AS (SELECT n_chars AS v,
                  row_number() OVER (ORDER BY n_chars, doc_id) AS rn
           FROM documents),
n AS (SELECT count(*) AS c FROM documents),
e AS (SELECT t.i,
             (SELECT v FROM o, n
              WHERE rn = CAST(floor((t.i / 4.0) * (n.c - 1)) + 1
                              AS BIGINT)) AS ev
      FROM (VALUES (1), (2), (3)) t(i)),
b AS (SELECT doc_id,
             COALESCE((SELECT min(e.i) - 1 FROM e
                       WHERE documents.n_chars <= e.ev), 3) AS lbucket
      FROM documents),
r AS (SELECT doc_id, lbucket,
             row_number() OVER (
               PARTITION BY lbucket
               ORDER BY md5(doc_id || ':4:1'), doc_id) - 1 AS rn,
             count(*) OVER (PARTITION BY lbucket) AS n
      FROM b)
SELECT doc_id, CAST(lbucket AS INT) AS lbucket,
       CAST(rn // 8 AS BIGINT) AS batch_idx, CAST(rn % 8 AS INT) AS slot
FROM r WHERE rn < (n // 8) * 8 ORDER BY doc_id
"""


QUERIES["length_bucket_pack"] = q_length_bucket_pack
ORACLES["length_bucket_pack"] = ORACLE_LENGTH_BUCKET_PACK


def q_mix_schedule(spark, sf):
    """Stride-scheduled source interleave with DATA-DERIVED weights
    (per-lang doc counts), fully ORACLED: the exact integer sort key
    (2j+1) * (PROD // w) replays in SQL — DuckDB's product() is a
    double, exact for this fixture's 5.3e9 product (< 2^53), and the
    integer division distributes because every weight divides PROD."""
    from ..operators.curation import mix_schedule

    d = _t(spark, sf, "documents")
    w = d.groupBy(F.col("lang").alias("source")).agg(
        F.count(F.lit(1)).alias("weight"))
    return mix_schedule(w).orderBy("step")


ORACLE_MIX_SCHEDULE = """
WITH w AS (SELECT lang AS source, count(*) AS weight
           FROM documents GROUP BY lang),
p AS (SELECT CAST(product(weight) AS BIGINT) AS prod FROM w),
e AS (SELECT w.source, CAST(w.weight AS INT) AS weight,
             p.prod // w.weight AS stride,
             unnest(range(w.weight)) AS copy_idx
      FROM w, p)
SELECT CAST(row_number() OVER (
         ORDER BY (2 * copy_idx + 1) * stride, source) AS BIGINT) AS step,
       source, CAST(copy_idx AS INT) AS copy_idx
FROM e ORDER BY step
"""


QUERIES["mix_schedule"] = q_mix_schedule
ORACLES["mix_schedule"] = ORACLE_MIX_SCHEDULE


def q_retrieval_recall(spark, sf):
    """Cross-modal retrieval recall@k, fully ORACLED: the gallery is a
    deterministic mix g_i = e_i + e_((i+7) mod N) (zip_with — the
    "other modality" embedding of pair i), ground truth maps query i
    to gallery i, ranks replay in SQL by raw cosine with id tiebreak
    (fixture adjacent-rank gaps >= 1.4e-4 vs ~1e-15 drift), and
    recall_u is an exact integer ratio. Expected: 11/20 @1, 20/20
    @5 and @10."""
    from ..operators.similarity import retrieval_recall

    e = _t(spark, sf, "embeddings")
    n = e.count()  # scale-agnostic: the mix partner wraps at the
    # TABLE size, never a hard-coded 500 (sf0.1 has 2000 rows — a
    # fixed modulus would drop ids >= 500 and duplicate the rest)
    v = F.col("embedding").cast("array<double>")
    a = e.select(F.col("vec_id"), v.alias("__a"))
    b = e.select(((F.col("vec_id") + n - 7) % n).alias("vec_id"),
                 v.alias("__b"))
    gallery = a.join(b, "vec_id").select(
        "vec_id",
        F.zip_with("__a", "__b", lambda x, y: x + y).alias("embedding"),
    )
    queries = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "embedding")
    positives = queries.select("q_id", F.col("q_id").alias("vec_id"))
    return retrieval_recall(queries, gallery, positives,
                            ks=(1, 5, 10)).orderBy("k")


ORACLE_RETRIEVAL_RECALL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT count(*) AS c FROM e),
g AS (SELECT a.vec_id,
             list_transform(list_zip(a.v, b.v), x -> x[1] + x[2]) AS gv
      FROM e a JOIN e b ON b.vec_id = (a.vec_id + 7) % (SELECT c FROM n)),
q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 20),
r AS (SELECT q.qid, g.vec_id,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_cosine_similarity(g.gv, q.v) DESC,
                        g.vec_id ASC) AS rnk
      FROM q, g),
h AS (SELECT qid, rnk FROM r WHERE vec_id = qid)
SELECT CAST(t.k AS INT) AS k, CAST(20 AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN h.rnk <= t.k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(sum(CASE WHEN h.rnk <= t.k THEN 1 ELSE 0 END)
            * 1000000 // 20 AS BIGINT) AS recall_u
FROM (VALUES (1), (5), (10)) t(k), h
GROUP BY t.k ORDER BY k
"""


QUERIES["retrieval_recall"] = q_retrieval_recall
ORACLES["retrieval_recall"] = ORACLE_RETRIEVAL_RECALL


def q_photometric(spark, sf):
    """Photometric augmentation (solarize → posterize → invert), fully
    ORACLED pixel-by-pixel: decisions are md5 hex digits of the
    ``image_id:seed:epoch:pm`` key (``_prims.md5_digits``, read back
    in SQL with CAST('0x'..)),
    every mapping is exact integer (floor divisions over non-negative
    values only — the color_jitter rule), and the applied result is
    witnessed by position-sensitive image moments DuckDB recomputes
    through the same CASE chain over the pixel formula."""
    from ..operators.images import image_moments, photometric_images
    from ..sources.images import formula_images_df

    out = image_moments(
        photometric_images(formula_images_df(spark, 12), seed=4, epoch=1),
        carry_cols=("sol", "sol_thr", "post_bits", "inv"),
    )
    return out.select(
        "image_id", "sol", "sol_thr", "post_bits", "inv",
        "w", "h", "m0", "mx", "my",
    ).orderBy("image_id")


ORACLE_PHOTOMETRIC = """
WITH ids AS (SELECT unnest(range(12)) AS i),
""" + _SQL_FORMULA_DIMS + """,
pl AS (SELECT i, w, h,
         CAST('0x' || substring(k, 1, 1) AS INT) % 2 AS sol,
         CAST('0x' || substring(k, 2, 2) AS INT) AS thr,
         CASE WHEN CAST('0x' || substring(k, 4, 1) AS INT) % 2 = 1
              THEN 3 + CAST('0x' || substring(k, 5, 1) AS INT) % 2
              ELSE 0 END AS pb,
         CAST('0x' || substring(k, 6, 1) AS INT) % 2 AS inv
       FROM (SELECT i, w, h,
               md5(printf('img%08d', i) || ':4:1:pm') AS k FROM dims)),
cells AS (SELECT i, w, h, sol, thr, pb, inv, x.g AS x, y.g AS y,
            (i*31 + x.g*7 + y.g*13) % 256 AS v0
          FROM pl, (SELECT unnest(range(256)) AS g) x,
               (SELECT unnest(range(128)) AS g) y
          WHERE x.g < w AND y.g < h),
c1 AS (SELECT *, CASE WHEN sol = 1 AND v0 >= thr THEN 255 - v0
                      ELSE v0 END AS v1 FROM cells),
c2 AS (SELECT *, CASE WHEN pb = 3 THEN (v1 // 32) * 32
                      WHEN pb = 4 THEN (v1 // 16) * 16
                      ELSE v1 END AS v2 FROM c1),
c3 AS (SELECT *, CASE WHEN inv = 1 THEN 255 - v2 ELSE v2 END AS v FROM c2)
SELECT printf('img%08d', i) AS image_id,
       CAST(max(sol) AS INT) AS sol, CAST(max(thr) AS INT) AS sol_thr,
       CAST(max(pb) AS INT) AS post_bits, CAST(max(inv) AS INT) AS inv,
       CAST(max(w) AS INT) AS w, CAST(max(h) AS INT) AS h,
       CAST(sum(v) AS BIGINT) AS m0,
       CAST(sum(v * x) AS BIGINT) AS mx,
       CAST(sum(v * y) AS BIGINT) AS my
FROM c3 GROUP BY i ORDER BY image_id
"""


def q_border_crop(spark, sf):
    """Constant-border detection over letterboxed canvases — the
    curation stage that recovers the unpadded content, fully ORACLED:
    DuckDB rebuilds every letterboxed pixel (the image_letterbox
    replay), re-derives the constant-row/column flags with min<>max
    per line, and reproduces the leading/trailing border counts plus
    the exact int64 pixel sum of the crop. The detector must recover
    EXACTLY the letterbox pads (interior rows/columns sample strictly
    increasing source coordinates of the x*7/y*13 formula, so they are
    never accidentally constant)."""
    from ..operators.images import detect_borders, letterbox_images
    from ..sources.images import formula_images_df

    out = detect_borders(
        letterbox_images(
            formula_images_df(spark, 10), out_w=64, out_h=64, fill=114
        )
    )
    return out.select(
        "image_id", "w", "h", "border_top", "border_bottom",
        "border_left", "border_right", "crop_w", "crop_h", "m0_crop",
    ).orderBy("image_id")


ORACLE_BORDER_CROP = """
WITH ids AS (SELECT unnest(range(10)) AS i),
""" + _SQL_FORMULA_DIMS + """,
geo AS (SELECT i, w, h,
         CASE WHEN w >= h THEN 64 ELSE greatest((w*64)//h, 1) END AS nw,
         CASE WHEN w >= h THEN greatest((h*64)//w, 1) ELSE 64 END AS nh
        FROM dims),
geo2 AS (SELECT i, w, h, nw, nh,
                (64 - nw) // 2 AS pl, (64 - nh) // 2 AS pt
         FROM geo),
cells AS (SELECT k.i, oy.g AS y, ox.g AS x,
            CASE WHEN ox.g >= k.pl AND ox.g < k.pl + k.nw
                  AND oy.g >= k.pt AND oy.g < k.pt + k.nh
             THEN (k.i*31 + (((ox.g - k.pl) * k.w) // k.nw) * 7
                   + (((oy.g - k.pt) * k.h) // k.nh) * 13) % 256
             ELSE 114 END AS v
          FROM geo2 k, (SELECT unnest(range(64)) AS g) ox,
               (SELECT unnest(range(64)) AS g) oy),
rf AS (SELECT i, y, CASE WHEN min(v) <> max(v) THEN 1 ELSE 0 END AS nc
       FROM cells GROUP BY i, y),
rb AS (SELECT i,
         COALESCE(min(y) FILTER (WHERE nc = 1), 64) AS top,
         CASE WHEN sum(nc) = 0 THEN 0
              ELSE 63 - max(y) FILTER (WHERE nc = 1) END AS bot
       FROM rf GROUP BY i),
cf AS (SELECT c.i, c.x,
         CASE WHEN min(c.v) <> max(c.v) THEN 1 ELSE 0 END AS nc
       FROM cells c JOIN rb ON rb.i = c.i
       WHERE c.y >= rb.top AND c.y <= 63 - rb.bot
       GROUP BY c.i, c.x),
cb AS (SELECT rb.i, rb.top, rb.bot,
         CASE WHEN rb.top + rb.bot >= 64 THEN 0
              ELSE COALESCE(min(cf.x) FILTER (WHERE cf.nc = 1), 64)
         END AS lft,
         CASE WHEN COALESCE(sum(cf.nc), 0) = 0 THEN 0
              ELSE 63 - max(cf.x) FILTER (WHERE cf.nc = 1) END AS rgt
       FROM rb LEFT JOIN cf ON cf.i = rb.i
       GROUP BY rb.i, rb.top, rb.bot),
mm AS (SELECT cb.i, cb.top, cb.bot, cb.lft, cb.rgt,
         COALESCE(sum(c.v), 0) AS m0
       FROM cb LEFT JOIN cells c ON c.i = cb.i
         AND c.y >= cb.top AND c.y <= 63 - cb.bot
         AND c.x >= cb.lft AND c.x <= 63 - cb.rgt
       GROUP BY cb.i, cb.top, cb.bot, cb.lft, cb.rgt)
SELECT printf('img%08d', i) AS image_id,
       CAST(64 AS INT) AS w, CAST(64 AS INT) AS h,
       CAST(top AS INT) AS border_top, CAST(bot AS INT) AS border_bottom,
       CAST(lft AS INT) AS border_left, CAST(rgt AS INT) AS border_right,
       CAST(CASE WHEN top + bot >= 64 THEN 0
                 ELSE 64 - lft - rgt END AS INT) AS crop_w,
       CAST(64 - top - bot AS INT) AS crop_h,
       CAST(m0 AS BIGINT) AS m0_crop
FROM mm ORDER BY image_id
"""


def q_confusion_eval(spark, sf):
    """Per-class confusion-matrix report (tp/fp/fn/support + scaled-
    integer precision/recall/F1), fully ORACLED: predictions are a
    deterministic md5 corruption of the lang label (3/4 kept, 1/4
    mapped to a hallucinated 'zz·' class with zero support — which
    exercises the FULL OUTER class axis), and every score is one exact
    integer floor division at the 1e-6 grain on both engines."""
    from ..operators.classify import classification_report

    d = _t(spark, sf, "documents").filter(F.col("lang").isNotNull())
    key = md5_hex(F.col("doc_id"), ":ce")
    digit = md5_int(key, 1, 1).cast("int") % 4
    p = d.select(
        F.col("lang").alias("label"),
        F.when(digit != 0, F.col("lang"))
        .otherwise(F.concat(F.lit("zz"), F.substring(key, 2, 1)))
        .alias("pred"),
    )
    return classification_report(p, "label", "pred").orderBy("cls")


ORACLE_CONFUSION_EVAL = """
WITH p AS (SELECT lang AS label,
             CASE WHEN CAST('0x' || substr(md5(doc_id || ':ce'), 1, 1)
                       AS INT) % 4 <> 0
                  THEN lang
                  ELSE 'zz' || substr(md5(doc_id || ':ce'), 2, 1)
             END AS pred
           FROM documents WHERE lang IS NOT NULL),
pairs AS (SELECT label, pred, count(*) AS n FROM p GROUP BY label, pred),
tp AS (SELECT label AS cls, n AS tp FROM pairs WHERE label = pred),
sup AS (SELECT label AS cls, sum(n) AS support FROM pairs GROUP BY label),
prd AS (SELECT pred AS cls, sum(n) AS predicted FROM pairs GROUP BY pred),
rep AS (SELECT COALESCE(sup.cls, prd.cls) AS cls,
               COALESCE(tp.tp, 0) AS tp,
               COALESCE(prd.predicted, 0) - COALESCE(tp.tp, 0) AS fp,
               COALESCE(sup.support, 0) - COALESCE(tp.tp, 0) AS fn,
               COALESCE(sup.support, 0) AS support
        FROM sup FULL JOIN prd ON prd.cls = sup.cls
                 LEFT JOIN tp ON tp.cls = COALESCE(sup.cls, prd.cls))
SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(support AS BIGINT) AS support,
       CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp)
                 ELSE 0 END AS BIGINT) AS precision_u,
       CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn)
                 ELSE 0 END AS BIGINT) AS recall_u,
       CAST(CASE WHEN 2*tp + fp + fn > 0
                 THEN 2 * tp * 1000000 // (2*tp + fp + fn)
                 ELSE 0 END AS BIGINT) AS f1_u
FROM rep ORDER BY cls
"""


def _md5_scored(spark, sf, salt, score, label, keep=()):
    """The md5 score/label fixture of the ranking-metric queries, over
    documents with a non-NULL doc_id: ``score`` = 5 hex digits of
    md5(doc_id || salt) mod 1000001, and ``label`` = 1 when the next 2
    digits × 3922 fall below it (score-correlated labels, so every
    metric is informative). The ``keep`` columns ride along."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id").isNotNull())
    key = md5_hex(F.col("doc_id"), salt)
    return d.select(
        *keep,
        (md5_int(key, 1, 5) % 1000001).alias(score),
        md5_int(key, 6, 2).alias("__v"),
    ).select(
        *keep,
        score,
        F.when(F.col("__v") * 3922 < F.col(score), F.lit(1))
        .otherwise(F.lit(0)).alias(label),
    )


def q_calibration(spark, sf):
    """Reliability diagram + ECE, fully ORACLED: confidences and
    correctness bits derive from md5 hex fields (confidence-correlated
    so the diagram is realistic), bins / accuracies / mean confidences
    / the ECE are ALL exact integer floor divisions at the 1e-6 grain
    — the one deferred division per value rule, no floats anywhere."""
    from ..operators.classify import calibration_bins

    s = _md5_scored(spark, sf, ":cal", "conf_u", "correct")
    return calibration_bins(s, "conf_u", "correct").orderBy("bin")


ORACLE_CALIBRATION = """
WITH s AS (SELECT
             CAST('0x' || substr(md5(doc_id || ':cal'), 1, 5) AS BIGINT)
               % 1000001 AS conf_u,
             CAST('0x' || substr(md5(doc_id || ':cal'), 6, 2) AS BIGINT)
               AS v
           FROM documents WHERE doc_id IS NOT NULL),
p AS (SELECT conf_u,
             CASE WHEN v * 3922 < conf_u THEN 1 ELSE 0 END AS correct
      FROM s),
b AS (SELECT LEAST(conf_u // 100000, 9) AS bin, count(*) AS n,
             sum(correct) AS n_correct, sum(conf_u) AS sum_conf_u
      FROM p GROUP BY 1),
b2 AS (SELECT bin, n, n_correct, sum_conf_u,
              n_correct * 1000000 // n AS acc_u,
              sum_conf_u // n AS avg_conf_u,
              abs(n_correct * 1000000 - sum_conf_u) AS gap_w
       FROM b),
t AS (SELECT sum(gap_w) // sum(n) AS ece_u FROM b2)
SELECT CAST(bin AS INT) AS bin, CAST(n AS BIGINT) AS n,
       CAST(n_correct AS BIGINT) AS n_correct,
       CAST(sum_conf_u AS BIGINT) AS sum_conf_u,
       CAST(acc_u AS BIGINT) AS acc_u,
       CAST(avg_conf_u AS BIGINT) AS avg_conf_u,
       CAST(gap_w AS BIGINT) AS gap_w,
       CAST(t.ece_u AS BIGINT) AS ece_u
FROM b2, t ORDER BY bin
"""


def q_hll_distinct(spark, sf):
    """HyperLogLog cardinality sketch, fully ORACLED: registers, the
    2^55-scaled harmonic sum, and the rational-alpha estimate all
    replay exactly in DuckDB — rho comes from string bit-position
    (strpos over lpad(bin(w),54,'0'), no float log2), the scaled sum
    is an exact int64 of powers of two, and the estimate is one
    HUGEINT floor division (Python big-int on the Spark side). The
    documents fixture keeps every register occupied at sf >= 0.01, so
    the float linear-counting branch stays off (and is flagged)."""
    from ..operators.sketch import hll_distinct

    d = _t(spark, sf, "documents")
    return hll_distinct(d, "text", p=6)


ORACLE_HLL_DISTINCT = """
WITH hv AS (SELECT CAST('0x' || substr(md5(text || chr(30) || 'hll'),
                        1, 15) AS BIGINT) AS h
            FROM documents WHERE text IS NOT NULL),
rr AS (SELECT h % 64 AS reg,
              strpos(lpad(bin(h // 64), 54, '0'), '1') AS p
       FROM hv),
rho AS (SELECT reg, max(CASE WHEN p > 0 THEN p ELSE 55 END) AS r
        FROM rr GROUP BY reg),
regs AS (SELECT g.g AS reg, COALESCE(rho.r, 0) AS r
         FROM (SELECT unnest(range(64)) AS g) g
         LEFT JOIN rho ON rho.reg = g.g),
agg AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (55 - r)) AS BIGINT) AS s,
               sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS vz
        FROM regs),
est AS (SELECT s, vz,
          CAST(CAST(709 AS HUGEINT) * 64 * 64
               * CAST(CAST(1 AS BIGINT) << 55 AS HUGEINT) * 1000000
               // (CAST(1000 AS HUGEINT) * s) AS BIGINT) AS raw
        FROM agg)
SELECT CAST(64 AS INT) AS m, CAST(vz AS INT) AS v_zero,
       s AS s_scaled,
       CASE WHEN vz > 0 AND raw <= 160000000
            THEN CAST(floor(64 * ln(64.0 / vz) * 1e6 + 0.5) AS BIGINT)
            ELSE raw END AS est_u,
       CAST(CASE WHEN vz > 0 AND raw <= 160000000 THEN 1 ELSE 0 END
            AS INT) AS linear_counting
FROM est
"""


QUERIES["photometric"] = q_photometric
ORACLES["photometric"] = ORACLE_PHOTOMETRIC
QUERIES["border_crop"] = q_border_crop
ORACLES["border_crop"] = ORACLE_BORDER_CROP
QUERIES["confusion_eval"] = q_confusion_eval
ORACLES["confusion_eval"] = ORACLE_CONFUSION_EVAL
QUERIES["calibration"] = q_calibration
ORACLES["calibration"] = ORACLE_CALIBRATION
QUERIES["hll_distinct"] = q_hll_distinct
ORACLES["hll_distinct"] = ORACLE_HLL_DISTINCT


def q_auc_roc(spark, sf):
    """Exact AUC-ROC (Mann-Whitney rank sum, average-rank ties), fully
    ORACLED: scores and labels derive from md5 hex fields of doc_id
    (score-correlated labels so the AUC is informative), the rank sum
    runs over the per-score count table (two-level prefix sum — never
    a global window), and the single final division happens on exact
    integers on both engines (Python big int / DuckDB HUGEINT)."""
    from ..operators.classify import auc_roc

    s = _md5_scored(spark, sf, ":auc", "score_u", "label")
    return auc_roc(s, "score_u", "label")


ORACLE_AUC_ROC = """
WITH s AS (SELECT
             CAST('0x' || substr(md5(doc_id || ':auc'), 1, 5) AS BIGINT)
               % 1000001 AS sc,
             CAST('0x' || substr(md5(doc_id || ':auc'), 6, 2) AS BIGINT)
               AS v
           FROM documents WHERE doc_id IS NOT NULL),
p AS (SELECT sc, CASE WHEN v * 3922 < sc THEN 1 ELSE 0 END AS y FROM s),
g AS (SELECT sc, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(y) AS HUGEINT) AS np
      FROM p GROUP BY sc),
c AS (SELECT np, n,
             sum(n) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING) - n AS cb
      FROM g),
a AS (SELECT sum(np * (2*cb + n + 1)) AS r2, sum(np) AS pp,
             sum(n) AS nt FROM c)
SELECT CAST(nt AS BIGINT) AS n, CAST(pp AS BIGINT) AS n_pos,
       CAST(nt - pp AS BIGINT) AS n_neg,
       CAST(((r2 - pp*(pp+1)) * 1000000) // (2*pp*(nt-pp)) AS BIGINT)
         AS auc_u
FROM a
"""


QUERIES["auc_roc"] = q_auc_roc
ORACLES["auc_roc"] = ORACLE_AUC_ROC


def q_avg_precision(spark, sf):
    """Exact average precision over the (score DESC, id ASC) total
    order, fully ORACLED: every precision@rank term is one integer
    floor division at the 1e-6 grain (the deferred-division rule), the
    global rank + cumulative-positive counts come from the two-level
    range-partition shape (no global window), and DuckDB replays the
    identical order with an explicit ROWS frame."""
    from ..operators.classify import average_precision

    s = _md5_scored(spark, sf, ":ap", "score_u", "label", keep=("doc_id",))
    return average_precision(s, "score_u", "label", "doc_id")


ORACLE_AVG_PRECISION = """
WITH s AS (SELECT doc_id,
             CAST('0x' || substr(md5(doc_id || ':ap'), 1, 5) AS BIGINT)
               % 1000001 AS sc,
             CAST('0x' || substr(md5(doc_id || ':ap'), 6, 2) AS BIGINT)
               AS v
           FROM documents WHERE doc_id IS NOT NULL),
p AS (SELECT doc_id, sc,
             CASE WHEN v * 3922 < sc THEN 1 ELSE 0 END AS y FROM s),
r AS (SELECT y,
             row_number() OVER (ORDER BY sc DESC, doc_id ASC) AS rk,
             sum(y) OVER (ORDER BY sc DESC, doc_id ASC
                          ROWS UNBOUNDED PRECEDING) AS cp
      FROM p),
tot AS (SELECT count(*) AS n FROM r),
pos AS (SELECT sum((cp * 1000000) // rk) AS s, count(*) AS pp
        FROM r WHERE y = 1)
SELECT CAST(tot.n AS BIGINT) AS n, CAST(pos.pp AS BIGINT) AS n_pos,
       CAST(pos.s // pos.pp AS BIGINT) AS ap_u
FROM tot, pos
"""


QUERIES["avg_precision"] = q_avg_precision
ORACLES["avg_precision"] = ORACLE_AVG_PRECISION


def q_random_erase(spark, sf):
    """Random Erasing (cutout) augmentation, fully ORACLED pixel-by-
    pixel: the erased window comes from four md5 hex digits of the
    ``image_id:seed:epoch:re`` key through the cutmix_geometry floor
    arithmetic, and DuckDB recomputes every output pixel as one CASE
    (fill inside the window, the pixel formula outside), witnessed by
    position-sensitive image moments."""
    from ..operators.images import image_moments, random_erasing
    from ..sources.images import formula_images_df

    out = image_moments(
        random_erasing(formula_images_df(spark, 12), seed=5, epoch=2),
        carry_cols=("x0", "y0", "erase_w", "erase_h"),
    )
    return out.select(
        "image_id", "x0", "y0", "erase_w", "erase_h",
        "w", "h", "m0", "mx", "my",
    ).orderBy("image_id")


ORACLE_RANDOM_ERASE = """
WITH ids AS (SELECT unnest(range(12)) AS i),
""" + _SQL_FORMULA_DIMS + """,
geo AS (SELECT i, w, h,
          (w // 4) + (CAST('0x' || substring(k, 1, 1) AS INT) * (w // 2))
            // 15 AS ew,
          (h // 4) + (CAST('0x' || substring(k, 2, 1) AS INT) * (h // 2))
            // 15 AS eh,
          CAST('0x' || substring(k, 3, 1) AS INT) AS d2,
          CAST('0x' || substring(k, 4, 1) AS INT) AS d3
        FROM (SELECT i, w, h,
                md5(printf('img%08d', i) || ':5:2:re') AS k FROM dims)),
pl AS (SELECT i, w, h, ew, eh,
          (d2 * (w - ew)) // 15 AS x0,
          (d3 * (h - eh)) // 15 AS y0
       FROM geo),
cells AS (SELECT i, w, h, x0, y0, ew, eh, x.g AS x, y.g AS y,
            CASE WHEN x.g >= x0 AND x.g < x0 + ew
                  AND y.g >= y0 AND y.g < y0 + eh THEN 128
                 ELSE (i*31 + x.g*7 + y.g*13) % 256 END AS v
          FROM pl, (SELECT unnest(range(256)) AS g) x,
               (SELECT unnest(range(128)) AS g) y
          WHERE x.g < w AND y.g < h)
SELECT printf('img%08d', i) AS image_id,
       CAST(max(x0) AS INT) AS x0, CAST(max(y0) AS INT) AS y0,
       CAST(max(ew) AS INT) AS erase_w, CAST(max(eh) AS INT) AS erase_h,
       CAST(max(w) AS INT) AS w, CAST(max(h) AS INT) AS h,
       CAST(sum(v) AS BIGINT) AS m0,
       CAST(sum(v * x) AS BIGINT) AS mx,
       CAST(sum(v * y) AS BIGINT) AS my
FROM cells GROUP BY i ORDER BY image_id
"""


QUERIES["random_erase"] = q_random_erase
ORACLES["random_erase"] = ORACLE_RANDOM_ERASE


def q_augment_distortion(spark, sf):
    """Exact distortion audit of the photometric augmentation pass
    (original vs augmented SSE / scaled MSE per image), fully ORACLED:
    DuckDB rebuilds both sides of every pixel — the formula value and
    the solarize → posterize → invert CASE chain (same plan/params as
    the photometric query) — and replays the int64 squared-difference
    sum plus the one deferred floor division exactly."""
    from ..operators.images import image_pair_sse, photometric_images
    from ..sources.images import formula_images_df

    base = formula_images_df(spark, 12)
    aug = photometric_images(base, seed=4, epoch=1)
    return image_pair_sse(base, aug).select(
        "image_id", "w", "h", "n_px", "sse", "mse_u"
    ).orderBy("image_id")


ORACLE_AUGMENT_DISTORTION = """
WITH ids AS (SELECT unnest(range(12)) AS i),
""" + _SQL_FORMULA_DIMS + """,
pl AS (SELECT i, w, h,
         CAST('0x' || substring(k, 1, 1) AS INT) % 2 AS sol,
         CAST('0x' || substring(k, 2, 2) AS INT) AS thr,
         CASE WHEN CAST('0x' || substring(k, 4, 1) AS INT) % 2 = 1
              THEN 3 + CAST('0x' || substring(k, 5, 1) AS INT) % 2
              ELSE 0 END AS pb,
         CAST('0x' || substring(k, 6, 1) AS INT) % 2 AS inv
       FROM (SELECT i, w, h,
               md5(printf('img%08d', i) || ':4:1:pm') AS k FROM dims)),
cells AS (SELECT i, w, h, sol, thr, pb, inv, x.g AS x, y.g AS y,
            (i*31 + x.g*7 + y.g*13) % 256 AS v0
          FROM pl, (SELECT unnest(range(256)) AS g) x,
               (SELECT unnest(range(128)) AS g) y
          WHERE x.g < w AND y.g < h),
c1 AS (SELECT *, CASE WHEN sol = 1 AND v0 >= thr THEN 255 - v0
                      ELSE v0 END AS v1 FROM cells),
c2 AS (SELECT *, CASE WHEN pb = 3 THEN (v1 // 32) * 32
                      WHEN pb = 4 THEN (v1 // 16) * 16
                      ELSE v1 END AS v2 FROM c1),
c3 AS (SELECT *, CASE WHEN inv = 1 THEN 255 - v2 ELSE v2 END AS v FROM c2)
SELECT printf('img%08d', i) AS image_id,
       CAST(max(w) AS INT) AS w, CAST(max(h) AS INT) AS h,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum((v0 - v) * (v0 - v)) AS BIGINT) AS sse,
       CAST(sum((v0 - v) * (v0 - v)) * 1000000 // count(*) AS BIGINT)
         AS mse_u
FROM c3 GROUP BY i ORDER BY image_id
"""


QUERIES["augment_distortion"] = q_augment_distortion
ORACLES["augment_distortion"] = ORACLE_AUGMENT_DISTORTION


def q_hard_negatives(spark, sf):
    """Hard-negative mining (top-5 most-similar different-label rows
    per anchor), ORACLED on ranks: rank decisions are float-cosine
    compares with fixture margins orders of magnitude above the ~1e-15
    cross-engine sum-order drift (the retrieval_recall precedent);
    scores are deliberately NOT emitted (arbitrary cosines carry
    1e-6-grain boundary risk — ranks are margin-protected)."""
    from ..operators.similarity import hard_negatives

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("q_id"), "label", "embedding"
    )
    out = hard_negatives(
        q, e, vec_col="embedding", query_id="q_id",
        corpus_id="vec_id", k=5,
    )
    return out.orderBy("q_id", "rank")


ORACLE_HARD_NEGATIVES = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, label AS ql, v AS qv FROM e
      WHERE vec_id < 12),
r AS (SELECT q.qid, e.vec_id, e.label,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_cosine_similarity(e.v, q.qv) DESC,
                        e.vec_id ASC) AS rank
      FROM q JOIN e ON e.label <> q.ql AND e.vec_id <> q.qid)
SELECT CAST(qid AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(label AS INT) AS neg_label, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5 ORDER BY q_id, rank
"""


QUERIES["hard_negatives"] = q_hard_negatives
ORACLES["hard_negatives"] = ORACLE_HARD_NEGATIVES


def q_roc_points(spark, sf):
    """Exact ROC operating points (one row per distinct score,
    descending), fully ORACLED: same md5 score/label derivation as the
    auc_roc fixture so the curve integrates to that AUC; counts come
    from value-computed bucket prefix sums (no range exchange — the
    deterministic-lineage variant of the two-level shape) and each
    rate is one integer floor division at the 1e-6 grain."""
    from ..operators.classify import roc_points

    s = _md5_scored(spark, sf, ":auc", "score_u", "label")
    return roc_points(s, "score_u", "label").orderBy(
        F.col("score").desc()
    )


ORACLE_ROC_POINTS = """
WITH s AS (SELECT
             CAST('0x' || substr(md5(doc_id || ':auc'), 1, 5) AS BIGINT)
               % 1000001 AS sc,
             CAST('0x' || substr(md5(doc_id || ':auc'), 6, 2) AS BIGINT)
               AS v
           FROM documents WHERE doc_id IS NOT NULL),
p AS (SELECT sc, CASE WHEN v * 3922 < sc THEN 1 ELSE 0 END AS y FROM s),
g AS (SELECT sc, count(*) AS n, sum(y) AS np FROM p GROUP BY sc),
t AS (SELECT sum(n) AS nt, sum(np) AS pp FROM g),
c AS (SELECT sc,
             sum(n) OVER (ORDER BY sc DESC ROWS UNBOUNDED PRECEDING)
               AS n_ge,
             sum(np) OVER (ORDER BY sc DESC ROWS UNBOUNDED PRECEDING)
               AS tp
      FROM g)
SELECT CAST(sc AS BIGINT) AS score, CAST(n_ge AS BIGINT) AS n_ge,
       CAST(tp AS BIGINT) AS tp, CAST(n_ge - tp AS BIGINT) AS fp,
       CAST(tp * 1000000 // t.pp AS BIGINT) AS tpr_u,
       CAST((n_ge - tp) * 1000000 // (t.nt - t.pp) AS BIGINT) AS fpr_u
FROM c, t ORDER BY score DESC
"""


QUERIES["roc_points"] = q_roc_points
ORACLES["roc_points"] = ORACLE_ROC_POINTS


def q_mlm_plan(spark, sf):
    """BERT-style MLM masking plan (exact 15% per doc, 80/10/10
    actions), fully ORACLED: the token permutation rank, the exact
    masked count, and every action digit replay in DuckDB over the
    shared whitespace tokenizer CTE (the span_corruption precedent);
    masked-char sums witness the exact mask set."""
    from ..operators.text import mlm_mask_plan

    d = spread(_t(spark, sf, "documents"))  # 1-split scan (round 6)
    return mlm_mask_plan(d, "text", "doc_id", seed=11).orderBy("doc_id")


ORACLE_MLM_PLAN = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
tok AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS w
        FROM toks WHERE len(t) > 0),
rk AS (SELECT doc_id, pos, w,
              row_number() OVER (
                PARTITION BY doc_id
                ORDER BY md5(doc_id || ':' || pos || ':11'), pos) AS r,
              count(*) OVER (PARTITION BY doc_id) AS nt
       FROM tok),
m AS (SELECT rk.*, (nt * 15) // 100 AS nm,
             CAST('0x' || substr(md5(doc_id || ':' || pos || ':11:a'),
                                 1, 2) AS INT) % 10 AS act
      FROM rk)
SELECT doc_id,
       CAST(max(nt) AS BIGINT) AS n_tokens,
       CAST(max(nm) AS BIGINT) AS n_masked,
       CAST(sum(CASE WHEN r <= nm AND act < 8 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mask_tok,
       CAST(sum(CASE WHEN r <= nm AND act = 8 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_rand_tok,
       CAST(sum(CASE WHEN r <= nm AND act = 9 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_keep_tok,
       CAST(sum(CASE WHEN r <= nm THEN length(w) ELSE 0 END)
            AS BIGINT) AS masked_chars
FROM m GROUP BY doc_id ORDER BY doc_id
"""


QUERIES["mlm_plan"] = q_mlm_plan
ORACLES["mlm_plan"] = ORACLE_MLM_PLAN


def q_pk_batches(spark, sf):
    """P×K class-balanced batch plan (3 classes × 4 samples per
    batch over the embeddings labels), fully ORACLED: DuckDB replays
    the per-class epoch permutation (pack_batches' md5(id:seed:epoch)
    rank), the round cap at the minimum per-class batch count, the
    per-round class shuffle, and the batch/slot arithmetic — every
    assignment is exact integer."""
    from ..operators.curation import pk_batches

    e = _t(spark, sf, "embeddings").filter(F.col("label").isNotNull())
    out = pk_batches(
        e, label_col="label", id_col="vec_id", p=3, k=4, seed=2, epoch=1
    )
    return out.orderBy("batch_id", "class_pos", "slot")


ORACLE_PK_BATCHES = """
WITH e AS (SELECT vec_id, label FROM embeddings
           WHERE label IS NOT NULL),
rk AS (SELECT label, vec_id,
              row_number() OVER (
                PARTITION BY label
                ORDER BY md5(vec_id || ':2:1'), vec_id) - 1 AS rn,
              count(*) OVER (PARTITION BY label) AS n
       FROM e),
kept AS (SELECT label, vec_id, rn // 4 AS batch_idx, rn % 4 AS slot
         FROM rk WHERE rn < (n // 4) * 4),
nbs AS (SELECT label, max(batch_idx) + 1 AS nb FROM kept GROUP BY label),
r AS (SELECT min(nb) AS rounds FROM nbs),
cs AS (SELECT count(*) AS c FROM nbs),
grp AS (SELECT (c // 3) * 3 AS g FROM cs),
cb AS (SELECT DISTINCT label, batch_idx FROM kept
       WHERE batch_idx < (SELECT rounds FROM r)),
selr AS (SELECT label, batch_idx,
               row_number() OVER (
                 PARTITION BY batch_idx
                 ORDER BY md5(label || ':' || batch_idx || ':2:1:pk'),
                          label) - 1 AS rn2
        FROM cb),
sel AS (SELECT label, batch_idx,
               batch_idx * ((SELECT g FROM grp) // 3) + rn2 // 3
                 AS batch_id,
               rn2 % 3 AS class_pos
        FROM selr WHERE rn2 < (SELECT g FROM grp))
SELECT CAST(sel.batch_id AS BIGINT) AS batch_id,
       CAST(sel.class_pos AS INT) AS class_pos,
       kept.label AS label, CAST(kept.slot AS INT) AS slot,
       kept.vec_id AS vec_id
FROM kept JOIN sel ON kept.label = sel.label
                  AND kept.batch_idx = sel.batch_idx
ORDER BY batch_id, class_pos, slot
"""


QUERIES["pk_batches"] = q_pk_batches
ORACLES["pk_batches"] = ORACLE_PK_BATCHES


def q_autocontrast(spark, sf):
    """Exact-integer autocontrast over posterized inputs (the
    photometric pass narrows the dynamic range so the stretch is
    non-trivial), fully ORACLED pixel-by-pixel: DuckDB replays the
    photometric CASE chain, takes per-image min/max, applies the one
    floor-division stretch, and recomputes position-sensitive
    moments."""
    from ..operators.images import (
        image_autocontrast,
        image_moments,
        photometric_images,
    )
    from ..sources.images import formula_images_df

    out = image_moments(
        image_autocontrast(
            photometric_images(formula_images_df(spark, 12), seed=4, epoch=1)
        ),
        carry_cols=("lo", "hi"),
    )
    return out.select(
        "image_id", "lo", "hi", "w", "h", "m0", "mx", "my"
    ).orderBy("image_id")


ORACLE_AUTOCONTRAST = """
WITH ids AS (SELECT unnest(range(12)) AS i),
""" + _SQL_FORMULA_DIMS + """,
pl AS (SELECT i, w, h,
         CAST('0x' || substring(k, 1, 1) AS INT) % 2 AS sol,
         CAST('0x' || substring(k, 2, 2) AS INT) AS thr,
         CASE WHEN CAST('0x' || substring(k, 4, 1) AS INT) % 2 = 1
              THEN 3 + CAST('0x' || substring(k, 5, 1) AS INT) % 2
              ELSE 0 END AS pb,
         CAST('0x' || substring(k, 6, 1) AS INT) % 2 AS inv
       FROM (SELECT i, w, h,
               md5(printf('img%08d', i) || ':4:1:pm') AS k FROM dims)),
cells AS (SELECT i, w, h, sol, thr, pb, inv, x.g AS x, y.g AS y,
            (i*31 + x.g*7 + y.g*13) % 256 AS v0
          FROM pl, (SELECT unnest(range(256)) AS g) x,
               (SELECT unnest(range(128)) AS g) y
          WHERE x.g < w AND y.g < h),
c1 AS (SELECT *, CASE WHEN sol = 1 AND v0 >= thr THEN 255 - v0
                      ELSE v0 END AS v1 FROM cells),
c2 AS (SELECT *, CASE WHEN pb = 3 THEN (v1 // 32) * 32
                      WHEN pb = 4 THEN (v1 // 16) * 16
                      ELSE v1 END AS v2 FROM c1),
c3 AS (SELECT *, CASE WHEN inv = 1 THEN 255 - v2 ELSE v2 END AS v FROM c2),
mm AS (SELECT i, min(v) AS lo, max(v) AS hi FROM c3 GROUP BY i),
st AS (SELECT c3.i, c3.w, c3.h, c3.x, c3.y, mm.lo, mm.hi,
              CASE WHEN mm.hi > mm.lo
                   THEN ((c3.v - mm.lo) * 255) // (mm.hi - mm.lo)
                   ELSE c3.v END AS v
       FROM c3 JOIN mm ON mm.i = c3.i)
SELECT printf('img%08d', i) AS image_id,
       CAST(max(lo) AS INT) AS lo, CAST(max(hi) AS INT) AS hi,
       CAST(max(w) AS INT) AS w, CAST(max(h) AS INT) AS h,
       CAST(sum(v) AS BIGINT) AS m0,
       CAST(sum(v * x) AS BIGINT) AS mx,
       CAST(sum(v * y) AS BIGINT) AS my
FROM st GROUP BY i ORDER BY image_id
"""


QUERIES["autocontrast"] = q_autocontrast
ORACLES["autocontrast"] = ORACLE_AUTOCONTRAST


def q_webdataset_index(spark, sf):
    """Random-access byte-offset index of a WebDataset shard, fully
    ORACLED: document payloads (utf-8 text) write as ONE ustar shard
    in doc order, and DuckDB recomputes every member's header/payload
    offset from the member sizes alone — the 512-block prefix-sum
    layout arithmetic. A wrong pad, header size, or member order
    breaks the integer equality. Side effect: writes a shard to a
    fresh temp dir each run."""

    from ..sources.webdataset import index_webdataset, write_webdataset

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") < 40))
        .select(
            "doc_id",
            F.encode(F.col("text"), "utf-8").alias("payload"),
            F.lit("txt").alias("ext"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    out_dir = _scratch_dir("wds_index_")
    write_webdataset(
        d, out_dir, id_col="doc_id", data_col="payload",
        ext_col="ext", shard_rows=1_000_000,
    ).count()
    idx = index_webdataset(spark, out_dir)
    return idx.filter(F.col("err").isNull()).select(
        "member", "offset", "data_offset", "size"
    ).orderBy("offset")


ORACLE_WEBDATASET_INDEX = """
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS sz
           FROM documents WHERE text IS NOT NULL AND doc_id < 40),
o AS (SELECT doc_id, sz,
             sum(512 + ((sz + 511) // 512) * 512)
               OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             - (512 + ((sz + 511) // 512) * 512) AS header
      FROM d)
SELECT doc_id || '.txt' AS member, CAST(header AS BIGINT) AS "offset",
       CAST(header + 512 AS BIGINT) AS data_offset,
       CAST(sz AS BIGINT) AS "size"
FROM o ORDER BY "offset"
"""


QUERIES["webdataset_index"] = q_webdataset_index
ORACLES["webdataset_index"] = ORACLE_WEBDATASET_INDEX


def q_priority_dedup(spark, sf):
    """Cross-source canonical-copy dedup (lowest source, then lowest
    id, wins each exact-duplicate group), fully ORACLED: the
    min-struct arg-min replays as one SQL row_number over
    (text PARTITION, source/id ORDER)."""
    from ..operators.dedup import priority_dedup

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    out = priority_dedup(d, ["text"], "doc_id", "source")
    return out.select("doc_id", "source", "n_chars").orderBy("doc_id")


ORACLE_PRIORITY_DEDUP = """
WITH d AS (SELECT * FROM documents WHERE text IS NOT NULL),
r AS (SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY text ORDER BY source, doc_id) AS rn
      FROM d)
SELECT doc_id, source, n_chars FROM r WHERE rn = 1 ORDER BY doc_id
"""


QUERIES["priority_dedup"] = q_priority_dedup
ORACLES["priority_dedup"] = ORACLE_PRIORITY_DEDUP


def q_rendezvous(spark, sf):
    """Rendezvous (highest-random-weight) worker routing, fully
    ORACLED: the per-row argmax over md5(id:w:seed) candidates
    replays as a row_number over (h DESC, w DESC) — the exact
    tiebreak order of Spark's lexicographic struct array_max."""
    from ..operators.curation import rendezvous_assign

    d = _t(spark, sf, "documents").select("doc_id")
    return rendezvous_assign(d, "doc_id", workers=7, seed=3).orderBy(
        "doc_id"
    )


ORACLE_RENDEZVOUS = """
WITH c AS (SELECT doc_id, g.g AS w,
                  md5(doc_id || ':' || g.g || ':3') AS h
           FROM documents, (SELECT unnest(range(7)) AS g) g),
r AS (SELECT doc_id, w,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY h DESC, w DESC) AS rn
      FROM c)
SELECT doc_id, CAST(w AS INT) AS worker FROM r WHERE rn = 1
ORDER BY doc_id
"""


QUERIES["rendezvous"] = q_rendezvous
ORACLES["rendezvous"] = ORACLE_RENDEZVOUS


def q_int8_quantize(spark, sf):
    """Symmetric per-dim int8 embedding quantization, fully ORACLED:
    grain landing (floor(x·1e6 + 0.5), the established half-up rule),
    exact integer per-dim max-abs scales, sign-split floor-division
    codes, and the dequantization error audit all replay value-for-
    value in DuckDB."""
    from ..operators.similarity import quantize_embeddings_int8

    e = _t(spark, sf, "embeddings")
    return quantize_embeddings_int8(e).orderBy("vec_id", "dim")


ORACLE_INT8_QUANTIZE = """
WITH t AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                  unnest(embedding::DOUBLE[]) AS x
           FROM embeddings),
u AS (SELECT vec_id, dim,
             CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS x_u FROM t),
a AS (SELECT dim, max(abs(x_u)) AS amax_u FROM u GROUP BY dim),
qq AS (SELECT vec_id, u.dim, x_u, amax_u,
              CASE WHEN amax_u > 0 THEN
                CASE WHEN x_u < 0 THEN -((abs(x_u) * 127) // amax_u)
                     ELSE (x_u * 127) // amax_u END
              ELSE 0 END AS q
       FROM u JOIN a ON a.dim = u.dim)
SELECT vec_id, CAST(dim AS INT) AS dim, x_u,
       CAST(amax_u AS BIGINT) AS amax_u, CAST(q AS INT) AS q,
       CAST(abs(x_u - (CASE WHEN q < 0
                            THEN -((abs(q) * amax_u) // 127)
                            ELSE (q * amax_u) // 127 END))
            AS BIGINT) AS err_u
FROM qq ORDER BY vec_id, dim
"""


QUERIES["int8_quantize"] = q_int8_quantize
ORACLES["int8_quantize"] = ORACLE_INT8_QUANTIZE


def q_dedup_report(spark, sf):
    """Duplicate-cluster size histogram over the dHash near-dup
    components, fully ORACLED: DuckDB replays the complete dedup
    chain (band candidates, bit_count verify, recursive-CTE
    components) and then the two-level size histogram — the audit
    that distinguishes a long tail of pairs from a few giant
    families."""
    from ..operators.dedup import cluster_size_report
    from ..operators.images import phash_dedup
    from ..sources.images import near_dup_images_df

    out = phash_dedup(
        near_dup_images_df(spark, 18), hash_type="dhash", max_hamming=2
    )
    return cluster_size_report(out, "rep_id").orderBy("size")


ORACLE_DEDUP_REPORT = """
WITH RECURSIVE """ + _SQL_NEAR_DUP_HASHES + """,
bands AS (SELECT i, bnd.g AS band, substr(bits, 1 + 16*bnd.g, 16) AS val,
                 bits
          FROM hashes, (SELECT unnest(range(4)) AS g) bnd),
pairs AS (SELECT DISTINCT a.i AS id_a, b.i AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
                                    AND b.i < a.i
          WHERE bit_count(xor(a.bits::BIT, b.bits::BIT)) <= 2),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(a, r) AS (
  SELECT i, i FROM ids
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d),
comp AS (SELECT a AS i, min(r) AS rep FROM reach GROUP BY a),
sizes AS (SELECT rep, count(*) AS sz FROM comp GROUP BY rep)
SELECT CAST(sz AS BIGINT) AS size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * sz AS BIGINT) AS n_rows,
       CAST(count(*) * (sz - 1) AS BIGINT) AS n_dup_rows
FROM sizes GROUP BY sz ORDER BY size
"""


QUERIES["dedup_report"] = q_dedup_report
ORACLES["dedup_report"] = ORACLE_DEDUP_REPORT


def q_group_folds(spark, sf):
    """Leakage-safe k-fold CV assignment by near-dup component, fully
    ORACLED: the dedup chain plus one conv(md5 15-hex) mod k per
    component rep — no duplicate pair ever straddles a CV fold."""
    from ..operators.curation import group_folds
    from ..operators.images import phash_dedup
    from ..sources.images import near_dup_images_df

    out = phash_dedup(
        near_dup_images_df(spark, 18), hash_type="dhash", max_hamming=2
    )
    out = group_folds(out, "rep_id", k=3, seed=5)
    return out.select("image_id", "rep_id", "fold").orderBy("image_id")


ORACLE_GROUP_FOLDS = """
WITH RECURSIVE """ + _SQL_NEAR_DUP_HASHES + """,
bands AS (SELECT i, bnd.g AS band, substr(bits, 1 + 16*bnd.g, 16) AS val,
                 bits
          FROM hashes, (SELECT unnest(range(4)) AS g) bnd),
pairs AS (SELECT DISTINCT a.i AS id_a, b.i AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
                                    AND b.i < a.i
          WHERE bit_count(xor(a.bits::BIT, b.bits::BIT)) <= 2),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(a, r) AS (
  SELECT i, i FROM ids
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d),
comp AS (SELECT a AS i, min(r) AS rep FROM reach GROUP BY a)
SELECT printf('img%08d', comp.i) AS image_id,
       printf('img%08d', comp.rep) AS rep_id,
       CAST(CAST('0x' || substr(md5(printf('img%08d', comp.rep)
                                    || ':5'), 1, 15) AS BIGINT) % 3
            AS INT) AS fold
FROM comp ORDER BY image_id
"""


QUERIES["group_folds"] = q_group_folds
ORACLES["group_folds"] = ORACLE_GROUP_FOLDS


def q_coreset(spark, sf):
    """Greedy k-center coreset selection (6 picks), fully ORACLED:
    every pick unrolls as a DuckDB CTE pair (min-distance table +
    argmax pick — the ivf_topk fixed-iteration technique, CTEs
    MATERIALIZED because each distance table feeds two consumers),
    distances are exact int64 squared-L2 over grain-landed ints, and
    ties break by id on both engines."""
    from ..operators.similarity import coreset_kcenter

    e = spread(_t(spark, sf, "embeddings"))  # 1-split scan; each of
    # the k argmax rounds re-scans it (round 6)
    return coreset_kcenter(e, k=6).orderBy("rank")


def _coreset_oracle(k: int) -> str:
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id,"
        " list_transform(embedding::DOUBLE[],"
        " x -> CAST(floor(x*1000000 + 0.5) AS BIGINT)) AS v"
        " FROM embeddings)",
        "s0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
    ]
    for i in range(1, k):
        src = "e" if i == 1 else f"d{i - 1}"
        sq = (
            f"list_sum(list_transform(list_zip({src}.v,"
            f" (SELECT v FROM s{i - 1})),"
            " p -> (p[1]-p[2])*(p[1]-p[2])))"
        )
        if i == 1:
            parts.append(
                f"d1 AS MATERIALIZED (SELECT vec_id, v, {sq} AS dmin"
                " FROM e)"
            )
        else:
            parts.append(
                f"d{i} AS MATERIALIZED (SELECT vec_id, v,"
                f" LEAST(dmin, {sq}) AS dmin FROM d{i - 1})"
            )
        parts.append(
            f"s{i} AS (SELECT vec_id, v, dmin FROM d{i}"
            " ORDER BY dmin DESC, vec_id ASC LIMIT 1)"
        )
    union = [
        "SELECT CAST(0 AS INT) AS rank, vec_id,"
        " CAST(0 AS BIGINT) AS d2 FROM s0"
    ]
    for i in range(1, k):
        union.append(
            f"SELECT CAST({i} AS INT), vec_id, CAST(dmin AS BIGINT)"
            f" FROM s{i}"
        )
    return (
        ",\n".join(parts) + "\n" + "\nUNION ALL ".join(union)
        + "\nORDER BY rank"
    )


QUERIES["coreset"] = q_coreset
ORACLES["coreset"] = _coreset_oracle(6)


def q_temporal_split(spark, sf):
    """Time-based train/test split with a 2-day embargo band, fully
    ORACLED: both engines compare the same NTZ timestamps against the
    same literal edges — train strictly before cutoff-embargo, test
    at/after cutoff, the band between excluded from both."""
    from ..operators.curation import temporal_split

    ev = _t(spark, sf, "events")
    out = temporal_split(
        ev, "ts", "2024-01-20 00:00:00", embargo_seconds=172800
    )
    return out.select("event_id", "split").orderBy("event_id")


ORACLE_TEMPORAL_SPLIT = """
SELECT event_id,
       CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00'
                     - INTERVAL 172800 SECOND THEN 'train'
            WHEN ts >= TIMESTAMP '2024-01-20 00:00:00' THEN 'test'
            ELSE 'embargo' END AS split
FROM events ORDER BY event_id
"""


QUERIES["temporal_split"] = q_temporal_split
ORACLES["temporal_split"] = ORACLE_TEMPORAL_SPLIT


def q_truncation_report(spark, sf):
    """Sequence-length histogram + exact truncation-loss audit at a
    64-token cutoff, fully ORACLED: token counts come from the shared
    whitespace-tokenizer length arithmetic on both engines, every
    bucket/loss value is an integer."""
    from ..operators.text import truncation_report

    d = _t(spark, sf, "documents")
    return truncation_report(
        d, max_tokens=64, bucket_width=16
    ).orderBy("bucket")


ORACLE_TRUNCATION_REPORT = f"""
WITH n AS (SELECT {_SQL_NTOK} AS nt FROM documents
           WHERE text IS NOT NULL)
SELECT CAST(nt // 16 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN nt > 64 THEN 1 ELSE 0 END) AS BIGINT)
         AS truncated_docs,
       CAST(sum(CASE WHEN nt > 64 THEN nt - 64 ELSE 0 END) AS BIGINT)
         AS lost_tokens
FROM n GROUP BY nt // 16 ORDER BY bucket
"""


QUERIES["truncation_report"] = q_truncation_report
ORACLES["truncation_report"] = ORACLE_TRUNCATION_REPORT


def q_vocab_coverage(spark, sf):
    """Tokenizer-coverage audit, fully ORACLED: the vocab keeps only
    corpus tokens whose md5 leads with hex < 'c' (a deterministic
    ~3/4 subset — the corpus token pool is tiny by construction, so a
    doc-derived vocab would cover everything and audit nothing); token
    explode, broadcast vocab join, OOV top-10 with (count DESC, token
    ASC) tiebreak, and the one floor-division coverage rate all replay
    in DuckDB."""
    from ..operators.text import nonempty_tokens_col, vocab_coverage

    d = _t(spark, sf, "documents")
    vocab = (
        d.select(
            F.explode(nonempty_tokens_col(F.col("text"))).alias("token")
        )
        .filter(F.substring(md5_hex(F.col("token")), 1, 1) < "c")
    )
    return vocab_coverage(d, vocab, top_n=10).orderBy("rank")


ORACLE_VOCAB_COVERAGE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
tok AS (SELECT doc_id, unnest(t) AS w FROM toks WHERE len(t) > 0),
v AS (SELECT DISTINCT w FROM tok WHERE substr(md5(w), 1, 1) < 'c'),
j AS (SELECT tok.w, CASE WHEN v.w IS NULL THEN 0 ELSE 1 END AS hit
      FROM tok LEFT JOIN v ON v.w = tok.w),
tot AS (SELECT count(*) AS n_tokens, sum(hit) AS hits FROM j),
oov AS (SELECT w, count(*) AS n FROM j WHERE hit = 0 GROUP BY w
        ORDER BY n DESC, w ASC LIMIT 10),
r AS (SELECT row_number() OVER (ORDER BY n DESC, w ASC) AS rank, w, n
      FROM oov)
SELECT CAST(r.rank AS INT) AS rank, r.w AS token,
       CAST(r.n AS BIGINT) AS n,
       CAST(tot.n_tokens AS BIGINT) AS n_tokens,
       CAST(tot.n_tokens - tot.hits AS BIGINT) AS n_oov,
       CAST(tot.hits * 1000000 // tot.n_tokens AS BIGINT) AS coverage_u
FROM r, tot ORDER BY rank
"""


QUERIES["vocab_coverage"] = q_vocab_coverage
ORACLES["vocab_coverage"] = ORACLE_VOCAB_COVERAGE


def q_row_diff(spark, sf):
    """Content-level CDC diff (added / removed / changed / unchanged
    counts) between documents and a deterministic perturbation of it,
    fully ORACLED: Spark compares 16-byte md5(to_json) digests, DuckDB
    compares the raw values null-safely — identical categories as
    long as the digest is collision-free per id."""
    from ..operators.resume import row_diff

    d = _t(spark, sf, "documents")
    changed = d.filter(F.col("doc_id") % 17 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" EDIT")),
        ).otherwise(F.col("text")),
    )
    added = d.filter(F.col("doc_id") % 19 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    new = changed.unionByName(added)
    return row_diff(d, new, ["text", "n_chars"], "doc_id").orderBy(
        "category"
    )


ORACLE_ROW_DIFF = """
WITH old_t AS (SELECT doc_id, text, n_chars FROM documents),
new_t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || ' EDIT' ELSE text END
           AS text,
         n_chars
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text, n_chars FROM documents
  WHERE doc_id % 19 = 0),
j AS (SELECT o.doc_id AS oid, n.doc_id AS nid, o.text AS ot,
             n.text AS nt, o.n_chars AS oc, n.n_chars AS nc
      FROM old_t o FULL JOIN new_t n ON n.doc_id = o.doc_id),
c AS (SELECT CASE WHEN oid IS NULL THEN 'added'
                  WHEN nid IS NULL THEN 'removed'
                  WHEN (ot IS DISTINCT FROM nt)
                       OR (oc IS DISTINCT FROM nc) THEN 'changed'
                  ELSE 'unchanged' END AS category
      FROM j),
cats AS (SELECT unnest(['added', 'removed', 'changed', 'unchanged'])
           AS category),
cnt AS (SELECT category, count(*) AS n FROM c GROUP BY category)
SELECT cats.category AS category, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n
FROM cats LEFT JOIN cnt ON cnt.category = cats.category
ORDER BY cats.category
"""


QUERIES["row_diff"] = q_row_diff
ORACLES["row_diff"] = ORACLE_ROW_DIFF


def q_json_props(spark, sf):
    """Typed JSON field extraction over the events props payload +
    per-type aggregates, fully ORACLED: Spark's get_json_object+cast
    and DuckDB's json_extract_string+TRY_CAST agree on every value
    and on NULL isolation for absent/mistyped fields."""
    from ..sources.jsoncol import extract_json_fields

    ev = _t(spark, sf, "events")
    out = extract_json_fields(ev, "props", {"k": "long"})
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("long").alias("n_null"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_JSON_PROPS = """
WITH e AS (SELECT event_type,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                    AS k
           FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM e GROUP BY event_type ORDER BY event_type
"""


QUERIES["json_props"] = q_json_props
ORACLES["json_props"] = ORACLE_JSON_PROPS


def q_embedding_drift(spark, sf):
    """Per-dim embedding drift between two label-split snapshots,
    fully ORACLED: exact integer grain sums, sign-split floor-division
    means (truncation toward zero, identical in SQL), absolute drift
    per dimension."""
    from ..operators.similarity import embedding_drift

    e = _t(spark, sf, "embeddings").filter(F.col("label").isNotNull())
    a = e.filter(F.col("label") < 5)
    b = e.filter(F.col("label") >= 5)
    return embedding_drift(a, b).orderBy("dim")


ORACLE_EMBEDDING_DRIFT = """
WITH t AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
                  unnest(embedding::DOUBLE[]) AS x
           FROM embeddings WHERE label IS NOT NULL),
u AS (SELECT label, dim,
             CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS xu FROM t),
a AS (SELECT dim, count(*) AS n_a, sum(xu) AS sum_a FROM u
      WHERE label < 5 GROUP BY dim),
b AS (SELECT dim, count(*) AS n_b, sum(xu) AS sum_b FROM u
      WHERE label >= 5 GROUP BY dim),
m AS (SELECT a.dim, n_a, n_b, sum_a, sum_b,
             CASE WHEN sum_a < 0 THEN -(abs(sum_a) // n_a)
                  ELSE sum_a // n_a END AS ma,
             CASE WHEN sum_b < 0 THEN -(abs(sum_b) // n_b)
                  ELSE sum_b // n_b END AS mb
      FROM a JOIN b ON b.dim = a.dim)
SELECT CAST(dim AS INT) AS dim, CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(sum_a AS BIGINT) AS sum_a,
       CAST(sum_b AS BIGINT) AS sum_b, CAST(ma AS BIGINT) AS mean_a_u,
       CAST(mb AS BIGINT) AS mean_b_u,
       CAST(abs(ma - mb) AS BIGINT) AS drift_u
FROM m ORDER BY dim
"""


QUERIES["embedding_drift"] = q_embedding_drift
ORACLES["embedding_drift"] = ORACLE_EMBEDDING_DRIFT


def q_image_lookup(spark, sf):
    """Near-dup image lookup (serve path: broadcast query hashes
    probe the gallery's band buckets, bit_count verify), fully
    ORACLED through the dHash pixel formula — every (query, match,
    distance) triple replays in DuckDB."""
    from ..operators.dedup import hamming64_lookup
    from ..operators.images import image_hashes
    from ..sources.images import near_dup_images_df

    h = (
        image_hashes(near_dup_images_df(spark, 18))
        .filter(F.col("err").isNull())
        .select("image_id", "dhash")
    )
    q = h.filter(F.substring("image_id", 4, 8).cast("int") % 3 == 0)
    out = hamming64_lookup(q, h, "dhash", "image_id", max_hamming=2)
    return out.orderBy("q_id", "match_id")


ORACLE_IMAGE_LOOKUP = """
WITH """ + _SQL_NEAR_DUP_HASHES + """,
bands AS (SELECT i, bnd.g AS band, substr(bits, 1 + 16*bnd.g, 16) AS val,
                 bits
          FROM hashes, (SELECT unnest(range(4)) AS g) bnd),
p AS (SELECT q.i AS qi, g.i AS gi,
             bit_count(xor(q.bits::BIT, g.bits::BIT)) AS dist
      FROM bands q JOIN bands g ON g.band = q.band AND g.val = q.val
      WHERE q.i % 3 = 0 AND g.i <> q.i),
d AS (SELECT DISTINCT qi, gi, dist FROM p WHERE dist <= 2)
SELECT printf('img%08d', qi) AS q_id, printf('img%08d', gi) AS match_id,
       CAST(dist AS INT) AS dist
FROM d ORDER BY q_id, match_id
"""


QUERIES["image_lookup"] = q_image_lookup
ORACLES["image_lookup"] = ORACLE_IMAGE_LOOKUP


def q_random_projection(spark, sf):
    """Signed (±1) random projection to 8 dims, fully ORACLED: the
    sign matrix is md5(i:j:seed) parity recomputed inside DuckDB, and
    every output coordinate is an exact integer dot product over
    grain-landed inputs."""
    from ..operators.similarity import random_projection

    e = _t(spark, sf, "embeddings")
    return random_projection(
        e, in_dim=64, out_dim=8, seed=3
    ).orderBy("vec_id", "j")


ORACLE_RANDOM_PROJECTION = """
WITH t AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                  unnest(embedding::DOUBLE[]) AS x
           FROM embeddings),
u AS (SELECT vec_id, i,
             CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS xu FROM t),
s AS (SELECT u.vec_id, u.i, u.xu, j.g AS j,
             CASE WHEN CAST('0x' || substr(
                          md5(u.i || ':' || j.g || ':3'), 1, 1)
                       AS INT) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM u, (SELECT unnest(range(8)) AS g) j)
SELECT vec_id, CAST(j AS INT) AS j,
       CAST(sum(sgn * xu) AS BIGINT) AS y_u
FROM s GROUP BY vec_id, j ORDER BY vec_id, j
"""


QUERIES["random_projection"] = q_random_projection
ORACLES["random_projection"] = ORACLE_RANDOM_PROJECTION


def q_cohort_retention(spark, sf):
    """Weekly cohort retention matrix over the events stream, fully
    ORACLED: period = integer epoch div (never calendar weekofyear —
    ISO rules differ across engines), cohort = per-user min period,
    retention as one deferred floor division. DuckDB's epoch() keeps
    fractional seconds — floor() first (the zorder rule)."""
    from ..operators.windows import cohort_retention

    ev = _t(spark, sf, "events")
    return cohort_retention(ev).orderBy("cohort", "offset")


ORACLE_COHORT_RETENTION = """
WITH t AS (SELECT DISTINCT user_id AS u,
                  CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w
           FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
c AS (SELECT u, min(w) AS cw FROM t GROUP BY u),
sz AS (SELECT cw, count(*) AS cohort_size FROM c GROUP BY cw),
j AS (SELECT c.cw AS cohort, t.w - c.cw AS off, t.u
      FROM t JOIN c ON c.u = t.u),
a AS (SELECT cohort, off, count(DISTINCT u) AS n_users
      FROM j GROUP BY cohort, off)
SELECT CAST(a.cohort AS BIGINT) AS cohort, CAST(a.off AS BIGINT)
         AS "offset",
       CAST(a.n_users AS BIGINT) AS n_users,
       CAST(sz.cohort_size AS BIGINT) AS cohort_size,
       CAST(a.n_users * 1000000 // sz.cohort_size AS BIGINT)
         AS retention_u
FROM a JOIN sz ON sz.cw = a.cohort
ORDER BY cohort, "offset"
"""


QUERIES["cohort_retention"] = q_cohort_retention
ORACLES["cohort_retention"] = ORACLE_COHORT_RETENTION


# WordPiece fixture vocab, shared verbatim by the Spark query and the
# DuckDB oracle: all single letters as word-initial pieces, all
# continuations EXCEPT ##w (so words with a non-initial 'w' — row,
# slow, window — exercise the whole-word [UNK] rule), plus multi-char
# pieces that exercise longest-match-first.
_WP_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_WP_VOCAB = (
    list(_WP_LETTERS)
    + ["##" + c for c in _WP_LETTERS if c != "w"]
    + ["th", "##ble", "##er", "##ue"]
)


def q_wordpiece(spark, sf):
    """Greedy WordPiece tokenization over every 5th document, fully
    ORACLED: DuckDB replays the max-munch loop as a recursive CTE
    with a LEFT JOIN LATERAL longest-prefix pick per step (length
    DESC, piece ASC — the operator's deterministic order), including
    the whole-word [UNK] failure rule."""
    from ..operators.curation import wordpiece_apply

    d = _t(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    return wordpiece_apply(d, _WP_VOCAB).orderBy(
        "doc_id", "wpos", "pos"
    )


ORACLE_WORDPIECE = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents WHERE doc_id % 5 = 0),
words AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS wpos,
                 unnest(t) AS w
          FROM toks WHERE len(t) > 0),
vocab(piece) AS (SELECT unnest(['__VOCAB__'])),
v AS (SELECT piece,
             CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
                  ELSE piece END AS core,
             (piece LIKE '##%') AS cont
      FROM vocab),
step(doc_id, wpos, k, rest, piece, fail) AS (
  SELECT doc_id, wpos, 0, w, CAST(NULL AS VARCHAR), FALSE FROM words
  UNION ALL
  SELECT s.doc_id, s.wpos, s.k + 1,
         CASE WHEN b.piece IS NULL THEN ''
              ELSE substr(s.rest, length(b.core) + 1) END,
         b.piece,
         b.piece IS NULL
  FROM step s LEFT JOIN LATERAL (
    SELECT v.piece AS piece, v.core AS core
    FROM v WHERE v.cont = (s.k > 0) AND starts_with(s.rest, v.core)
    ORDER BY length(v.core) DESC, v.piece LIMIT 1
  ) b ON TRUE
  WHERE s.rest <> '' AND NOT s.fail
),
failset AS (SELECT DISTINCT doc_id, wpos FROM step WHERE fail),
pieces AS (SELECT doc_id, wpos, k - 1 AS pos, piece FROM step
           WHERE piece IS NOT NULL),
ok AS (SELECT p.* FROM pieces p LEFT JOIN failset f
        ON f.doc_id = p.doc_id AND f.wpos = p.wpos
       WHERE f.doc_id IS NULL)
SELECT doc_id, CAST(wpos AS INT) AS wpos, CAST(pos AS INT) AS pos,
       piece FROM ok
UNION ALL
SELECT doc_id, CAST(wpos AS INT), CAST(0 AS INT), '[UNK]' FROM failset
ORDER BY doc_id, wpos, pos
""".replace("'__VOCAB__'", ", ".join(f"'{p}'" for p in _WP_VOCAB))


QUERIES["wordpiece"] = q_wordpiece
ORACLES["wordpiece"] = ORACLE_WORDPIECE


def q_dataset_fingerprint(spark, sf):
    """Order-independent dataset content fingerprint, fully ORACLED:
    per-row md5 over sentinel-joined columns (explicit NULL marker —
    concat_ws would skip nulls and collide), 15-hex conv/CAST parity,
    DECIMAL(38,0)/HUGEINT sums, driver-side big-int modulo."""
    from ..operators.resume import dataset_fingerprint

    d = _t(spark, sf, "documents")
    return dataset_fingerprint(d, ["text", "lang", "source"])


ORACLE_DATASET_FINGERPRINT = """
WITH d AS (SELECT text, lang, source,
                  coalesce(text, chr(0) || 'NULL' || chr(0))
                  || chr(31) ||
                  coalesce(lang, chr(0) || 'NULL' || chr(0))
                  || chr(31) ||
                  coalesce(source, chr(0) || 'NULL' || chr(0)) AS s
           FROM documents),
h AS (SELECT text, lang, source,
             CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS v FROM d)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(v AS HUGEINT))
            % CAST('1152921504606846976' AS HUGEINT) AS BIGINT) AS fp_u,
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_text,
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_lang,
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_source
FROM h
"""


QUERIES["dataset_fingerprint"] = q_dataset_fingerprint
ORACLES["dataset_fingerprint"] = ORACLE_DATASET_FINGERPRINT


def q_label_spread(spark, sf):
    """One-hop kNN label propagation (pseudo-labeling), ORACLED on
    ranks and votes: neighbor ranks are float-cosine compares with
    fixture margins far above cross-engine drift (the
    retrieval_recall precedent), the majority vote and its
    (count DESC, label ASC) tiebreak are pure integers."""
    from ..operators.similarity import knn_label_spread

    e = _t(spark, sf, "embeddings")
    unl = e.filter(F.col("vec_id") < 50).select("vec_id", "embedding")
    lab = e.filter(F.col("vec_id") >= 50)
    return knn_label_spread(unl, lab, k=7).orderBy("vec_id")


ORACLE_LABEL_SPREAD = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 50),
r AS (SELECT q.qid, c.label,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_cosine_similarity(c.v, q.qv) DESC,
                        c.vec_id ASC) AS rk
      FROM q, c),
nn AS (SELECT qid, label FROM r WHERE rk <= 7),
vt AS (SELECT qid, label, count(*) AS votes FROM nn GROUP BY qid, label),
tot AS (SELECT qid, count(*) AS n_neighbors FROM nn GROUP BY qid),
pick AS (SELECT qid, label, votes,
                row_number() OVER (
                  PARTITION BY qid
                  ORDER BY votes DESC, label ASC) AS pr
         FROM vt)
SELECT pick.qid AS vec_id, CAST(pick.label AS INT) AS pred_label,
       CAST(pick.votes AS BIGINT) AS votes,
       CAST(tot.n_neighbors AS BIGINT) AS n_neighbors
FROM pick JOIN tot ON tot.qid = pick.qid
WHERE pick.pr = 1 ORDER BY vec_id
"""


QUERIES["label_spread"] = q_label_spread
ORACLES["label_spread"] = ORACLE_LABEL_SPREAD


def q_fuzzy_match(spark, sf):
    """Edit-distance join of the corpus vocabulary against
    deterministically corrupted variants (one md5-chosen char
    dropped), fully ORACLED — and the oracle computes ground truth as
    the UNBLOCKED all-pairs levenshtein, so a false negative in the
    length-band blocking would fail the compare, not just a value
    mismatch."""
    from ..operators.dedup import fuzzy_join
    from ..operators.text import nonempty_tokens_col

    d = _t(spark, sf, "documents")
    vocab = d.select(
        F.explode(nonempty_tokens_col(F.col("text"))).alias("w")
    ).distinct().persist()  # vocabulary-sized; feeds both join sides —
    # unpersisted, the corpus explode+distinct ran twice (round 6)
    p = md5_int(md5_hex(F.col("w"), ":fz"), 1, 1).cast("int") % F.length("w")
    corrupted = vocab.filter(F.length("w") >= 2).select(
        F.col("w").alias("src_token"),
        F.concat(
            F.substring(F.col("w"), 1, p),
            F.col("w").substr(p + 2, F.lit(100)),
        ).alias("cw"),
    )
    left = vocab.select(F.col("w").alias("vocab_token"),
                        F.col("w").alias("lv"))
    right = corrupted.select("src_token", F.col("cw").alias("rv"))
    out = fuzzy_join(left, right, "lv", "rv", "vocab_token",
                     "src_token", max_dist=2)
    return out.orderBy("vocab_token", "src_token")


ORACLE_FUZZY_MATCH = r"""
WITH toks AS (
  SELECT list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
vocab AS (SELECT DISTINCT unnest(t) AS w FROM toks WHERE len(t) > 0),
corr AS (SELECT w AS src_token,
                substr(w, 1, CAST('0x' || substr(md5(w || ':fz'), 1, 1)
                                  AS INT) % length(w))
                || substr(w, CAST('0x' || substr(md5(w || ':fz'), 1, 1)
                                  AS INT) % length(w) + 2) AS cw
         FROM vocab WHERE length(w) >= 2)
SELECT v.w AS vocab_token, c.src_token,
       CAST(levenshtein(v.w, c.cw) AS INT) AS dist
FROM vocab v, corr c
WHERE levenshtein(v.w, c.cw) <= 2
ORDER BY vocab_token, src_token
"""


QUERIES["fuzzy_match"] = q_fuzzy_match
ORACLES["fuzzy_match"] = ORACLE_FUZZY_MATCH


def q_tfidf_keywords(spark, sf):
    """Per-doc top-3 keywords by the integer tf-idf surrogate
    (tf·N·grain div df — the log-idf variant would put a float in the
    compare), fully ORACLED: tf/df counts, the one deferred division,
    and the (score DESC, token ASC) rank all replay in DuckDB."""
    from ..operators.text import tfidf_keywords

    d = _t(spark, sf, "documents")
    return tfidf_keywords(d, top_k=3).orderBy("doc_id", "rank")


ORACLE_TFIDF_KEYWORDS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
tok AS (SELECT doc_id, unnest(t) AS w FROM toks WHERE len(t) > 0),
tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
dfq AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w),
n AS (SELECT count(*) AS nd FROM documents WHERE text IS NOT NULL),
s AS (SELECT tf.doc_id, tf.w, tf.tf, dfq.df,
             (tf.tf * (SELECT nd FROM n) * 1000000) // dfq.df
               AS score_u
      FROM tf JOIN dfq ON dfq.w = tf.w),
r AS (SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score_u DESC, w ASC) AS rank
      FROM s)
SELECT doc_id, CAST(rank AS INT) AS rank, w AS token,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score_u AS BIGINT) AS score_u
FROM r WHERE rank <= 3 ORDER BY doc_id, rank
"""


QUERIES["tfidf_keywords"] = q_tfidf_keywords
ORACLES["tfidf_keywords"] = ORACLE_TFIDF_KEYWORDS


def q_mmr_select(spark, sf):
    """Maximal-Marginal-Relevance diverse top-5 (λ=1/2, doubled so the
    objective stays integer), fully ORACLED: every pick unrolls as a
    MATERIALIZED CTE pair (the coreset technique) with the same
    GREATEST-of-dots redundancy term, literal-id exclusion, and
    (objective DESC, id ASC) tiebreak."""
    from ..operators.similarity import mmr_select

    e = spread(_t(spark, sf, "embeddings"))  # 1-split scan; each
    # MMR pick re-scans it (round 6)
    scored = e.withColumn(
        "rel_u", md5_int(md5_hex(F.col("vec_id"), ":mmr"), 1, 5) % 1000001
    )
    return mmr_select(scored, k=5).orderBy("rank")


def _mmr_oracle(k: int) -> str:
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id,"
        " CAST('0x' || substr(md5(vec_id || ':mmr'), 1, 5) AS BIGINT)"
        " % 1000001 AS rel,"
        " list_transform(embedding::DOUBLE[],"
        " x -> CAST(floor(x*1000000 + 0.5) AS BIGINT)) AS v"
        " FROM embeddings)",
        "s0 AS (SELECT vec_id, rel, v FROM e"
        " ORDER BY rel DESC, vec_id ASC LIMIT 1)",
    ]
    for i in range(1, k):
        dots = [
            "list_sum(list_transform(list_zip(e.v,"
            f" (SELECT v FROM s{j})), p -> p[1]*p[2]))"
            for j in range(i)
        ]
        ms = dots[0] if len(dots) == 1 else (
            "GREATEST(" + ", ".join(dots) + ")"
        )
        excl = " AND ".join(
            f"e.vec_id <> (SELECT vec_id FROM s{j})" for j in range(i)
        )
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT e.vec_id, e.rel, e.v,"
            f" {ms} AS ms FROM e WHERE {excl})"
        )
        parts.append(
            f"s{i} AS (SELECT vec_id, rel, v, 2*rel - ms AS obj"
            f" FROM m{i} ORDER BY obj DESC, vec_id ASC LIMIT 1)"
        )
    union = [
        "SELECT CAST(0 AS INT) AS rank, vec_id,"
        " CAST(2*rel AS BIGINT) AS objective_u FROM s0"
    ]
    for i in range(1, k):
        union.append(
            f"SELECT CAST({i} AS INT), vec_id, CAST(obj AS BIGINT)"
            f" FROM s{i}"
        )
    return (
        ",\n".join(parts) + "\n" + "\nUNION ALL ".join(union)
        + "\nORDER BY rank"
    )


QUERIES["mmr_select"] = q_mmr_select
ORACLES["mmr_select"] = _mmr_oracle(5)


def q_rate_limit(spark, sf):
    """Deterministic rate-limit replay (5-minute windows, quota 3 per
    user), fully ORACLED: the window index is integer epoch div, the
    in-window rank orders by (ts, event_id), and the allow/deny bit is
    one integer compare."""
    from ..operators.windows import rate_limit_plan

    ev = _t(spark, sf, "events")
    out = rate_limit_plan(ev, window_seconds=300, quota=3)
    return out.select(
        "event_id", "win", "rank_in_window", "allowed"
    ).orderBy("event_id")


ORACLE_RATE_LIMIT = """
WITH t AS (SELECT event_id, user_id, ts,
                  CAST(floor(epoch(ts)) AS BIGINT) // 300 AS win
           FROM events),
r AS (SELECT event_id, win,
             row_number() OVER (
               PARTITION BY user_id, win
               ORDER BY ts ASC, event_id ASC) AS rk
      FROM t)
SELECT event_id, CAST(win AS BIGINT) AS win,
       CAST(rk AS INT) AS rank_in_window,
       CAST(CASE WHEN rk <= 3 THEN 1 ELSE 0 END AS INT) AS allowed
FROM r ORDER BY event_id
"""


QUERIES["rate_limit"] = q_rate_limit
ORACLES["rate_limit"] = ORACLE_RATE_LIMIT


def q_shuffle_audit(spark, sf):
    """Shuffle-quality audit (longest same-language run per shard in
    an md5 serving order), fully ORACLED: the lag + change-flag run
    cumsum replays per shard in DuckDB."""
    from ..operators.windows import shard_shuffle_audit

    d = _t(spark, sf, "documents").select(
        F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("shard"),
        md5_hex(F.col("doc_id"), ":sa").alias("ord"),
        "lang",
    )
    return shard_shuffle_audit(d, "shard", "ord", "lang").orderBy(
        "shard"
    )


ORACLE_SHUFFLE_AUDIT = """
WITH t AS (SELECT CAST(doc_id % 8 AS INT) AS shard,
                  md5(doc_id || ':sa') AS o, lang
           FROM documents),
f AS (SELECT shard, o, lang,
             CASE WHEN lag(lang) OVER w IS NULL
                    OR lag(lang) OVER w <> lang THEN 1 ELSE 0 END AS chg
      FROM t WINDOW w AS (PARTITION BY shard ORDER BY o ASC)),
r AS (SELECT shard,
             sum(chg) OVER (PARTITION BY shard ORDER BY o ASC
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM f),
pr AS (SELECT shard, run, count(*) AS len FROM r GROUP BY shard, run)
SELECT shard, CAST(sum(len) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(len) AS BIGINT) AS max_run
FROM pr GROUP BY shard ORDER BY shard
"""


QUERIES["shuffle_audit"] = q_shuffle_audit
ORACLES["shuffle_audit"] = ORACLE_SHUFFLE_AUDIT


def q_substring_dedup(spark, sf):
    """Corpus-wide exact-substring dedup (the ExactSubstr rule of Lee
    et al. at token 8-gram granularity), fully ORACLED: DuckDB rebuilds
    every token 8-gram, picks the same (doc_id, pos) winners, unions
    the removal spans, and reassembles each document token-for-token.
    Token text never crosses a Spark exchange — only (id, pos, digest)
    rows shuffle (the dedup_paragraphs scale contract)."""
    from ..operators.dedup import dedup_substrings

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    out = dedup_substrings(d, n=8)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_removed").cast("int").alias("n_removed"),
        "clean_text",
    ).orderBy("doc_id")


ORACLE_SUBSTRING_DEDUP = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents WHERE text IS NOT NULL),
g AS (SELECT doc_id, u.g AS pos,
             md5(array_to_string(l[u.g+1:u.g+8], ' ')) AS d
      FROM toks,
           LATERAL (SELECT unnest(range(greatest(len(l)-7, 0))) AS g) u),
w AS (SELECT doc_id, pos,
             row_number() OVER (PARTITION BY d ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY d) AS c
      FROM g),
rm AS (SELECT DISTINCT doc_id, pos + s.g AS tp
       FROM w, LATERAL (SELECT unnest(range(8)) AS g) s
       WHERE c > 1 AND rn > 1),
tok AS (SELECT doc_id, u.g AS p, l[u.g+1] AS tk
        FROM toks, LATERAL (SELECT unnest(range(len(l))) AS g) u),
cleaned AS (SELECT t.doc_id, string_agg(tk, ' ' ORDER BY p) AS ct
            FROM tok t LEFT JOIN rm ON rm.doc_id = t.doc_id AND rm.tp = t.p
            WHERE rm.tp IS NULL GROUP BY t.doc_id),
nrm AS (SELECT doc_id, count(*) AS nr FROM rm GROUP BY doc_id)
SELECT toks.doc_id, CAST(len(l) AS INT) AS n_tokens,
       CAST(coalesce(nrm.nr, 0) AS INT) AS n_removed,
       coalesce(cleaned.ct, '') AS clean_text
FROM toks LEFT JOIN cleaned USING (doc_id) LEFT JOIN nrm USING (doc_id)
ORDER BY doc_id
"""


QUERIES["substring_dedup"] = q_substring_dedup
ORACLES["substring_dedup"] = ORACLE_SUBSTRING_DEDUP


def q_orbit_dedup(spark, sf):
    """D4-orbit-canonical dHash dedup (augmentation-invariant image
    dedup), fully ORACLED: all 8 dihedral dHash variants replay
    closed-form in DuckDB as anchor coordinate remaps of the pixel
    formula, the canonical hash is their lexicographic least, and
    rotated/flipped copies land on the base image's canonical hash by
    exact group closure (the orbit of a transformed copy is the SAME
    set of arrays)."""
    from ..operators.images import orbit_dedup, transform_images
    from ..sources.images import formula_images_df

    rid = F.regexp_extract("image_id", r"img(\d+)", 1).cast("int")
    base = formula_images_df(spark, 12).select("image_id", "bytes", "fmt")
    rot = transform_images(
        formula_images_df(spark, 12).filter(rid % 4 == 0), "rot90"
    ).select(
        F.concat("image_id", F.lit("_r")).alias("image_id"), "bytes", "fmt"
    )
    flip = transform_images(
        formula_images_df(spark, 12).filter(rid % 4 == 1), "flip_h"
    ).select(
        F.concat("image_id", F.lit("_f")).alias("image_id"), "bytes", "fmt"
    )
    allimgs = base.unionByName(rot).unionByName(flip)
    return orbit_dedup(allimgs).orderBy("image_id")


def _orbit_dedup_oracle_sql() -> str:
    """Generate the 8-transform dHash replay: per dihedral element the
    anchor-resize source pixel is a pure coordinate remap of the
    formula (maps verified numerically against np.rot90/fliplr)."""
    maps = [
        ("w", "h", "{AC}", "{AR}"),
        ("h", "w", "w-1-({AR})", "{AC}"),
        ("w", "h", "w-1-({AC})", "h-1-({AR})"),
        ("h", "w", "{AR}", "h-1-({AC})"),
        ("w", "h", "w-1-({AC})", "{AR}"),
        ("h", "w", "{AR}", "{AC}"),
        ("w", "h", "{AC}", "h-1-({AR})"),
        ("h", "w", "w-1-({AR})", "h-1-({AC})"),
    ]
    ctes = []
    for t, (dw, dh, sx, sy) in enumerate(maps):
        ac = f"((rx.g*{dw})//9)"
        ar = f"((ry.g*{dh})//8)"
        sxe = sx.format(AC=ac, AR=ar)
        sye = sy.format(AC=ac, AR=ar)
        ctes.append(
            f"""
d{t} AS (SELECT i, ry.g AS r, rx.g AS c,
              (i*31 + ({sxe})*7 + ({sye})*13) % 256 AS v
       FROM dims, (SELECT unnest(range(8)) AS g) ry,
            (SELECT unnest(range(9)) AS g) rx),
b{t} AS (SELECT a.i, string_agg(CASE WHEN a.v < b.v THEN '1' ELSE '0' END,
                '' ORDER BY a.r, a.c) AS bits
       FROM d{t} a JOIN d{t} b ON a.i = b.i AND a.r = b.r AND b.c = a.c + 1
       WHERE a.c < 8 GROUP BY a.i)"""
        )
    joins = " ".join(f"JOIN b{t} ON b{t}.i = b0.i" for t in range(1, 8))
    least = ", ".join(f"b{t}.bits" for t in range(8))
    return (
        "WITH ids AS (SELECT unnest(range(12)) AS i),\n"
        + _SQL_FORMULA_DIMS
        + ","
        + ",".join(ctes)
        + f""",
canon AS (SELECT b0.i, least({least}) AS cb FROM b0 {joins}),
rows_ AS (SELECT printf('img%08d', i) AS image_id, cb FROM canon
          UNION ALL
          SELECT printf('img%08d', i) || '_r' AS image_id, cb
          FROM canon WHERE i % 4 = 0
          UNION ALL
          SELECT printf('img%08d', i) || '_f' AS image_id, cb
          FROM canon WHERE i % 4 = 1),
keep AS (SELECT cb, min(image_id) AS keeper_id FROM rows_ GROUP BY cb)
SELECT r.image_id, r.cb AS obits, k.keeper_id,
       r.image_id <> k.keeper_id AS is_dup
FROM rows_ r JOIN keep k USING (cb) ORDER BY r.image_id
"""
    )


QUERIES["orbit_dedup"] = q_orbit_dedup
ORACLES["orbit_dedup"] = _orbit_dedup_oracle_sql()


def q_annotator_vote(spark, sf):
    """Crowd-label majority-vote aggregation, fully ORACLED: 5
    md5-seeded noisy annotators per document (flip when the first hex
    digit < 4), per-item argmax with the (votes DESC, label ASC)
    tiebreak, runner-up votes, and totals all replay in DuckDB via the
    row_number rank — Spark's zero-shuffle sort_array(struct) argmax
    uses the identical order."""
    from ..operators.classify import majority_vote

    d = _t(spark, sf, "documents").select("doc_id")
    ann = (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("a"),
        )
        .select(
            "doc_id",
            md5_int(md5_hex(F.col("doc_id"), ":", F.col("a")), 1, 1)
            .cast("int")
            .alias("dg"),
            F.pmod(F.col("doc_id"), F.lit(5)).cast("int").alias("t"),
        )
        .select(
            "doc_id",
            F.when(
                F.col("dg") < 4,
                F.pmod(F.col("t") + 1 + F.col("dg"), F.lit(5)),
            )
            .otherwise(F.col("t"))
            .cast("int")
            .alias("label"),
        )
    )
    return majority_vote(ann, "doc_id", "label").orderBy("doc_id")


ORACLE_ANNOTATOR_VOTE = """
WITH ann AS (
  SELECT doc_id, g.g AS a,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                 CAST(g.g AS VARCHAR)), 1, 1) AS INT) AS dg,
         CAST(doc_id % 5 AS INT) AS t
  FROM documents, (SELECT unnest(range(5)) AS g) g),
lab AS (SELECT doc_id,
               CASE WHEN dg < 4 THEN (t + 1 + dg) % 5 ELSE t END AS label
        FROM ann),
c AS (SELECT doc_id, label, count(*) AS c FROM lab GROUP BY doc_id, label),
r AS (SELECT doc_id, label, c,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, label ASC) AS rn,
             sum(c) OVER (PARTITION BY doc_id) AS total
      FROM c)
SELECT r1.doc_id, CAST(r1.label AS INT) AS maj_label,
       CAST(r1.c AS BIGINT) AS maj_votes,
       CAST(coalesce(r2.c, 0) AS BIGINT) AS second_votes,
       CAST(r1.total AS BIGINT) AS total_votes
FROM r r1 LEFT JOIN r r2 ON r2.doc_id = r1.doc_id AND r2.rn = 2
WHERE r1.rn = 1 ORDER BY r1.doc_id
"""


QUERIES["annotator_vote"] = q_annotator_vote
ORACLES["annotator_vote"] = ORACLE_ANNOTATOR_VOTE


def q_frame_dedup(spark, sf):
    """Consecutive-video-frame near-dup thinning, fully ORACLED: flat
    MJPEG frames with a plateau value formula (pairs k, k+1 share a
    value; every third video perturbs odd frames by exactly 1) decode
    exactly at q97; the 8x8 grid SSE and the keep decision replay
    closed-form in DuckDB via a lag window over the formula."""
    import numpy as np
    import pandas as pd

    from ..codecs.avi import encode_mjpeg_avi
    from ..operators.multimodal import dedup_frames

    def gen(batches):
        for b in batches:
            vids, blobs = [], []
            for i in b["id"].values:
                i = int(i)
                frames = [
                    np.full(
                        (16, 16),
                        (
                            10 * i
                            + 7 * (k // 2)
                            + (1 if (k % 2 == 1 and i % 3 == 0) else 0)
                        )
                        % 256,
                        dtype=np.uint8,
                    )
                    for k in range(6)
                ]
                vids.append(f"v{i:03d}")
                blobs.append(encode_mjpeg_avi(frames, fps=10))
            yield pd.DataFrame({"video_id": vids, "bytes": blobs})

    videos = spark.range(8).mapInPandas(gen, "video_id string, bytes binary")
    return dedup_frames(videos, every_n=1, grid=8, thr=100).orderBy(
        "video_id", "frame_idx"
    )


ORACLE_FRAME_DEDUP = """
WITH v AS (SELECT unnest(range(8)) AS i),
k AS (SELECT unnest(range(6)) AS k),
f AS (SELECT i, k,
             (10*i + 7*(k//2)
              + CASE WHEN k % 2 = 1 AND i % 3 = 0 THEN 1 ELSE 0 END)
             % 256 AS val
      FROM v, k),
l AS (SELECT i, k, val,
             lag(val) OVER (PARTITION BY i ORDER BY k) AS pv
      FROM f)
SELECT printf('v%03d', i) AS video_id, CAST(k AS INT) AS frame_idx,
       CAST(CASE WHEN pv IS NULL THEN NULL
                 ELSE 64*(val-pv)*(val-pv) END AS BIGINT) AS grid_sse,
       (pv IS NULL OR 64*(val-pv)*(val-pv) > 100) AS keep
FROM l ORDER BY video_id, frame_idx
"""


QUERIES["frame_dedup"] = q_frame_dedup
ORACLES["frame_dedup"] = ORACLE_FRAME_DEDUP


def _synth_url(did):
    """Deterministic messy raw URL from a doc_id — the formula-pixels
    oracle technique applied to web provenance: scheme/host case noise,
    default and non-default ports, /index.html suffixes, unsorted query
    params with a utm_ tracker, fragments. The DuckDB oracle builds the
    IDENTICAL string with || casts and replays the canonicalization."""
    return F.concat(
        F.when(did % 3 == 0, F.lit("HTTP"))
        .when(did % 3 == 1, F.lit("https"))
        .otherwise(F.lit("hTTp")),
        F.lit("://WWW.Site"),
        (did % 7).cast("string"),
        F.lit(".Example.COM"),
        F.when(did % 4 == 0, F.lit(":80"))
        .when(did % 4 == 1, F.lit(":443"))
        .when(did % 4 == 2, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/a/"),
        (did % 5).cast("string"),
        F.when(did % 6 == 0, F.lit("/index.html")).otherwise(F.lit("")),
        F.when(did % 2 == 0, F.concat(F.lit("?b=2&utm_source=x&a="), (did % 3).cast("string")))
        .otherwise(F.concat(F.lit("?a="), (did % 3).cast("string"), F.lit("&b=2"))),
        F.when(did % 2 == 1, F.lit("#frag")).otherwise(F.lit("")),
    )


def q_url_dedup(spark, sf):
    """Canonical-URL dedup — the first pass of every web-corpus build
    (C4/RefinedWeb dedup by canonical URL before any content pass).
    Raw URLs are synthesized from doc_id (formula technique), then
    fragment/case/default-port/index.html/utm/param-order noise is
    normalized away (operators/web.py, pure JVM regexp+HOF — zero
    exchanges) and docs group on the canonical key: one shuffle of
    short canonical strings, document text never moves. Fully ORACLED:
    DuckDB rebuilds the same raw strings and replays every rule."""
    from ..operators.web import normalize_urls

    d = _t(spark, sf, "documents")
    t = d.select("doc_id", _synth_url(F.col("doc_id")).alias("url"))
    n = normalize_urls(t)
    return (
        n.groupBy("canonical_url")
        .agg(
            F.min("domain").alias("domain"),
            F.min("host").alias("host"),
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .orderBy("canonical_url")
    )


# shared canonicalization CTE chain (raw synth URLs -> s7 with
# doc_id/canonical_url/host/domain) — used by the url_dedup oracle and
# the composed text_curation_v2 oracle
_SQL_URL_CANON = r"""raw AS (
  SELECT doc_id,
         (CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https'
               ELSE 'hTTp' END)
         || '://WWW.Site' || (doc_id % 7) || '.Example.COM'
         || (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                  WHEN 2 THEN ':8080' ELSE '' END)
         || '/a/' || (doc_id % 5)
         || (CASE WHEN doc_id % 6 = 0 THEN '/index.html' ELSE '' END)
         || (CASE WHEN doc_id % 2 = 0
                  THEN '?b=2&utm_source=x&a=' || (doc_id % 3)
                  ELSE '?a=' || (doc_id % 3) || '&b=2' END)
         || (CASE WHEN doc_id % 2 = 1 THEN '#frag' ELSE '' END) AS url
  FROM documents),
s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u FROM raw),
s2 AS (SELECT doc_id,
              lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1))
                AS scheme,
              regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS rest
       FROM s1),
s3 AS (SELECT doc_id, scheme,
              lower(regexp_extract(rest, '^([^/?]+)', 1)) AS hostport,
              regexp_replace(rest, '^[^/?]+', '') AS pathq
       FROM s2),
s4 AS (SELECT doc_id, scheme, hostport,
              CASE scheme
                WHEN 'http' THEN regexp_replace(hostport, ':80$', '')
                WHEN 'https' THEN regexp_replace(hostport, ':443$', '')
                ELSE hostport END AS chost,
              regexp_replace(
                regexp_extract(pathq, '^([^?]*)', 1),
                '/index\.html$', '/') AS path0,
              regexp_extract(pathq, '\?(.*)$', 1) AS q
       FROM s3),
s5 AS (SELECT doc_id, scheme, hostport, chost,
              CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
              array_to_string(
                list_sort(list_filter(string_split(q, '&'),
                  p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&') AS qs
       FROM s4),
s6 AS (SELECT doc_id,
              scheme || '://' || chost || path
                || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END)
                AS canonical_url,
              regexp_replace(hostport, ':[0-9]+$', '') AS host
       FROM s5),
s7 AS (SELECT doc_id, canonical_url, host,
              CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) = ''
                   THEN host
                   ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                   END AS domain
       FROM s6)"""

ORACLE_URL_DEDUP = (
    "WITH " + _SQL_URL_CANON + """
SELECT canonical_url, min(domain) AS domain, min(host) AS host,
       count(*) AS n_docs, min(doc_id) AS keep_id
FROM s7 GROUP BY canonical_url ORDER BY canonical_url
"""
)

QUERIES["url_dedup"] = q_url_dedup
ORACLES["url_dedup"] = ORACLE_URL_DEDUP


_LM2_ALPHA = 0.5


def q_bigram_lm(spark, sf):
    """CCNet-style order-2 LM quality filter: train the add-alpha
    bigram model on the corpus (one pair-count pass; the shuffle
    carries (w1,w2) partial counts, never documents) and score every
    document by mean bigram log-prob with three-level backoff
    (pair -> per-context OOV -> global). The oracle retrains and
    rescores from scratch in SQL with the same micro-integer sums."""
    from ..operators.text import score_bigram_lm, train_bigram_lm

    d = _t(spark, sf, "documents")
    model = train_bigram_lm(d, alpha=_LM2_ALPHA)
    return score_bigram_lm(d, model).orderBy("doc_id")


ORACLE_BIGRAM_LM = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
tk AS (SELECT doc_id, x AS token FROM toks, unnest(toks.t) AS u(x)),
vv AS (SELECT count(DISTINCT token)::DOUBLE AS V FROM tk),
bg AS (SELECT doc_id, t[x] AS w1, t[x + 1] AS w2
       FROM toks, unnest(range(1, len(t))) AS u(x)),
c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, sum(c) AS c1 FROM c12 GROUP BY w1),
model AS (SELECT c12.w1, c12.w2,
                 round(ln((c12.c + {_LM2_ALPHA})
                          / (ctx.c1 + {_LM2_ALPHA} * (SELECT V FROM vv))), 6)
                   AS logp
          FROM c12 JOIN ctx ON ctx.w1 = c12.w1),
ctxm AS (SELECT w1,
                round(ln({_LM2_ALPHA}
                         / (c1 + {_LM2_ALPHA} * (SELECT V FROM vv))), 6)
                  AS logp
         FROM ctx),
gl AS (SELECT round(ln(1.0 / (SELECT V FROM vv)), 6) AS logp),
sc AS (
  SELECT bg.doc_id,
         round(sum(CAST(round(coalesce(m.logp, c.logp,
                                       (SELECT logp FROM gl))
                              * 1000000.0) AS BIGINT))
               / (count(*) * 1000000.0), 6) AS lm2_score,
         count(*) AS n_bigrams
  FROM bg LEFT JOIN model m ON m.w1 = bg.w1 AND m.w2 = bg.w2
          LEFT JOIN ctxm c ON c.w1 = bg.w1
  GROUP BY bg.doc_id)
SELECT d.doc_id,
       coalesce(sc.lm2_score, 0.0) AS lm2_score,
       CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams
FROM documents d LEFT JOIN sc USING (doc_id)
ORDER BY d.doc_id
"""

QUERIES["bigram_lm"] = q_bigram_lm
ORACLES["bigram_lm"] = ORACLE_BIGRAM_LM


_BLOCK_TERMS = ["error", "slow", "crash"]


def q_blocklist(spark, sf):
    """Token-level blocklist audit (the C4 bad-words pass): sorted
    deduped intersection of each document's tokens with a literal term
    list — row-local JVM array ops, no join, no shuffle. Fully ORACLED
    (list_filter/list_distinct/list_sort replay byte-wise)."""
    from ..operators.text import blocklist_hits

    d = _t(spark, sf, "documents")
    return blocklist_hits(d, _BLOCK_TERMS).orderBy("doc_id")


ORACLE_BLOCKLIST = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
i AS (SELECT doc_id,
             list_sort(list_distinct(list_filter(t,
               x -> list_contains(['crash', 'error', 'slow'], x)))) AS h
      FROM toks)
SELECT d.doc_id,
       CAST(coalesce(len(i.h), 0) AS INT) AS n_hits,
       coalesce(array_to_string(i.h, ','), '') AS hits,
       CAST(CASE WHEN coalesce(len(i.h), 0) > 0 THEN 1 ELSE 0 END AS INT)
         AS blocked
FROM documents d LEFT JOIN i USING (doc_id)
ORDER BY d.doc_id
"""

QUERIES["blocklist"] = q_blocklist
ORACLES["blocklist"] = ORACLE_BLOCKLIST


def q_gap_fill(spark, sf):
    """Per-user time-series regularization onto a 12-hour grid with
    exact-integer linear interpolation (micro-cent values, epoch-second
    axis, sign-split division), fully ORACLED: DuckDB rebuilds the grid
    with range() and resolves prev/next observations with its native
    ASOF JOIN in both directions — the nearest-row oracle."""
    from ..operators.windows import gap_fill

    e = _t(spark, sf, "events")
    return gap_fill(e, step_s=43200).orderBy("user_id", "grid_ts")


ORACLE_GAP_FILL = """
WITH obs AS (
  SELECT user_id AS e, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY e, CAST(floor(epoch(ts)) AS BIGINT)),
b AS (SELECT e, min(t) AS mn, max(t) AS mx FROM obs GROUP BY e),
grid AS (SELECT e, unnest(range(mn, mx + 1, 43200)) AS g FROM b),
p AS (SELECT grid.e, grid.g, o.t AS pt, o.v AS pv
      FROM grid ASOF JOIN obs o ON grid.e = o.e AND grid.g >= o.t),
n AS (SELECT grid.e, grid.g, o.t AS nt, o.v AS nv
      FROM grid ASOF JOIN obs o ON grid.e = o.e AND grid.g <= o.t),
j AS (SELECT p.e, p.g, pt, pv, nt, nv
      FROM p JOIN n ON n.e = p.e AND n.g = p.g)
SELECT e AS user_id, g AS grid_ts,
       CASE WHEN nt = pt THEN pv
            ELSE pv + (CASE WHEN nv >= pv THEN 1 ELSE -1 END)
                      * ((abs(nv - pv) * (g - pt)) // (nt - pt)) END
         AS value_u,
       pt AS prev_ts, nt AS next_ts
FROM j ORDER BY user_id, grid_ts
"""

QUERIES["gap_fill"] = q_gap_fill
ORACLES["gap_fill"] = ORACLE_GAP_FILL


def q_winsorize(spark, sf):
    """Per-event-type winsorization at the exact disc p05/p95 bounds
    (rank = (n-1)*q div 1 + 1 under (value, id) order on the micro-cent
    grid), fully ORACLED: counts, ranks, bound rows and the clip all
    replay in SQL with identical integer arithmetic."""
    from ..operators.curation import winsorize

    e = _t(spark, sf, "events")
    return winsorize(
        e, group_col="event_type", value_col="value", id_col="event_id"
    ).orderBy("event_type", "event_id")


ORACLE_WINSORIZE = """
WITH base AS (
  SELECT event_type AS g, event_id AS id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
c AS (SELECT g, count(*) AS n FROM base GROUP BY g),
r AS (SELECT base.*, row_number() OVER
        (PARTITION BY g ORDER BY v ASC, id ASC) AS rk
      FROM base),
lo AS (SELECT r.g, r.v AS lo_u FROM r JOIN c ON c.g = r.g
       WHERE r.rk = (c.n - 1) * 5 // 100 + 1),
hi AS (SELECT r.g, r.v AS hi_u FROM r JOIN c ON c.g = r.g
       WHERE r.rk = (c.n - 1) * 95 // 100 + 1)
SELECT base.g AS event_type, base.id AS event_id, base.v AS value_u,
       lo.lo_u, hi.hi_u,
       least(greatest(base.v, lo.lo_u), hi.hi_u) AS clipped_u
FROM base JOIN lo ON lo.g = base.g JOIN hi ON hi.g = base.g
ORDER BY event_type, event_id
"""

QUERIES["winsorize"] = q_winsorize
ORACLES["winsorize"] = ORACLE_WINSORIZE


def q_best_of_burst(spark, sf):
    """Burst dedup — keep the sharpest member of each 3-image burst by
    integer Laplacian energy, fully ORACLED: lap_sq_sum replays from
    the pixel formula at shifted coordinates (the image_gradients
    oracle), the argmax as a row_number pick with the id tiebreak."""
    from ..operators.images import best_of_burst
    from ..sources.images import formula_images_df

    imgs = formula_images_df(spark, 12).withColumn(
        "burst_id",
        F.expr(
            "'b' || CAST(CAST(substring(image_id, 4) AS BIGINT) div 3"
            " AS STRING)"
        ),
    )
    return best_of_burst(imgs, group_col="burst_id").orderBy("burst_id")


ORACLE_BEST_OF_BURST = """
WITH ids AS (SELECT unnest(range(12)) AS i),
""" + _SQL_FORMULA_DIMS + """,
g AS (SELECT i,
             4 * ((i*31 + x.g*7 + y.g*13) % 256)
               - (i*31 + (x.g+1)*7 + y.g*13) % 256
               - (i*31 + (x.g-1)*7 + y.g*13) % 256
               - (i*31 + x.g*7 + (y.g+1)*13) % 256
               - (i*31 + x.g*7 + (y.g-1)*13) % 256 AS lap
      FROM dims, (SELECT unnest(range(256)) AS g) x,
           (SELECT unnest(range(128)) AS g) y
      WHERE x.g >= 1 AND x.g < w - 1 AND y.g >= 1 AND y.g < h - 1),
e AS (SELECT i, count(*) AS n_interior, sum(lap*lap) AS lap_sq
      FROM g GROUP BY i),
r AS (SELECT i, n_interior, lap_sq, i // 3 AS burst,
             row_number() OVER (PARTITION BY i // 3
               ORDER BY lap_sq DESC, printf('img%08d', i) ASC) AS rk,
             count(*) OVER (PARTITION BY i // 3) AS n_candidates
      FROM e)
SELECT 'b' || burst AS burst_id, printf('img%08d', i) AS image_id,
       CAST(lap_sq AS BIGINT) AS lap_sq_sum,
       CAST(n_interior AS BIGINT) AS n_interior,
       CAST(n_candidates AS BIGINT) AS n_candidates
FROM r WHERE rk = 1 ORDER BY burst_id
"""

QUERIES["best_of_burst"] = q_best_of_burst
ORACLES["best_of_burst"] = ORACLE_BEST_OF_BURST


def q_audio_dedup(spark, sf):
    """Near-duplicate audio dedup, fully ORACLED: embeddings mux into
    float32 WAVs in pairs (even vec_id = base, odd = one sample scaled
    by an EXACT power of two), the 64-bit band-energy fingerprint is
    integer-exact (flac-grid quantization, circular adjacent compares
    flip <= 2 bits per local perturbation), and the shared Hamming
    dedup tail replays in DuckDB as all-pairs bit_count verify + a
    recursive-CTE component merge — equivalent to the 4x16 pigeonhole
    banding because Hamming <= 2 < 4 bands guarantees a shared band."""
    import numpy as np
    import pandas as pd

    from ..codecs.wav import encode_wav
    from ..operators.multimodal import audio_dedup

    e = _t(spark, sf, "embeddings")

    def gen(batches):
        for b in batches:
            ids, blobs = [], []
            for vid, v in zip(b["vec_id"].values, b["embedding"].values):
                vid = int(vid)
                if vid % 2 != 0:
                    continue
                a = np.asarray(v, dtype=np.float32)
                ids.append(str(vid))
                blobs.append(encode_wav(a, 8000, samplewidth=4))
                p = a.copy()
                k = (vid // 2) % len(p)
                p[k] = p[k] * np.float32(2.0)
                ids.append(str(vid + 1))
                blobs.append(encode_wav(p, 8000, samplewidth=4))
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    clips = spread(e.select("vec_id", "embedding")).mapInPandas(
        gen, "clip_id string, bytes binary"
    )
    out = audio_dedup(clips, max_hamming=2)
    return out.select(
        "clip_id",
        F.lpad(F.bin(F.col("fp")), 64, "0").alias("fp_bits"),
        "rep_id",
    ).orderBy("clip_id")


ORACLE_AUDIO_DEDUP = """
WITH RECURSIVE base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS s
  FROM embeddings WHERE vec_id % 2 = 0),
samp AS (SELECT vec_id, len(s) AS n, u.x AS p, s[u.x] AS v
         FROM base, unnest(range(1, len(s) + 1)) AS u(x)),
rows_ AS (
  SELECT CAST(vec_id AS VARCHAR) AS cid, p, v FROM samp
  UNION ALL
  SELECT CAST(vec_id + 1 AS VARCHAR), p,
         CASE WHEN p - 1 = (vec_id // 2) % n THEN v * 2 ELSE v END
  FROM samp),
e AS (SELECT cid, p - 1 AS b,
             CAST(floor(v * 30000 + 0.5) AS BIGINT)
               * CAST(floor(v * 30000 + 0.5) AS BIGINT) AS en
      FROM rows_),
bits AS (SELECT a.cid,
                string_agg(CASE WHEN a.en > c.en THEN '1' ELSE '0' END, ''
                           ORDER BY a.b) AS bits
         FROM e a JOIN e c ON c.cid = a.cid AND c.b = (a.b + 1) % 64
         GROUP BY a.cid),
pairs AS (SELECT a.cid AS ca, b2.cid AS cb
          FROM bits a JOIN bits b2 ON b2.cid < a.cid
          WHERE bit_count(xor(a.bits::BIT, b2.bits::BIT)) <= 2),
sym AS (SELECT ca AS s, cb AS d FROM pairs UNION SELECT cb, ca FROM pairs),
reach(a, r) AS (
  SELECT cid, cid FROM bits
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d),
comp AS (SELECT a AS cid, min(r) AS rep FROM reach GROUP BY a)
SELECT bits.cid AS clip_id, bits.bits AS fp_bits, comp.rep AS rep_id
FROM bits JOIN comp ON comp.cid = bits.cid ORDER BY clip_id
"""

QUERIES["audio_dedup"] = q_audio_dedup
ORACLES["audio_dedup"] = ORACLE_AUDIO_DEDUP


def q_attribution(spark, sf):
    """First/last-touch attribution over a 24 h window (conversion-
    prediction label construction), fully ORACLED: both touch picks,
    plus the in-window touch count, come from one RANGE-frame window
    on the integer epoch axis with struct min/max (t, id) — DuckDB
    evaluates the identical frame and struct ordering."""
    from ..operators.windows import attribute_conversions

    e = _t(spark, sf, "events")
    return attribute_conversions(e, window_s=86400).orderBy(
        "user_id", "conv_id"
    )


ORACLE_ATTRIBUTION = """
WITH base AS (
  SELECT user_id AS e, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         event_id AS id, event_type AS ty
  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
m AS (SELECT e, t, id, ty,
             min(CASE WHEN ty IN ('click', 'view')
                      THEN struct_pack(t := t, i := id) END) OVER w AS f,
             max(CASE WHEN ty IN ('click', 'view')
                      THEN struct_pack(t := t, i := id) END) OVER w AS l,
             count(CASE WHEN ty IN ('click', 'view') THEN 1 END) OVER w AS n
      FROM base
      WINDOW w AS (PARTITION BY e ORDER BY t
                   RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW))
SELECT e AS user_id, id AS conv_id, t AS conv_ts,
       CAST(n AS BIGINT) AS n_touches,
       f.i AS first_touch_id, f.t AS first_touch_ts,
       l.i AS last_touch_id, l.t AS last_touch_ts
FROM m WHERE ty = 'purchase' ORDER BY user_id, conv_id
"""

QUERIES["attribution"] = q_attribution
ORACLES["attribution"] = ORACLE_ATTRIBUTION


def q_session_stats(spark, sf):
    """Per-session engagement features (duration/depth/bounce/
    conversion) over gap-based sessions, fully ORACLED: the flag
    computation floors epoch seconds on BOTH sides (tighter than the
    legacy sessionize oracle's fractional diff — exact parity with
    Spark's long cast), then one groupBy replays in SQL."""
    from ..operators.windows import session_stats

    e = _t(spark, sf, "events")
    return session_stats(e).orderBy("user_id", "session_id")


ORACLE_SESSION_STATS = """
WITH e AS (SELECT user_id, event_id, event_type, ts,
                  CAST(floor(epoch(ts)) AS BIGINT) AS t
           FROM events),
f AS (SELECT *, CASE WHEN t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS flag
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT *, CAST(sum(flag) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
      FROM f)
SELECT user_id, session_id,
       min(t) AS start_ts, max(t) AS end_ts,
       max(t) - min(t) AS duration_s,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(CASE WHEN count(*) = 1 THEN 1 ELSE 0 END AS INT) AS bounce,
       CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS INT) AS converted
FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
"""

QUERIES["session_stats"] = q_session_stats
ORACLES["session_stats"] = ORACLE_SESSION_STATS


def q_quantile_transform(spark, sf):
    """Per-group exact rank normalization on the integer grain
    (pct_u = (rank-1)*grain div (n-1), single-row groups center),
    fully ORACLED: micro-cent values, row_number under (value, id),
    broadcast counts — all integer arithmetic both engines share."""
    from ..operators.curation import quantile_transform

    e = _t(spark, sf, "events")
    return quantile_transform(
        e, group_col="event_type", value_col="value", id_col="event_id"
    ).orderBy("event_type", "event_id")


ORACLE_QUANTILE_TRANSFORM = """
WITH base AS (
  SELECT event_type AS g, event_id AS id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
c AS (SELECT g, count(*) AS n FROM base GROUP BY g),
r AS (SELECT base.*, row_number() OVER
        (PARTITION BY g ORDER BY v ASC, id ASC) AS rk
      FROM base)
SELECT r.g AS event_type, r.id AS event_id, r.v AS value_u,
       CAST(rk AS INT) AS rank, c.n AS n,
       CAST(CASE WHEN c.n = 1 THEN 500000
                 ELSE (rk - 1) * 1000000 // (c.n - 1) END AS BIGINT)
         AS pct_u
FROM r JOIN c ON c.g = r.g ORDER BY event_type, event_id
"""

QUERIES["quantile_transform"] = q_quantile_transform
ORACLES["quantile_transform"] = ORACLE_QUANTILE_TRANSFORM


def q_schema_drift(spark, sf):
    """Snapshot-to-snapshot schema + profile drift (the retraining
    data-validation gate): the new version drops `source`, adds
    `extra`, narrows `n_chars` to int, and nulls `lang` on every 10th
    doc. Fully ORACLED: the per-column statuses and the exact
    null/distinct profiles replay as literal per-column aggregates."""
    from ..operators.resume import schema_drift

    old = _t(spark, sf, "documents")
    new = (
        old.drop("source")
        .withColumn("extra", (F.col("n_chars") * 2).cast("bigint"))
        .withColumn("n_chars", F.col("n_chars").cast("int"))
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 10 == 0, F.lit(None)).otherwise(
                F.col("lang")
            ),
        )
    )
    return schema_drift(old, new).orderBy("column")


ORACLE_SCHEMA_DRIFT = """
WITH newt AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END AS lang,
         CAST(n_chars AS INT) AS n_chars,
         CAST(n_chars * 2 AS BIGINT) AS extra
  FROM documents),
o AS (SELECT count(*) AS n,
             count(doc_id) AS nn_id, count(DISTINCT doc_id) AS nd_id,
             count(text) AS nn_tx, count(DISTINCT text) AS nd_tx,
             count(lang) AS nn_lg, count(DISTINCT lang) AS nd_lg,
             count(source) AS nn_sr, count(DISTINCT source) AS nd_sr,
             count(n_chars) AS nn_nc, count(DISTINCT n_chars) AS nd_nc
      FROM documents),
nw AS (SELECT count(*) AS n,
              count(doc_id) AS nn_id, count(DISTINCT doc_id) AS nd_id,
              count(text) AS nn_tx, count(DISTINCT text) AS nd_tx,
              count(lang) AS nn_lg, count(DISTINCT lang) AS nd_lg,
              count(n_chars) AS nn_nc, count(DISTINCT n_chars) AS nd_nc,
              count(extra) AS nn_ex, count(DISTINCT extra) AS nd_ex
       FROM newt)
SELECT * FROM (
  SELECT 'doc_id' AS "column", 'ok' AS status,
         'bigint' AS old_type, 'bigint' AS new_type,
         CAST(o.n AS BIGINT) AS old_n,
         CAST(o.n - o.nn_id AS BIGINT) AS old_nulls,
         CAST(o.nd_id AS BIGINT) AS old_distinct,
         CAST(nw.n AS BIGINT) AS new_n,
         CAST(nw.n - nw.nn_id AS BIGINT) AS new_nulls,
         CAST(nw.nd_id AS BIGINT) AS new_distinct
  FROM o, nw
  UNION ALL
  SELECT 'extra', 'added', CAST(NULL AS VARCHAR), 'bigint',
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         CAST(nw.n AS BIGINT), CAST(nw.n - nw.nn_ex AS BIGINT),
         CAST(nw.nd_ex AS BIGINT)
  FROM o, nw
  UNION ALL
  SELECT 'lang', 'ok', 'string', 'string',
         CAST(o.n AS BIGINT), CAST(o.n - o.nn_lg AS BIGINT),
         CAST(o.nd_lg AS BIGINT),
         CAST(nw.n AS BIGINT), CAST(nw.n - nw.nn_lg AS BIGINT),
         CAST(nw.nd_lg AS BIGINT)
  FROM o, nw
  UNION ALL
  SELECT 'n_chars', 'type_changed', 'bigint', 'int',
         CAST(o.n AS BIGINT), CAST(o.n - o.nn_nc AS BIGINT),
         CAST(o.nd_nc AS BIGINT),
         CAST(nw.n AS BIGINT), CAST(nw.n - nw.nn_nc AS BIGINT),
         CAST(nw.nd_nc AS BIGINT)
  FROM o, nw
  UNION ALL
  SELECT 'source', 'dropped', 'string', CAST(NULL AS VARCHAR),
         CAST(o.n AS BIGINT), CAST(o.n - o.nn_sr AS BIGINT),
         CAST(o.nd_sr AS BIGINT),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  FROM o, nw
  UNION ALL
  SELECT 'text', 'ok', 'string', 'string',
         CAST(o.n AS BIGINT), CAST(o.n - o.nn_tx AS BIGINT),
         CAST(o.nd_tx AS BIGINT),
         CAST(nw.n AS BIGINT), CAST(nw.n - nw.nn_tx AS BIGINT),
         CAST(nw.nd_tx AS BIGINT)
  FROM o, nw
) ORDER BY "column"
"""

QUERIES["schema_drift"] = q_schema_drift
ORACLES["schema_drift"] = ORACLE_SCHEMA_DRIFT


def q_robust_outliers(spark, sf):
    """Per-group median/MAD outlier flags, fully ORACLED: med2/mad2 are
    two-central-rank sums (2x median, 4x MAD — even counts never
    divide) and the k=3 robust-z flag cross-multiplies
    dev*20000 > 3*14826*mad2 — pure integers both engines."""
    from ..operators.curation import robust_outliers

    e = _t(spark, sf, "events")
    return robust_outliers(
        e, group_col="event_type", value_col="value", id_col="event_id"
    ).orderBy("event_type", "event_id")


ORACLE_ROBUST_OUTLIERS = """
WITH base AS (
  SELECT event_type AS g, event_id AS id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
c AS (SELECT g, count(*) AS n FROM base GROUP BY g),
r1 AS (SELECT base.*, row_number() OVER
         (PARTITION BY g ORDER BY v ASC, id ASC) AS rk
       FROM base),
med AS (SELECT r1.g,
               CASE WHEN count(*) = 1 THEN sum(v) * 2 ELSE sum(v) END
                 AS med2
        FROM r1 JOIN c ON c.g = r1.g
        WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
        GROUP BY r1.g),
d AS (SELECT base.g, base.id, base.v,
             abs(base.v * 2 - med.med2) AS dev
      FROM base JOIN med ON med.g = base.g),
r2 AS (SELECT d.*, row_number() OVER
         (PARTITION BY g ORDER BY dev ASC, id ASC) AS rk
       FROM d),
mad AS (SELECT r2.g,
               CASE WHEN count(*) = 1 THEN sum(dev) * 2 ELSE sum(dev) END
                 AS mad2
        FROM r2 JOIN c ON c.g = r2.g
        WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
        GROUP BY r2.g)
SELECT d.g AS event_type, d.id AS event_id, d.v AS value_u,
       med.med2, mad.mad2, d.dev,
       CAST(CASE WHEN d.dev * 20000 > 3 * 14826 * mad.mad2
                 THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM d JOIN med ON med.g = d.g JOIN mad ON mad.g = d.g
ORDER BY event_type, event_id
"""

QUERIES["robust_outliers"] = q_robust_outliers
ORACLES["robust_outliers"] = ORACLE_ROBUST_OUTLIERS


def q_rolling_folds(spark, sf):
    """Rolling-origin CV fold assignment (forward-chaining, 4 folds),
    fully ORACLED: the fold edges are exact disc quantiles of the
    epoch axis at i/4 (p*(n-1) exact in binary for power-of-two
    denominators), rows equal to an edge fall in the lower fold."""
    from ..operators.curation import rolling_origin_folds

    e = _t(spark, sf, "events")
    return rolling_origin_folds(e, n_folds=4).orderBy("event_id")


ORACLE_ROLLING_FOLDS = """
WITH base AS (
  SELECT event_id AS id, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events WHERE ts IS NOT NULL),
n AS (SELECT count(*) AS n FROM base),
r AS (SELECT base.*, row_number() OVER (ORDER BY t, id) AS rn FROM base),
ks AS (SELECT CAST(floor(CAST(v.p AS DOUBLE) * (n.n - 1)) + 1 AS BIGINT)
         AS k
       FROM n, (VALUES (0.25), (0.5), (0.75)) AS v(p)),
edges AS (SELECT r.t AS e FROM ks JOIN r ON r.rn = ks.k)
SELECT base.id AS event_id, base.t,
       CAST((SELECT count(*) FROM edges WHERE base.t > edges.e) AS INT)
         AS fold
FROM base ORDER BY event_id
"""

QUERIES["rolling_folds"] = q_rolling_folds
ORACLES["rolling_folds"] = ORACLE_ROLLING_FOLDS


def q_text_curation(spark, sf):
    """COMPOSED web-corpus curation pipeline: canonical-URL dedup ->
    blocklist gate -> token-count quality floor -> per-domain cap by
    md5 order. Stage order is load-bearing (a URL-dup loser must never
    consume a cap slot) and the whole chain replays in ONE SQL — any
    reorder fails the compare. Every stage reuses an already-oracled
    operator (normalize_urls, blocklist_hits, cap_per_group)."""
    from ..operators.curation import cap_per_group
    from ..operators.text import blocklist_hits, nonempty_tokens_col
    from ..operators.web import normalize_urls

    d = _t(spark, sf, "documents")
    t = d.select("doc_id", "text", _synth_url(F.col("doc_id")).alias("url"))
    n = normalize_urls(t)
    winners = n.groupBy("canonical_url").agg(F.min("doc_id").alias("doc_id"))
    d1 = n.join(winners.select("doc_id"), "doc_id")
    bl = blocklist_hits(d1, ["error", "crash"])
    d2 = d1.join(bl.filter(F.col("n_hits") == 0).select("doc_id"), "doc_id")
    d3 = d2.withColumn(
        "n_tokens", F.size(nonempty_tokens_col(F.col("text")))
    ).filter(F.col("n_tokens") >= 20)
    d4 = d3.withColumn("__h", md5_hex(F.col("doc_id")))
    # cap per HOST (7 in the fixture), not per registered domain — the
    # two-label rule folds every host into example.com, which would
    # leave the cap the only visible stage
    capped = cap_per_group(d4, "host", 40, order_cols=["__h", "doc_id"])
    return capped.select("doc_id", "host", "n_tokens").orderBy("doc_id")


ORACLE_TEXT_CURATION = (
    "WITH " + _SQL_URL_CANON + r""",
w AS (SELECT min(doc_id) AS doc_id FROM s7 GROUP BY canonical_url),
d1 AS (SELECT s7.doc_id, s7.host FROM s7 JOIN w ON w.doc_id = s7.doc_id),
toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
q AS (SELECT d1.doc_id, d1.host, CAST(len(t) AS INT) AS n_tokens
      FROM d1 JOIN toks ON toks.doc_id = d1.doc_id
      WHERE len(list_filter(t, x -> list_contains(['crash', 'error'], x)))
              = 0
        AND len(t) >= 20),
capped AS (SELECT *, row_number() OVER (PARTITION BY host
             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
           FROM q)
SELECT doc_id, host, n_tokens FROM capped WHERE rn <= 40
ORDER BY doc_id
"""
)

QUERIES["text_curation_v2"] = q_text_curation
ORACLES["text_curation_v2"] = ORACLE_TEXT_CURATION


def _ndcg_weights_sql(k: int = 10, grain: int = 1_000_000) -> str:
    import math

    ws = [
        int(math.floor(grain / math.log2(i + 1) + 0.5))
        for i in range(1, k + 1)
    ]
    return "[" + ", ".join(str(w) for w in ws) + "]"


def q_ndcg(spark, sf):
    """Exact nDCG@10 per user: ranking by value, graded relevance from
    an md5 hex digit (0-3). Fully ORACLED — the log2 discounts are
    integer literals inlined identically in Spark and SQL (computed
    once driver-side; no transcendental crosses engines), DCG/IDCG are
    integer dot products, the one division defers to the grain."""
    from ..operators.classify import ndcg_at_k

    e = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    rel = md5_int(md5_hex(F.col("event_id")), 1, 1) % 4
    scored = e.select("user_id", "event_id", "value", rel.alias("rel"))
    return ndcg_at_k(
        scored,
        group_col="user_id",
        order_col="value",
        rel_col="rel",
        id_col="event_id",
        k=10,
    ).orderBy("user_id")


ORACLE_NDCG = f"""
WITH base AS (
  SELECT user_id AS g, event_id AS id, value AS o,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 1)
              AS BIGINT) % 4 AS rel
  FROM events WHERE value IS NOT NULL),
r AS (SELECT g, rel,
             row_number() OVER
               (PARTITION BY g ORDER BY o DESC, id ASC) AS rk,
             row_number() OVER
               (PARTITION BY g ORDER BY rel DESC, id ASC) AS ri
      FROM base),
a AS (SELECT g,
             sum(CASE WHEN rk <= 10
                      THEN rel * ({_ndcg_weights_sql()})[rk]
                      ELSE 0 END) AS dcg_u,
             sum(CASE WHEN ri <= 10
                      THEN rel * ({_ndcg_weights_sql()})[ri]
                      ELSE 0 END) AS idcg_u
      FROM r GROUP BY g)
SELECT g AS user_id, CAST(dcg_u AS BIGINT) AS dcg_u,
       CAST(idcg_u AS BIGINT) AS idcg_u,
       CAST(CASE WHEN idcg_u = 0 THEN 0
                 ELSE dcg_u * 1000000 // idcg_u END AS BIGINT) AS ndcg_u
FROM a ORDER BY user_id
"""

QUERIES["ndcg"] = q_ndcg
ORACLES["ndcg"] = ORACLE_NDCG


def q_class_weights(spark, sf):
    """Balanced class-weight table (sklearn class_weight='balanced')
    as exact integers — one count agg, deferred division. ORACLED."""
    from ..operators.classify import class_weights

    e = _t(spark, sf, "embeddings")
    return class_weights(e).orderBy("label")


ORACLE_CLASS_WEIGHTS = """
WITH c AS (SELECT label, count(*) AS n_c FROM embeddings
           WHERE label IS NOT NULL GROUP BY label),
t AS (SELECT sum(n_c) AS t, count(*) AS k FROM c)
SELECT label, CAST(c.n_c AS BIGINT) AS n_c,
       CAST(t.t * 1000000 // (t.k * c.n_c) AS BIGINT) AS weight_u
FROM c, t ORDER BY label
"""

QUERIES["class_weights"] = q_class_weights
ORACLES["class_weights"] = ORACLE_CLASS_WEIGHTS


def q_learning_curve(spark, sf):
    """Nested learning-curve subset plan from ONE md5 draw per row
    (hash_sample thresholds nest by construction, so the 10% subset is
    inside the 25% inside the 50%). Fully ORACLED: bucket and min_rate
    replay as fixed-width hex threshold compares."""
    from ..operators.curation import learning_curve_plan

    d = _t(spark, sf, "documents")
    return learning_curve_plan(d).select(
        "doc_id", "bucket", "min_rate"
    ).orderBy("doc_id")


ORACLE_LEARNING_CURVE = """
WITH h AS (SELECT doc_id,
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
           FROM documents)
SELECT doc_id,
       CAST(CASE WHEN h < '19999999' THEN 0
                 WHEN h < '40000000' THEN 1
                 WHEN h < '80000000' THEN 2 ELSE 3 END AS INT) AS bucket,
       CASE WHEN h < '19999999' THEN CAST(0.1 AS DOUBLE)
            WHEN h < '40000000' THEN CAST(0.25 AS DOUBLE)
            WHEN h < '80000000' THEN CAST(0.5 AS DOUBLE)
            ELSE CAST(1.0 AS DOUBLE) END AS min_rate
FROM h ORDER BY doc_id
"""

QUERIES["learning_curve"] = q_learning_curve
ORACLES["learning_curve"] = ORACLE_LEARNING_CURVE


# content-sensitive integer digest used by the format-roundtrip
# queries: any corrupted byte in write->read breaks the equality
def _content_agg(df):
    dig = md5_int(md5_hex(F.coalesce(F.col("text"), F.lit("")))) % 1000000000
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars_sum"),
            F.sum(dig).alias("text_digest"),
        )
        .orderBy("lang")
    )


_SQL_CONTENT_AGG = """
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
       CAST(sum(CAST('0x' || substr(md5(coalesce(text, '')), 1, 15)
                     AS BIGINT) % 1000000000) AS BIGINT) AS text_digest
FROM documents GROUP BY lang ORDER BY lang
"""


def q_orc_roundtrip(spark, sf):
    """ORC sink + scan fidelity (the columnar interchange format next
    to parquet), ORACLED by content: documents write to ORC, read
    back, and reduce to per-lang counts + an md5-derived integer text
    digest that DuckDB computes straight from the source table — a
    corrupted byte anywhere in the write->read chain breaks the
    equality (the webdataset_roundtrip pattern). Side effect: writes
    to a fresh temp dir each run."""

    d = _scratch_dir("orc_roundtrip_")
    _t(spark, sf, "documents").write.mode("overwrite").orc(d)
    return _content_agg(spark.read.orc(d))


QUERIES["orc_roundtrip"] = q_orc_roundtrip
ORACLES["orc_roundtrip"] = _SQL_CONTENT_AGG


def q_jsonl_roundtrip(spark, sf):
    """JSON-lines sink + scan fidelity (the interchange format every
    annotation vendor speaks), ORACLED by content like orc_roundtrip.
    The read-back uses the EXPLICIT source schema — inference would
    silently widen/narrow types, which is exactly the drift this
    query exists to catch. Side effect: temp dir per run."""

    d = _scratch_dir("jsonl_roundtrip_")
    docs = _t(spark, sf, "documents")
    docs.write.mode("overwrite").json(d)
    back = spark.read.schema(docs.schema).json(d)
    return _content_agg(back)


QUERIES["jsonl_roundtrip"] = q_jsonl_roundtrip
ORACLES["jsonl_roundtrip"] = _SQL_CONTENT_AGG


def q_agg_merge(spark, sf):
    """Incremental aggregate maintenance: the per-lang stats table is
    maintained by MERGING yesterday's aggregate with the delta's
    aggregate (counts/sums add, min/max fold, the average defers to
    n,sum) — never re-reading the base. The oracle aggregates the
    full table directly, so any merge error (double count, dropped
    group, avg-of-avg) fails the compare."""
    from ..operators.rollup import merge_aggregates

    docs = _t(spark, sf, "documents")

    def agg(df):
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars_sum"),
            F.min("n_chars").alias("chars_min"),
            F.max("n_chars").alias("chars_max"),
        )

    old = agg(docs.filter(F.col("doc_id") % 10 != 0))
    delta = agg(docs.filter(F.col("doc_id") % 10 == 0))
    merged = merge_aggregates(
        old,
        delta,
        keys=("lang",),
        count_cols=("n",),
        sum_cols=("chars_sum",),
        min_cols=("chars_min",),
        max_cols=("chars_max",),
    )
    return merged.select(
        "lang",
        "n",
        "chars_sum",
        "chars_min",
        "chars_max",
        F.expr("chars_sum * 1000000 div n").alias("avg_chars_u"),
    ).orderBy("lang")


ORACLE_AGG_MERGE = """
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
       CAST(min(n_chars) AS BIGINT) AS chars_min,
       CAST(max(n_chars) AS BIGINT) AS chars_max,
       CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT) AS avg_chars_u
FROM documents GROUP BY lang ORDER BY lang
"""

QUERIES["agg_merge"] = q_agg_merge
ORACLES["agg_merge"] = ORACLE_AGG_MERGE


# deterministic whitespace/control-char noise injected around the clean
# fixture text (formula technique) — identical expression in DuckDB
_NOISY_TEXT_SQL = """CASE WHEN text IS NULL THEN NULL ELSE
  (CASE doc_id % 3 WHEN 0 THEN '  ' WHEN 1 THEN {CHR}(9) ELSE '' END)
  || (CASE WHEN doc_id % 5 = 0 THEN replace(text, ' ', '   ')
           ELSE text END)
  || (CASE doc_id % 4
        WHEN 0 THEN {CHR}(7) || 'noise' || {CHR}(127)
        WHEN 1 THEN {CHR}(10) || {CHR}(10) || {CHR}(10) || {CHR}(10)
                    || 'tail'
        WHEN 2 THEN ' ' || {CHR}(10) || ' x' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 0 THEN ' ' ELSE '' END) END"""


def q_normalize_text(spark, sf):
    """Text normalization (control-char strip, whitespace collapse,
    paragraph-break canonicalization, trim), fully ORACLED: noisy text
    is synthesized deterministically around the clean fixture text and
    every regexp rule uses explicit character classes (never \\s — the
    Java-vs-RE2 \\x0b trap), so DuckDB replays construction and
    normalization byte-for-byte."""
    from ..operators.text import normalize_text

    d = _t(spark, sf, "documents")
    noisy = spread(d).select(
        "doc_id", F.expr(_NOISY_TEXT_SQL.format(CHR="char")).alias("text")
    )  # 1-split scan: the 6 regex passes ran on ~2 cores (round 6)
    return normalize_text(noisy).orderBy("doc_id")


ORACLE_NORMALIZE_TEXT = r"""
WITH noisy AS (
  SELECT doc_id, """ + _NOISY_TEXT_SQL.format(CHR="chr") + r""" AS t
  FROM documents),
s1 AS (SELECT doc_id, t,
              regexp_replace(t, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')
                AS a,
              CASE WHEN t IS NULL THEN NULL
                   ELSE CAST(len(t) - len(regexp_replace(t,
                          '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'))
                        AS INT) END AS n_ctrl
       FROM noisy),
s2 AS (SELECT doc_id, t, n_ctrl,
              regexp_replace(a, '[ ' || chr(9) || ']+', ' ', 'g') AS a
       FROM s1),
s3 AS (SELECT doc_id, t, n_ctrl,
              regexp_replace(a, ' ?' || chr(10) || ' ?', chr(10), 'g') AS a
       FROM s2),
s4 AS (SELECT doc_id, t, n_ctrl,
              regexp_replace(a, chr(10) || '{3,}',
                             chr(10) || chr(10), 'g') AS a
       FROM s3),
s5 AS (SELECT doc_id, t, n_ctrl,
              regexp_replace(a, '^[ ' || chr(10) || ']+|[ '
                             || chr(10) || ']+$', '', 'g') AS a
       FROM s4)
SELECT doc_id, a AS text_norm, n_ctrl,
       CAST(CASE WHEN a IS NOT NULL AND t IS NOT NULL AND a <> t
                 THEN 1 ELSE 0 END AS INT) AS changed
FROM s5 ORDER BY doc_id
"""

QUERIES["normalize_text"] = q_normalize_text
ORACLES["normalize_text"] = ORACLE_NORMALIZE_TEXT


def q_prune_vocab(spark, sf):
    """Vocabulary finalization: frequency cutoff (scale-proportional:
    total div 50) + dense (count desc, token asc) ids — the gap-free
    remap an embedding table indexes by. The rank window runs over the
    vocab-bounded counts table only. Fully ORACLED."""
    from ..operators.curation import prune_vocab
    from ..operators.text import nonempty_tokens_col

    d = _t(spark, sf, "documents")
    counts = (
        d.select(F.explode(nonempty_tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    tot = counts.agg(F.sum("__cnt")).first()[0]
    return prune_vocab(counts, min_count=int(tot) // 50).orderBy("token_id")


ORACLE_PRUNE_VOCAB = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)),
                                                 '\s+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents),
tk AS (SELECT x AS token FROM toks, unnest(toks.t) AS u(x)),
cnt AS (SELECT token, count(*) AS c FROM tk GROUP BY token),
kept AS (SELECT token, c FROM cnt
         WHERE c >= (SELECT sum(c) FROM cnt) // 50)
SELECT token, CAST(c AS BIGINT) AS count,
       CAST(row_number() OVER (ORDER BY c DESC, token ASC) - 1 AS INT)
         AS token_id
FROM kept ORDER BY token_id
"""

QUERIES["prune_vocab"] = q_prune_vocab
ORACLES["prune_vocab"] = ORACLE_PRUNE_VOCAB


def q_conformal(spark, sf):
    """Split-conformal calibration thresholds per class at alpha=0.1:
    the finite-sample rank ceil((n+1)*0.9) of md5-derived nonconformity
    scores — pure integer rank arithmetic, fully ORACLED."""
    from ..operators.classify import conformal_thresholds

    e = _t(spark, sf, "embeddings")
    score = (md5_int(md5_hex(F.col("vec_id")), 1, 5) % 100000) / 100.0
    scored = e.select("vec_id", "label", score.alias("score"))
    return conformal_thresholds(
        scored, group_col="label", score_col="score", id_col="vec_id"
    ).orderBy("label")


ORACLE_CONFORMAL = """
WITH base AS (
  SELECT label AS g, vec_id AS id,
         CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 5)
              AS BIGINT) % 100000 AS v
  FROM embeddings WHERE label IS NOT NULL),
c AS (SELECT g, count(*) AS n FROM base GROUP BY g),
r AS (SELECT base.*, row_number() OVER
        (PARTITION BY g ORDER BY v ASC, id ASC) AS rk
      FROM base)
SELECT r.g AS label, c.n,
       CAST(rk AS BIGINT) AS r, r.v AS threshold_u
FROM r JOIN c ON c.g = r.g
WHERE rk = least(c.n, ((c.n + 1) * 9 + 9) // 10)
ORDER BY label
"""

QUERIES["conformal"] = q_conformal
ORACLES["conformal"] = ORACLE_CONFORMAL


def q_bloom_merge(spark, sf):
    """Bloom-filter MERGEABILITY proof: two filters built over the two
    halves of the benchmark set merge (union+distinct of position
    tables) and the merged probe must equal probing a filter built
    over the full set — which is all the oracle ever computes. Same
    256/3 geometry as bloom_probe so real false positives exercise
    the compare."""
    from ..operators.sketch import bloom_build, bloom_merge, bloom_probe
    from ..operators.text import fingerprint

    d = _t(spark, sf, "documents")
    fp = d.withColumn("__fp", fingerprint(F.col("text")))
    half_a = fp.filter(F.col("doc_id") % 20 == 0)
    half_b = fp.filter(F.col("doc_id") % 20 == 10)
    merged = bloom_merge(
        bloom_build(half_a.select("__fp"), "__fp", m_bits=256, k=3),
        bloom_build(half_b.select("__fp"), "__fp", m_bits=256, k=3),
    )
    probed = bloom_probe(fp, merged, "__fp", m_bits=256, k=3)
    return probed.select(
        "doc_id",
        "maybe_member",
        (F.col("doc_id") % 10 == 0).cast("int").alias("exact_member"),
    ).orderBy("doc_id")


# the oracle is IDENTICAL to bloom_probe's: it builds over the FULL
# benchmark set — merge-equals-full-build is exactly the claim
QUERIES["bloom_merge"] = q_bloom_merge
ORACLES["bloom_merge"] = ORACLE_BLOOM_PROBE


def q_ivf_append(spark, sf):
    """Incremental IVF maintenance proof: the serve layout is built
    from the base vectors and the delta is APPENDED (assign-only, no
    base rewrite), then probed — the oracle recomputes the probe over
    the FULL set with the same fixed centroids (the ivf_recall
    technique), so append-equals-rebuild is the compared claim. Side
    effect: temp dir per run."""

    from ..operators.similarity import ivf_append, ivf_build, ivf_write
    from ..operators.similarity import ivf_probe_stored

    e = _t(spark, sf, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("string").alias("centroid_label"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    base = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)
    d = _scratch_dir("ivf_append_")
    ivf_write(ivf_build(base, cent), d)
    ivf_append(delta, cent, d)
    qv = [float(x) for x in e.filter(F.col("vec_id") == 7).first().embedding]
    out = ivf_probe_stored(spark, d, cent, qv, k=10, nprobe=2)
    return out.select(
        "vec_id", F.round("score", 5).alias("cos_sim")
    ).orderBy(F.col("cos_sim").desc(), "vec_id")


# identical to the ivf_recall oracle: full-set assignment + probe with
# the same fixed centroids and query
QUERIES["ivf_append"] = q_ivf_append
ORACLES["ivf_append"] = ORACLE_IVF_RECALL


def _graph_edges(spark, sf):
    """Deterministic directed link graph over the documents id space:
    u -> (u+1)%N, u -> (u+2)%N (every consecutive triple closes a
    triangle), plus u -> (3u+1)%N on every 7th node for degree
    variety. N = count(documents) so the graph scales with the SF."""
    d = _t(spark, sf, "documents").select(F.col("doc_id").alias("u"))
    n = d.count()
    e1 = d.select("u", ((F.col("u") + 1) % n).alias("v"))
    e2 = d.select("u", ((F.col("u") + 2) % n).alias("v"))
    e3 = d.filter(F.col("u") % 7 == 0).select(
        "u", ((F.col("u") * 3 + 1) % n).alias("v")
    )
    return e1.unionByName(e2).unionByName(e3)


_SQL_GRAPH_EDGES = """
nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS s, (doc_id + 1) % (SELECT n FROM nn) AS d
  FROM documents
  UNION
  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM documents
  UNION
  SELECT doc_id, (doc_id * 3 + 1) % (SELECT n FROM nn)
  FROM documents WHERE doc_id % 7 = 0)"""


def q_pagerank(spark, sf):
    """Fixed-iteration PageRank on the integer micro-rank grid, fully
    ORACLED: every division floors (r div deg per edge, damp*sum div
    den per node), so all 5 iterations unroll as MATERIALIZED DuckDB
    CTEs computing bit-identical ranks — the unrolled-iteration
    technique (ivf_topk / logreg / pca precedents) applied to graph
    ranking."""
    from ..operators.graph import pagerank_fixed

    e = _graph_edges(spark, sf)
    return pagerank_fixed(
        e, src_col="u", dst_col="v", iters=5
    ).orderBy("node")


def _pagerank_oracle_sql(iters: int = 5, grain: int = 10**12) -> str:
    parts = [
        "WITH " + _SQL_GRAPH_EDGES + """,
deg AS (SELECT s, count(*) AS dg FROM e0 GROUP BY s),
nodes AS (SELECT DISTINCT x AS node FROM
            (SELECT s AS x FROM e0 UNION ALL SELECT d FROM e0)),
r0 AS MATERIALIZED (SELECT node,
       {G} // (SELECT n FROM nn) AS r FROM nodes)""".format(G=grain),
    ]
    for k in range(1, iters + 1):
        parts.append(
            """
c{k} AS (SELECT e0.d, sum(r{p}.r // deg.dg) AS c
        FROM e0 JOIN deg ON deg.s = e0.s
                JOIN r{p} ON r{p}.node = e0.s
        GROUP BY e0.d),
r{k} AS MATERIALIZED (
  SELECT nodes.node,
         (15 * ({G} // (SELECT n FROM nn))) // 100
           + 85 * coalesce(c{k}.c, 0) // 100 AS r
  FROM nodes LEFT JOIN c{k} ON c{k}.d = nodes.node)""".format(
                k=k, p=k - 1, G=grain
            )
        )
    return (
        ",".join(parts)
        + f"\nSELECT node, r FROM r{iters} ORDER BY node"
    )


QUERIES["pagerank"] = q_pagerank
ORACLES["pagerank"] = _pagerank_oracle_sql()


def q_triangles(spark, sf):
    """Exact triangle count via the degree-orientation wedge join (the
    O(m^1.5) bound that survives skewed graphs; the closing-edge probe
    is ONE hash equi-join on the canonical pair — never an
    OR-condition nested loop). n_triangles is ORACLED against the
    INDEPENDENT direct a<b<c triple join; n_wedges/n_nodes/n_edges
    replay the orientation definitions (they describe the algorithm's
    intermediate shape, not an independent ground truth)."""
    from ..operators.graph import triangle_count

    e = _graph_edges(spark, sf)
    return triangle_count(e, src_col="u", dst_col="v")


ORACLE_TRIANGLES = """
WITH """ + _SQL_GRAPH_EDGES + """,
ec AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
       FROM e0 WHERE s <> d),
deg AS (SELECT node, count(*) AS dg FROM
          (SELECT a AS node FROM ec UNION ALL SELECT b FROM ec)
        GROUP BY node),
o AS (SELECT CASE WHEN da.dg < db.dg
                    OR (da.dg = db.dg AND ec.a < ec.b)
                  THEN ec.a ELSE ec.b END AS u,
             CASE WHEN da.dg < db.dg
                    OR (da.dg = db.dg AND ec.a < ec.b)
                  THEN ec.b ELSE ec.a END AS v
      FROM ec JOIN deg da ON da.node = ec.a
              JOIN deg db ON db.node = ec.b),
w AS (SELECT o1.u, o1.v AS x, o2.v AS y
      FROM o o1 JOIN o o2 ON o2.u = o1.u AND o1.v < o2.v),
-- n_triangles from the INDEPENDENT direct a<b<c triple join (not a
-- replay of the orientation algorithm): a shared algorithmic bug in
-- the wedge path cannot produce a matching count here
tri AS (SELECT count(*) AS c
        FROM ec e1 JOIN ec e2 ON e2.a = e1.b
                   JOIN ec e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM ec) AS n_edges,
       (SELECT count(*) FROM w) AS n_wedges,
       (SELECT c FROM tri) AS n_triangles
"""

QUERIES["triangles"] = q_triangles
ORACLES["triangles"] = ORACLE_TRIANGLES


def q_k_anonymity(spark, sf):
    """k-anonymity audit over (event_type, hour, value-bucket) quasi
    identifiers — ONE hash aggregate, per-class counts and at-risk
    flags. Fully ORACLED (pure groupBy + integer bucketing)."""
    from ..operators.curation import k_anonymity

    e = _t(spark, sf, "events")
    q = e.select(
        "event_type",
        (
            F.col("ts").cast("timestamp").cast("long") % 86400
        ).alias("__sec"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("__v"),
    ).select(
        "event_type",
        F.expr("__sec div 3600").cast("int").alias("hour"),
        # sign-split: a negative micro-value must never meet div
        # (Spark div truncates, SQL // floors — they disagree below 0)
        F.expr(
            "CASE WHEN __v < 0 THEN -((-__v) div 10000)"
            " ELSE __v div 10000 END"
        ).cast("int").alias("value_bucket"),
    )
    return k_anonymity(
        q, quasi_cols=("event_type", "hour", "value_bucket"), k=5
    ).orderBy("event_type", "hour", "value_bucket")


ORACLE_K_ANONYMITY = """
WITH v0 AS (
  SELECT event_type,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600
              AS INT) AS hour,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events),
q AS (
  SELECT event_type, hour,
         CAST(CASE WHEN v < 0 THEN -((-v) // 10000)
                   ELSE v // 10000 END AS INT) AS value_bucket
  FROM v0)
SELECT event_type, hour, value_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS INT) AS at_risk
FROM q GROUP BY event_type, hour, value_bucket
ORDER BY event_type, hour, value_bucket
"""

QUERIES["k_anonymity"] = q_k_anonymity
ORACLES["k_anonymity"] = ORACLE_K_ANONYMITY


_EXPECTATIONS = [
    ("id_not_null", "not_null", "doc_id", None),
    ("chars_min", "min", "n_chars", 10),
    ("chars_max", "max", "n_chars", 400),
    ("lang_known", "in_set", "lang", ["en", "de", "fr"]),
    ("source_shape", "regex", "source", "src[0-9]+"),
]


def q_expectations(spark, sf):
    """Data-contract validation: five expectations (not-null, numeric
    bounds, value set, regex shape) compiled into ONE aggregation pass
    over the scan — a 50-rule contract costs one corpus read. Fully
    ORACLED (per-rule violation sums replay as SQL CASE sums)."""
    from ..operators.curation import validate_expectations

    d = _t(spark, sf, "documents")
    return validate_expectations(d, _EXPECTATIONS).orderBy("rule")


ORACLE_EXPECTATIONS = """
WITH v AS (
  SELECT count(*) AS n,
         sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS v_id,
         sum(CASE WHEN n_chars IS NOT NULL AND n_chars < 10
                  THEN 1 ELSE 0 END) AS v_min,
         sum(CASE WHEN n_chars IS NOT NULL AND n_chars > 400
                  THEN 1 ELSE 0 END) AS v_max,
         sum(CASE WHEN lang IS NOT NULL
                   AND lang NOT IN ('en', 'de', 'fr')
                  THEN 1 ELSE 0 END) AS v_lang,
         sum(CASE WHEN source IS NOT NULL
                   AND NOT regexp_matches(source, '^(?:src[0-9]+)$')
                  THEN 1 ELSE 0 END) AS v_src
  FROM documents)
SELECT * FROM (
  SELECT 'chars_max' AS rule, 'max' AS kind, 'n_chars' AS "column",
         CAST(n AS BIGINT) AS n_rows, CAST(v_max AS BIGINT)
           AS n_violations, v_max = 0 AS passed FROM v
  UNION ALL
  SELECT 'chars_min', 'min', 'n_chars', CAST(n AS BIGINT),
         CAST(v_min AS BIGINT), v_min = 0 FROM v
  UNION ALL
  SELECT 'id_not_null', 'not_null', 'doc_id', CAST(n AS BIGINT),
         CAST(v_id AS BIGINT), v_id = 0 FROM v
  UNION ALL
  SELECT 'lang_known', 'in_set', 'lang', CAST(n AS BIGINT),
         CAST(v_lang AS BIGINT), v_lang = 0 FROM v
  UNION ALL
  SELECT 'source_shape', 'regex', 'source', CAST(n AS BIGINT),
         CAST(v_src AS BIGINT), v_src = 0 FROM v
) ORDER BY rule
"""

QUERIES["expectations"] = q_expectations
ORACLES["expectations"] = ORACLE_EXPECTATIONS


def q_cusum(spark, sf):
    """CUSUM volume-changepoint monitor over daily per-type counts,
    fully ORACLED: the max(0, s+d) recursion is computed by its exact
    closed form s_t = P_t - min(0, P_1..P_t) — two window passes, all
    integers (mean on the grain, threshold cross-multiplied)."""
    from ..operators.windows import cusum_changepoints

    e = _t(spark, sf, "events")
    return cusum_changepoints(e, group_col="event_type").orderBy(
        "event_type", "bucket"
    )


ORACLE_CUSUM = """
WITH c AS (
  SELECT event_type AS g,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS bucket,
         count(*) AS x
  FROM events WHERE ts IS NOT NULL
  GROUP BY g, CAST(floor(epoch(ts)) AS BIGINT) // 86400),
st AS (SELECT g, sum(x) AS tot, count(*) AS nb FROM c GROUP BY g),
j AS (SELECT c.g, c.bucket, c.x,
             st.tot * 1000000 // st.nb AS mean_u
      FROM c JOIN st ON st.g = c.g),
d AS (SELECT *, x * 1000000 - mean_u AS d FROM j),
p0 AS (SELECT *, sum(d) OVER (PARTITION BY g ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
       FROM d),
p AS (SELECT *, min(least(pp, 0)) OVER (PARTITION BY g ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pmin
      FROM p0)
SELECT g AS event_type, bucket, CAST(x AS BIGINT) AS x,
       CAST(d AS BIGINT) AS d, CAST(pp - pmin AS BIGINT) AS s,
       CAST(CASE WHEN (pp - pmin) * 1 > 3 * mean_u
                 THEN 1 ELSE 0 END AS INT) AS flagged
FROM p ORDER BY event_type, bucket
"""

QUERIES["cusum"] = q_cusum
ORACLES["cusum"] = ORACLE_CUSUM


def q_cluster_agreement(spark, sf):
    """Rand-index agreement between two dedup clusterings (exact
    content-fingerprint groups vs the cheap doc-length heuristic) by
    exact pair COUNTING (contingency C(n,2) sums — never pair
    enumeration), fully ORACLED."""
    from ..operators.classify import clustering_agreement
    from ..operators.text import fingerprint

    d = _t(spark, sf, "documents")
    labeled = d.select(
        fingerprint(F.col("text")).alias("fp_group"),
        F.col("n_chars").alias("len_group"),
    )
    return clustering_agreement(labeled, "fp_group", "len_group")


ORACLE_CLUSTER_AGREEMENT = r"""
WITH base AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS a,
         n_chars AS b
  FROM documents
  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
cells AS (SELECT a, b, count(*) AS c FROM base GROUP BY a, b),
sab AS (SELECT coalesce(sum(c * (c - 1) // 2), 0) AS v FROM cells),
ma AS (SELECT a, sum(c) AS c FROM cells GROUP BY a),
sa AS (SELECT coalesce(sum(c * (c - 1) // 2), 0) AS v FROM ma),
mb AS (SELECT b, sum(c) AS c FROM cells GROUP BY b),
sb AS (SELECT coalesce(sum(c * (c - 1) // 2), 0) AS v FROM mb),
nn AS (SELECT count(*) AS n FROM base)
SELECT n, n * (n - 1) // 2 AS t_pairs,
       CAST((SELECT v FROM sab) AS BIGINT) AS s_ab,
       CAST((SELECT v FROM sa) AS BIGINT) AS s_a,
       CAST((SELECT v FROM sb) AS BIGINT) AS s_b,
       CAST(CASE WHEN n < 2 THEN 0
                 ELSE (n * (n - 1) // 2
                       + 2 * (SELECT v FROM sab)
                       - (SELECT v FROM sa)
                       - (SELECT v FROM sb)) * 1000000
                      // (n * (n - 1) // 2) END AS BIGINT) AS rand_u
FROM nn
"""

QUERIES["cluster_agreement"] = q_cluster_agreement
ORACLES["cluster_agreement"] = ORACLE_CLUSTER_AGREEMENT


def q_dim_trunc(spark, sf):
    """Matryoshka truncation eval: overlap@10 between the full-vector
    top-10 and the first-16-dims top-10, fully ORACLED — both rankings
    use EXACT integer dot products on the micro grid with id
    tiebreaks, so the rank cut is deterministic (raw float cosines at
    a cut carry boundary risk — the hard_negatives precedent)."""
    from ..operators.similarity import dim_truncation_recall

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 7)
    return dim_truncation_recall(q, e, trunc_dims=16, k=10).orderBy("q_id")


ORACLE_DIM_TRUNC = """
WITH v AS (SELECT vec_id,
                  list_transform(embedding::DOUBLE[],
                    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id % 50 = 7),
p AS (SELECT q.qid, g.vec_id AS gid,
             list_sum(list_transform(list_zip(g.v, q.qv),
                                     z -> z[1] * z[2])) AS df_,
             list_sum(list_transform(
               list_zip(list_slice(g.v, 1, 16), list_slice(q.qv, 1, 16)),
               z -> z[1] * z[2])) AS dt_
      FROM v g, q WHERE g.vec_id <> q.qid),
r AS (SELECT qid, gid,
             row_number() OVER (PARTITION BY qid
               ORDER BY df_ DESC, gid ASC) AS rf,
             row_number() OVER (PARTITION BY qid
               ORDER BY dt_ DESC, gid ASC) AS rt
      FROM p),
c AS (SELECT qid, count(*) AS c FROM r
      WHERE rf <= 10 AND rt <= 10 GROUP BY qid)
SELECT q.qid AS q_id, CAST(coalesce(c.c, 0) AS INT) AS n_overlap,
       CAST(10 AS INT) AS k
FROM q LEFT JOIN c ON c.qid = q.qid ORDER BY q_id
"""

QUERIES["dim_trunc"] = q_dim_trunc
ORACLES["dim_trunc"] = ORACLE_DIM_TRUNC


def q_multi_signal_dedup(spark, sf):
    """Union-of-evidence dedup: canonical-URL equality OR content-
    fingerprint equality chains transitively into one component
    (prefixed buckets into ONE min-label propagation — extra signals
    add edges, never fixpoint cost). Fully ORACLED via the bucket-min
    star edges + recursive-CTE components."""
    from ..operators.dedup import multi_signal_dedup
    from ..operators.text import fingerprint
    from ..operators.web import canonical_url

    d = _t(spark, sf, "documents")
    sig = d.select(
        "doc_id",
        canonical_url(_synth_url(F.col("doc_id"))).alias("curl"),
        fingerprint(F.col("text")).alias("fp"),
    )
    return multi_signal_dedup(sig, signal_cols=("curl", "fp")).orderBy(
        "doc_id"
    )


ORACLE_MULTI_SIGNAL = (
    "WITH RECURSIVE " + _SQL_URL_CANON + r""",
sig AS (
  SELECT doc_id, 's0:' || canonical_url AS b FROM s7
  UNION ALL
  SELECT doc_id,
         's1:' || md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
  FROM documents WHERE text IS NOT NULL),
bmin AS (SELECT b, min(doc_id) AS m FROM sig GROUP BY b),
e AS (SELECT sig.doc_id AS s, bmin.m AS d
      FROM sig JOIN bmin USING (b) WHERE sig.doc_id <> bmin.m),
sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
reach(a, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d),
comp AS (SELECT a AS doc_id, min(r) AS rep_id FROM reach GROUP BY a)
SELECT d.doc_id, comp.rep_id
FROM documents d JOIN comp USING (doc_id) ORDER BY doc_id
"""
)

QUERIES["multi_signal_dedup"] = q_multi_signal_dedup
ORACLES["multi_signal_dedup"] = ORACLE_MULTI_SIGNAL


def q_image_meta_audit(spark, sf):
    """Declared-vs-decoded metadata audit, fully ORACLED: declared
    dims are perturbed deterministically (every 5th width +8, every
    7th height -4), one row's bytes are corrupted outright, and the
    decode recovers the formula dims — so DuckDB predicts every
    verdict (mismatch flags, quarantined NULLs) from arithmetic. The
    error TEXT is engine-specific, so the compare carries a boolean
    ``failed`` instead."""
    from ..operators.images import audit_image_meta
    from ..sources.images import formula_images_df

    rid = F.regexp_extract("image_id", r"img(\d+)", 1).cast("int")
    imgs = (
        formula_images_df(spark, 12)
        .withColumn(
            "w",
            F.when(rid % 5 == 0, F.col("w") + 8).otherwise(F.col("w")),
        )
        .withColumn(
            "h",
            F.when(rid % 7 == 0, F.col("h") - 4).otherwise(F.col("h")),
        )
        .withColumn(
            "bytes",
            F.when(rid == 11, F.lit(bytearray(b"not an image"))).otherwise(
                F.col("bytes")
            ),
        )
    )
    out = audit_image_meta(imgs)
    return out.select(
        "image_id", "decl_w", "decl_h", "real_w", "real_h", "meta_ok",
        F.col("err").isNotNull().cast("int").alias("failed"),
    ).orderBy("image_id")


ORACLE_IMAGE_META_AUDIT = """
WITH ids AS (SELECT unnest(range(12)) AS i),
""" + _SQL_FORMULA_DIMS + """
SELECT printf('img%08d', i) AS image_id,
       CAST(w + CASE WHEN i % 5 = 0 THEN 8 ELSE 0 END AS INT) AS decl_w,
       CAST(h - CASE WHEN i % 7 = 0 THEN 4 ELSE 0 END AS INT) AS decl_h,
       CASE WHEN i = 11 THEN NULL ELSE CAST(w AS INT) END AS real_w,
       CASE WHEN i = 11 THEN NULL ELSE CAST(h AS INT) END AS real_h,
       CASE WHEN i = 11 THEN NULL
            WHEN i % 5 = 0 OR i % 7 = 0 THEN 0 ELSE 1 END AS meta_ok,
       CAST(CASE WHEN i = 11 THEN 1 ELSE 0 END AS INT) AS failed
FROM dims ORDER BY image_id
"""

QUERIES["image_meta_audit"] = q_image_meta_audit
ORACLES["image_meta_audit"] = ORACLE_IMAGE_META_AUDIT


def q_dedup_prf(spark, sf):
    """Dedup quality vs GROUND TRUTH: pair-level precision/recall/F1
    of the dHash Hamming dedup against the fixture's true groups
    (i div 3), fully ORACLED — components replay via the recursive
    CTE (the image_dedup machinery) and the P/R/F1 pair counting is
    exact integer arithmetic with deferred divisions."""
    from ..operators.classify import pair_prf
    from ..operators.images import phash_dedup
    from ..sources.images import near_dup_images_df

    out = phash_dedup(
        near_dup_images_df(spark, 18), hash_type="dhash", max_hamming=2
    )
    labeled = out.select(
        F.col("rep_id").alias("pred"),
        F.expr(
            "'g' || CAST(CAST(substring(image_id, 4) AS BIGINT) div 3"
            " AS STRING)"
        ).alias("truth"),
    )
    return pair_prf(labeled, "pred", "truth")


ORACLE_DEDUP_PRF = """
WITH RECURSIVE """ + _SQL_NEAR_DUP_HASHES + """,
bands AS (SELECT i, bnd.g AS band, substr(bits, 1 + 16*bnd.g, 16) AS val,
                 bits
          FROM hashes, (SELECT unnest(range(4)) AS g) bnd),
pairs AS (SELECT DISTINCT a.i AS id_a, b.i AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
                                    AND b.i < a.i
          WHERE bit_count(xor(a.bits::BIT, b.bits::BIT)) <= 2),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(a, r) AS (
  SELECT i, i FROM (SELECT DISTINCT i FROM hashes)
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d),
comp AS (SELECT a AS i, min(r) AS rep FROM reach GROUP BY a),
lab AS (SELECT rep AS p, i // 3 AS t FROM comp),
cells AS (SELECT p, t, count(*) AS c FROM lab GROUP BY p, t),
tp AS (SELECT coalesce(sum(c * (c - 1) // 2), 0) AS v FROM cells),
mp AS (SELECT p, sum(c) AS c FROM cells GROUP BY p),
pp AS (SELECT coalesce(sum(c * (c - 1) // 2), 0) AS v FROM mp),
mt AS (SELECT t, sum(c) AS c FROM cells GROUP BY t),
ap AS (SELECT coalesce(sum(c * (c - 1) // 2), 0) AS v FROM mt),
nn AS (SELECT count(*) AS n FROM lab)
SELECT CAST(n AS BIGINT) AS n,
       CAST((SELECT v FROM tp) AS BIGINT) AS tp,
       CAST((SELECT v FROM pp) AS BIGINT) AS pred_pairs,
       CAST((SELECT v FROM ap) AS BIGINT) AS true_pairs,
       CAST(CASE WHEN (SELECT v FROM pp) = 0 THEN 0
                 ELSE (SELECT v FROM tp) * 1000000 // (SELECT v FROM pp)
            END AS BIGINT) AS precision_u,
       CAST(CASE WHEN (SELECT v FROM ap) = 0 THEN 0
                 ELSE (SELECT v FROM tp) * 1000000 // (SELECT v FROM ap)
            END AS BIGINT) AS recall_u,
       CAST(CASE WHEN (SELECT v FROM pp) + (SELECT v FROM ap) = 0 THEN 0
                 ELSE 2 * (SELECT v FROM tp) * 1000000
                      // ((SELECT v FROM pp) + (SELECT v FROM ap))
            END AS BIGINT) AS f1_u
FROM nn
"""

QUERIES["dedup_prf"] = q_dedup_prf
ORACLES["dedup_prf"] = ORACLE_DEDUP_PRF


def q_series_corr(spark, sf):
    """Pairwise Pearson correlation between per-type daily count
    series on the common grid (zeros for absent buckets), fully
    ORACLED: integer moment sums + ONE fixed-order double expression
    (IEEE-identical cross-engine), rounded 1e-6."""
    from ..operators.windows import series_correlation

    e = _t(spark, sf, "events")
    return series_correlation(e, group_col="event_type").orderBy(
        "g_a", "g_b"
    )


ORACLE_SERIES_CORR = """
WITH c AS (
  SELECT event_type AS g,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS b,
         count(*) AS x
  FROM events WHERE ts IS NOT NULL
  GROUP BY g, CAST(floor(epoch(ts)) AS BIGINT) // 86400),
grid AS (SELECT g, b FROM (SELECT DISTINCT g FROM c),
                          (SELECT DISTINCT b FROM c)),
al AS (SELECT grid.g, grid.b, coalesce(c.x, 0) AS x
       FROM grid LEFT JOIN c ON c.g = grid.g AND c.b = grid.b),
p AS (SELECT a.g AS g_a, bb.g AS g_b, a.x AS xa, bb.x AS xb
      FROM al a JOIN al bb ON bb.b = a.b AND a.g < bb.g),
m AS (SELECT g_a, g_b, count(*) AS n, sum(xa) AS sa, sum(xb) AS sb,
             sum(xa * xb) AS dot, sum(xa * xa) AS qa,
             sum(xb * xb) AS qb
      FROM p GROUP BY g_a, g_b)
SELECT g_a, g_b, CAST(n AS BIGINT) AS n_buckets,
       CAST(sa AS BIGINT) AS sum_a, CAST(sb AS BIGINT) AS sum_b,
       CAST(dot AS BIGINT) AS dot,
       round(CASE WHEN (n * qa - sa * sa) * (n * qb - sb * sb) = 0
                  THEN NULL
                  ELSE CAST(n * dot - sa * sb AS DOUBLE)
                       / sqrt(CAST(n * qa - sa * sa AS DOUBLE)
                              * CAST(n * qb - sb * sb AS DOUBLE))
             END, 6) AS corr
FROM m ORDER BY g_a, g_b
"""

QUERIES["series_corr"] = q_series_corr
ORACLES["series_corr"] = ORACLE_SERIES_CORR


def q_missing_buckets(spark, sf):
    """Per-user daily-bucket gap report (the backfill planner input):
    expected grid from each entity's own [min, max], present buckets
    removed by anti join. Fully ORACLED (range + EXCEPT)."""
    from ..operators.windows import missing_buckets

    e = _t(spark, sf, "events")
    return missing_buckets(e, entity_col="user_id").orderBy(
        "user_id", "bucket"
    )


ORACLE_MISSING_BUCKETS = """
WITH present AS (
  SELECT DISTINCT user_id AS e,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS b
  FROM events WHERE ts IS NOT NULL),
bounds AS (SELECT e, min(b) AS mn, max(b) AS mx FROM present GROUP BY e),
grid AS (SELECT e, unnest(range(mn, mx + 1)) AS b FROM bounds)
SELECT grid.e AS user_id, grid.b AS bucket
FROM grid
LEFT JOIN present ON present.e = grid.e AND present.b = grid.b
WHERE present.e IS NULL
ORDER BY user_id, bucket
"""

QUERIES["missing_buckets"] = q_missing_buckets
ORACLES["missing_buckets"] = ORACLE_MISSING_BUCKETS


def q_golden_record(spark, sf):
    """COMPOSED entity-resolution tail: multi-signal components (URL
    OR fingerprint) -> per-component survivorship (earliest id,
    longest text with the value tiebreak, max n_chars). Fully ORACLED:
    components replay via the recursive CTE, the attribute picks as
    plain aggregates over them — merging survivorship into the wrong
    component set fails the compare."""
    from ..operators.dedup import golden_record, multi_signal_dedup
    from ..operators.text import fingerprint
    from ..operators.web import canonical_url

    d = _t(spark, sf, "documents")
    sig = d.select(
        "doc_id",
        "text",
        "n_chars",
        canonical_url(_synth_url(F.col("doc_id"))).alias("curl"),
        fingerprint(F.col("text")).alias("fp"),
    ).persist()  # two consumers (component build + survivorship);
    # unpersisted, the URL-regex + md5 projection ran twice (round 6)
    labels = multi_signal_dedup(sig, signal_cols=("curl", "fp"))
    out = golden_record(
        sig,
        labels,
        best_of={
            "first_id": ("doc_id", "min"),
            "best_text": ("text", "longest"),
            "max_chars": ("n_chars", "max"),
        },
    )
    return out.select(
        "rep_id", "n_members", "first_id", "max_chars", "best_text"
    ).orderBy("rep_id")


ORACLE_GOLDEN_RECORD = (
    "WITH RECURSIVE " + _SQL_URL_CANON + r""",
sig AS (
  SELECT doc_id, 's0:' || canonical_url AS b FROM s7
  UNION ALL
  SELECT doc_id,
         's1:' || md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
  FROM documents WHERE text IS NOT NULL),
bmin AS (SELECT b, min(doc_id) AS m FROM sig GROUP BY b),
e AS (SELECT sig.doc_id AS s, bmin.m AS d
      FROM sig JOIN bmin USING (b) WHERE sig.doc_id <> bmin.m),
sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
reach(a, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT sym.s, reach.r FROM sym JOIN reach ON reach.a = sym.d),
comp AS (SELECT a AS doc_id, min(r) AS rep_id FROM reach GROUP BY a),
j AS (SELECT comp.rep_id, d.doc_id, d.text, d.n_chars
      FROM documents d JOIN comp USING (doc_id)),
pick AS (
  SELECT rep_id,
         CAST(count(*) AS BIGINT) AS n_members,
         min(doc_id) AS first_id,
         CAST(max(n_chars) AS BIGINT) AS max_chars,
         max(CASE WHEN text IS NOT NULL
                  THEN struct_pack(l := len(text), v := text) END) AS bt
  FROM j GROUP BY rep_id)
SELECT rep_id, n_members, first_id, max_chars, bt.v AS best_text
FROM pick ORDER BY rep_id
"""
)

QUERIES["golden_record"] = q_golden_record
ORACLES["golden_record"] = ORACLE_GOLDEN_RECORD


# ---------------------------------------------------------------------------
# Registry ordering.
#
# The driver's correctness gate windows the FIRST 50 registered queries
# (CORRECTNESS_r04 covered only the 50 oldest entries, so none of the
# round-3/4 operators ever reached the hard signal).  Reorder the registry
# so the window covers the newest / highest-risk operators plus a
# representative core (asof / windows / aggs / kernel); the long-stable
# remainder keeps its relative order after the priority block.  Every name
# in _PRIORITY must exist — tests assert both directions.
#
# Since the seventh wave the window holds ONLY never-driver-graded
# queries (every green-graded rep was demoted); later-wave additions
# (kmv/interval/psi/temperature/skew/mosaic/mae/incremental/span/
# bloom/zorder/length_bucket_pack) register AFTER the priority block
# because the 50-slot window is zero-sum among never-graded peers —
# the builder's full gate mirror (tools/check_oracle.py) and the
# judge's re-run cover them; nothing inside the window can be demoted
# without losing an equally ungraded query.
# ---------------------------------------------------------------------------

_PRIORITY: list[str] = [
    # THIRD-SESSION wave (batches 26-38; final-round window refresh,
    # newest-first rule): the 12 riskiest never-graded third-session
    # operators — new families (web/url, graph, changepoint, range-
    # frame attribution, audio fingerprint, matryoshka eval, composed
    # curation, multi-signal components) take the hard signal.
    # Demoted to make room (families still repped inside): photometric
    # + border_crop + image_letterbox (image family keeps dedup x2 /
    # gradients / equalize / decontaminate / entropy / curation),
    # confusion_eval + calibration (eval keeps auc_roc + ndcg),
    # int8_quantize (pq_trained/ivfpq carry compression), wordpiece
    # (bpe_ids carries tokenizers), epoch_shuffle + jitter_moments +
    # cutmix_pairs + batch_manifest (loader family keeps batch_pack /
    # epoch_augment / mixup / rrc / loader_shards / shard_packing /
    # repeat_factor), unigram_lm (bigram_lm composes the same
    # micro-logp machinery at order 2).
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
    # round-5 image-curation additions (ninth wave demoted
    # image_hashes / image_quality_gate / image_aspect_buckets — all
    # three are composed AND graded inside the window by
    # image_curation, which chains gate → hash dedup → aspect buckets
    # end to end — to admit the second session's never-graded anchors:
    # auc_roc (the exact-eval family), int8_quantize (embedding
    # compression), wordpiece (the non-BPE tokenizer; bpe_ids keeps
    # the BPE side inside)
    "image_dedup",
    "image_dedup_verified",
    "image_gradients",
    "image_equalize",
    "image_decontaminate",
    "image_curation",
    "auc_roc",
    "webdataset_roundtrip",
    "audio_quality_gate",
    # round-5 third-wave additions (crossmodal gate, entropy signal,
    # letterbox transform, PMI phrase mining)
    "crossmodal_gate",
    "image_entropy",
    "pmi_collocations",
    # round-5 fourth-wave additions (data-loader layer: normalization
    # constants, batch packing, epoch augmentation, mixup)
    "corpus_pixel_stats",
    "batch_pack",
    "epoch_augment",
    "mixup_pairs",
    # round-5 fifth-wave additions (batch manifest collation, pixel-
    # oracled RandomResizedCrop)
    "rrc_crop",
    # round-5 sixth-wave additions (pair augmentations + loader shards)
    "loader_shards",
    "shard_packing",
    "repeat_factor",
    # round-5 seventh-wave additions (semantic dedup + duplicate-aware
    # group split)
    "semdedup",
    "leakage_split",
    "order_stats",
    # round-4 additions + highest-risk round-3 operators (image_stats/
    # image_augment/image_tiles/image_formats demoted — see below)
    "paragraph_dedup",
    "winnow_overlap",
    "bpe_ids",
    "embedding_covariance",
    "flac_decode",
    "contamination_report",
    "ivf_topk",
    "ivfpq_topk",
    "pq_trained_topk",
    "cv_accuracy",
    "logreg_classify",
    "minhash_dedup_verified",
    "pca_project",
    "svm_classify",
    # twelfth-batch additions (never graded, newest-first rule):
    "hll_distinct",
    # Eighth wave demotions (twelfth batch): minhash_dedup (green
    # driver grades in ALL of rounds 1-4 — the strongest
    # rest-on-a-hard-grade case in the registry; the verified variant
    # stays inside), stratified_split (the two-level rank it pioneered
    # is graded by batch_pack/shard_packing/leakage_split inside the
    # window), repetition_stats (text-quality family: text_quality
    # holds green r1-r4 grades; the HOF technique is repped by
    # pmi_collocations inside), redact_pii (regexp family:
    # pattern_stats holds green r1-r4 grades), bm25_rank (broadcast-
    # stats ranking; retrieval ranking repped by the oracled
    # retrieval_recall and similarity family inside ivfpq/pq_trained).
    "minhash_dedup",
    "repetition_stats",
    "redact_pii",
    "bm25_rank",
    "stratified_split",
    # Ninth wave demotions (see the window header comment):
    "image_hashes",
    "image_quality_gate",
    "image_aspect_buckets",
    # representative core. Moved past the 50-window to make room for
    # the round-5 image block, each with its family still represented
    # inside the window: asof_merge/asof_forward/asof_tolerance/ffill/
    # entity_features_rel (asof + entity_features stay), mp3_decode
    # (rows-only; flac_decode carries the codec-decode signal),
    # decontaminate (decontaminate_ngram + image_decontaminate stay),
    # bpe_encode (bpe_merges + bpe_ids stay), corpus_sample/mix_corpus
    # (stratified_split + pack_sequences carry sampling/packing),
    # hdf5_roundtrip (long-green since r3, pytest-covered).
    # Third wave demotions: image_stats/image_augment/image_tiles
    # (image family keeps hashes/dedup/gate/buckets/gradients/equalize/
    # entropy/letterbox/curation inside), image_formats (decode signal
    # carried by webdataset_roundtrip + image_letterbox's PNG roundtrip
    # + flac_decode).
    # Fourth wave demotions: lag_lead/pricing_summary/stats7/band_agg —
    # all four carry repeated green driver grades from rounds 1-4
    # (they sat inside every earlier window), unlike the never-graded
    # round-5 block; windows stay repped by sessionize + asof, the
    # kernel feature agg by entity_features.
    # Fifth wave demotions: pq_topk (the PQ family keeps ivfpq_topk —
    # which composes the same encode/ADC-serve path behind the coarse
    # probe — and pq_trained_topk, which also grades pq_fit) and
    # decontaminate_ngram (contamination_report + image_decontaminate
    # keep the decontamination family inside the window).
    # Seventh wave demotions: simhash (driver-graded GREEN oracled in
    # CORRECTNESS_r04; hamming64 near-dup family keeps image_dedup/
    # image_dedup_verified inside, signature SQL-recompute kept by
    # minhash_dedup) — makes room for semdedup.
    # Sixth wave demotions: bpe_merges (bpe_ids trains the same merges
    # and grades the id surface too), cms_counts (exact CAST-parity
    # sketch, simplest oracle in the registry), embedding_dedup
    # (dedup family keeps minhash_dedup/_verified + image_dedup
    # + image_dedup_verified inside), pack_sequences (shard_packing
    # grades the same two-level prefix sum; stratified_split keeps the
    # two-level rank inside), entity_features (driver-graded green in
    # CORRECTNESS_r04; the kernel feature agg signal it carried is the
    # one family rep allowed to rest on a hard grade).
    "asof",  # demoted 7th wave with sessionize: both hold green oracled
    # grades in EVERY round-1..4 window (the entity_features rest-on-a-
    # hard-grade precedent); the as-of family's pytest + skew/leakage
    # property tests keep covering the flagship path
    "sessionize",  # demoted 7th wave: green oracled grades r1-r4 every
    # round; asof stays as the windows/temporal core rep (the north-rule
    # flagship join); ffill/rolling equally long-green already sit out
    "pq_topk",
    "decontaminate_ngram",
    "bpe_merges",
    "cms_counts",
    "embedding_dedup",
    "pack_sequences",
    "entity_features",
    "lag_lead",
    "pricing_summary",
    "stats7",
    "band_agg",
]


def _reorder_registry() -> None:
    missing = [n for n in _PRIORITY if n not in QUERIES]
    if missing:  # pragma: no cover - guarded by tests
        raise KeyError(f"_PRIORITY names not registered: {missing}")
    ordered = {n: QUERIES[n] for n in _PRIORITY}
    ordered.update({n: f for n, f in QUERIES.items() if n not in ordered})
    QUERIES.clear()
    QUERIES.update(ordered)
    ordered_sql = {n: ORACLES[n] for n in _PRIORITY if n in ORACLES}
    ordered_sql.update({n: s for n, s in ORACLES.items() if n not in ordered_sql})
    ORACLES.clear()
    ORACLES.update(ordered_sql)


_reorder_registry()
