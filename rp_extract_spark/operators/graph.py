"""Graph operators over edge tables (link graphs, co-click graphs,
near-dup graphs). Complements the dedup module's component machinery
(propagate_min_ids) with ranking and motif counting.

Everything is DataFrame joins/aggregations — no driver-side graph
object ever materializes, so the operators scale with the edge table,
not with what fits on one machine. Determinism contract: PageRank runs
a FIXED iteration count on an integer micro-rank grid (every division
floors, both engines agree), so results replay bit-for-bit in SQL.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank_fixed", "triangle_count"]


def pagerank_fixed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 5,
    damp_num: int = 85,
    damp_den: int = 100,
    grain: int = 10**12,
) -> DataFrame:
    """PageRank with a FIXED iteration count on the integer micro-rank
    grid — importance scores for link/citation graphs (which pages'
    text to trust, which near-dup cluster member is canonical).

    Exactness contract: ranks live on ``grain`` micro-units; every
    step floors (r div deg per edge, damp*insum div den per node), so
    iteration k is a pure integer function of iteration k-1 and the
    whole run unrolls as SQL CTEs. Simplified model: dangling-node
    mass is NOT redistributed (ranks sum to < grain when sinks exist)
    — fine for relative ordering, documented for absolute use.

    Scale path: the edge table joins ranks on src (narrow (node, r)
    rows shuffle; edges persist pre-joined with their out-degree) and
    aggregates contributions on dst — two hash exchanges per
    iteration on corpus-sized tables, constant driver state (one
    count). Returns (node, r) after ``iters`` rounds."""
    if iters < 0:
        raise ValueError("iters must be >= 0")
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).distinct()
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    deg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
    # both caches feed every iteration AND the returned lazy plan —
    # they stay pinned until eviction (leak-until-evict is the
    # documented cost choice: unpersisting before the caller evaluates
    # the result would silently recompute the whole chain)
    ed = e.join(deg, "__s").persist()
    nodes = nodes.persist()
    n = nodes.count()
    if n == 0:
        raise ValueError("empty graph")
    base = ((damp_den - damp_num) * (grain // n)) // damp_den
    r = nodes.select("node", F.lit(grain // n).alias("r"))
    zero = nodes.select("node", F.lit(0).cast("long").alias("__c"))
    for _ in range(int(iters)):
        contrib = ed.join(r, ed["__s"] == r["node"]).select(
            F.col("__d").alias("node"), F.expr("r div __deg").alias("__c")
        )
        # zero-in-degree nodes enter via the union of zeros — one hash
        # agg on the node key replaces a separate agg + left join (one
        # fewer exchange per iteration; iterative jobs pay a fixed
        # barrier per round, so per-round stage count IS the scaling
        # bound — BENCH/BASELINE.md, "Graph (PageRank) scaling")
        r = (
            contrib.unionByName(zero)
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"{damp_num} * __in div {damp_den}")
                ).alias("r"),
            )
        )
    return r


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact triangle count of the undirected simple graph behind an
    edge table — the clustering-structure signal (spam link farms and
    scraped mirror-rings are triangle-dense; a near-dup graph's
    triangle rate measures cluster coherence).

    Scale path — the degree-orientation trick: canonicalize to a < b
    simple edges, then orient every edge from the (degree, node)-
    SMALLER endpoint to the larger. Each triangle is counted exactly
    once, and the wedge join fans out per node by its ORIENTED
    out-degree, which is O(sqrt(m)) even for celebrity nodes — the
    standard bound that makes triangle counting feasible on skewed
    graphs (a naive a<b<c triple join explodes on the hot node).
    Returns one row: (n_nodes, n_edges, n_wedges, n_triangles)."""
    raw = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
    ).filter(F.col("a") != F.col("b")).distinct().persist()
    deg = (
        raw.select(F.col("a").alias("node"))
        .unionByName(raw.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    withdeg = raw.join(da, "a").join(db, "b")
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).persist()
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    # the closing edge between x and y may be oriented either way; fold
    # it back to (min, max) so the wedge probe is ONE hash equi-join —
    # an OR-of-equalities condition would plan as a nested-loop join
    closing = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    )
    # wedges feeds both the wedge count and the closing probe — the
    # O(m^1.5) join must run ONCE (persist-any-dual-consumer rule)
    wedges = wedges.persist()
    try:
        tri = wedges.join(closing, ["x", "y"], "inner")
        n_nodes = deg.count()
        n_edges = raw.count()
        n_wedges = wedges.count()
        n_tri = tri.count()
    finally:
        wedges.unpersist()
        oriented.unpersist()
        raw.unpersist()
    return closing.sparkSession.createDataFrame(
        [(n_nodes, n_edges, n_wedges, n_tri)],
        "n_nodes bigint, n_edges bigint, n_wedges bigint,"
        " n_triangles bigint",
    )
