"""global_rank (the two-level rank / prefix sum every ordered-position
operator uses) against a plain one-stage Window reference."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rp_extract_spark._prims import global_rank


def _rows(n, seed, group_of):
    rng = np.random.default_rng(seed)
    return [
        (i, group_of(i, rng), int(rng.integers(0, 5)), int(rng.integers(-3, 20)))
        for i in range(n)
    ]


# name -> (group of row i, order (a function: Columns need a session),
# groups)
CASES = {
    # few distinct first keys: ties broken by id
    "ties": (lambda i, r: int(r.integers(0, 3)), lambda: ("k", "id"), ("g",)),
    "desc": (lambda i, r: int(r.integers(0, 3)),
             lambda: (F.col("k").desc(), "id"), ("g",)),
    "null_group": (lambda i, r: None if i % 4 == 0 else int(r.integers(0, 2)),
                   lambda: ("k", "id"), ("g",)),
    # one group holds ~90% of the rows
    "dominant_group": (lambda i, r: 0 if r.random() < 0.9 else 1,
                       lambda: ("k", "id"), ("g",)),
    "no_groups": (lambda i, r: 0, lambda: ("k", "id"), ()),
}


def _reference(df, order, groups):
    w = Window.partitionBy(*groups).orderBy(*order)
    return df.select(
        "id",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy(*groups)).alias("__n"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)).alias("__cum_v"),
    )


@pytest.mark.parametrize("parts", [1, 13])
@pytest.mark.parametrize("case", sorted(CASES))
def test_global_rank_matches_window(spark, case, parts):
    group_of, order, groups = CASES[case]
    order = order()
    df = spark.createDataFrame(
        _rows(120, 5, group_of), "id long, g int, k int, v long"
    ).repartition(parts)
    out = global_rank(df, order, groups=groups, sums=("v",))
    assert out.columns == ["id", "g", "k", "v", "__rn", "__n", "__cum_v"]
    got = sorted(tuple(r) for r in
                 out.select("id", "__rn", "__n", "__cum_v").collect())
    want = sorted(tuple(r) for r in _reference(df, order, groups).collect())
    assert got == want
    assert len(got) == 120


@pytest.mark.parametrize("parts", [1, 13])
def test_global_rank_empty_frame(spark, parts):
    df = spark.createDataFrame([], "id long, g int, k int, v long")
    out = global_rank(df.repartition(parts), ("k", "id"), groups=("g",),
                      sums=("v",))
    assert out.columns == ["id", "g", "k", "v", "__rn", "__n", "__cum_v"]
    assert out.collect() == []
