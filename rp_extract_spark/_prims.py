"""Physical shapes the operators share, each implemented once.

- ``arrow_stage``: the per-record decode stage. Project the key and
  input columns (so parquet prunes the rest), run one ``mapInPandas``
  stage, call a per-record function, and isolate failures per record —
  one corrupt blob yields an ``err`` row and never fails the batch
  (the reference's decode loop, rp_extract_batch.py:421-425).
- ``global_rank``: exact ordered positions and running sums without a
  global window (segment positions, batch and shard offsets).
- ``spread``: round-robin a one-split input before a CPU-bound stage.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .codecs import decode_image, to_gray

QUARANTINED = "quarantined row (bytes is NULL)"


def arrow_stage(
    df: DataFrame,
    key_cols: Sequence[str],
    in_cols: Sequence[str],
    schema: T.StructType,
    fn: Callable[..., dict],
) -> DataFrame:
    """``df.select(*key_cols, *in_cols).mapInPandas(...)`` with one
    output row per input row: the ``key_cols`` values plus the value
    fields of ``fn(*in_values)``, ``err`` NULL. When ``fn`` raises, the
    row keeps its keys, ``err`` (if the schema has one) holds
    ``"<ExceptionClass>: <message>"`` and every other field is NULL.
    A column may be both a key and an input.

    Key columns pass through as the batch's own series; value fields
    are object columns, so a nullable int64 (a 64-bit hash next to an
    err row) reaches Arrow exactly instead of through float64."""
    key_cols, in_cols = tuple(key_cols), tuple(in_cols)
    names = schema.fieldNames()
    values = [n for n in names if n not in key_cols]
    null_row = dict.fromkeys(values)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for iv in zip(*[b[c].values for c in in_cols]):
                try:
                    rows.append({**null_row, **fn(*iv)})
                except Exception as e:  # noqa: BLE001
                    rows.append({**null_row, "err": f"{type(e).__name__}: {e}"})
            out = pd.DataFrame(rows, columns=values, dtype=object)
            for c in key_cols:
                out[c] = b[c].to_numpy()
            yield out[names]

    cols = list(dict.fromkeys(key_cols + in_cols))
    return df.select(*cols).mapInPandas(run, schema)


def gray(data, fmt: str, dtype=np.uint8) -> np.ndarray:
    """Decode one image payload to a grayscale ``dtype`` array; a NULL
    payload (a row quarantined upstream) raises."""
    if data is None:
        raise ValueError(QUARANTINED)
    return to_gray(decode_image(bytes(data), fmt)).astype(dtype)


def moments(px: np.ndarray) -> dict:
    """Position-sensitive integer moments of an int64 image:
    m0 = sum(px), mx = sum(px*x), my = sum(px*y)."""
    h, w = px.shape
    return {
        "w": w,
        "h": h,
        "m0": int(px.sum()),
        "mx": int((px.sum(axis=0) * np.arange(w, dtype=np.int64)).sum()),
        "my": int((px.sum(axis=1) * np.arange(h, dtype=np.int64)).sum()),
    }


def global_rank(
    df: DataFrame,
    order: Sequence[str | Column],
    groups: Sequence[str] = (),
    sums: Sequence[str] = (),
) -> DataFrame:
    """``df`` plus ``__rn`` (1-based rank by ``order`` within
    ``groups``), ``__n`` (the group size) and, for each column ``c`` in
    ``sums``, ``__cum_<c>`` (its inclusive running sum in rank order).
    Rows that tie on ``order`` get distinct ranks in arbitrary order, so
    callers end ``order`` with a unique key. A NULL group key ranks as
    one group, as SQL ``PARTITION BY`` does.

    Two-level, never a global window (an unpartitioned window moves
    the corpus to one task): range-partition by (groups, order) so one
    dominant group spreads over many partitions, rank and cumsum per
    (group, partition) fully in parallel, then lift each partition by
    a groups x partitions table of exclusive base counts and sums,
    broadcast back.

    The range partitioner samples its bounds, so two evaluations of the
    input may place rows differently; the ``__pid`` table is persisted
    so the rank window and the base table see one placement. The cache
    is never released (leak-until-evict): the caller's plan is lazy and
    outlives this call. Spark logs "No Partition Defined for Window"
    when ``groups`` is empty — expected and benign, that window runs
    over the base table (one row per partition), not over the data."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    t = (
        df.repartitionByRange(n_parts, *groups, *order)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    # ROWS frame, not the default RANGE: tied rows must not share a
    # peer-inclusive running sum
    w = (Window.partitionBy(*groups, "__pid").orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = t.withColumn("__lrn", F.row_number().over(w))
    for c in sums:
        local = local.withColumn(f"__lcum_{c}", F.sum(c).over(w))
    parts = t.groupBy(*groups, "__pid").agg(
        F.count(F.lit(1)).alias("__c"),
        *[F.sum(c).alias(f"__psum_{c}") for c in sums],
    )
    wg = Window.partitionBy(*groups)
    before = wg.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    bases = parts.select(
        *[F.col(g).alias(f"__g{i}") for i, g in enumerate(groups)],
        F.col("__pid").alias("__bpid"),
        F.coalesce(F.sum("__c").over(before), F.lit(0)).alias("__base"),
        F.sum("__c").over(wg).alias("__n"),
        *[F.coalesce(F.sum(f"__psum_{c}").over(before), F.lit(0))
          .alias(f"__base_{c}") for c in sums],
    )
    on = [F.col("__pid") == F.col("__bpid")] + [
        F.col(g).eqNullSafe(F.col(f"__g{i}")) for i, g in enumerate(groups)
    ]
    return local.join(F.broadcast(bases), on).select(
        *df.columns,
        (F.col("__base") + F.col("__lrn")).alias("__rn"),
        "__n",
        *[(F.col(f"__base_{c}") + F.col(f"__lcum_{c}")).alias(f"__cum_{c}")
          for c in sums],
    )


def spread(df: DataFrame) -> DataFrame:
    """A CPU-bound Python stage over a SMALL input (one parquet file =
    one split) would otherwise run on a single core — measured 4.7 s
    single-task vs ~0.4 s spread for sf0.1 minhash signatures.
    Round-robin repartition up to defaultParallelism; inputs that are
    already at least that parallel pass through untouched (at real
    scale the scan has thousands of splits and this is a no-op)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
