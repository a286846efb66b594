"""Physical shapes the operators share, each implemented once.

- ``arrow_stage``: the per-record Python stage (decode, descriptor
  extraction, caption and document passes). Project the key and input
  columns (so parquet prunes the rest), run one ``mapInArrow`` stage,
  call a per-record function; keys pass through as Arrow arrays and
  each value field is built as one Arrow array. Its batch form adds a
  callable over the records of one Arrow batch (the batched descriptor
  kernel). With an ``err`` field in the schema, failures are isolated
  per record — one corrupt blob yields an ``err`` row and never fails
  the batch (the reference's decode loop, rp_extract_batch.py:421-425);
  without one, the exception fails the task. ``expand`` turns a
  one-to-many stage's array field back into rows, one err row per
  isolated record.
- ``global_rank``: exact ordered positions and running sums without a
  global window (segment positions, batch and shard offsets).
- ``spread``: round-robin a one-split input before a CPU-bound stage.
- ``collect_bounded``: a driver collect of a side assumed small, with
  one cap.
- ``partial_sums``: the one distributed step of every model fit
  (centroids, Lloyd iterations, logistic gradients, covariance) —
  each task folds its vector batches into numpy sums per key, the
  driver adds the task rows in partition order; ``local_frame`` hands
  the fitted model back as a local relation.
- ``broadcast_topk``: exact per-query top-k of a small query side
  against a corpus — the collected queries ride the task closure, each
  task scores its corpus rows with numpy and keeps its local top-k.
- ``md5_hex`` / ``md5_int``: the seeded-draw key (folds, splits,
  shuffles, shard ranks, augmentations, sketches) and its hex digits
  read as an integer, each replayable byte for byte in SQL;
  ``md5_digits`` is the Python twin of the key.
"""

from __future__ import annotations

import hashlib
import pickle
from collections import Counter
from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.window import Window

from .codecs import decode_image, to_gray

QUARANTINED = "quarantined row (bytes is NULL)"

# rows of an Arrow batch an ``arrow_stage`` holds in Python at once:
# the session's batches (session.ARROW_BATCH_ROWS) are cut to this, so
# a worker's decoded payloads and output vectors stay bounded
STAGE_SLICE_ROWS = 256

# most rows any operator collects to the driver: a kNN query side
# (which rides every task closure) or a K-row model table
COLLECT_CAP = 100_000


def arrow_stage(
    df: DataFrame,
    key_cols: Sequence[str],
    in_cols: Sequence[str],
    schema: T.StructType,
    fn: Callable,
    batch: Callable[[list], Sequence[dict]] | None = None,
) -> DataFrame:
    """``df.select(*key_cols, *in_cols).mapInArrow(...)`` with one
    output row per input row: the ``key_cols`` values plus the value
    fields of ``fn(*in_values)`` (a field ``fn`` leaves out is NULL). A
    column may be both a key and an input. ``fn`` gets each input's
    Python value (``to_pylist``: bytes, str, int, list; None for NULL).
    A stage that emits k rows per record returns an array field, which
    the caller expands with ``explode``, ``inline`` or ``posexplode``.

    Batch form: with ``batch``, ``fn`` maps a record to an intermediate
    value (a decoded image) and ``batch(values)`` maps the values of
    the records of one slice (below) that ``fn`` took, in order, to one
    output dict each (a kernel vectorized across records). When
    ``batch`` raises, it is re-run on each record alone, so one record
    that breaks it costs one err row, as a failing ``fn`` does.

    When ``fn`` (or the lone-record ``batch``) raises and the schema
    has an ``err`` field, the row keeps its keys, ``err`` holds
    ``"<ExceptionClass>: <message>"`` and every other field is NULL.
    With no ``err`` field the exception propagates and fails the task;
    a caller that drops bad records adds an ``err`` field and filters
    on ``err IS NULL``.

    Each Arrow batch is taken in slices of ``STAGE_SLICE_ROWS`` rows,
    one output batch per slice. Key columns pass through as the slice's
    own Arrow arrays; each value field is one ``pa.array`` of its Spark
    type, so a nullable int64 stays exact and a vector field is built
    from the returned arrays without boxing their elements."""
    key_cols, in_cols = tuple(key_cols), tuple(in_cols)
    names = schema.fieldNames()
    types = {f.name: to_arrow_type(f.dataType) for f in schema.fields}
    values = [n for n in names if n not in key_cols]
    isolate = "err" in values

    def each(f: Callable, records) -> list:
        out = []
        for r in records:
            try:
                out.append(f(*r))
            except Exception as e:  # noqa: BLE001 — per-record isolation
                if not isolate:
                    raise
                out.append(_Failed(err=f"{type(e).__name__}: {e}"))
        return out

    def rows(b: pa.RecordBatch) -> list:
        got = each(fn, zip(*[b.column(c).to_pylist() for c in in_cols]))
        if batch is None:
            return got
        ok = [i for i, g in enumerate(got) if not isinstance(g, _Failed)]
        try:
            done = list(batch([got[i] for i in ok]))
        except Exception:  # noqa: BLE001 — re-run per record below
            done = each(lambda v: batch([v])[0], [(got[i],) for i in ok])
        for i, d in zip(ok, done):
            got[i] = d
        return got

    def column(b: pa.RecordBatch, recs: list, n: str) -> pa.Array:
        if n in key_cols:
            a = b.column(n)
            return a if a.type == types[n] else a.cast(types[n])
        return pa.array([r.get(n) for r in recs], type=types[n])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for whole in batches:
            for at in range(0, whole.num_rows, STAGE_SLICE_ROWS):
                b = whole.slice(at, STAGE_SLICE_ROWS)
                recs = rows(b)
                yield pa.RecordBatch.from_arrays(
                    [column(b, recs, n) for n in names], names=names)

    cols = list(dict.fromkeys(key_cols + in_cols))
    return df.select(*cols).mapInArrow(run, schema)


def expand(col: str, elem: T.StructType, **sentinel) -> Column:
    """``F.inline`` of the ``array<elem>`` field ``col`` of a
    one-to-many ``arrow_stage``: one row per element. A record the
    stage isolated has a NULL array and gives exactly one row, its
    ``elem`` fields NULL except those named in ``sentinel``
    (``ty=-1``); a good record with an empty array gives no row."""
    err_row = F.struct(*[
        F.lit(sentinel.get(f.name)).cast(f.dataType).alias(f.name)
        for f in elem.fields
    ])
    return F.inline(F.coalesce(F.col(col), F.array(err_row)))


class _Failed(dict):
    """The output row of a record ``arrow_stage`` isolated: only ``err``."""


def decode(data, fmt: str) -> np.ndarray:
    """Decode one image payload; a NULL payload (a row quarantined
    upstream) raises."""
    if data is None:
        raise ValueError(QUARANTINED)
    return decode_image(bytes(data), fmt)


def gray(data, fmt: str, dtype=np.uint8) -> np.ndarray:
    """Decode one image payload to a grayscale ``dtype`` array; a NULL
    payload raises."""
    return to_gray(decode(data, fmt)).astype(dtype)


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


def md5_hex(*parts, sep: str | None = None) -> Column:
    """Spark ``md5`` of the key string the parts spell: 32 lowercase hex
    digits. A ``Column`` part is cast to string; any other part is the
    literal ``str(part)``.

    ``sep=None`` joins the parts with ``concat``, so a NULL part gives a
    NULL digest, as the oracles' ``md5(a || b)`` does. A ``sep`` joins
    them with ``concat_ws``, which skips NULL parts:
    ``md5_hex(NULL, 0, sep=":")`` hashes ``"0"`` where the oracles'
    ``md5(a || ':' || b)`` is NULL. The two forms agree on non-NULL
    keys. ``md5_digits`` is the Python twin of the ``sep=":"`` form."""
    cols = [
        p.cast("string") if isinstance(p, Column) else F.lit(str(p))
        for p in parts
    ]
    if sep is None:
        return F.md5(F.concat(*cols))
    return F.md5(F.concat_ws(sep, *cols))


def md5_int(hex: Column, start: int = 1, digits: int = 15) -> Column:
    """``digits`` hex digits of ``hex`` from 1-based ``start``, read as
    a bigint: ``conv(substring(hex, start, digits), 16, 10)``.

    The oracles replay it as ``CAST('0x' || substr(hex, start, digits)
    AS BIGINT)``. 16^15 < 2^63, so at most 15 digits the value is
    sign-safe and the two engines agree; more digits raise. A
    fixed-width lowercase-hex prefix compares as a string the same way
    it compares as a number, so threshold samplers compare
    ``substring(hex, 1, 8)`` with a hex literal and skip the
    conversion."""
    if not 1 <= digits <= 15:
        raise ValueError(f"md5_int: digits must be in [1, 15], got {digits}")
    return F.conv(F.substring(hex, start, digits), 16, 10).cast("long")


def md5_digits(*parts) -> list[int]:
    """The 32 hex digits of ``md5(':'.join(map(str, parts)))`` as ints —
    ``md5_hex(*parts, sep=":")`` computed in Python, the per-record draw
    key of the seeded augmentations."""
    k = hashlib.md5(":".join(map(str, parts)).encode()).hexdigest()
    return [int(c, 16) for c in k]


def collect_bounded(df: DataFrame, op: str) -> list[Row]:
    """``df.collect()`` for a side the caller assumes small. At most
    ``COLLECT_CAP + 1`` rows reach the driver; holding more than
    ``COLLECT_CAP`` raises a ``ValueError`` naming ``op`` and the cap
    instead of exhausting driver memory."""
    rows = df.limit(COLLECT_CAP + 1).collect()
    if len(rows) > COLLECT_CAP:
        raise ValueError(
            f"{op}: more than {COLLECT_CAP} rows to collect on the driver "
            f"(_prims.COLLECT_CAP)"
        )
    return rows


def local_frame(spark, rows: list, schema: T.StructType | str) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` built through Arrow as a
    local relation: using it runs no Spark job, where a list goes
    through ``parallelize`` and costs a job on every use. No rows is an
    empty Arrow table of the schema's types, a local relation too."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame(to_arrow_schema(schema).empty_table(),
                                     schema)
    return spark.createDataFrame(pd.DataFrame(rows, dtype=object), schema)


def partial_sums(
    df: DataFrame,
    in_cols: Sequence[str | Column],
    fn: Callable[..., dict],
    op: str,
) -> tuple[int | None, dict]:
    """Sums per key over every vector of ``df``, in one Spark job:
    ``(D, sums)``, or ``(None, {})`` when no vector is non-NULL.

    ``in_cols[0]`` names the vector column (cast to ``array<double>``).
    ``fn(x, *cols)`` maps one Arrow batch — its vectors as an (n, D)
    float64 matrix, the other columns' Python values — to ``{key:
    tuple of numpy arrays}``. Each task adds up its batches key by key
    into one row (``mapInArrow``, no exchange); the driver adds the
    task rows in partition-id order, so a fit is bit-reproducible on a
    given partitioning.

    The input rule of every fit: NULL vectors are skipped. D is the
    length of the first non-NULL vector in partition order; any other
    length raises ``ValueError("<op>: N rows have a vector length other
    than D …")`` on the driver, N counted in the same job. More than
    ``COLLECT_CAP`` keys raise a ``ValueError`` naming ``op``."""
    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        lens, acc = Counter(), {}
        for b in batches:
            n = pc.fill_null(pc.list_value_length(b.column(0)), -1).to_numpy()
            lens.update(n[n >= 0].tolist())
            dim = next(iter(lens), None)  # Counter keeps first-seen order
            keep = n == dim
            if not keep.any():
                continue
            x = b.column(0).filter(pa.array(keep)).flatten()
            cols = [c.filter(pa.array(keep)).to_pylist() for c in b.columns[1:]]
            _add(acc, fn(x.to_numpy(zero_copy_only=False)
                         .reshape(keep.sum(), dim), *cols))
            if len(acc) > COLLECT_CAP:
                acc = None
                break
        if lens:
            yield pa.RecordBatch.from_pydict({
                "part": [TaskContext.get().partitionId()],
                "blob": [pickle.dumps((lens, acc))],
            })

    tasks = sorted(
        df.select(F.col(in_cols[0]).cast("array<double>"), *in_cols[1:])
        .mapInArrow(fold, "part long, blob binary").collect())
    dim, total, ragged, over = None, {}, 0, False
    for _, blob in tasks:
        lens, acc = pickle.loads(blob)
        dim = next(iter(lens)) if dim is None else dim
        ragged += sum(c for ln, c in lens.items() if ln != dim)
        over = over or acc is None
        if not (ragged or over):
            over = len(_add(total, acc)) > COLLECT_CAP
    if ragged:
        raise ValueError(
            f"{op}: {ragged} rows have a vector length other than {dim} "
            f"(the first non-NULL vector's)")
    if over:
        raise ValueError(
            f"{op}: more than {COLLECT_CAP} keys to collect on the driver "
            f"(_prims.COLLECT_CAP)")
    return dim, total


def _add(acc: dict, sums: dict) -> dict:
    """Add ``sums``' tuples into ``acc`` key by key; returns ``acc``."""
    for k, t in sums.items():
        acc[k] = t if k not in acc else tuple(a + b for a, b in zip(acc[k], t))
    return acc


def broadcast_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    score: Callable[[np.ndarray, np.ndarray], Sequence[np.ndarray]],
    score_cols: Sequence[str],
    op: str,
) -> DataFrame:
    """Each task's top-``k`` corpus rows per query: the candidate
    table a caller finishes with its own ``row_number`` window over
    (score DESC, corpus id ASC), partitioned by query id.

    ``queries`` is (id, vector, *keys) and ``corpus`` is (id, vector,
    *payload), vectors ``array<double>``. The query side is collected
    once through ``collect_bounded`` (``op`` names the caller in its
    error) and rides the task closure: rows with a NULL vector are
    dropped, the query dimension is the length of the first remaining
    vector, and rows of another length are dropped. Ids keep their
    column's type. ``score(c, q)`` maps the task's (rows x dim) corpus
    matrix and the (queries x dim) query matrix to one (rows x
    queries) float64 matrix per name in ``score_cols``; higher ranks
    first. A pair's score must not depend on which other rows share
    its task: a BLAS GEMM's float bits do (they move with the matrix
    shape), so float scores use einsum or row-wise sums, and GEMM only
    where every sum is an exact integer.

    Corpus-row policy, the one every operator on this stage inherits:
    a row ranks only when its vector is non-NULL and has the query
    dimension, and a (query, row) pair only when its score is not NaN
    (cosine against a zero-norm vector, a NULL element) and, for every
    query key column, the corpus column of the same name is non-NULL
    on both sides and differs (SQL ``q.key <> c.key``). Other rows
    and pairs never rank and are never emitted.

    Output: (query id, corpus id, *payload, *score_cols), per task and
    query the top-``k`` pairs under (score DESC, corpus id ASC, NULL
    first) for each score column, a pair in several of those sets
    once. Scores are emitted exactly as compared.

    Why the caller's window over this union is exact: fix a query and
    a score column, and let T be the true top-k under that order over
    the whole corpus. A row of T has fewer than k rows ahead of it in
    the corpus, hence fewer than k in its own task, so it is in its
    task's local top-k: T is inside the union. Every other union row
    has all k rows of T ahead of it. So ranking the union by the same
    order and keeping ranks <= k returns exactly T in order, for any
    partitioning of the corpus. The task orders ids as Spark does
    (Arrow's byte order for strings, NULL first) and compares the
    bits the window sees, so only rows that share both score and id
    can straddle the cut."""
    qf, cf = queries.schema.fields, corpus.schema.fields
    keys = [f.name for f in qf[2:]]
    schema = T.StructType(
        [T.StructField(qf[0].name, qf[0].dataType),
         T.StructField(cf[0].name, cf[0].dataType)]
        + [T.StructField(f.name, f.dataType) for f in cf[2:]]
        + [T.StructField(c, T.DoubleType()) for c in score_cols]
    )
    rows = [r for r in collect_bounded(queries, op) if r[1] is not None]
    if not rows:
        return local_frame(queries.sparkSession, [], schema)
    dim = len(rows[0][1])
    rows = [r for r in rows if len(r[1]) == dim]
    qm = np.array([r[1] for r in rows], dtype=np.float64)
    q_ids = pa.array([r[0] for r in rows],
                     type=to_arrow_type(qf[0].dataType))
    q_keys = {n: [r[n] for r in rows] for n in keys}
    nq, kk = len(rows), int(k)

    def local_topk(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        has_dim = pc.equal(pc.list_value_length(t.column(1)), dim)
        t = t.filter(pc.fill_null(has_dim, False))
        n = t.num_rows
        if n == 0:
            return
        cols = [c.combine_chunks() for c in t.columns]
        cm = cols[1].flatten().to_numpy(zero_copy_only=False).reshape(n, dim)
        id_order = pc.rank(
            cols[0], sort_keys="ascending", null_placement="at_start",
            tiebreaker="dense",
        ).to_numpy()
        keep = np.ones((n, nq), dtype=bool)
        for name in keys:
            codes = pd.factorize(np.array(
                q_keys[name] + t.column(name).to_pylist(), dtype=object
            ))[0]
            qc, cc = codes[:nq], codes[nq:, None]
            keep &= (cc != qc) & (cc >= 0) & (qc >= 0)
        mats = score(cm, qm)
        picks = []
        for s in mats:
            ok = keep & ~np.isnan(s)
            for j in range(nq):
                r = np.flatnonzero(ok[:, j])
                top = r[np.lexsort((id_order[r], -s[r, j]))[:kk]]
                picks.append(j * n + top)
        pair = np.unique(np.concatenate(picks))
        if pair.size == 0:
            return
        qi, ri = np.divmod(pair, n)
        yield pa.RecordBatch.from_arrays(
            [q_ids.take(qi), cols[0].take(ri)]
            + [c.take(ri) for c in cols[2:]]
            + [pa.array(s[ri, qi]) for s in mats],
            names=schema.fieldNames(),
        )

    return spread(corpus).mapInArrow(local_topk, schema)
