"""The per-record Arrow stage shared by the image and audio operators.

Every decode operator has the same physical shape: project the key and
input columns (so parquet prunes the rest), run one ``mapInPandas``
stage, call a per-record function, and isolate failures per record —
one corrupt blob yields an ``err`` row and never fails the batch
(the reference's decode loop, rp_extract_batch.py:421-425).
``arrow_stage`` is the single implementation of that rule.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

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
