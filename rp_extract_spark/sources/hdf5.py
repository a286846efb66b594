"""HDF5 feature-store scan/sink (SURVEY S8/S10 interop; the
round-2 verdict's "missing #3").

The reference stores features in pytables HDF5 files — writer
HDF5FeatureWriter (rp_feature_io.py:93-264: chunked EArrays ``vec``
(N×dim float), ``file_ids``/``file_ids2`` (256-byte strings), attrs
``vec_dim``/``vec_type``), reader load_hdf5_features
(rp_feature_io.py:551-606: slices all three, enforces
ids-vs-features length consistency, collapses an empty file_ids2 to
None). The byte format itself is handled by the in-repo pure-numpy
codec (codecs/hdf5.py — no h5py/pytables in the container).

Scan scale path: one ``.h5`` file is a single sequential parse (like
any non-splittable container, e.g. gzip), so parallelism comes from
the FILE axis — ``read_h5_features`` accepts a glob and decodes each
file where its binaryFile row lands, emitting (file_id, file_id2,
vec) rows. A 1000-file store fans out to 1000 tasks; a single huge
file does not split (document as with gzip: re-shard upstream).

The sink is a driver-side export like the NPZ/ARFF sinks (one
in-memory file per feature type) — use parquet snapshots
(operators/resume.py) for anything large.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codecs.hdf5 import Hdf5Error, read_hdf5, write_hdf5

_SCHEMA = ("path string, file_id string, file_id2 string, "
           "vec array<double>, vec_type string")
_SCHEMA_LENIENT = _SCHEMA + ", err string"


def h5_feature_bytes(
    ids: "list[str]",
    vec: np.ndarray,
    ids2: "list[str] | None" = None,
    vec_type: str = "",
    float32: bool = False,
    chunk_rows: int = 1024,
) -> bytes:
    """Serialize one feature matrix in the HDF5FeatureWriter layout
    (vec + file_ids + file_ids2 + vec_dim/vec_type attrs). file_ids2
    is present-but-empty when no secondary ids are given, exactly as
    the reference writer leaves it (rp_feature_io.py:190-195)."""
    vec = np.asarray(vec, dtype=np.float32 if float32 else np.float64)
    if vec.ndim != 2:
        raise ValueError("vec must be a 2-D (n, dim) matrix")
    if len(ids) != vec.shape[0]:
        raise ValueError("ids length does not match vec rows")
    sids = np.array([str(s).encode()[:255] for s in ids], dtype="S256")
    sids2 = np.array(
        [str(s).encode()[:255] for s in (ids2 or [])], dtype="S256"
    ).reshape(-1)
    return write_hdf5(
        {"vec": vec, "file_ids": sids, "file_ids2": sids2},
        attrs={"vec": {"vec_dim": int(vec.shape[1]),
                       "vec_type": vec_type.upper()}},
        chunk_rows=chunk_rows,
    )


def parse_h5_features(data: bytes):
    """bytes -> (ids, vec, ids2-or-None, attrs) with the reference
    reader's consistency rules (rp_feature_io.py:569-593): missing
    ``vec`` or mismatched id counts raise ValueError; an empty
    file_ids2 collapses to None."""
    sets = read_hdf5(data)
    if "vec" not in sets:
        raise Hdf5Error("HDF5 file does not contain 'vec' table")
    vec, attrs = sets["vec"]
    ids = ids2 = None
    if "file_ids" in sets:
        raw = sets["file_ids"][0]
        ids = [b.split(b"\x00")[0].decode("utf-8", "replace")
               for b in raw.tolist()]
        if len(ids) != vec.shape[0]:
            raise Hdf5Error(
                f"Number of file ids in file_ids table ({len(ids)}) does "
                f"not match number of features in vec table "
                f"({vec.shape[0]})."
            )
    if "file_ids2" in sets:
        raw2 = sets["file_ids2"][0]
        ids2 = [b.split(b"\x00")[0].decode("utf-8", "replace")
                for b in raw2.tolist()]
        if len(ids2) == 0:
            ids2 = None
        elif len(ids2) != vec.shape[0]:
            raise Hdf5Error(
                f"Number of file ids in file_ids2 table ({len(ids2)}) "
                f"does not match number of features in vec table "
                f"({vec.shape[0]})."
            )
    if ids is None:
        ids = [str(i) for i in range(vec.shape[0])]
    return ids, vec, ids2, attrs


def write_h5_features(
    df: DataFrame,
    path: str,
    vec_col: str = "vec",
    id_col: str = "id",
    id2_col: str | None = None,
    vec_type: str = "",
    float32: bool = False,
) -> str:
    """Export (id, vec) rows as one reference-layout ``.h5`` file
    (driver-side, like the NPZ/ARFF sinks). Returns the path written
    (".h5" appended if missing)."""
    cols = [id_col, vec_col] + ([id2_col] if id2_col else [])
    rows = df.select(*cols).collect()
    dim = len(rows[0][1]) if rows else 0
    vec = np.array([[float(x) for x in r[1]] for r in rows],
                   dtype=np.float64).reshape(len(rows), dim)
    ids = [str(r[0]) for r in rows]
    ids2 = [str(r[2]) for r in rows] if id2_col else None
    if not path.endswith(".h5"):
        path = path + ".h5"
    data = h5_feature_bytes(ids, vec, ids2, vec_type, float32)
    with open(path, "wb") as f:
        f.write(data)
    return path


def read_h5_features(spark: SparkSession, path: str,
                     lenient: bool = False) -> DataFrame:
    """Distributed scan of reference-layout ``.h5`` feature files:
    binaryFile rows (one per file) decoded where they land via
    mapInPandas -> (path, file_id, file_id2, vec, vec_type). Accepts
    a single file, directory, or glob. A corrupt file fails the scan
    by default; ``lenient=True`` adds an ``err`` column and emits one
    quarantine row per bad FILE instead (per-record isolation, same
    discipline as operators/extract.py — compose with
    operators.extract.quarantine to split them off).

    Fat-file stores (100 MB+ per .h5): like the audio batch scan,
    bound per-task memory at the session level —
    spark.sql.files.maxPartitionBytes=16m keeps few files per
    partition and spark.sql.execution.arrow.maxRecordsPerBatch low
    (e.g. 32) keeps few whole-file rows per Arrow batch. It stays off
    ``_prims.arrow_stage``: each file yields its own frame, so a fat
    file's decoded rows never share memory with the other files of
    its batch, where the stage holds a whole 256-row slice."""
    src = spark.read.format("binaryFile")
    if not path.endswith(".h5"):
        src = src.option("pathGlobFilter", "*.h5")
    files = src.load(path).select("path", "content")

    def one_file(fpath: str, content: bytes) -> pd.DataFrame:
        ids, vec, ids2, attrs = parse_h5_features(content)
        n = vec.shape[0]
        out = {
            "path": [fpath] * n,
            "file_id": ids,
            "file_id2": ids2 if ids2 is not None else [None] * n,
            "vec": [r.astype(np.float64).tolist() for r in vec],
            "vec_type": [str(attrs.get("vec_type", ""))] * n,
        }
        if lenient:
            out["err"] = [None] * n
        return pd.DataFrame(out)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                if not lenient:
                    yield one_file(fpath, bytes(content))
                    continue
                try:
                    yield one_file(fpath, bytes(content))
                except Exception as e:  # noqa: BLE001 — per-file isolation
                    yield pd.DataFrame({
                        "path": [fpath], "file_id": [None],
                        "file_id2": [None], "vec": [None],
                        "vec_type": [None],
                        "err": [f"{type(e).__name__}: {e}"],
                    })

    return files.mapInPandas(
        decode, schema=_SCHEMA_LENIENT if lenient else _SCHEMA)


def read_multiple_h5_feature_files(
    spark: SparkSession,
    filename_stub: str,
    feature_types: "list[str] | tuple[str, ...]",
    h5ext: str = "h5",
) -> DataFrame:
    """load_multiple_hdf5_feature_files analog
    (rp_feature_io.py:608-636): one DataFrame with a ``feature_type``
    column instead of per-type dicts — ``<stub>.<type>.<h5ext>`` per
    type, unioned."""
    if not feature_types:
        raise ValueError("feature_types must be non-empty")
    out = None
    for e in feature_types:
        part = read_h5_features(
            spark, f"{filename_stub}.{e}.{h5ext}"
        ).withColumn("feature_type", F.lit(e))
        out = part if out is None else out.unionByName(part)
    return out
