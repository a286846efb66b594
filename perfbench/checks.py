"""Output checks. Each check compares one run's output with an answer
computed here in pandas/numpy from the generated inputs and returns the
number of output rows that fail it; ``error_rate`` adds these up.

The checks read the outputs with pyarrow, not Spark, so a bug in the
engine cannot hide in the check.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SESSION_GAP_S = 1800
VECTOR_RTOL = 1e-8
VECTORS = ("rp", "ssd", "rh")
NAT = np.iinfo(np.int64).min  # what ``_ns`` gives for a null timestamp


def _ns(s: pd.Series) -> np.ndarray:
    """Timestamps as int64 ns since the epoch, NaT as INT64_MIN; parquet
    written by pyarrow carries a UTC zone, parquet written by Spark none."""
    s = pd.to_datetime(s)
    if s.dt.tz is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[ns]").to_numpy().view(np.int64)


def _neq(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Element-wise inequality where two nulls are equal."""
    an, bn = a.isna().to_numpy(), b.isna().to_numpy()
    ne = (a.to_numpy() != b.to_numpy()) & ~an & ~bn
    return ne | (an != bn)


def _sessions(df: pd.DataFrame, entity: str, order: list[str]) -> pd.Series:
    """Gap sessionization in pandas: a new session per entity when the gap
    to the previous event exceeds ``SESSION_GAP_S``; ids count from 0."""
    d = df.sort_values([entity, *order], kind="mergesort")
    t = _ns(d[order[0]]) // 1_000_000_000
    same = np.r_[False, d[entity].to_numpy()[1:] == d[entity].to_numpy()[:-1]]
    gap = np.r_[0, np.diff(t)]
    flag = pd.Series((same & (gap > SESSION_GAP_S)).astype(np.int64), index=d.index)
    return flag.groupby(d[entity].to_numpy()).cumsum().reindex(df.index)


def _asof(left: pd.DataFrame, right: pd.DataFrame, entity: str, rts: str,
          matched: str) -> pd.DataFrame:
    """Backward, inclusive as-of join: per left row the right row with the
    greatest ``rts <= ts`` of the same entity (right keys are unique).
    ``matched`` holds the matched right timestamp as ``_ns`` gives it."""
    l = left.assign(__t=_ns(left["ts"])).sort_values("__t", kind="mergesort")
    r = (right.assign(__t=_ns(right[rts])).rename(columns={rts: matched})
         .sort_values("__t", kind="mergesort"))
    m = pd.merge_asof(l, r, on="__t", by=entity, direction="backward", allow_exact_matches=True)
    m[matched] = _ns(m[matched])
    return m.drop(columns="__t")


# ---------------------------------------------------------------- feature_asof

def flagship_expected(images: pd.DataFrame, captions: pd.DataFrame,
                      planted: set[str]) -> pd.DataFrame:
    """image_id → caption_asof, caption_asof_ts (ns), session_id, ts (ns)
    over the rows extract keeps."""
    good = images[~images["image_id"].isin(planted)][["image_id", "entity_id", "ts"]]
    m = _asof(good, captions.rename(columns={"caption": "caption_asof"}),
              "entity_id", "caption_ts", "caption_asof_ts")
    m["session_id"] = _sessions(m, "entity_id", ["ts", "image_id"]).to_numpy()
    m["ts"] = _ns(m["ts"])
    return m.set_index("image_id")


def read_flagship_output(path: str, sample: list[str]) -> tuple[pd.DataFrame, dict]:
    """The checked columns of a flagship output, with ``rp0`` taken from
    ``rp``, plus the full vectors of the ``sample`` ids."""
    t = pq.read_table(path)
    narrow = t.select(["image_id", "entity_id", "ts", "caption_asof", "caption_asof_ts",
                       "rp0_lag1", "session_id"]).to_pandas()
    narrow["rp0"] = pc.list_element(t.column("rp"), 0).to_numpy(zero_copy_only=False)
    picked = t.filter(pc.is_in(t.column("image_id"), value_set=pa.array(sample)))
    vecs = {row["image_id"]: {k: np.asarray(row[k]) for k in VECTORS}
            for row in picked.select(["image_id", *VECTORS]).to_pylist()}
    return narrow, vecs


def check_flagship(out: pd.DataFrame, vecs: dict, expected: pd.DataFrame,
                   ref_vecs: dict, planted: set[str]) -> dict:
    """Rows failing a check, and unplanned quarantines, in one flagship output."""
    dup = out["image_id"].duplicated(keep="first").to_numpy()
    known = out["image_id"].isin(expected.index).to_numpy()
    bad = dup | ~known  # planted (quarantine leaked), unknown or repeated rows
    o = out[~bad].set_index("image_id")
    e = expected.loc[o.index]
    wrong = (
        _neq(o["caption_asof"], e["caption_asof"])
        | (_ns(o["caption_asof_ts"]) != e["caption_asof_ts"].to_numpy())
        | (_ns(o["ts"]) != e["ts"].to_numpy())
        | (o["session_id"].to_numpy() != e["session_id"].to_numpy())
    )
    ats = _ns(o["caption_asof_ts"])
    wrong |= (ats != NAT) & (ats > _ns(o["ts"]))
    # rp0_lag1 is rp[0] of the previous kept image of the entity
    s = o.reset_index().sort_values(["entity_id", "ts", "image_id"], kind="mergesort")
    lag = s.groupby("entity_id", sort=False)["rp0"].shift(1)
    lag_bad = pd.Series(_neq(s["rp0_lag1"], lag), index=s["image_id"]).reindex(o.index)
    wrong |= lag_bad.to_numpy()
    vec_bad = 0
    for iid, ref in ref_vecs.items():
        got = vecs.get(iid)
        if got is None or not all(
            got[k].shape == ref[k].shape and np.allclose(got[k], ref[k], rtol=VECTOR_RTOL, atol=0)
            for k in VECTORS
        ):
            vec_bad += 1
    missing = len(set(expected.index) - set(o.index))
    return {
        "rows_failed": int(bad.sum() + wrong.sum() + vec_bad),
        "unplanned_quarantines": int(missing),
        "planted_leaked": int(out["image_id"].isin(planted).sum()),
    }


# ---------------------------------------------------------------- dedup_chains

def read_dedup_output(path: str) -> pd.DataFrame:
    return pq.read_table(path, columns=["doc_id", "rep_id"]).to_pandas()


def check_dedup(out: pd.DataFrame, ids: np.ndarray, chains: list[list[int]],
                components: int) -> dict:
    """Every id once; rep_id the min id of its group; each planted chain in
    one group; as many groups as planted (chains plus singletons)."""
    dup = out["doc_id"].duplicated(keep="first")
    known = out["doc_id"].isin(ids)
    o = out[~dup & known]
    bad = int(dup.sum() + (~known).sum()) + len(set(ids.tolist()) - set(o["doc_id"].tolist()))
    group_min = o.groupby("rep_id")["doc_id"].transform("min")
    bad += int((group_min != o["rep_id"]).sum())
    label = o.set_index("doc_id")["rep_id"]
    for chain in chains:
        reps = label.reindex(chain)
        bad += int(len(chain) - reps.value_counts().iloc[0]) if reps.notna().any() else 0
    found = int(o["rep_id"].nunique())
    bad += abs(found - components)
    return {"rows_failed": bad, "unplanned_quarantines": 0, "components": found}
