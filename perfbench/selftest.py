"""Shows that every output check can fail: builds a correct output for
small synthetic inputs, confirms the check passes it, then perturbs one
thing at a time and confirms ``error_rate`` rises above 0. No Spark.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402

BASE = pd.Timestamp("2024-01-01")


def _error_rate(res: dict, attempted: int) -> float:
    return (res["rows_failed"] + res["unplanned_quarantines"]) / attempted


def flagship_cases(rng):
    n = 200
    images = pd.DataFrame({
        "image_id": [f"img{i:08d}" for i in range(n)],
        "entity_id": [f"e{i % 7:05d}" for i in range(n)],
        "ts": BASE + pd.to_timedelta(rng.integers(0, 86_400, n), "s"),
    })
    captions = pd.DataFrame({
        "entity_id": [f"e{i % 7:05d}" for i in range(60)],
        "caption_ts": BASE + pd.to_timedelta(np.arange(60) * 1400, "s"),
        "caption": [f"cap{i}" for i in range(60)],
    })
    planted = {"img00000003", "img00000077"}
    exp = checks.flagship_expected(images, captions, planted)
    out = exp.reset_index()
    out["ts"] = pd.to_datetime(out["ts"])
    out["caption_asof_ts"] = pd.to_datetime(out["caption_asof_ts"].where(
        out["caption_asof_ts"] != checks.NAT))
    out["rp0"] = rng.normal(size=len(out))
    s = out.sort_values(["entity_id", "ts", "image_id"], kind="mergesort")
    out["rp0_lag1"] = s.groupby("entity_id", sort=False)["rp0"].shift(1).reindex(out.index)
    sample = out["image_id"].iloc[:4].tolist()
    vecs = {i: {k: rng.normal(size=8) for k in checks.VECTORS} for i in sample}

    def run(o, v=vecs):
        return _error_rate(checks.check_flagship(o, v, exp, vecs, planted), n)

    def leaked(o):
        row = o.iloc[[0]].copy()
        row["image_id"] = "img00000003"
        return pd.concat([o, row], ignore_index=True)

    def edit(col, fn):
        def f(o):
            o = o.copy()
            o.loc[5, col] = fn(o.loc[5, col])
            return o
        return f

    bad_vecs = {i: {k: v.copy() for k, v in d.items()} for i, d in vecs.items()}
    bad_vecs[sample[0]]["rp"][3] *= 1 + 1e-6
    yield "flagship: correct output", run(out), False
    yield "flagship: caption_asof changed", run(edit("caption_asof", lambda v: "x")(out)), True
    yield "flagship: session_id changed", run(edit("session_id", lambda v: v + 1)(out)), True
    yield "flagship: rp0_lag1 changed", run(edit("rp0_lag1", lambda v: 0.5)(out)), True
    yield "flagship: caption_asof_ts after ts", run(
        edit("caption_asof_ts", lambda v: pd.Timestamp("2030-01-01"))(out)), True
    yield "flagship: vector off by 1e-6", run(out, bad_vecs), True
    yield "flagship: row dropped (unplanned quarantine)", run(out.drop(index=7)), True
    yield "flagship: planted row not quarantined", run(leaked(out)), True


def dedup_cases(rng):
    ids = rng.permutation(60).astype(np.int64) + 1
    chains = [ids[0:6].tolist(), ids[6:12].tolist()]
    rep = {i: i for i in ids.tolist()}
    for c in chains:
        for i in c:
            rep[i] = min(c)
    out = pd.DataFrame({"doc_id": list(rep), "rep_id": list(rep.values())})
    n_comp = 2 + 48

    def run(o):
        return _error_rate(checks.check_dedup(o, ids, chains, n_comp), len(ids))

    split = out.copy()
    split.loc[split["doc_id"] == chains[0][0], "rep_id"] = chains[0][0]
    not_min = out.copy()
    not_min.loc[not_min["doc_id"].isin(chains[1]), "rep_id"] = max(chains[1])
    yield "dedup: correct output", run(out), False
    yield "dedup: chain split", run(split), True
    yield "dedup: rep_id not the minimum", run(not_min), True
    yield "dedup: id missing", run(out.iloc[1:]), True
    yield "dedup: id repeated", run(pd.concat([out, out.iloc[[0]]])), True


def main() -> int:
    rng = np.random.default_rng(0)
    bad = 0
    for name, rate, should_fail in [*flagship_cases(rng), *dedup_cases(rng)]:
        ok = (rate > 0) == should_fail
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: error_rate={rate:.4f}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
