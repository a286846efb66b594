"""Seeded input generators for the workloads.

Every generator takes the benchmark seed, writes its tables to parquet
under the run's work directory and returns an ``Inputs`` record: the
parquet paths, the facts the output checks need (planted corrupt rows,
planted duplicate chains) and the input properties reported with the
results. The same seed gives the same tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# feature_asof: images through the package's own fixture source
N_IMAGES = 2048
# The image bytes come from one fixed seed: the seed sets which lossy rows
# carry a real JPEG, and a JPEG decodes ~100x slower than the other
# formats, so a per-run seed would move the extract cost between runs.
# The benchmark seed picks the planted rows and the caption timeline.
IMAGE_SEED = 42
SYNTH_PARTITIONS = 8  # the source's default (n // 64 tasks) costs ~4x in task overhead
PLANTED_CORRUPT = 16  # rows whose bytes are truncated to half: decode must fail

# dedup_chains: documents with planted near-duplicate chains
N_CHAINS = 20
CHAIN_DEPTH = 12  # documents per chain; consecutive ones differ in 2 words
N_SINGLETONS = 1260
DOC_WORDS = 100
VOCAB = 30_000


@dataclass
class Inputs:
    paths: dict[str, str]
    props: dict
    facts: dict = field(default_factory=dict)


def _mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return round(total / 1e6, 3)


def _write(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files so the scan has that many splits."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


def feature_asof_inputs(spark, seed: int, out: str) -> Inputs:
    """Image table from ``sources.images`` at ``IMAGE_SEED`` with
    ``PLANTED_CORRUPT`` rows, chosen by ``seed``, truncated so extract
    must quarantine them; caption table at ``seed``."""
    from pyspark.sql import functions as F

    from rp_extract_spark.sources import images as src

    rng = np.random.default_rng(seed)
    planted = sorted(f"img{i:08d}" for i in rng.choice(N_IMAGES, PLANTED_CORRUPT, replace=False))
    images = src.images_df(spark, N_IMAGES, seed=IMAGE_SEED, partitions=SYNTH_PARTITIONS)
    cut = F.expr("substring(bytes, 1, length(bytes) div 2)")
    images = images.withColumn(
        "bytes", F.when(F.col("image_id").isin(planted), cut).otherwise(F.col("bytes"))
    )
    paths = {"images": os.path.join(out, "images"), "captions": os.path.join(out, "captions")}
    images.write.mode("overwrite").parquet(paths["images"])
    src.captions_df(spark, N_IMAGES, seed=seed).write.mode("overwrite").parquet(paths["captions"])

    t = pq.read_table(paths["images"], columns=["bytes", "entity_id"])
    heads = [bytes(b[:4]) for b in t.column("bytes").to_pylist()]
    ent = t.column("entity_id").to_pandas()
    props = {
        "rows": t.num_rows,
        "caption_rows": pq.read_table(paths["captions"], columns=["caption"]).num_rows,
        "encoded_mb": _mb(paths["images"]),
        "format_mix": {
            "png": sum(h.startswith(b"\x89PNG") for h in heads),
            "lossy_fixture": sum(h.startswith(b"LQ01") for h in heads),
            "jpeg_baseline": sum(h.startswith(b"\xff\xd8") for h in heads),
        },
        "hot_key_share": round(float(ent.value_counts().iloc[0]) / len(ent), 4),
        "planted_corrupt": PLANTED_CORRUPT,
    }
    return Inputs(paths, props, {"planted": planted})


def dedup_chains_inputs(seed: int, out: str) -> Inputs:
    """``N_CHAINS`` chains of ``CHAIN_DEPTH`` documents, each a copy of
    the previous one with two words replaced (3-gram Jaccard ~0.89 to
    the next, ~0.78 two steps on, below 0.7 after that), plus
    ``N_SINGLETONS`` unrelated documents. Ids are a random permutation,
    except that each chain's minimum id is moved to its first document:
    the label then has to travel the whole chain. ``propagate_min_ids``
    still runs 4 or 5 rounds, as which pairs three steps apart pass the
    0.7 check varies with the seed."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{j}x{v}" for j, v in enumerate(rng.integers(0, 1 << 30, VOCAB))])
    texts: list[str] = []
    chain_of: list[int] = []
    for c in range(N_CHAINS):
        words = rng.integers(0, VOCAB, DOC_WORDS)
        for _ in range(CHAIN_DEPTH):
            texts.append(" ".join(vocab[words]))
            chain_of.append(c)
            words = words.copy()
            words[rng.choice(DOC_WORDS, 2, replace=False)] = rng.integers(0, VOCAB, 2)
    for _ in range(N_SINGLETONS):
        texts.append(" ".join(vocab[rng.integers(0, VOCAB, DOC_WORDS)]))
        chain_of.append(-1)
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    for start in range(0, N_CHAINS * CHAIN_DEPTH, CHAIN_DEPTH):
        low = start + int(np.argmin(ids[start:start + CHAIN_DEPTH]))
        ids[[start, low]] = ids[[low, start]]
    table = pa.table({"doc_id": ids, "text": texts})
    paths = {"docs": os.path.join(out, "docs")}
    _write(table, paths["docs"], 1)
    chains = pd.Series(ids).groupby(np.array(chain_of)).apply(list)
    props = {
        "rows": table.num_rows,
        "encoded_mb": _mb(paths["docs"]),
        "format_mix": {"parquet_text": 1},
        "hot_key_share": round(CHAIN_DEPTH / table.num_rows, 6),
        "planted_corrupt": 0,
        "dup_chains": N_CHAINS,
        "dup_chain_depth": CHAIN_DEPTH,
    }
    facts = {
        "chains": [chains[c] for c in range(N_CHAINS)],
        "components": N_CHAINS + N_SINGLETONS,
    }
    return Inputs(paths, props, facts)
