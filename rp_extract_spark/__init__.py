"""rp_extract_spark — a PySpark-native feature-engineering engine.

Re-expresses the descriptor-pipeline semantics of
``tuwien-musicir/rp_extract`` (Rhythm Pattern / Rhythm Histogram /
Statistical Spectrum Descriptor families, reference at
``/root/reference/rp_extract.py``) as a Spark-first engine:

* **Kernel layer** — vectorized numpy inside Arrow-batched Python
  stages (``_prims.arrow_stage`` on ``mapInArrow``): decode image bytes, bark-style band aggregation,
  psychoacoustic transforms (dB/phon/sone), 7-stat descriptors, 2nd-FFT
  modulation energies. No per-row Python.
* **Relational layer** — DataFrame/SQL: as-of (point-in-time) joins,
  backfill/forward-fill, lag/lead stacks, gap sessionization, anti-join
  checkpoint resume, dedup (exact/MinHash/SimHash), similarity search,
  text analysis. Catalyst handles pushdown/pruning/join strategy; we
  handle range partitioning and skew salting where Spark has no builtin.

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

__version__ = "0.1.0"

from .api import available_feature_types, rp_extract  # noqa: E402,F401
