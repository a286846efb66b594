"""The workloads. Each one generates its inputs from the seed, runs
one closed-loop iteration on demand (untraced, or traced with every
layer call materialized under its own span and job group) and checks
an iteration's output against an answer computed outside Spark.

The benchmark calls the package's public functions from outside and
changes no package code. Traced runs swap module-level names in the
package for wrappers and put them back afterwards; a missing name
raises, so a renamed layer fails the benchmark instead of silently
dropping out of the trace.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.trace import Tracer


@contextmanager
def patched(module, **names):
    """Replace ``module.<name>`` for the duration; every name must exist."""
    missing = [n for n in names if not hasattr(module, n)]
    if missing:
        raise AttributeError(f"{module.__name__} no longer defines {missing}")
    old = {n: getattr(module, n) for n in names}
    for n, fn in names.items():
        setattr(module, n, fn)
    try:
        yield
    finally:
        for n, fn in old.items():
            setattr(module, n, fn)


class Layers:
    """Wraps layer calls so each output is persisted and counted inside a
    span whose job group is ``<layer>#<iteration>``."""

    def __init__(self, tracer: Tracer, iteration: int):
        self.tracer, self.k = tracer, iteration
        self.outputs: dict[str, object] = {}

    def group(self, layer: str) -> str:
        return f"{layer}#{self.k}"

    def wrap(self, layer: str, name: str, fn):
        def call(*args, **kwargs):
            with self.tracer.span(name, self.group(layer)):
                df = fn(*args, **kwargs).persist()
                df.count()
            self.outputs[name] = df
            return df

        return call

    def release(self) -> None:
        for df in self.outputs.values():
            df.unpersist()
        self.outputs.clear()


class Workload:
    name = ""
    min_iters = 3  # timed iterations per run, even past --seconds
    # untimed iterations before timing: after one, the first timed
    # iteration still ran 10-25% slower (JIT, codegen cache)
    warmup_iters = 2

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.inputs: inputs.Inputs | None = None

    def generate(self, out: str) -> inputs.Inputs:
        raise NotImplementedError

    def prepare(self) -> None:
        """Build the expected answer once the inputs are final."""

    def run(self, out: str) -> None:
        raise NotImplementedError

    def run_traced(self, out: str, tracer: Tracer, k: int) -> dict:
        raise NotImplementedError

    def check(self, out: str) -> dict:
        raise NotImplementedError

    @property
    def records(self) -> int:
        return self.inputs.props["rows"]


class FeatureAsof(Workload):
    """``plans.flagship.flagship`` on parquet image and caption tables."""

    name = "feature_asof"
    SAMPLE = 16  # output rows whose vectors are recomputed and compared

    def generate(self, out):
        return inputs.feature_asof_inputs(self.spark, self.seed, out)

    def prepare(self):
        from rp_extract_spark.codecs import decode_image
        from rp_extract_spark.functions.kernel import extract_segment_features

        p = self.inputs.paths
        images = pq.read_table(p["images"], columns=["image_id", "entity_id", "ts"]).to_pandas()
        captions = pq.read_table(p["captions"]).to_pandas()
        planted = set(self.inputs.facts["planted"])
        self.expected = checks.flagship_expected(images, captions, planted)
        rng = np.random.default_rng(self.seed + 1)
        good = self.expected.index.to_numpy()
        self.sample = sorted(rng.choice(good, self.SAMPLE, replace=False).tolist())
        rows = self._bytes(self.sample)
        self.ref_vecs = {
            iid: {k: np.asarray(v) for k, v in extract_segment_features(decode_image(b, f)).items()
                  if k in checks.VECTORS}
            for iid, (b, f) in rows.items()
        }

    def _bytes(self, ids) -> dict[str, tuple[bytes, str]]:
        t = pq.read_table(self.inputs.paths["images"], columns=["image_id", "bytes", "fmt"])
        t = t.filter(pc.is_in(t.column("image_id"), value_set=pa.array(list(ids))))
        return {r["image_id"]: (r["bytes"], r["fmt"]) for r in t.to_pylist()}

    def _bind(self):
        from rp_extract_spark.plans import flagship as fl

        p = self.inputs.paths
        img = self.spark.read.parquet(p["images"])
        cap = self.spark.read.parquet(p["captions"])
        return fl, patched(fl, images_df=lambda *a, **k: img, captions_df=lambda *a, **k: cap)

    def frame(self):
        fl, bind = self._bind()
        with bind:
            return fl.flagship(self.spark, inputs.N_IMAGES, seed=self.seed)

    def run(self, out):
        self.frame().write.mode("overwrite").parquet(out)

    def run_traced(self, out, tracer, k):
        fl, bind = self._bind()
        L = Layers(tracer, k)
        wrappers = patched(
            fl,
            extract_features=L.wrap("operators.extract", "operators.extract.extract_features",
                                    fl.extract_features),
            asof_join=L.wrap("operators.asof", "operators.asof.asof_join", fl.asof_join),
            lag_lead_stack=L.wrap("operators.windows", "operators.windows.lag_lead_stack",
                                  fl.lag_lead_stack),
            sessionize=L.wrap("operators.windows", "operators.windows.sessionize",
                              fl.sessionize),
        )
        with tracer.span("plans.flagship", f"plans.flagship#{k}"), bind, wrappers:
            df = fl.flagship(self.spark, inputs.N_IMAGES, seed=self.seed)
            df.write.mode("overwrite").parquet(out)
        feats = L.outputs["operators.extract.extract_features"]
        with tracer.span("perfbench.quarantine_count", f"perfbench#{k}"):
            quarantined = feats.filter(feats["err"].isNotNull()).count()
        L.release()
        return {"quarantined": quarantined}

    def check(self, out):
        narrow, vecs = checks.read_flagship_output(out, self.sample)
        return checks.check_flagship(narrow, vecs, self.expected, self.ref_vecs,
                                     set(self.inputs.facts["planted"]))

    def floors(self) -> tuple[float, float]:
        """Decode and kernel ms per image over every image extract keeps."""
        from perfbench.trace import codec_kernel_floor

        rows = self._bytes(self.expected.index)
        return codec_kernel_floor([rows[i] for i in sorted(rows)])


class _RoundCounter(logging.Handler):
    """Counts the ``propagate_min_ids round`` records the dedup module logs."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.rounds = 0

    def emit(self, record):
        if record.getMessage().startswith("propagate_min_ids round"):
            self.rounds += 1


class DedupChains(Workload):
    """``minhash_lsh_dedup(verify_jaccard=0.7)`` on planted duplicate chains."""

    name = "dedup_chains"
    VERIFY_JACCARD = 0.7
    # An iteration is ~11 s of per-job latency whatever the document count,
    # so a run times two iterations after one warm-up; a fixed count keeps
    # the heap, and so peak RSS, at the same point of its growth in every run.
    min_iters = 2
    warmup_iters = 1

    def generate(self, out):
        return inputs.dedup_chains_inputs(self.seed, out)

    def prepare(self):
        self.ids = pq.read_table(self.inputs.paths["docs"], columns=["doc_id"]) \
            .column("doc_id").to_numpy()
        self.components: list[int] = []

    def frame(self):
        from rp_extract_spark.operators.dedup import minhash_lsh_dedup

        docs = self.spark.read.parquet(self.inputs.paths["docs"])
        return minhash_lsh_dedup(docs, verify_jaccard=self.VERIFY_JACCARD)

    def run(self, out):
        self.frame().write.mode("overwrite").parquet(out)

    def run_traced(self, out, tracer, k):
        from rp_extract_spark.operators import dedup

        L = Layers(tracer, k)
        real_propagate = dedup.propagate_min_ids
        signatures = L.wrap("operators.dedup.signatures", "operators.dedup.minhash_signatures",
                            dedup.minhash_signatures)
        candidates = L.wrap("operators.dedup.candidates", "operators.dedup.candidate_edges",
                            lambda edges: edges)
        components = L.wrap("operators.dedup.components", "operators.dedup.propagate_min_ids",
                            real_propagate)

        def propagate(edges, *args, **kwargs):
            return components(candidates(edges), *args, **kwargs)

        counter = _RoundCounter()
        log = logging.getLogger(dedup.__name__)
        level = log.level
        log.addHandler(counter)
        log.setLevel(logging.INFO)
        try:
            with tracer.span("dedup_chains", f"dedup_chains#{k}"), \
                    patched(dedup, minhash_signatures=signatures, propagate_min_ids=propagate):
                self.frame().write.mode("overwrite").parquet(out)
        finally:
            log.removeHandler(counter)
            log.setLevel(level)
        L.release()
        return {"rounds": counter.rounds}

    def check(self, out):
        res = checks.check_dedup(checks.read_dedup_output(out), self.ids,
                                 self.inputs.facts["chains"], self.inputs.facts["components"])
        self.components.append(res["components"])
        if len(set(self.components)) > 1:  # the count must not change between iterations
            res["rows_failed"] += abs(res["components"] - self.components[0])
        return res


WORKLOADS = {w.name: w for w in (FeatureAsof, DedupChains)}
