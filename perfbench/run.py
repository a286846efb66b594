"""Same-host benchmark for rp_extract_spark.

Run from the repository root:

    python3 perfbench/run.py --workload feature_asof --seed 1 --seconds 12 --trace 0

One process, one Spark session at ``local[<usable cores>]``, one client
in a closed loop: the next iteration starts when the previous one has
written its output. Inputs are generated from ``--seed`` and written to
parquet before timing; Python workers and the JVM are warmed by untimed
iterations. Every iteration's output is checked outside Spark.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs untraced
and traced iterations and prints the per-layer metrics (see README.md).
The last line of stdout is one JSON object; the line before it holds
the input properties and details. Everything the run writes stays under
``.perfbench_work/`` (removed at exit) and ``.perfbench_results/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import asdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3  # input generation is repeated and its median reported


def _env(work: str) -> None:
    """Keep every file the run writes inside the checkout and fit Spark
    to this host; must run before pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -XX:-UsePerfData: no /tmp/hsperfdata files from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # session.get_spark would ask for 24g; leave room on a small host
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def _start(work: str, trace: bool):
    from rp_extract_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=len(os.sched_getaffinity(0)), extra=extra)


def _stop(spark, tree) -> None:
    """Stop Spark, then the JVM, and wait until every process under it is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = tree.pids()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


def _timed_loop(w, outs: list, seconds: float, min_iters: int, tree, rss, run) -> dict:
    """Closed loop: iterations back to back until ``seconds`` have passed."""
    walls, cpus, peaks, failed = [], [], [], 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(walls) + failed < min_iters:
        out = os.path.join(w.out_dir, f"iter{len(outs):03d}")
        rss.take()
        c0, s0 = tree.sample()[0], time.perf_counter()
        try:
            run(out)
        except Exception:  # a failed iteration is counted, not fatal
            traceback.print_exc()
            failed += 1
            continue
        finally:
            w.spark.catalog.clearCache()
        walls.append(time.perf_counter() - s0)
        cpus.append(tree.sample()[0] - c0)
        peaks.append(rss.take())
        outs.append(out)
    return {"walls": walls, "cpus": cpus, "peaks": peaks, "failed": failed}


def bench(workload: str, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = _start(work, trace)
    start_s = time.perf_counter() - t0
    from pyspark import SparkContext

    tree = tr.ProcTree(SparkContext._gateway.proc.pid)
    try:
        w = WORKLOADS[workload](spark, seed)
        gen_s = []
        for rep in range(SETUP_REPS):
            s = time.perf_counter()
            w.inputs = w.generate(os.path.join(work, f"inputs{rep}"))
            gen_s.append(time.perf_counter() - s)
        w.out_dir = os.path.join(work, "out")
        warm_walls = []
        for k in range(w.warmup_iters):
            s = time.perf_counter()
            w.run(os.path.join(w.out_dir, f"warmup{k}"))
            spark.catalog.clearCache()
            warm_walls.append(time.perf_counter() - s)
        warm_s = sum(warm_walls)
        setup_s = start_s + statistics.median(gen_s) + warm_s
        s = time.perf_counter()
        w.prepare()
        prepare_s = time.perf_counter() - s

        outs: list[str] = []
        rss = tr.PeakRss(tree)
        rss.start()
        tracer = tr.Tracer(spark.sparkContext)
        traced = {"walls": [], "extra": []}
        try:
            if not trace:
                plain = _timed_loop(w, outs, seconds, w.min_iters, tree, rss, w.run)
            else:
                k = itertools.count()

                def grouped(out):
                    tr.set_job_group(spark.sparkContext, f"run#{next(k)}")
                    try:
                        w.run(out)
                    finally:
                        tr.set_job_group(spark.sparkContext, None)

                plain = _timed_loop(w, outs, seconds / 2, 2, tree, rss, grouped)
                t1 = time.perf_counter()
                while not traced["walls"] or time.perf_counter() - t1 < seconds / 2:
                    out = os.path.join(w.out_dir, f"iter{len(outs):03d}")
                    s = time.perf_counter()
                    traced["extra"].append(w.run_traced(out, tracer, len(traced["walls"])))
                    traced["walls"].append(time.perf_counter() - s)
                    spark.catalog.clearCache()
                    outs.append(out)
        finally:
            rss.stop()

        if not plain["walls"]:
            raise RuntimeError(f"every iteration of {workload} failed")
        s = time.perf_counter()
        checked = [w.check(o) for o in outs]
        check_s = time.perf_counter() - s
        detail_extra = {}
        if trace:
            if w.name == "feature_asof":
                detail_extra["exchanges"] = _exchanges(w)
                detail_extra["floors"] = w.floors()
        app_id = spark.sparkContext.applicationId
    finally:
        _stop(spark, tree)

    n = w.records
    attempted = n * (len(plain["walls"]) + plain["failed"] + len(traced["walls"]))
    failed = n * plain["failed"] + sum(c["rows_failed"] + c["unplanned_quarantines"]
                                       for c in checked)
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "inputs": w.inputs.props,
        "iterations": len(plain["walls"]), "traced_iterations": len(traced["walls"]),
        "walls_s": [round(x, 4) for x in plain["walls"]],
        "peak_rss_mb": [round(x / 1e6, 1) for x in plain["peaks"]],
        "error_rate": failed / attempted,
        "checks": checked,
        "setup": {"session_start_s": start_s, "inputs_s": gen_s, "warmup_s": warm_walls},
        "harness": {"prepare_s": prepare_s, "check_s": check_s},
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not trace:
        med = statistics.median
        result["metrics"] = {
            "records_per_s": _m(med(n / x for x in plain["walls"]), "1/s"),
            "cpu_ms_per_record": _m(med(c * 1e3 / n for c in plain["cpus"]), "ms"),
            "setup_s": _m(setup_s, "s"),
            "peak_rss_mb": _m(med(plain["peaks"]) / 1e6, "MB"),
        }
    else:
        groups = tr.read_event_log(tr.find_event_log(os.path.join(work, "events"), app_id))
        detail["spans"] = tracer.spans
        result["metrics"] = _layer_metrics(w, groups, tracer, plain, traced, detail_extra,
                                           start_s, gen_s, warm_s)
    return result, detail


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _exchanges(w) -> int:
    """Exchange nodes in the physical plan of one untraced iteration."""
    plan = w.frame()._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Exchange " in line)


def _layer_metrics(w, groups, tracer, plain, traced, extra, start_s, gen_s, warm_s) -> dict:
    from perfbench.trace import GroupStats, merge

    med = statistics.median
    n = w.records
    k_traced = range(len(traced["walls"]))
    k_plain = range(len(plain["walls"]))

    def layer(name: str) -> GroupStats:
        return merge([groups[f"{name}#{k}"] for k in k_traced if f"{name}#{k}" in groups])

    def span_s(name: str) -> float:
        xs = tracer.seconds(name)
        return med(xs) if xs else 0.0

    runs = [groups.get(f"run#{k}", GroupStats()) for k in k_plain]
    decode_ms, kernel_ms = extra.get("floors", (0.0, 0.0))
    ext, asof, win = layer("operators.extract"), layer("operators.asof"), layer("operators.windows")
    comp = layer("operators.dedup.components")
    quarantined = [x["quarantined"] for x in traced["extra"] if "quarantined" in x]
    rounds = [x["rounds"] for x in traced["extra"] if "rounds" in x]
    is_flagship = w.name == "feature_asof"
    kept = n - w.inputs.props["planted_corrupt"]
    boundary = ((ext.executor_run_s * 1e3 - kept * (decode_ms + kernel_ms)) / n
                if is_flagship else 0.0)
    values = {
        "session.start_s": (start_s, "s"),
        "sources.images.synth_s": (med(gen_s) if is_flagship else 0.0, "s"),
        "setup.warmup_s": (warm_s, "s"),
        "codecs.decode_ms_per_image": (decode_ms, "ms"),
        "functions.kernel.ms_per_image": (kernel_ms, "ms"),
        "operators.extract.stage_s": (ext.stage_s, "s"),
        "operators.extract.python_s": (ext.python_s, "s"),
        "operators.extract.arrow_to_python_mb": (ext.to_python_mb, "MB"),
        "operators.extract.arrow_from_python_mb": (ext.from_python_mb, "MB"),
        "operators.extract.boundary_ms_per_image": (boundary, "ms"),
        "operators.extract.quarantined": (med(quarantined) if quarantined else 0, "count"),
        "operators.asof.stage_s": (asof.stage_s, "s"),
        "operators.asof.shuffle_mb": (asof.shuffle_write_mb, "MB"),
        "operators.asof.spill_mb": (asof.spill_mb, "MB"),
        "operators.asof.task_skew": (asof.task_skew, "ratio"),
        "operators.windows.stage_s": (win.stage_s, "s"),
        "operators.windows.shuffle_mb": (win.shuffle_write_mb, "MB"),
        "operators.windows.task_skew": (win.task_skew, "ratio"),
        "plans.flagship.exchanges": (extra.get("exchanges", 0) if is_flagship else 0, "count"),
        "operators.dedup.signatures_s": (span_s("operators.dedup.minhash_signatures"), "s"),
        "operators.dedup.candidates_s": (span_s("operators.dedup.candidate_edges"), "s"),
        "operators.dedup.components_s": (span_s("operators.dedup.propagate_min_ids"), "s"),
        "operators.dedup.components_jobs": (comp.jobs, "count"),
        "operators.dedup.rounds": (med(rounds) if rounds else 0, "count"),
        "session.jobs_per_run": (med(r.jobs for r in runs) if runs else 0, "count"),
        "session.gc_s": (med(r.gc_s for r in runs) if runs else 0.0, "s"),
        "trace.overhead_ratio": (med(traced["walls"]) / med(plain["walls"]) - 1.0, "ratio"),
    }
    return {k: _m(v, u) for k, (v, u) in values.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["feature_asof", "dedup_chains"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    results = os.path.join(ROOT, ".perfbench_results")
    _env(work)
    sys.path.insert(0, ROOT)
    try:
        result, detail = bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    spans = detail.pop("spans", [])
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1, default=str)
    if spans:
        with open(os.path.join(results, name + ".spans.json"), "w") as f:
            json.dump([asdict(s) for s in spans], f)
    print("perfbench: " + json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
