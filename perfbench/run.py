#!/usr/bin/env python3
"""CMF pipeline benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Set-up starts a Spark session, generates the
workload's inputs from ``--seed`` as parquet and runs one warm-up pass
that is not sampled. Measurement then runs full passes (split -> fit ->
score -> serve -> fold-in) until ``--seconds`` have elapsed, at least
one, checking every step's output. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` its per-layer
metrics). The line before it holds the input statistics and, per timing,
the median, the highest percentile with at least ten samples beyond it
and the sample count.

``--trace 1`` starts the SparkContext with an uncompressed, non-rolling
event log and measures untraced passes, traced passes (one Spark job
group per span) and again untraced passes. Stage and task metrics are
attributed to spans from the event log after the context stops. The
solver kernels and the local replay run after the passes.

Everything the run writes stays under ``.perfbench/`` in the working
directory; all of it is removed at exit except the span dump of a traced
run (``.perfbench/spans-<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS, Checks, Ctx, expectations, run_pass, tiny  # noqa: E402


def pin_env(work: str) -> int:
    """Environment the program needs to run here, set before the JVM
    starts; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(fh.readline().split()[1])
    # a quarter of the host, capped at 2 GiB (ample for these inputs):
    # the session default (48g) exceeds small hosts
    driver_mb = max(1024, min(2048, total_kb // 1024 // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ.pop("SPARK_GRAFT_XMS", None)
    # Arrow workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may already have cached /tmp
    # every JVM, the spark-submit launcher's too: temp files in the
    # checkout, no hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return cores


def start_session(work: str, event_log_dir: str | None = None):
    from collective_als_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", extra_conf=conf)


def release(spark) -> None:
    """Between passes: drop cached data and let the ContextCleaner free
    localCheckpoint blocks (they are only released after a JVM GC)."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def stop_jvm(spark) -> None:
    """Stop the SparkContext, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    vs = sorted(values)
    return vs[min(len(vs) - 1, max(0, math.ceil(len(vs) * p / 100) - 1))]


def summary(values: list[float]) -> dict:
    """Median, the highest percentile with >= 10 samples beyond it, and n."""
    n = len(values)
    out = {"median": statistics.median(values), "n": n}
    for p in (99.9, 99, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            out[f"p{p:g}"] = percentile(values, p)
            break
    return out


def measure(ctx: Ctx, chk: Checks, seconds: float, rng) -> list[dict]:
    passes: list[dict] = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        ctx.tracer.pass_no = len(passes)
        passes.append(run_pass(ctx, chk, rng))
        release(ctx.spark)
    return passes


def end_to_end(passes: list[dict], setup_s: float, peak_rss: int, chk: Checks) -> tuple[dict, dict]:
    """(metrics, timing detail) from measured passes."""
    run_s = [sum(p["times"].values()) for p in passes]
    fit_s = [p["times"]["fit"] for p in passes]
    tput = [p["train_ratings"] * p["iters"] / p["times"]["fit"] for p in passes]
    score_s = [p["times"]["score"] for p in passes]
    lat_ms = [x * 1000.0 for p in passes for x in p["latencies"]]
    rps = [p["serve_requests"] / p["times"]["serve"] for p in passes]
    foldin_s = [p["times"]["foldin"] for p in passes]
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (statistics.median(run_s), "s"),
        "train_ratings_per_s": (statistics.median(tput), "ratings/s"),
        "score_s": (statistics.median(score_s), "s"),
        "holdout_rmse": (statistics.median(p["rmse"] for p in passes), "rmse"),
        "ndcg_at_10": (statistics.median(p["ndcg_at_10"] for p in passes), "ndcg"),
        "serve_p50_ms": (statistics.median(lat_ms), "ms"),
        "serve_p90_ms": (percentile(lat_ms, 90), "ms"),
        "serve_rps": (statistics.median(rps), "1/s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    detail = {
        "passes": [
            {"times": p["times"], "serve_ms": [x * 1000.0 for x in p["latencies"]]}
            for p in passes
        ],
        "run_s": summary(run_s),
        "fit_s": summary(fit_s),
        "score_s": summary(score_s),
        "serve_ms": summary(lat_ms),
        "foldin_s": summary(foldin_s),
        "failed_ops_frac": chk.failed / max(chk.attempted, 1),
    }
    return metrics, detail


def make_ctx(spark, w, seed: int, work: str) -> Ctx:
    """Generate ``w``'s inputs from ``seed``, write them under ``work``
    and compute the expectations the checks use."""
    tables = inputs.generate(w.shape, seed)
    paths = inputs.write(tables, work)
    exp = expectations(w, tables)
    return Ctx(spark, w, tables, paths, exp, tracing.Tracer(spark.sparkContext), work, seed)


def set_up(args, work: str, w, event_log_dir: str | None = None) -> tuple[Ctx, float, dict]:
    """Session, inputs and a warm-up pass; returns (ctx, setup_s, detail)."""
    t0 = time.perf_counter()
    spark = start_session(work, event_log_dir)
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    ctx = make_ctx(spark, w, args.seed, os.path.join(work, "inputs"))
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm_times = warm(ctx)
    warm_s = time.perf_counter() - t0
    detail = {
        "session_s": session_s,
        "inputs_s": inputs_s,
        "warmup_s": warm_s,
        "warmup_steps_s": warm_times,
        "inputs": inputs.stats(w.shape, ctx.tables),
    }
    return ctx, session_s + inputs_s + warm_s, detail


def warm(ctx: Ctx) -> dict:
    """One short pass (one iteration, one request) so JIT, Python
    workers and Spark's caches are warm before sampling. Its checks are
    not counted: one iteration is not expected to pass the quality gate."""
    import numpy as np

    out = run_pass(ctx, Checks(), np.random.default_rng(ctx.seed + 7), max_iter=1,
                   serve_requests=1)
    release(ctx.spark)
    return out["times"]


def untraced(args, work: str, w) -> tuple[Checks, dict, dict]:
    import numpy as np

    with tracing.RssSampler() as rss:
        ctx, setup_s, setup_detail = set_up(args, work, w)
        chk = Checks()
        passes = measure(ctx, chk, args.seconds, np.random.default_rng(args.seed + 1))
        stop_jvm(ctx.spark)
    metrics, detail = end_to_end(passes, setup_s, rss.peak, chk)
    detail["setup"] = setup_detail
    return chk, metrics, detail


def traced(args, work: str, w, cores: int) -> tuple[Checks, dict, dict]:
    """Untraced, traced and again untraced passes on one SparkContext
    with an event log; per-layer metrics from the traced passes' spans
    joined with the log, tracing overhead from the pass times."""
    import numpy as np

    from perfbench import kernels

    log_dir = os.path.join(work, "eventlog")
    ctx, _, setup_detail = set_up(args, work, w, log_dir)
    chk = Checks()
    # the traced passes are compared with the untraced passes on either
    # side of them, so a steady drift (JIT warm-up still speeds the first
    # passes after the warm-up pass) cancels out of the mean
    phases = []
    for enabled in (False, True, False):
        ctx.tracer.enabled = enabled
        phases.append(measure(ctx, chk, args.seconds / 3, np.random.default_rng(args.seed + 1)))
    ctx.tracer.enabled = False
    passes, spark = phases[1], ctx.spark

    from collective_als_spark.cmf.als import CollectiveALS

    n_blocks = CollectiveALS(*w.entities, num_blocks="auto")._blocks_for(w.entities[0], spark)
    solver = kernels.kernel_metrics(spark, w, ctx.exp, ctx.tables, args.seed, n_blocks)
    solver["local_fit_s"] = 0.0
    if w.shape.side and not w.implicit:
        solver["local_fit_s"], replay_rmse = kernels.local_fit(w, ctx.exp, ctx.tables, args.seed)
        spark_rmse = statistics.median(p["rmse"] for p in passes)
        chk.op(
            abs(replay_rmse - spark_rmse) <= kernels.REPLAY_RMSE_RTOL * spark_rmse,
            f"local replay rmse {replay_rmse:.6f} vs spark {spark_rmse:.6f}",
        )
        setup_detail["replay_rmse"] = replay_rmse
    stop_jvm(spark)

    jobs, stages = tracing.parse_event_log(tracing.find_event_log(log_dir))
    per, kinds = tracing.span_metrics(ctx.tracer, jobs, stages, cores)
    metrics = layer_metrics(per, kinds, solver, len(passes))
    plain_run = statistics.mean(
        statistics.median(sum(p["times"].values()) for p in phase) for phase in phases[::2]
    )
    traced_run = statistics.median(sum(p["times"].values()) for p in passes)
    metrics["trace.untraced_run_s"] = (plain_run, "s")
    metrics["trace.traced_run_s"] = (traced_run, "s")
    metrics["trace.overhead_frac"] = (traced_run / plain_run - 1.0, "ratio")
    spans_path = os.path.join(os.path.dirname(work), f"spans-{w.name}-{args.seed}.json")
    with open(spans_path, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "spans": [vars(sp) for sp in ctx.tracer.spans],
                "per_pass": [
                    {"pass": i, "span": name, **counters}
                    for (i, name), counters in sorted(per.items())
                ],
            },
            fh,
        )
    del setup_detail["warmup_steps_s"]
    detail = {"setup": setup_detail, "spans": spans_path}
    return chk, metrics, detail


SPANS = (
    "sources.read", "split.chrono", "als.fit", "als.predict", "als.persist",
    "evaluation.regression", "evaluation.ranking", "recommend.request", "foldin.solve",
)
FIT_STAGE_KINDS = ("checkpoint_stage_s", "shuffle_map_stage_s", "collect_stage_s")
SOLVER_UNITS = {
    "normal_eq_s": "s", "normal_eq_gflop": "gflop-computed", "normal_eq_mb": "MB-computed",
    "cholesky_s": "s", "nnls_s": "s", "yty_s": "s", "init_s": "s", "local_fit_s": "s",
}


def layer_metrics(per, kinds, solver, n_passes: int) -> dict:
    """Median over traced passes of each span's per-pass totals; spans a
    workload does not run report 0."""
    out = {}
    for name in SPANS:
        for c in tracing.SPAN_COUNTERS:
            vals = [per[(i, name)][c] if (i, name) in per else 0.0 for i in range(n_passes)]
            out[f"{name}.{c}"] = (statistics.median(vals), tracing.SPAN_UNITS[c])
    for kind in FIT_STAGE_KINDS:
        vals = [kinds[(i, "als.fit")].get(kind, 0.0) if (i, "als.fit") in kinds else 0.0
                for i in range(n_passes)]
        out[f"als.fit.{kind}"] = (statistics.median(vals), "s")
    for key, unit in SOLVER_UNITS.items():
        out[f"solver.{key}"] = (solver[key], unit)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input size")
    args = ap.parse_args(argv)
    if importlib.util.find_spec("collective_als_spark") is None:
        print("collective_als_spark is not importable: run from the repository root",
              file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    if args.tiny:
        w = tiny(w)
    work = os.path.join(os.getcwd(), ".perfbench", f"{w.name}-{args.seed}-{os.getpid()}")
    cores = pin_env(work)
    try:
        if args.trace:
            chk, metrics, detail = traced(args, work, w, cores)
        else:
            chk, metrics, detail = untraced(args, work, w)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail["workload"] = w.name
    detail["failures"] = chk.messages
    print(json.dumps(detail, default=float))
    result = {
        "correct": chk.failed == 0,
        "attempted": chk.attempted,
        "failed": chk.failed,
        # NaN (a step that failed its checks) is not JSON: print null
        "metrics": {
            k: {"value": v if math.isfinite(v) else None, "unit": u}
            for k, (v, u) in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
